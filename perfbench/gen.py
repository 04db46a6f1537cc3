"""Seeded input generator for the benchmark.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the schema
and value distribution of the engine's synthetic test tables (a 30-word
technical vocabulary plus a rare ``dup`` term, 10-100 words a document,
five languages, 20 round-robin sources; unit-norm 64-dim embeddings in
10 weakly separated label clusters), then replicates the documents
``factor`` times with the letter-salted perturbation the engine's scale
probe uses: replica ``r > 0`` suffixes every other token with ``x`` plus
``r`` spelled in letters, so the tokenizer keeps the salt and each
replica is a distinct near-duplicate of its base document.

Generation is numpy + pyarrow only (no Spark), and it is set-up: it is
never inside a timed sample. The same seed always gives the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the base vocabulary of the engine's synthetic documents table
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
RARE = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10
#: replica r's ids are offset by r * ID_STRIDE (disjoint from base ids)
ID_STRIDE = 10_000_000
#: files per table, so a scan splits into several tasks
N_FILES = 8
#: bumped whenever the generated bytes for a given seed change
VERSION = 1


def _salt(r: int) -> str:
    return str(r).translate(str.maketrans("0123456789", "abcdefghij"))


def _base_docs(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    lens = rng.integers(10, 101, size=n)
    words = np.array(WORDS)
    texts = []
    for m in lens:
        toks = words[rng.integers(0, len(words), size=m)]
        rare = rng.random(m) < 0.001
        toks = np.where(rare, RARE, toks)
        texts.append(" ".join(toks))
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return texts, langs


def _perturb(text: str, r: int) -> str:
    if r == 0:
        return text
    suffix = "x" + _salt(r)
    return " ".join(
        t + suffix if (i + r) % 2 == 0 else t for i, t in enumerate(text.split(" "))
    )


def documents(seed: int, n_base: int, factor: int) -> pa.Table:
    """``n_base * factor`` documents: (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng([seed, 1])
    texts, langs = _base_docs(rng, n_base)
    ids, out_text, out_lang, out_src = [], [], [], []
    for r in range(factor):
        for i, (t, lang) in enumerate(zip(texts, langs)):
            ids.append(i + r * ID_STRIDE)
            out_text.append(_perturb(t, r))
            out_lang.append(lang)
            out_src.append(f"src{i % N_SOURCES}")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "lang": pa.array(out_lang, pa.string()),
            "source": pa.array(out_src, pa.string()),
            "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
        }
    )


def embeddings(seed: int, n: int) -> pa.Table:
    """``n`` unit-norm vectors: (vec_id, embedding float[64], label int)."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    x = rng.normal(size=(n, DIM)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for f in range(N_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))


def build_inputs(root: str, seed: int, n_base: int, factor: int, n_vecs: int) -> str:
    """Write the inputs for ``seed`` under ``root`` and return their dir.

    The dir name is keyed on a hash of everything that decides its
    bytes, and a ``_STAMP`` file records the same; an existing dir whose
    stamp differs is refused rather than reused.
    """
    spec = {"version": VERSION, "seed": seed, "n_base": n_base,
            "factor": factor, "n_vecs": n_vecs}
    stamp = json.dumps(spec, sort_keys=True)
    key = hashlib.sha256(stamp.encode()).hexdigest()[:16]
    out = os.path.join(root, f"inputs_s{seed}_f{factor}_{key}")
    stamp_path = os.path.join(out, "_STAMP")
    if os.path.exists(out):
        got = None
        if os.path.exists(stamp_path):
            with open(stamp_path) as fh:
                got = fh.read()
        if got != stamp:
            raise RuntimeError(f"{out} holds other inputs (stamp {got!r}, want {stamp!r})")
        return out
    tmp = out + ".tmp"
    os.makedirs(tmp)
    _write(documents(seed, n_base, factor), os.path.join(tmp, "documents.parquet"))
    _write(embeddings(seed, n_vecs), os.path.join(tmp, "embeddings.parquet"))
    with open(os.path.join(tmp, "_STAMP"), "w") as fh:
        fh.write(stamp)
    os.rename(tmp, out)
    return out
