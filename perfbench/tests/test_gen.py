"""Unit tests of the seeded input generator."""

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = gen.documents(5, 40, 3), gen.documents(5, 40, 3), gen.documents(6, 40, 3)
    assert a.equals(b) and not a.equals(c)
    assert gen.embeddings(5, 30).equals(gen.embeddings(5, 30))


def test_replicas_are_salted_near_duplicates():
    docs = gen.documents(1, 10, 3).to_pydict()
    assert len(docs["doc_id"]) == 30
    base, rep = docs["text"][0].split(), docs["text"][10].split()
    assert docs["doc_id"][10] == gen.ID_STRIDE
    assert len(base) == len(rep)
    # replica 1 salts the tokens at odd positions with "xb"
    assert all(r == (b + "xb" if i % 2 == 1 else b) for i, (b, r) in enumerate(zip(base, rep)))


def test_build_inputs_reuses_its_own_dir_and_refuses_another(tmp_path):
    out = gen.build_inputs(str(tmp_path), 2, 20, 2, 16)
    assert gen.build_inputs(str(tmp_path), 2, 20, 2, 16) == out
    assert pq.read_table(os.path.join(out, "documents.parquet")).num_rows == 40
    assert pq.read_table(os.path.join(out, "embeddings.parquet")).num_rows == 16
    with open(os.path.join(out, "_STAMP"), "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError):
        gen.build_inputs(str(tmp_path), 2, 20, 2, 16)
