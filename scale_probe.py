"""Perturbed-replica corpora for scale runs (SCALING.md, bench.py's
``SCALE_LEGS``, tests/test_scale.py).

:func:`build_replicated_dir` replicates a corpus dir's ``documents``
table ``factor`` times with position-salted perturbation and symlinks
every other table from the base dir, so any registered query can run
against the replicated dir. The module keeps the name of the SCALING.md
scale probe it was part of; the probe's timed legs are in git history
(``git show 742912b:scale_probe.py``).

Perturbation design (why replicas are NOT near-duplicates of their
base): every second token of replica r > 0 is suffixed with a
LETTER-ONLY replica salt ('x' + r spelled in letters — digits or
punctuation would be stripped by the engine's ``[^a-z]`` token
cleaning, silently turning replicas back into exact token-level
duplicates; measured: a digit salt exploded the factor-3 pair count
67x). Every 3-token shingle of a perturbed replica then contains at
least one altered token, so replica<->base and replica<->replica
Jaccard is ~0 and the engineered near-dup pairs of the base corpus are
the ONLY near-dup structure — repeated once per replica. Pair-count
output thus grows ~linearly with the factor; replicating text verbatim
would instead grow it quadratically (factor^2 pairs per base
duplicate) and a scale run would measure output explosion, not
operator scaling.

doc_id is offset by r * 10_000_000 — a multiple of 10, so the
``doc_id % 10`` benchmark/corpus split used by decontamination keeps
the same 10% benchmark rate per replica.
"""

from __future__ import annotations

import os


def build_replicated_dir(spark, base_dir: str, out_dir: str, factor: int) -> None:
    """Materialize ``documents`` x factor into out_dir; symlink the rest.

    A ``_FACTOR`` marker stamps what the directory was built with —
    ``"{factor}:documents:{absolute source dir}"``: reusing ``out_dir``
    across factors or source corpora (two corpora whose dirs share a
    basename) would return the OLD dataset silently, so any mismatch is
    a hard error.
    """
    os.makedirs(out_dir, exist_ok=True)
    stamp = os.path.join(out_dir, "_FACTOR")
    want = f"{factor}:documents:{os.path.abspath(base_dir)}"
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = fh.read().strip()
        if got != want:
            raise SystemExit(
                f"scale_probe: {out_dir} was built with factor/tables/source {got!r}, "
                f"requested {want!r} — use a different out dir or delete it"
            )
    for name in os.listdir(base_dir):
        dst = os.path.join(out_dir, name)
        if name.removesuffix(".parquet") != "documents" and not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, name), dst)
    if os.path.exists(os.path.join(out_dir, "documents.parquet")) and os.path.exists(stamp):
        return
    _replicate_documents(spark, base_dir, out_dir, factor)
    with open(stamp, "w") as fh:
        fh.write(want)


def _replicate_documents(spark, base_dir: str, out_dir: str, factor: int) -> None:
    dst = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(dst):
        return
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    reps = (
        spark.range(factor)
        .withColumnRenamed("id", "r")
        # letter-only salt: survives the [^a-z] token cleaning intact
        .withColumn(
            "rsalt",
            F.translate(F.col("r").cast("string"), "0123456789", "abcdefghij"),
        )
    )
    perturbed = F.expr(
        "array_join(transform(split(text, ' '), "
        "(t, i) -> IF((i + r) % 2 = 0, concat(t, 'x', rsalt), t)), ' ')"
    )
    out = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("r") * F.lit(10_000_000)).alias("doc_id"),
        F.when(F.col("r") == 0, F.col("text")).otherwise(perturbed).alias("text"),
        "lang",
        "source",
        F.length(
            F.when(F.col("r") == 0, F.col("text")).otherwise(perturbed)
        ).alias("n_chars"),
    )
    # one file per shuffle partition, ~factor x base size total
    out.repartition(32).write.mode("overwrite").parquet(dst + ".tmp")
    os.rename(dst + ".tmp", dst)
