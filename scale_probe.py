#!/usr/bin/env python
"""Empirical scale-up probe behind SCALING.md.

Replicates the sf0.1 ``documents`` table (and, with ``--tables``, the
``events`` / ``orders`` tables via id-offset replication) ``--factor``
times with position-salted perturbation, then times selected queries
warm (median-of-3, noop-sink full materialization — see
``materialize``) at 1x and at Nx on the same local[32] session. The
question this answers is the one code review can't: does any operator
hide super-linear work, or does any plan flip to a pathological
strategy, when the input grows?

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
duplicate) and the probe would measure output explosion, not operator
scaling.

doc_id is offset by r * 10_000_000 — a multiple of 10, so the
``doc_id % 10`` benchmark/corpus split used by decontamination keeps
the same 10% benchmark rate per replica.

Usage::

    python scale_probe.py --factor 100 \
        --queries simhash_near_pairs,dedup_minhash_pairs

All non-document tables are symlinked from the base dir, so any
registered query can run against the replicated dir.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nlp_with_pyspark_spark.queries import QUERIES  # noqa: E402
from nlp_with_pyspark_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = (
    "simhash_near_pairs,dedup_minhash_pairs,"
    "decontamination_overlap,dedup_canonical_corpus"
)


def _dedup_components_distributed(spark, sf_dir):
    """dedup_components with ``driver_threshold=0``: forces the
    large-star/small-star distributed contraction even on edge lists
    small enough for the driver-side union-find shortcut, so the probe
    times the path a 100 TB edge list actually takes (the registered
    query's adaptive default would route every test-scale run through
    the driver and the probe would measure nothing)."""
    from nlp_with_pyspark_spark.operators.dedup import minhash_dedup_pairs
    from nlp_with_pyspark_spark.operators.graph import duplicate_clusters
    from nlp_with_pyspark_spark.queries import _tokenized_documents

    docs = _tokenized_documents(spark, sf_dir)
    pairs = minhash_dedup_pairs(docs, n=3, k=12, bands=4, threshold=0.2)
    return duplicate_clusters(pairs, driver_threshold=0)


def _scaled_quantizer(spark, sf_dir):
    """The SemDeDup scaling discipline: the quantizer grows WITH the
    corpus so cluster size stays constant (k = 16 per 2000 vectors —
    the registered query's density). Centroids are the 16
    lowest-base-id vectors of EVERY replica (vec_id % 10_000_000 < 16),
    so at factor 1 this is exactly the registered quantizer and at
    factor N it is 16N centroids spread across the whole id space.
    Collected (k rows) for the pandas/BLAS assignment path — the
    literal-compiled path is the small-quantizer oracle form and its
    plan TEXT is O(k·dim), so production-size quantizers take the
    pandas path by design (see dedup.semantic_cluster_assign)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = (
        emb.where(F.col("vec_id") % 10_000_000 < 16)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = [
        (i, [float(x) for x in r.embedding])
        for i, r in enumerate(sorted(rows, key=lambda r: r.vec_id))
    ]
    return emb, cents


def _semantic_pairs_scaledk(spark, sf_dir):
    """semantic_dedup_pairs with the scaled quantizer + BLAS assign —
    the shape a production SemDeDup run takes at any corpus size."""
    from nlp_with_pyspark_spark.operators.dedup import semantic_dedup_pairs

    emb, cents = _scaled_quantizer(spark, sf_dir)
    return semantic_dedup_pairs(emb, cents, threshold=0.3, assign_via="pandas")


def _semantic_delta_scaledk(spark, sf_dir):
    """semantic_delta_pairs (vec_id % 10 == 7 plays the new batch)
    with the scaled quantizer + BLAS assign; includes the full index
    build, so this is the worst case, not the day-to-day delta cost."""
    from nlp_with_pyspark_spark.operators.dedup import (
        build_semantic_index,
        semantic_delta_pairs,
    )
    from pyspark.sql import functions as F

    emb, cents = _scaled_quantizer(spark, sf_dir)
    delta = emb.where(F.col("vec_id") % 10 == 7)
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    idx = build_semantic_index(corpus, cents, assign_via="pandas")
    return semantic_delta_pairs(
        delta, idx, cents, threshold=0.3, assign_via="pandas"
    )


_BM25_IDX_CACHE: dict = {}


def _bm25_indexed_query(spark, sf_dir):
    """bm25_topk_indexed against a posting index persisted ONCE per
    corpus dir (cached across the probe's warm + timed calls, so the
    build cost stays out of the samples). The claim under test: serving
    cost is bounded by the CANDIDATE postings of the query terms — the
    bucketed scan prunes buckets and pushes the term filter, so a
    corpus 100× larger should cost ~(growth in matching postings), not
    100×. Compare against bm25_search_topk's probe rows, which pay the
    full tokenize+scan each run."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.queries import _tokenized_documents

    if sf_dir not in _BM25_IDX_CACHE:
        import tempfile

        prefix = f"probe_bm25_{len(_BM25_IDX_CACHE)}"
        persist_posting_index(
            build_posting_index(_tokenized_documents(spark, sf_dir)),
            prefix,
            n_buckets=32,
            path=tempfile.mkdtemp(prefix="bm25idx_"),
        )
        _BM25_IDX_CACHE[sf_dir] = load_posting_index(spark, prefix)
    return bm25_topk_indexed(_BM25_IDX_CACHE[sf_dir], ["dup", "join", "scan"], k=15)


#: probe-only query variants (forced code paths the registered queries
#: deliberately don't take at test scale)
EXTRA_QUERIES = {
    "dedup_components_distributed": _dedup_components_distributed,
    "semantic_pairs_scaledk": _semantic_pairs_scaledk,
    "semantic_delta_scaledk": _semantic_delta_scaledk,
    "bm25_indexed_query": _bm25_indexed_query,
}


def build_replicated_dir(
    spark, base_dir: str, out_dir: str, factor: int, tables: tuple[str, ...] = ("documents",)
) -> None:
    """Materialize ``tables`` x factor into out_dir; symlink the rest.

    A ``_FACTOR`` marker stamps what the directory was built with — the
    factor, the table set and the absolute source dir: reusing ``--out``
    across factors, table sets or source corpora (two corpora whose dirs
    share a basename) would return the OLD dataset silently, so any
    mismatch is a hard error.
    """
    os.makedirs(out_dir, exist_ok=True)
    stamp = os.path.join(out_dir, "_FACTOR")
    want = f"{factor}:{','.join(sorted(tables))}:{os.path.abspath(base_dir)}"
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = fh.read().strip()
        if got != want:
            raise SystemExit(
                f"scale_probe: {out_dir} was built with factor/tables/source {got!r}, "
                f"requested {want!r} — use a different --out or delete the dir"
            )
    for name in os.listdir(base_dir):
        dst = os.path.join(out_dir, name)
        if name.removesuffix(".parquet") not in tables and not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, name), dst)
    if all(
        os.path.exists(os.path.join(out_dir, f"{t}.parquet")) for t in tables
    ) and os.path.exists(stamp):
        return
    for t in tables:
        if t == "documents":
            _replicate_documents(spark, base_dir, out_dir, factor)
        elif t == "events":
            _replicate_events(spark, base_dir, out_dir, factor)
        elif t == "orders":
            _replicate_orders(spark, base_dir, out_dir, factor)
        elif t == "embeddings":
            _replicate_embeddings(spark, base_dir, out_dir, factor)
        else:
            raise SystemExit(f"scale_probe: no replication rule for table {t}")
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


def _replicate_events(spark, base_dir: str, out_dir: str, factor: int) -> None:
    """events x factor: replica r's rows keep their timestamps but get
    fresh user/event ids (user_id + r*10_000_000, event_id +
    r*1_000_000_000). User count thus grows linearly — per-user
    structure (session gaps, click→purchase sequences) is preserved
    exactly, while time-bucketed aggregations see factor x rows per
    bucket. That is the row-count stress the event family needs: window
    keys (user) multiply, window contents (time buckets) densify."""
    dst = os.path.join(out_dir, "events.parquet")
    if os.path.exists(dst):
        return
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(base_dir, "events.parquet"))
    reps = spark.range(factor).withColumnRenamed("id", "r")
    out = ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("r") * F.lit(1_000_000_000)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("r") * F.lit(10_000_000)).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    out.repartition(32).write.mode("overwrite").parquet(dst + ".tmp")
    os.rename(dst + ".tmp", dst)


def _replicate_orders(spark, base_dir: str, out_dir: str, factor: int) -> None:
    """orders x factor: fresh order/customer keys per replica (same
    offset scheme); dates and prices unchanged. Customer count grows
    linearly, so per-customer windows (rank top-k, trailing-7d range
    frame) keep their per-key row counts while the key space — and the
    window shuffle — multiplies."""
    dst = os.path.join(out_dir, "orders.parquet")
    if os.path.exists(dst):
        return
    from pyspark.sql import functions as F

    o = spark.read.parquet(os.path.join(base_dir, "orders.parquet"))
    reps = spark.range(factor).withColumnRenamed("id", "r")
    out = o.crossJoin(F.broadcast(reps)).select(
        (F.col("o_orderkey") + F.col("r") * F.lit(1_000_000_000)).alias("o_orderkey"),
        (F.col("o_custkey") + F.col("r") * F.lit(10_000_000)).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    out.repartition(32).write.mode("overwrite").parquet(dst + ".tmp")
    os.rename(dst + ".tmp", dst)


def _replicate_embeddings(spark, base_dir: str, out_dir: str, factor: int) -> None:
    """embeddings x factor: replica r's vectors get fresh ids (vec_id +
    r*10_000_000 — a multiple of 10, preserving the % 10 delta split
    rate) and a deterministic SIGN-MASK perturbation for r > 0: each
    dimension is multiplied by ±1 from the parity of xxhash64(r, dim).
    A sign flip preserves the norm exactly while making the cosine
    between any two replicas of the same base vector a ±1/√d random
    walk (≈ N(0, 1/64) here) — i.e. replicas look like fresh generic
    near-orthogonal vectors, the same statistical population as the
    base corpus. Near-dup pair output of a threshold query therefore
    grows ~linearly with the factor under the scaled-quantizer
    discipline (cluster count ∝ corpus, cluster size constant), not
    quadratically as verbatim copies would (every replica pair of a
    base pair at cosine 1)."""
    dst = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(dst):
        return
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    reps = spark.range(factor).withColumnRenamed("id", "r")
    flipped = F.expr(
        "transform(embedding, (x, j) -> float(x * IF(pmod(xxhash64("
        "concat(cast(r AS string), '-', cast(j AS string))), 2) = 0, 1.0D, -1.0D)))"
    )
    out = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("r") * F.lit(10_000_000)).alias("vec_id"),
        F.when(F.col("r") == 0, F.col("embedding")).otherwise(flipped).alias("embedding"),
        "label",
    )
    out.repartition(32).write.mode("overwrite").parquet(dst + ".tmp")
    os.rename(dst + ".tmp", dst)


def sink_probe_leg(
    corpus_dir: str,
    tag: str,
    batch_docs: int,
    runs: int,
    compact_mid: bool = False,
) -> dict:
    """One store leg of the ingest-sink probe: seed a BUCKETED near-dup
    store with the full corpus at ``corpus_dir``, then time ``runs``
    fixed-size delta-batch upserts against it (first upsert is a JIT
    warm, discarded). Printed claim under test: per-batch ingest cost
    tracks the BATCH, not the store — the round-7 review flagged the
    plain store's per-batch O(store) anti-join; the bucketed layout +
    broadcast-prefiltered delta check are supposed to flatten it, and
    this measures whether they did.

    Delta batches are the corpus's first ``batch_docs`` docs with fresh
    ids (offset 2e11 + 1M per batch — above every replica id for any
    factor ≤ 10,000, since replica r spans r·10M + base ids; the
    original 900M offset silently collided with replica 90's range at
    factor ≥ 91, turning the warm batch into a full guard-drop) and
    a per-batch LETTER-ONLY token salt ('qz' + batch letter, disjoint
    from the replicas' 'x'+digit-letters salt), so batches are near-dup
    of neither the store nor each other and the timing measures the
    typical bucket-lookup + verify + append path, not mass drops.

    ``compact_mid=True`` arms threshold-triggered compaction mid-
    sequence (threshold = post-seed docs file count + ~1.3 batches'
    worth of append files, so it trips DURING the timed run, and the
    timing of the tripping batch shows the compaction's real cost
    inline) and runs a structural store-integrity check after the last
    batch: no duplicate doc ids, no duplicate (band_id, doc_id) keys,
    index/docs doc-id sets consistent, and catalog-table counts equal
    to a raw re-read of the data dirs (a compaction that lost or
    duplicated rows, or broke the table↔dir mapping, fails here)."""
    import shutil

    from pyspark.sql import functions as F

    from nlp_with_pyspark_spark.queries import _tokenized_documents
    from nlp_with_pyspark_spark.sources.io import parquet_file_count as _parquet_file_count
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    spark = get_spark(app_name=f"sink-probe-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    store = f"/tmp/sinkprobe_{tag}"
    prefix = f"sinkprobe_{tag}"
    shutil.rmtree(store, ignore_errors=True)
    for t in ("docs", "buckets", "shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")

    toks = _tokenized_documents(spark, corpus_dir).select("doc_id", "tokens")
    t0 = time.perf_counter()
    neardup_upsert_batch(
        toks, store, threshold=0.2, table_prefix=prefix, n_buckets=32
    )
    t_seed = time.perf_counter() - t0
    store_docs = spark.table(f"{prefix}_docs").count()

    compact_threshold = None
    if compact_mid:
        # each batch appends ≤n_buckets files per table; trip on the
        # second timed batch so at least one compaction lands mid-run
        compact_threshold = _parquet_file_count(f"{store}/docs") + 42

    base = (
        _tokenized_documents(spark, corpus_dir)
        .select("doc_id", "text")
        .where(F.col("doc_id") < 10_000_000)  # base replica only
        .limit(batch_docs)
        .localCheckpoint()
    )
    samples = []
    compacted_at = []
    for b in range(runs + 1):  # +1: first batch is the JIT warm
        # letter-only batch salt, digits spelled as letters so any
        # number of runs stays within the engine's [a-z] token alphabet
        salt = "qz" + "".join("abcdefghij"[int(c)] for c in str(b))
        batch = base.select(
            (F.col("doc_id") + F.lit(200_000_000_000 + b * 1_000_000)).alias(
                "doc_id"
            ),
            F.expr(
                "array_join(transform(split(text, ' '), "
                f"(t, i) -> IF(i % 2 = 0, concat(t, '{salt}'), t)), ' ')"
            ).alias("text"),
        )
        from nlp_with_pyspark_spark.functions.text import tokens_pipeline

        batch = batch.select(
            "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
        ).localCheckpoint()
        files_before = _parquet_file_count(f"{store}/docs") if compact_mid else 0
        t0 = time.perf_counter()
        neardup_upsert_batch(
            batch, store, threshold=0.2, table_prefix=prefix, n_buckets=32,
            compact_threshold_files=compact_threshold,
        )
        dt = round(time.perf_counter() - t0, 2)
        if compact_mid and _parquet_file_count(f"{store}/docs") < files_before:
            compacted_at.append(b)
        if b > 0:
            samples.append(dt)
    out = {
        "store_docs": store_docs,
        "t_seed": round(t_seed, 1),
        "t_upsert_med": sorted(samples)[len(samples) // 2],
        "t_upsert_all": samples,
    }
    if compact_mid:
        out["compacted_at_batches"] = compacted_at
        out["store_integrity"] = _check_minhash_store_integrity(
            spark, store, prefix
        )
    return out


def _check_minhash_store_integrity(spark, store: str, prefix: str) -> dict:
    """Structural store invariants after an upsert sequence (cheap at
    any store size — counts and hashed-key dup checks, no pair
    regeneration): catalog tables must equal a raw re-read of their
    data dirs row-for-row in count, docs must have unique ids, the keys
    table unique (band_id, doc_id), and every indexed doc id must be a
    stored doc id. Raises on violation (a probe that prints a timing
    for a corrupted store would be worse than no probe)."""
    from pyspark.sql import functions as F

    checks = {}
    for t, dupkeys in (
        ("docs", ["doc_id"]),
        ("buckets", ["band_id", "doc_id"]),
        ("shingles", ["doc_id"]),
    ):
        tbl = spark.table(f"{prefix}_{t}")
        n_tbl = tbl.count()
        n_raw = spark.read.parquet(f"{store}/{t}").count()
        n_dup = (
            tbl.groupBy(*dupkeys).count().where(F.col("count") > 1).count()
        )
        checks[t] = {"rows": n_tbl, "raw_rows": n_raw, "dup_keys": n_dup}
        if n_tbl != n_raw or n_dup:
            raise AssertionError(f"store integrity violated for {t}: {checks[t]}")
    orphans = (
        spark.table(f"{prefix}_buckets")
        .select("doc_id")
        .distinct()
        .join(spark.table(f"{prefix}_docs").select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    checks["orphan_indexed_ids"] = orphans
    if orphans:
        raise AssertionError(f"{orphans} indexed doc ids missing from docs")
    return checks


def sink_probe_leg_semantic(corpus_dir: str, tag: str, batch_docs: int, runs: int) -> dict:
    """Semantic twin of :func:`sink_probe_leg`: seed a bucketed
    SemDeDup-on-ingest store with the full embeddings table at
    ``corpus_dir`` (scaled quantizer, BLAS assignment — the production
    configuration the sink's ``assign_via`` passthrough enables), then
    time fixed-size delta-batch upserts. Delta vectors are the corpus's
    first ``batch_docs`` base vectors with fresh ids and a per-batch
    deterministic sign-mask (same perturbation design as
    ``_replicate_embeddings`` — norms preserved, cosines decorrelated),
    so batches near-dup nothing and the timing measures the typical
    assign + cluster-probe + append path."""
    import shutil

    from pyspark.sql import functions as F

    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

    spark = get_spark(app_name=f"sink-probe-sem-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    store = f"/tmp/sinkprobe_sem_{tag}"
    prefix = f"sinkprobe_sem_{tag}"
    shutil.rmtree(store, ignore_errors=True)
    for t in ("docs", "keys", "assigned"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")

    emb, cents = _scaled_quantizer(spark, corpus_dir)
    emb = emb.select("vec_id", "embedding")  # same schema as the deltas
    # threshold 0.9: only true near-dups drop. The fixture's vectors are
    # heavily class-correlated, so a SemDeDup-typical 0.3 collapses the
    # whole corpus to a few hundred survivors and the "big store" leg
    # would not actually be big — the probe's question is per-batch cost
    # vs STORE SIZE, so the store must grow with the factor.
    t0 = time.perf_counter()
    neardup_upsert_batch(
        emb, store, tokens_col="embedding", id_col="vec_id",
        hash_family="semantic", centroids=cents, threshold=0.9,
        assign_via="pandas", table_prefix=prefix, n_buckets=32,
    )
    t_seed = time.perf_counter() - t0
    store_docs = spark.table(f"{prefix}_docs").count()

    base = (
        emb.where(F.col("vec_id") % 10_000_000 < batch_docs)
        .where(F.col("vec_id") < 10_000_000)  # base replica only
        .localCheckpoint()
    )
    samples = []
    for b in range(runs + 1):  # +1: first batch is the JIT warm
        flipped = F.expr(
            "transform(embedding, (x, j) -> float(x * IF(pmod(xxhash64("
            f"concat('probe-{b}-', cast(j AS string))), 2) = 0, 1.0D, -1.0D)))"
        )
        # offset above every replica id for any factor ≤ 10,000 (replica
        # r spans r·10M + base ids — the minhash leg's 900M offset
        # collided with replica 90+ and this leg used the same scheme)
        batch = base.select(
            (F.col("vec_id") + F.lit(200_000_000_000 + b * 1_000_000)).alias(
                "vec_id"
            ),
            flipped.alias("embedding"),
        ).localCheckpoint()
        t0 = time.perf_counter()
        neardup_upsert_batch(
            batch, store, tokens_col="embedding", id_col="vec_id",
            hash_family="semantic", centroids=cents, threshold=0.9,
            assign_via="pandas", table_prefix=prefix, n_buckets=32,
        )
        if b > 0:
            samples.append(round(time.perf_counter() - t0, 2))
    return {
        "store_docs": store_docs,
        "t_seed": round(t_seed, 1),
        "t_upsert_med": sorted(samples)[len(samples) // 2],
        "t_upsert_all": samples,
    }


def bm25_maint_probe(corpus_dir: str, tag: str) -> dict:
    """Posting-index MAINTENANCE cost vs corpus size — the structural
    claims behind the bm25_maintained_topk driver query: a DELETE's
    cost is the id-list write + broadcast anti-joins on candidate-sized
    frames + one keys-only ledger rescan for the stats (NOT a store
    rewrite), so it should grow far slower than the corpus; a VACUUM is
    by design a physical rewrite whose cost TRACKS LIVE DATA (that is
    the point — it restores scan cost); and post-delete serving pays
    only a broadcast anti-join over the candidate frame. One fresh
    session per leg (run via subprocess like the sink probes)."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
        vacuum_posting_index,
    )
    from nlp_with_pyspark_spark.queries import _tokenized_documents
    import tempfile

    spark = get_spark(app_name=f"bm25-maint-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    prefix = f"probe_maint_{tag}"
    toks = _tokenized_documents(spark, corpus_dir)
    store_dir = tempfile.mkdtemp(prefix=f"bm25maint_{tag}_")
    # swept at process exit (the queries.py _drain_serving_dirs
    # lesson): repeated probe runs must not accumulate full
    # posting-index copies in /tmp
    import atexit
    import shutil

    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    t0 = time.perf_counter()
    persist_posting_index(
        build_posting_index(toks), prefix, n_buckets=32, path=store_dir,
    )
    t_build = time.perf_counter() - t0
    # fixed-size takedown wave: 500 ids regardless of corpus size —
    # the cost claim is about the STORE side, so the batch is pinned
    dead = [r.doc_id for r in toks.select("doc_id").limit(500).collect()]
    t0 = time.perf_counter()
    n = remove_from_posting_index(spark, dead, prefix)
    t_delete = time.perf_counter() - t0
    idx = load_posting_index(spark, prefix)
    t0 = time.perf_counter()
    materialize(bm25_topk_indexed(idx, ["dup", "join", "scan"], k=15))
    t_serve_tombstoned = time.perf_counter() - t0
    t0 = time.perf_counter()
    vacuum_posting_index(spark, prefix)
    t_vacuum = time.perf_counter() - t0
    idx2 = load_posting_index(spark, prefix)
    t0 = time.perf_counter()
    materialize(bm25_topk_indexed(idx2, ["dup", "join", "scan"], k=15))
    t_serve_vacuumed = time.perf_counter() - t0
    return {
        "deleted": n,
        "t_build": round(t_build, 2),
        "t_delete_500ids": round(t_delete, 2),
        "t_serve_tombstoned": round(t_serve_tombstoned, 2),
        "t_vacuum": round(t_vacuum, 2),
        "t_serve_vacuumed": round(t_serve_vacuumed, 2),
    }


def neardup_maint_probe(corpus_dir: str, tag: str, batch_docs: int = 500) -> dict:
    """Survivor-store takedown maintenance probe (the bm25_maint_probe
    pattern applied to the dedup store): build a bucketed minhash
    dedup-on-ingest store from the corpus, tombstone a FIXED 200-id
    wave (the cost claim is about the store side, so the wave is
    pinned), serve the live ledger under the tombstone anti-join, run a
    fixed-size delta upsert against the tombstoned store (the takedown
    exclusion joins ride the same broadcast id list — per-batch ingest
    cost must not grow with deletes), then vacuum. Expect: delete ~flat
    vs corpus size (broadcast anti-joins on id frames only), serve =
    ledger scan + one broadcast anti-join, vacuum tracks live data.
    One fresh session per leg (run via subprocess)."""
    from nlp_with_pyspark_spark.operators.dedup import (
        remove_from_neardup_store,
        vacuum_neardup_store,
    )
    from nlp_with_pyspark_spark.queries import _tokenized_documents
    from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch
    from pyspark.sql import functions as F
    import atexit
    import shutil
    import tempfile

    spark = get_spark(app_name=f"nd-maint-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    prefix = f"probe_ndmaint_{tag}"
    store_dir = tempfile.mkdtemp(prefix=f"ndmaint_{tag}_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    toks = _tokenized_documents(spark, corpus_dir).select(
        "doc_id", "lang", "n_chars", "tokens"
    )
    # the delta batch re-ingests fresh ids AFTER the takedown wave; ids
    # shifted out of the stored range so the docs guard admits them
    top = toks.agg(F.max("doc_id")).collect()[0][0]
    delta = toks.limit(batch_docs).withColumn(
        "doc_id", F.col("doc_id") + F.lit(int(top) + 1)
    ).localCheckpoint()
    t0 = time.perf_counter()
    neardup_upsert_batch(
        toks, store_dir, threshold=0.2, table_prefix=prefix, n_buckets=32
    )
    t_build = time.perf_counter() - t0
    dead = [r.doc_id for r in spark.table(f"{prefix}_docs").select("doc_id").limit(200).collect()]
    t0 = time.perf_counter()
    n = remove_from_neardup_store(spark, dead, prefix)
    t_delete = time.perf_counter() - t0
    t0 = time.perf_counter()
    from nlp_with_pyspark_spark.operators.dedup import neardup_store_tombstones

    live = spark.table(f"{prefix}_docs").join(
        F.broadcast(neardup_store_tombstones(spark, prefix).select("doc_id")),
        "doc_id",
        "left_anti",
    )
    materialize(live.select("doc_id", "lang", "n_chars"))
    t_serve_tombstoned = time.perf_counter() - t0
    t0 = time.perf_counter()
    neardup_upsert_batch(
        delta, store_dir, threshold=0.2, table_prefix=prefix, n_buckets=32
    )
    t_upsert_after_delete = time.perf_counter() - t0
    t0 = time.perf_counter()
    vacuum_neardup_store(spark, prefix, "minhash")
    t_vacuum = time.perf_counter() - t0
    return {
        "deleted": n,
        "t_build": round(t_build, 2),
        "t_delete_200ids": round(t_delete, 2),
        "t_serve_tombstoned": round(t_serve_tombstoned, 2),
        "t_upsert_after_delete": round(t_upsert_after_delete, 2),
        "t_vacuum": round(t_vacuum, 2),
    }


def vec_maint_probe(corpus_dir: str, tag: str) -> dict:
    """Vector-store takedown maintenance probe (round 12 — the
    bm25/nd maint pattern applied to the NEW fifth store family,
    operators/vector_store): build the persisted IVF-PQ index from the
    embeddings table, tombstone a FIXED 200-id wave (the cost claim is
    about the store side), serve the two-stage retrieval under the
    tombstone anti-join, run a fixed-size delta append against the
    tombstoned store (per-batch ingest cost must not grow with
    deletes), then vacuum. Expect: delete ~flat vs corpus size
    (broadcast id frames only), serve cost tracks probed lists + the
    Q·shortlist fetch, vacuum tracks live data. One fresh session per
    leg (run via subprocess)."""
    import atexit
    import shutil
    import tempfile

    from nlp_with_pyspark_spark.operators.similarity import pq_fixed_codebooks
    from nlp_with_pyspark_spark.operators.vector_store import (
        append_to_vector_index,
        load_vector_index,
        persist_vector_index,
        remove_from_vector_index,
        vacuum_vector_index,
        vector_index_rerank_topk,
    )
    from nlp_with_pyspark_spark.sources.io import read_table
    from pyspark.sql import functions as F

    spark = get_spark(app_name=f"vec-maint-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    prefix = f"probe_vecmaint_{tag}"
    store_dir = tempfile.mkdtemp(prefix=f"vecmaint_{tag}_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    emb = read_table(spark, corpus_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = emb.where(F.col("vec_id") < 8).collect()
    centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in cent_rows]
    cbs = pq_fixed_codebooks()
    queries = emb.where(F.col("vec_id") < 5).localCheckpoint()
    # the delta batch re-ingests fresh ids AFTER the takedown wave
    top = emb.agg(F.max("vec_id")).collect()[0][0]
    delta = emb.limit(200).withColumn(
        "vec_id", F.col("vec_id") + F.lit(int(top) + 1)
    ).localCheckpoint()
    t0 = time.perf_counter()
    persist_vector_index(emb, centroids, cbs, prefix, n_buckets=8, path=store_dir)
    t_build = time.perf_counter() - t0
    dead = [
        r.vec_id
        for r in emb.where(F.col("vec_id") >= 5).select("vec_id").limit(200).collect()
    ]
    t0 = time.perf_counter()
    n = remove_from_vector_index(spark, dead, prefix)
    t_delete = time.perf_counter() - t0
    t0 = time.perf_counter()
    materialize(
        vector_index_rerank_topk(
            load_vector_index(spark, prefix), queries, k=10, shortlist=50, n_probe=3
        )
    )
    t_serve_tombstoned = time.perf_counter() - t0
    t0 = time.perf_counter()
    append_to_vector_index(delta, prefix)
    t_append_after_delete = time.perf_counter() - t0
    t0 = time.perf_counter()
    vacuum_vector_index(spark, prefix)
    t_vacuum = time.perf_counter() - t0
    t0 = time.perf_counter()
    materialize(
        vector_index_rerank_topk(
            load_vector_index(spark, prefix), queries, k=10, shortlist=50, n_probe=3
        )
    )
    t_serve_vacuumed = time.perf_counter() - t0
    return {
        "deleted": n,
        "t_build": round(t_build, 2),
        "t_delete_200ids": round(t_delete, 2),
        "t_serve_tombstoned": round(t_serve_tombstoned, 2),
        "t_append_200_after_delete": round(t_append_after_delete, 2),
        "t_vacuum": round(t_vacuum, 2),
        "t_serve_vacuumed": round(t_serve_vacuumed, 2),
    }


def vec_rebalance_probe(corpus_dir: str, tag: str) -> dict:
    """Hot-list REBALANCE cost profile (round 13 — the vector store's
    drift-maintenance stage, operators/vector_store.
    rebalance_vector_index): build the persisted IVF-PQ store from the
    full embeddings corpus, then time the three cost surfaces the
    operator's scale story separates: (1) DETECTION —
    vector_index_list_stats, a key-only columnar agg cheap enough to
    run per-batch; (2) the REBALANCE itself at max_list_factor=1.0
    (every above-mean list splits — planning ∝ hot lists' rows, rewrite
    through the compact seam); (3) a plain no-transform
    compact_bucketed_table of the post-rebalance codes table — the
    vacuum-class REWRITE BASELINE the rebalance total is decomposed
    against (rebalance ≈ detection + hot-row planning + this rewrite +
    the bounded centroid overwrite). A post-rebalance full-probe serve
    closes the leg (correctness priced in the same JVM). Expect:
    detection ~flat (two-int-column scan), rebalance tracking its
    rewrite baseline plus hot-row planning, neither exceeding
    vacuum-class cost. One fresh session per leg (subprocess)."""
    import atexit
    import shutil
    import tempfile

    from nlp_with_pyspark_spark.operators.similarity import pq_fixed_codebooks
    from nlp_with_pyspark_spark.operators.vector_store import (
        load_vector_index,
        persist_vector_index,
        rebalance_vector_index,
        vector_index_list_stats,
        vector_index_rerank_topk,
    )
    from nlp_with_pyspark_spark.sources.io import (
        compact_bucketed_table,
        read_table,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name=f"vec-rebal-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    prefix = f"probe_vecrebal_{tag}"
    store_dir = tempfile.mkdtemp(prefix=f"vecrebal_{tag}_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    emb = read_table(spark, corpus_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = emb.where(F.col("vec_id") < 8).collect()
    centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in cent_rows]
    queries = emb.where(F.col("vec_id") < 5).localCheckpoint()
    t0 = time.perf_counter()
    persist_vector_index(
        emb, centroids, pq_fixed_codebooks(), prefix, n_buckets=8, path=store_dir
    )
    t_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    stats = vector_index_list_stats(spark, prefix).collect()
    t_detect = time.perf_counter() - t0
    n_rows = sum(int(r.n_vecs) for r in stats)
    t0 = time.perf_counter()
    rep = rebalance_vector_index(spark, prefix, max_list_factor=1.0)
    t_rebalance = time.perf_counter() - t0
    moved = sum(s["moved"] for s in rep["splits"].values())
    t0 = time.perf_counter()
    compact_bucketed_table(spark, f"{prefix}_codes")
    t_rewrite_baseline = time.perf_counter() - t0
    idx = load_vector_index(spark, prefix)
    t0 = time.perf_counter()
    materialize(
        vector_index_rerank_topk(
            idx, queries, k=10, shortlist=50, n_probe=len(idx.centroids)
        )
    )
    t_serve_fullprobe = time.perf_counter() - t0
    return {
        "rows": n_rows,
        "n_hot": len(rep["hot_lists"]),
        "rows_moved": moved,
        "t_build": round(t_build, 2),
        "t_detect": round(t_detect, 2),
        "t_rebalance": round(t_rebalance, 2),
        "t_rewrite_baseline": round(t_rewrite_baseline, 2),
        "t_serve_fullprobe": round(t_serve_fullprobe, 2),
    }


def vec_sink_probe_leg(
    corpus_dir: str, tag: str, batch_vecs: int, runs: int
) -> dict:
    """Vector-index INGEST decades probe (round 13 — the fifth family's
    last unmeasured cost surface): seed the persisted IVF-PQ store with
    the FULL embeddings corpus at ``corpus_dir``, then time ``runs``
    FIXED-size fresh-id delta batches through
    streaming/sinks.vector_index_upsert_batch — the sink's batch half
    (first timed batch is the JIT warm, discarded). Claim under test:
    per-batch append cost tracks the BATCH, not the store — the append
    path encodes the batch in one literal projection and both guard
    joins semi-filter the store scans by the broadcast batch id list
    (operators/vector_store.append_to_vector_index), so a 100× store
    should add ~nothing per batch.

    Probe design (the simhash lesson, SCALING.md): the batch is
    FIXED-size against a GROWN store, never a grown batch against a
    cold store — a one-batch build over perturbed replicas is the
    documented quadratic worst case of within-batch work and would
    measure batch self-cost, not store-side cost. Batch ids start at
    2e11 + 1M per batch, above every replica id for any factor
    ≤ 10,000 (replica r spans r·10M + base), so every batch is
    genuinely fresh and the timing is the typical guard + encode +
    two-bucketed-appends path, never a mass ledger drop."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nlp_with_pyspark_spark.operators.similarity import pq_fixed_codebooks
    from nlp_with_pyspark_spark.operators.vector_store import persist_vector_index
    from nlp_with_pyspark_spark.sources.io import read_table
    from nlp_with_pyspark_spark.streaming.sinks import vector_index_upsert_batch

    spark = get_spark(app_name=f"vec-sink-probe-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    prefix = f"probe_vecsink_{tag}"
    store_dir = tempfile.mkdtemp(prefix=f"vecsink_{tag}_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    for t in ("codes", "vecs", "centroids", "codebooks", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")

    emb = read_table(spark, corpus_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = emb.where(F.col("vec_id") < 8).collect()
    centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in cent_rows]
    cbs = pq_fixed_codebooks()
    t0 = time.perf_counter()
    persist_vector_index(emb, centroids, cbs, prefix, n_buckets=8, path=store_dir)
    t_seed = time.perf_counter() - t0
    store_vecs = spark.table(f"{prefix}_vecs").count()

    base = (
        emb.where(F.col("vec_id") < 10_000_000)  # base replica only
        .limit(batch_vecs)
        .localCheckpoint()
    )
    samples = []
    for b in range(runs + 1):  # +1: first batch is the JIT warm
        batch = base.withColumn(
            "vec_id", F.col("vec_id") + F.lit(200_000_000_000 + b * 1_000_000)
        ).localCheckpoint()
        t0 = time.perf_counter()
        n = vector_index_upsert_batch(
            batch, store_dir, centroids, cbs, prefix, n_buckets=8
        )
        dt = round(time.perf_counter() - t0, 2)
        assert n == batch_vecs, f"batch {b}: ingested {n} != {batch_vecs}"
        if b > 0:
            samples.append(dt)
    return {
        "store_vecs": store_vecs,
        "t_seed": round(t_seed, 1),
        "t_append_med": sorted(samples)[len(samples) // 2],
        "t_append_all": samples,
    }


def fanout_maint_probe(corpus_dir: str, tag: str) -> dict:
    """Takedown FAN-OUT cost profile (round 12; round 13 added the
    semantic survivor store as a FIFTH target) — one pinned 200-id
    delete batch driven through streaming/sinks.takedown_fanout_batch
    against FIVE persisted store families at once (posting index,
    minhash survivor store, exact-dedup store, IVF-PQ vector store,
    SemDeDup survivor store), versus the same-size batch hitting each
    store alone, at 1x and --factor x corpus. The simhash survivor
    family is deliberately NOT a probe target: its delete path is the
    SAME neardup_delete_batch code over a different table set (nothing
    new to price), while its one-batch BUILD at a replicated 100x
    corpus is the documented worst case of the within-batch verify
    (perturbed replicas are near-dups by construction, so they pile
    into shared fingerprint buckets) — a build cost, not a fan-out
    cost, and it starved the probe. The semantic family does NOT hit
    that trap — replica embeddings are sign-mask-decorrelated (fresh
    near-orthogonal vectors), and its store seeds with the scaled
    quantizer + threshold 0.9 + BLAS assignment exactly like the
    semantic ingest-decades probe — so its 3-table layout (docs/keys/
    assigned) can be priced alongside the others. Claims probed: (a)
    per-batch fan-out cost ≈ the sum of the per-store anti-join bets —
    fanning out adds no multiplicative interaction, the stores share
    nothing but the broadcast id list; (b) each bet is ~flat in corpus
    size (deletes move id lists, never store rows); (c) replaying the
    SAME batch — the crash-replay convergence path — re-tombstones
    nothing and costs no more than the first pass. One fresh session
    per leg (run via subprocess; the leg builds 5 stores in one JVM —
    run with SPARK_DRIVER_MEMORY=32g at 100x)."""
    import atexit
    import shutil
    import tempfile

    from nlp_with_pyspark_spark.operators.search import (
        build_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.operators.similarity import pq_fixed_codebooks
    from nlp_with_pyspark_spark.operators.vector_store import persist_vector_index
    from nlp_with_pyspark_spark.queries import _tokenized_documents
    from nlp_with_pyspark_spark.sources.io import read_table, write_bucketed
    from pyspark.sql import functions as F
    from nlp_with_pyspark_spark.streaming.sinks import (
        neardup_upsert_batch,
        takedown_fanout_batch,
    )

    spark = get_spark(app_name=f"fanout-maint-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    names = {
        "pidx": f"probe_fo_{tag}_pidx",
        "ndm": f"probe_fo_{tag}_ndm",
        "exact": f"probe_fo_{tag}_exact",
        "vec": f"probe_fo_{tag}_vec",
        "sem": f"probe_fo_{tag}_sem",
    }
    dirs = {}
    for label in names:
        d = tempfile.mkdtemp(prefix=f"fanout_{tag}_{label}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        dirs[label] = d
    toks = _tokenized_documents(spark, corpus_dir).select(
        "doc_id", "lang", "n_chars", "tokens"
    )
    emb = read_table(spark, corpus_dir, "embeddings").select("vec_id", "embedding")
    cent_rows = emb.where(F.col("vec_id") < 8).collect()
    centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in cent_rows]
    t0 = time.perf_counter()
    persist_posting_index(
        build_posting_index(toks), names["pidx"], n_buckets=32, path=dirs["pidx"]
    )
    neardup_upsert_batch(
        toks, dirs["ndm"], threshold=0.2, table_prefix=names["ndm"], n_buckets=32
    )
    write_bucketed(
        toks.select("doc_id", "lang", "n_chars").dropDuplicates(["doc_id"]),
        names["exact"],
        "doc_id",
        32,
        path=dirs["exact"],
    )
    persist_vector_index(
        emb, centroids, pq_fixed_codebooks(), names["vec"],
        n_buckets=8, path=dirs["vec"],
    )
    # FIFTH family (round 13): the SemDeDup survivor store, seeded with
    # the scaled quantizer + threshold 0.9 + BLAS assignment (the same
    # configuration the semantic ingest-decades probe validated at
    # 100x). ids aliased to doc_id: one takedown stream, one id space.
    _, sem_cents = _scaled_quantizer(spark, corpus_dir)
    neardup_upsert_batch(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        dirs["sem"], tokens_col="embedding", id_col="doc_id",
        hash_family="semantic", centroids=sem_cents, threshold=0.9,
        assign_via="pandas", table_prefix=names["sem"], n_buckets=32,
    )
    t_build = time.perf_counter() - t0
    targets = [
        {"kind": "posting", "table_prefix": names["pidx"]},
        {"kind": "neardup", "table_prefix": names["ndm"], "hash_family": "minhash"},
        {"kind": "exact", "table": names["exact"], "key_cols": ("doc_id",)},
        {"kind": "vector", "table_prefix": names["vec"]},
        {"kind": "neardup", "table_prefix": names["sem"], "hash_family": "semantic"},
    ]
    # two disjoint PINNED 200-id waves (the cost claim is about the
    # store side, so the batch never scales): wave A feeds the fan-out
    # and its replay, wave B feeds the per-store solo timings the
    # fan-out total is decomposed against
    ids = [
        r.doc_id
        for r in toks.select("doc_id").orderBy("doc_id").limit(400).collect()
    ]
    wave_a = spark.createDataFrame(
        [(int(i),) for i in ids[:200]], "doc_id long"
    ).localCheckpoint()
    wave_b = spark.createDataFrame(
        [(int(i),) for i in ids[200:400]], "doc_id long"
    ).localCheckpoint()
    t0 = time.perf_counter()
    n_first = takedown_fanout_batch(wave_a, targets)
    t_fanout = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_replay = takedown_fanout_batch(wave_a, targets)
    t_replay = time.perf_counter() - t0
    solo = {}
    for t in targets:
        full = t.get("table_prefix") or t["table"]
        t0 = time.perf_counter()
        takedown_fanout_batch(wave_b, [t])
        solo[full.rsplit("_", 1)[-1]] = round(time.perf_counter() - t0, 2)
    return {
        "t_build_5stores": round(t_build, 2),
        "t_fanout_200ids_5stores": round(t_fanout, 2),
        "t_replay_same_batch": round(t_replay, 2),
        "replay_new_tombstones": sum(n_replay.values()),
        "first_new_tombstones": sum(n_first.values()),
        "t_solo_per_store": solo,
        "t_solo_sum": round(sum(solo.values()), 2),
    }


def materialize(df) -> None:
    """Force FULL evaluation of every output column.

    ``count()`` is NOT that: Catalyst prunes a count down to the
    cheapest plan that yields row cardinality, so a projection-only
    query (markup strip, stats-card signals) degenerates to a metadata
    row-count scan and the timing measures scheduling overhead, not the
    operator (the round-6 probe made exactly that mistake — its "flat at
    100x" rows for the projection queries were unsupported). The noop
    sink evaluates every row of every column and discards the bytes —
    the standard Spark benchmarking sink, no transfer/serialization
    cost added."""
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, name: str, sf_dir: str, runs: int = 3) -> tuple[float, int]:
    fn = EXTRA_QUERIES.get(name) or QUERIES[name]
    # TWO warm runs: cold-JVM JIT takes more than one pass to reach
    # steady state (measured on dedup_minhash_pairs at sf0.1 in a fresh
    # session: 19.2s, 3.9s, then ~2.1s steady — a single warm run left
    # half the compile cost inside the first sample)
    n_rows = fn(spark, sf_dir).count()
    materialize(fn(spark, sf_dir))
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[len(samples) // 2], n_rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--queries", default=DEFAULT_QUERIES)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--tables",
        default="documents",
        help="comma list of tables to replicate (documents,events,orders); "
        "the rest are symlinked from --base",
    )
    ap.add_argument(
        "--sink-probe",
        action="store_true",
        help="ingest-sink probe: per-batch upsert cost vs store size "
        "(seeds a bucketed near-dup store at 1x and at --factor x, "
        "times fixed-size delta upserts against each)",
    )
    ap.add_argument("--batch-docs", type=int, default=2000)
    ap.add_argument(
        "--sink-family", default="minhash", choices=["minhash", "semantic"],
        help="which ingest family the sink probe exercises (minhash = "
        "documents store; semantic = embeddings store, scaled quantizer, "
        "BLAS assignment)",
    )
    ap.add_argument(
        "--sink-leg", default=None, help="internal: run one sink-probe leg "
        "(value = leg tag; corpus dir taken from --base)"
    )
    ap.add_argument(
        "--bm25-maint-probe", action="store_true",
        help="posting-index maintenance probe: fixed-size delete wave, "
        "vacuum, and serving cost at 1x and --factor x (one fresh "
        "session per leg)",
    )
    ap.add_argument(
        "--bm25-maint-leg", default=None,
        help="internal: run one maintenance-probe leg (value = tag; "
        "corpus dir from --base)",
    )
    ap.add_argument(
        "--nd-maint-probe", action="store_true",
        help="survivor-store takedown probe: fixed-size delete wave, "
        "tombstoned serve, post-delete upsert, and vacuum cost at 1x "
        "and --factor x (one fresh session per leg)",
    )
    ap.add_argument(
        "--nd-maint-leg", default=None,
        help="internal: run one survivor-store maintenance leg (value = "
        "tag; corpus dir from --base)",
    )
    ap.add_argument(
        "--vec-maint-probe", action="store_true",
        help="vector-store takedown probe: fixed-size delete wave, "
        "tombstoned serve, post-delete append, and vacuum cost at 1x "
        "and --factor x embeddings (one fresh session per leg)",
    )
    ap.add_argument(
        "--vec-maint-leg", default=None,
        help="internal: run one vector-store maintenance leg (value = "
        "tag; corpus dir from --base)",
    )
    ap.add_argument(
        "--vec-rebalance-probe", action="store_true",
        help="hot-list rebalance probe: detection / rebalance / plain-"
        "rewrite-baseline / full-probe-serve timings on the persisted "
        "IVF-PQ store at 1x and --factor x embeddings (one fresh "
        "session per leg)",
    )
    ap.add_argument(
        "--vec-rebal-leg", default=None,
        help="internal: run one rebalance probe leg (value = tag; "
        "corpus dir from --base)",
    )
    ap.add_argument(
        "--vec-sink-probe", action="store_true",
        help="vector-index ingest probe: per-batch fixed-size append "
        "cost vs store size (seeds the persisted IVF-PQ store at 1x "
        "and --factor x embeddings, times fixed-size fresh-id batches "
        "through vector_index_upsert_batch against each)",
    )
    ap.add_argument(
        "--vec-sink-leg", default=None,
        help="internal: run one vector-index ingest leg (value = tag; "
        "corpus dir from --base)",
    )
    ap.add_argument("--batch-vecs", type=int, default=200)
    ap.add_argument(
        "--fanout-maint-probe", action="store_true",
        help="takedown fan-out probe: one 200-id batch through "
        "takedown_fanout_batch against all four store families vs each "
        "store alone, plus same-batch replay, at 1x and --factor x "
        "(one fresh session per leg)",
    )
    ap.add_argument(
        "--fanout-maint-leg", default=None,
        help="internal: run one fan-out maintenance leg (value = tag; "
        "corpus dir from --base)",
    )
    ap.add_argument(
        "--compact-mid", action="store_true",
        help="minhash sink probe: arm threshold-triggered compaction so it "
        "trips mid-sequence, and run the store-integrity check afterwards",
    )
    args = ap.parse_args()

    if args.bm25_maint_leg:
        print(json.dumps({args.bm25_maint_leg: bm25_maint_probe(args.base, args.bm25_maint_leg)}))
        return

    if args.nd_maint_leg:
        print(json.dumps({args.nd_maint_leg: neardup_maint_probe(args.base, args.nd_maint_leg)}))
        return

    if args.vec_maint_leg:
        print(json.dumps({args.vec_maint_leg: vec_maint_probe(args.base, args.vec_maint_leg)}))
        return

    if args.vec_maint_probe:
        import subprocess

        out_dir = args.out or f"/tmp/scale{args.factor}x_embeddings"
        spark = get_spark(app_name=f"vec-maint-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, ("embeddings",))
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--vec-maint-leg", tag, "--base", corpus_dir,
                ],
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        print(json.dumps({"factor": args.factor, "results": results}))
        return

    if args.vec_rebal_leg:
        print(json.dumps({
            args.vec_rebal_leg: vec_rebalance_probe(args.base, args.vec_rebal_leg)
        }))
        return

    if args.vec_rebalance_probe:
        import subprocess

        out_dir = args.out or f"/tmp/scale{args.factor}x_embeddings"
        spark = get_spark(app_name=f"vec-rebal-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, ("embeddings",))
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--vec-rebal-leg", tag, "--base", corpus_dir,
                ],
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        print(json.dumps({"factor": args.factor, "results": results}))
        return

    if args.vec_sink_leg:
        print(json.dumps({
            args.vec_sink_leg: vec_sink_probe_leg(
                args.base, args.vec_sink_leg, args.batch_vecs, args.runs
            )
        }))
        return

    if args.vec_sink_probe:
        import subprocess

        out_dir = args.out or f"/tmp/scale{args.factor}x_embeddings"
        spark = get_spark(app_name=f"vec-sink-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, ("embeddings",))
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--vec-sink-leg", tag, "--base", corpus_dir,
                    "--batch-vecs", str(args.batch_vecs),
                    "--runs", str(args.runs),
                ],
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        small, big = results["1x"], results[f"{args.factor}x"]
        print(json.dumps({
            "factor": args.factor,
            "batch_vecs": args.batch_vecs,
            "results": results,
            "append_ratio": round(big["t_append_med"] / small["t_append_med"], 2),
        }))
        return

    if args.fanout_maint_leg:
        print(json.dumps({args.fanout_maint_leg: fanout_maint_probe(args.base, args.fanout_maint_leg)}))
        return

    if args.fanout_maint_probe:
        import subprocess

        out_dir = args.out or f"/tmp/scale{args.factor}x_documents_embeddings"
        spark = get_spark(app_name=f"fanout-maint-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(
            spark, args.base, out_dir, args.factor, ("documents", "embeddings")
        )
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--fanout-maint-leg", tag, "--base", corpus_dir,
                ],
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        print(json.dumps({"factor": args.factor, "results": results}))
        return

    if args.nd_maint_probe:
        import subprocess

        out_dir = args.out or f"/tmp/scale{args.factor}x_documents"
        spark = get_spark(app_name=f"nd-maint-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, ("documents",))
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--nd-maint-leg", tag, "--base", corpus_dir,
                ],
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        print(json.dumps({"factor": args.factor, "results": results}))
        return

    if args.bm25_maint_probe:
        import subprocess

        out_dir = args.out or f"/tmp/scale{args.factor}x_documents"
        spark = get_spark(app_name=f"bm25-maint-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, ("documents",))
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--bm25-maint-leg", tag, "--base", corpus_dir,
                ],
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        print(json.dumps({"factor": args.factor, "results": results}))
        return

    if args.sink_leg:
        if args.sink_family == "semantic":
            result = sink_probe_leg_semantic(
                args.base, args.sink_leg, args.batch_docs, args.runs
            )
        else:
            result = sink_probe_leg(
                args.base, args.sink_leg, args.batch_docs, args.runs,
                compact_mid=args.compact_mid,
            )
        print(json.dumps({args.sink_leg: result}))
        return

    if args.sink_probe:
        import subprocess

        tables = ("embeddings",) if args.sink_family == "semantic" else ("documents",)
        out_dir = args.out or f"/tmp/scale{args.factor}x_{'_'.join(tables)}"
        spark = get_spark(app_name=f"sink-probe-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, tables)
        spark.stop()
        results = {}
        for tag, corpus_dir in (("1x", args.base), (f"{args.factor}x", out_dir)):
            out = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--sink-leg", tag,
                    "--sink-family", args.sink_family,
                    "--base", corpus_dir,
                    "--batch-docs", str(args.batch_docs),
                    "--runs", str(args.runs),
                ]
                + (["--compact-mid"] if args.compact_mid else []),
                capture_output=True, text=True, check=True,
            )
            results.update(json.loads(out.stdout.strip().splitlines()[-1]))
            print(json.dumps({tag: results[tag]}), flush=True)
        small, big = results["1x"], results[f"{args.factor}x"]
        print(json.dumps({
            "factor": args.factor,
            "batch_docs": args.batch_docs,
            "results": results,
            "upsert_ratio": round(big["t_upsert_med"] / small["t_upsert_med"], 2),
        }))
        return
    tables = tuple(sorted(t.strip() for t in args.tables.split(",") if t.strip()))
    out_dir = args.out or f"/tmp/scale{args.factor}x_{'_'.join(tables)}"

    names = [n.strip() for n in args.queries.split(",")]

    if len(names) > 1:
        # one OS PROCESS per query leg: a stopped SparkContext leaves its
        # JVM (and the previous leg's heap garbage) behind, and measured
        # 1x timings after a heavy 100x leg were inflated 3-6x by GC
        # churn even in a fresh session. Subprocesses give each leg a
        # genuinely cold, equally-sized JVM.
        import subprocess

        spark = get_spark(app_name=f"scale-probe-build-{args.factor}x")
        spark.sparkContext.setLogLevel("ERROR")
        build_replicated_dir(spark, args.base, out_dir, args.factor, tables)
        spark.stop()
        results = {}
        for name in names:
            out = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--factor", str(args.factor),
                    "--base", args.base,
                    "--out", out_dir,
                    "--queries", name,
                    "--runs", str(args.runs),
                    "--tables", ",".join(tables),
                ],
                capture_output=True,
                text=True,
                check=True,
            )
            line = json.loads(out.stdout.strip().splitlines()[-1])
            results.update(line["results"])
            print(json.dumps({name: results[name]}), flush=True)
        print(json.dumps({"factor": args.factor, "results": results}))
        return

    spark = get_spark(app_name=f"scale-probe-{names[0]}")
    spark.sparkContext.setLogLevel("ERROR")
    build_replicated_dir(spark, args.base, out_dir, args.factor, tables)

    results = {}
    for name in names:
        t1, rows1 = time_query(spark, name, args.base, args.runs)
        tn, rowsn = time_query(spark, name, out_dir, args.runs)
        results[name] = {
            "t_1x": round(t1, 2),
            f"t_{args.factor}x": round(tn, 2),
            "ratio": round(tn / t1, 1),
            "rows_1x": rows1,
            f"rows_{args.factor}x": rowsn,
        }
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({"factor": args.factor, "results": results}))


if __name__ == "__main__":
    main()
