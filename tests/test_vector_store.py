"""Persisted IVF-PQ vector store (operators/vector_store): the fifth
store family's full lifecycle — serve ≡ the inline two-stage retrieval,
takedown ≡ rebuild-without, vacuum physically folds, re-ingest of a
forgotten vector is admitted, tombstones restart-heal, the streaming
ingest sink converges under replay, and the takedown fan-out drives the
vector store from the same id stream as every other family."""

import pytest
from pyspark.sql import functions as F

from nlp_with_pyspark_spark.operators.similarity import (
    ivfpq_rerank_topk,
    pq_fixed_codebooks,
)
from nlp_with_pyspark_spark.operators.vector_store import (
    append_to_vector_index,
    load_vector_index,
    persist_vector_index,
    remove_from_vector_index,
    vacuum_vector_index,
    vector_index_rerank_topk,
    vector_index_tombstones,
)
from nlp_with_pyspark_spark.plans.inspect import final_plan_string
from nlp_with_pyspark_spark.sources.io import read_table

STORE_TABLES = ("codes", "vecs", "centroids", "codebooks", "tombstones")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").localCheckpoint()


@pytest.fixture(scope="module")
def quantizer(emb):
    cent = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]
    return cent, pq_fixed_codebooks()


def _drop(spark, prefix):
    for t in STORE_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _serve(spark, prefix, queries):
    return vector_index_rerank_topk(
        load_vector_index(spark, prefix), queries, k=10, shortlist=50, n_probe=3
    )


def test_store_serve_equals_inline_rerank_and_prunes(
    spark, emb, quantizer, tmp_path
):
    """Serving from the persisted store is row-identical to the inline
    similarity.ivfpq_rerank_topk over the same corpus, and the serve
    plan reads only the probed lists: the literal IN-filter on list_id
    is pushed into the bucketed-sorted-by-list_id parquet scan (footer
    pruning — the IVF layout promise), and the probe/candidate joins
    are broadcasts (the store side never shuffles pre-shortlist)."""
    cent, cbs = quantizer
    prefix = "t_vstore_serve"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "s"))
        served = _serve(spark, prefix, queries)
        assert _rows(served) == _rows(
            ivfpq_rerank_topk(emb, queries, cent, cbs, k=10, shortlist=50, n_probe=3)
        )
        plan = final_plan_string(served).split("== Initial Plan ==")[0]
        # the codes scan carries the probed-list filter down to parquet
        assert "PushedFilters: [In(list_id" in plan or "PushedFilters: [EqualTo(list_id" in plan
        assert "BroadcastHashJoin" in plan
    finally:
        _drop(spark, prefix)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_takedown_lifecycle_delete_vacuum_reingest(spark, emb, quantizer, tmp_path):
    """The LSM maintenance contract, end to end: (1) a takedown wave is
    served as if the index were rebuilt without the dead vectors —
    next-best candidates fill the freed shortlist slots; (2) deletes
    are idempotent and ignore never-ingested ids; (3) a tombstoned id
    is suppressed on re-ingest (the ledger still holds it); (4) vacuum
    preserves answers, leaves codes+vecs bit-identical to a rebuild
    without the dead vectors, and clears the tombstone list; (5) after
    the vacuum a re-ingest of the forgotten vector is admitted as a
    first occurrence, and replaying the same append is a no-op."""
    cent, cbs = quantizer
    prefix = "t_vstore_life"
    rebuilt = "t_vstore_rebuilt"
    queries = emb.where(F.col("vec_id") < 5)
    dead = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") % 7 == 1)
    ).select("vec_id").localCheckpoint()
    live = emb.join(dead, "vec_id", "left_anti")
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "a"))
        before = _rows(_serve(spark, prefix, queries))

        n = remove_from_vector_index(spark, dead, prefix)
        assert n == dead.count() > 0
        # idempotent; never-ingested ids ignored
        assert remove_from_vector_index(spark, dead, prefix) == 0
        assert remove_from_vector_index(spark, [10**12], prefix) == 0

        after = _rows(_serve(spark, prefix, queries))
        assert after != before  # a true top-k neighbor died
        assert after == _rows(
            ivfpq_rerank_topk(live, queries, cent, cbs, k=10, shortlist=50, n_probe=3)
        )
        dead_ids = {r.vec_id for r in dead.collect()}
        assert not ({r[1] for r in after} & dead_ids)

        # tombstoned id re-ingest PRE-vacuum is suppressed (ledger guard)
        resurrect = emb.join(F.broadcast(dead.limit(2)), "vec_id", "left_semi")
        assert append_to_vector_index(resurrect, prefix) == 0

        rep = vacuum_vector_index(spark, prefix)
        assert rep["tombstones_folded"] == n
        assert vector_index_tombstones(spark, prefix) is None
        assert _rows(_serve(spark, prefix, queries)) == after
        # physical fold ≡ rebuild-without, per table
        persist_vector_index(live, cent, cbs, rebuilt, n_buckets=8, path=str(tmp_path / "b"))
        for t in ("codes", "vecs"):
            assert _rows(spark.table(f"{prefix}_{t}")) == _rows(
                spark.table(f"{rebuilt}_{t}")
            ), t

        # POST-vacuum the forgotten vector is admitted again; replay no-op
        assert append_to_vector_index(resurrect, prefix) == 2
        assert append_to_vector_index(resurrect, prefix) == 0
        back = _rows(_serve(spark, prefix, queries))
        live_plus = live.unionByName(
            emb.join(F.broadcast(dead.limit(2)), "vec_id", "left_semi")
        )
        assert back == _rows(
            ivfpq_rerank_topk(live_plus, queries, cent, cbs, k=10, shortlist=50, n_probe=3)
        )
    finally:
        _drop(spark, prefix)
        _drop(spark, rebuilt)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_trained_quantizer_store_roundtrip(spark, emb, tmp_path):
    """The production build path: train_and_persist_vector_index trains
    k-means centroids + PQ codebooks (on a hash-sample) and persists —
    the store must then serve row-identically to the inline two-stage
    retrieval run with the SAME loaded artifacts (the persist/load path
    handles arbitrary trained quantizers, not just the md5 literals),
    and the takedown machinery works unchanged on a trained store."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        train_and_persist_vector_index,
    )

    prefix = "t_vstore_trained"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        train_and_persist_vector_index(
            emb, prefix, n_lists=8, m=8, ksub=4,
            path=str(tmp_path / "t"), train_fraction=0.5,
        )
        idx = load_vector_index(spark, prefix)
        assert len(idx.centroids) == 8
        assert len(idx.codebooks) == 8 and len(idx.codebooks[0]) == 4
        served = _rows(_serve(spark, prefix, queries))
        assert served == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx.centroids, idx.codebooks,
                k=10, shortlist=50, n_probe=3,
            )
        )
        # takedowns are quantizer-agnostic: delete ≡ rebuild-without
        dead = emb.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") % 5 == 0)
        ).select("vec_id")
        remove_from_vector_index(spark, dead, prefix)
        assert _rows(_serve(spark, prefix, queries)) == _rows(
            ivfpq_rerank_topk(
                emb.join(dead, "vec_id", "left_anti"), queries,
                idx.centroids, idx.codebooks, k=10, shortlist=50, n_probe=3,
            )
        )
    finally:
        _drop(spark, prefix)


def test_full_store_restart_selfheal(spark, emb, quantizer, tmp_path):
    """A fresh session (EVERY catalog entry gone, on-disk store intact)
    must serve the committed state exactly — including a still-pending
    takedown: register_vector_index re-registers codes/vecs from their
    _BUCKET_SPEC sidecars, the quantizer tables from their footers, and
    the tombstones from the __tombstones sidecar. Also: dropping ONLY
    the tombstone entry (the partial-restart path) heals through
    vector_index_tombstones alone."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        register_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_heal"
    store = str(tmp_path / "h")
    queries = emb.where(F.col("vec_id") < 5)
    dead = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") % 7 == 1)
    ).select("vec_id")
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=store)
        remove_from_vector_index(spark, dead, prefix)
        served = _rows(_serve(spark, prefix, queries))

        # partial restart: only the tombstone entry is gone
        spark.sql(f"DROP TABLE {prefix}_tombstones")
        tombs = vector_index_tombstones(spark, prefix)
        assert tombs is not None and tombs.count() == dead.count()
        assert _rows(_serve(spark, prefix, queries)) == served

        # full restart: every catalog entry gone, disk intact
        _drop(spark, prefix)
        register_vector_index(spark, prefix, store, n_buckets=8)
        idx = load_vector_index(spark, prefix)
        assert idx.centroids == cent and idx.tombstones is not None
        assert _rows(_serve(spark, prefix, queries)) == served
    finally:
        _drop(spark, prefix)


def test_rerank_shortlist_guard(spark, emb, quantizer, tmp_path):
    """Store serving validates shortlist >= k exactly like the inline
    similarity.ivfpq_rerank_topk it is pinned row-identical to — a
    too-small shortlist must raise, not silently truncate results."""
    cent, cbs = quantizer
    prefix = "t_vstore_guard"
    queries = emb.where(F.col("vec_id") < 2)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "g"))
        idx = load_vector_index(spark, prefix)
        with pytest.raises(ValueError, match="shortlist"):
            vector_index_rerank_topk(idx, queries, k=10, shortlist=5)
    finally:
        _drop(spark, prefix)


def test_append_scrubs_stale_tombstone_after_crashed_vacuum(
    spark, emb, quantizer, tmp_path
):
    """The vacuum crash window (died after the physical folds, before
    the tombstone clear) must not invisibly shadow a re-ingest: the
    stale tombstone row — an id the ledger no longer holds — is
    scrubbed by append_to_vector_index when it admits that id, so the
    re-ingested vector serves immediately and the next vacuum folds
    nothing."""
    cent, cbs = quantizer
    prefix = "t_vstore_crashwin"
    queries = emb.where(F.col("vec_id") < 5)
    dead = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") % 7 == 1)
    ).select("vec_id").localCheckpoint()
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "c"))
        full = _rows(_serve(spark, prefix, queries))
        remove_from_vector_index(spark, dead, prefix)
        vacuum_vector_index(spark, prefix)
        # simulate the crash: the folds completed, the clear did not —
        # re-insert the tombstone rows over the already-folded ids
        dead.write.mode("append").format("parquet").saveAsTable(
            f"{prefix}_tombstones"
        )
        spark.catalog.refreshTable(f"{prefix}_tombstones")
        assert vector_index_tombstones(spark, prefix) is not None

        resurrect = emb.join(F.broadcast(dead), "vec_id", "left_semi")
        assert append_to_vector_index(resurrect, prefix) == dead.count()
        # the stale rows are gone and the re-ingested vectors serve NOW
        assert vector_index_tombstones(spark, prefix) is None
        assert _rows(_serve(spark, prefix, queries)) == full
        # the next vacuum has nothing to fold — the window left no debt
        assert vacuum_vector_index(spark, prefix)["tombstones_folded"] == 0
        assert _rows(_serve(spark, prefix, queries)) == full
    finally:
        _drop(spark, prefix)


def test_register_recovers_nondefault_bucket_count(spark, emb, quantizer, tmp_path):
    """register_vector_index reads (bucket_col, n_buckets) from each
    table's _BUCKET_SPEC sidecar, so a store built with a non-default
    bucket count recovers with the default call — the caller never has
    to remember the build-time value."""
    from nlp_with_pyspark_spark.operators.vector_store import register_vector_index
    from nlp_with_pyspark_spark.sources.io import table_bucket_spec

    cent, cbs = quantizer
    prefix = "t_vstore_nb"
    store = str(tmp_path / "nb")
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=4, path=store)
        served = _rows(_serve(spark, prefix, queries))
        _drop(spark, prefix)
        register_vector_index(spark, prefix, store)  # default n_buckets=8
        assert table_bucket_spec(spark, f"{prefix}_codes")[:2] == ("list_id", 4)
        assert table_bucket_spec(spark, f"{prefix}_vecs")[:2] == ("vec_id", 4)
        assert _rows(_serve(spark, prefix, queries)) == served
    finally:
        _drop(spark, prefix)


def test_streaming_ingest_sink_converges(spark, emb, quantizer, tmp_path):
    """Two micro-batches through ``sink`` over vector_index_upsert_batch
    build the same store as a one-shot persist of their union (codes AND vecs tables
    row-identical), and a full replay against a fresh checkpoint
    changes nothing — foreachBatch at-least-once convergence."""
    from nlp_with_pyspark_spark.streaming.sinks import sink, vector_index_upsert_batch

    cent, cbs = quantizer
    prefix = "t_vstore_sink"
    oneshot = "t_vstore_oneshot"
    src = tmp_path / "vecs_in"
    src.mkdir()
    half = emb.where(F.col("vec_id") % 2 == 0)
    other = emb.where(F.col("vec_id") % 2 == 1)
    half.select("vec_id", "embedding").coalesce(1).write.parquet(str(src / "b0"))
    other.select("vec_id", "embedding").coalesce(1).write.parquet(str(src / "b1"))
    store = str(tmp_path / "store")

    def run(ck):
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
        )
        sink(
            stream, vector_index_upsert_batch, str(tmp_path / ck),
            store_path=store, centroids=cent, codebooks=cbs,
            table_prefix=prefix, n_buckets=8,
        )

    try:
        run("ck1")
        persist_vector_index(
            emb, cent, cbs, oneshot, n_buckets=8, path=str(tmp_path / "o")
        )
        for t in ("codes", "vecs"):
            assert _rows(spark.table(f"{prefix}_{t}")) == _rows(
                spark.table(f"{oneshot}_{t}")
            ), t
        snap = _rows(spark.table(f"{prefix}_vecs"))
        run("ck2")  # full replay, fresh checkpoint
        assert _rows(spark.table(f"{prefix}_vecs")) == snap
    finally:
        _drop(spark, prefix)
        _drop(spark, oneshot)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_fanout_drives_vector_store(spark, sf_dir, emb, quantizer, tmp_path):
    """One takedown-id stream converges the vector store alongside a
    text-side store through takedown_fanout_batch's 'vector' kind:
    after the drain both stores have tombstoned exactly the dead ids,
    ANN stops retrieving them, and a full replay against a fresh
    checkpoint re-tombstones nothing anywhere."""
    from nlp_with_pyspark_spark.queries import _tokenized_documents
    from nlp_with_pyspark_spark.streaming.sinks import (
        neardup_upsert_batch,
        sink,
        takedown_fanout_batch,
    )
    from nlp_with_pyspark_spark.operators.dedup import neardup_store_tombstones

    cent, cbs = quantizer
    vprefix = "t_fanv_vec"
    ndx = "t_fanv_nd"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, vprefix, n_buckets=8, path=str(tmp_path / "v"))
        toks = _tokenized_documents(spark, sf_dir).select(
            "doc_id", "lang", "n_chars", "tokens"
        )
        neardup_upsert_batch(
            toks, str(tmp_path / "nd"), threshold=0.2, table_prefix=ndx, n_buckets=8
        )
        # dead ids present in BOTH stores (vec_id shares the doc id space)
        dead = sorted(
            r.vec_id
            for r in emb.join(
                spark.table(f"{ndx}_docs").select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
            .where(F.col("vec_id") >= 5)
            .limit(6)
            .collect()
        )
        src = tmp_path / "ids"
        src.mkdir()
        half = len(dead) // 2
        for i, chunk in enumerate((dead[:half], dead[half:])):
            spark.createDataFrame(
                [(int(d),) for d in chunk], "doc_id long"
            ).coalesce(1).write.parquet(str(src / f"b{i}"))
        targets = [
            {"kind": "neardup", "table_prefix": ndx, "hash_family": "minhash"},
            {"kind": "vector", "table_prefix": vprefix},
        ]

        def run(ck):
            stream = (
                spark.readStream.schema("doc_id long")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "b*"))
            )
            sink(stream, takedown_fanout_batch, str(tmp_path / ck), targets=targets)

        run("ck1")
        vt = vector_index_tombstones(spark, vprefix)
        assert sorted(r.vec_id for r in vt.collect()) == dead
        assert sorted(
            r.doc_id for r in neardup_store_tombstones(spark, ndx).collect()
        ) == dead
        served = _rows(_serve(spark, vprefix, queries))
        assert not ({r[1] for r in served} & set(dead))
        assert served == _rows(
            ivfpq_rerank_topk(
                emb.where(~F.col("vec_id").isin([int(d) for d in dead])),
                queries, cent, cbs, k=10, shortlist=50, n_probe=3,
            )
        )
        run("ck2")  # replay: both stores unchanged
        assert sorted(
            r.vec_id for r in vector_index_tombstones(spark, vprefix).collect()
        ) == dead
        assert _rows(_serve(spark, vprefix, queries)) == served
    finally:
        _drop(spark, vprefix)
        for t in ("docs", "buckets", "shingles", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {ndx}_{t}")


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_filtered_serve_equals_rebuild_with_only_allowed(
    spark, emb, quantizer, tmp_path
):
    """The ``allowed`` seam (multi-tenant / policy-scoped retrieval):
    restricting candidates through the pre-shortlist semi-join answers
    exactly like an index holding ONLY the allowed vectors — freed
    slots fill with next-best allowed (the tombstone mechanism's
    positive twin) — and composes with tombstones: a dead id is
    excluded even when allowed. A full-coverage filter is a no-op."""
    cent, cbs = quantizer
    prefix = "t_vstore_filt"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "f"))
        allowed = emb.where(F.col("vec_id") % 3 != 0).select("vec_id")
        idx = load_vector_index(spark, prefix)
        filtered = _rows(
            vector_index_rerank_topk(
                idx, queries, k=10, shortlist=50, n_probe=3, allowed=allowed
            )
        )
        assert filtered == _rows(
            ivfpq_rerank_topk(
                emb.where(F.col("vec_id") % 3 != 0), queries, cent, cbs,
                k=10, shortlist=50, n_probe=3,
            )
        )
        assert filtered != _rows(_serve(spark, prefix, queries))
        # full-coverage filter ⇒ identical to the unfiltered serve
        assert _rows(
            vector_index_rerank_topk(
                idx, queries, k=10, shortlist=50, n_probe=3,
                allowed=emb.select("vec_id"),
            )
        ) == _rows(_serve(spark, prefix, queries))
        # composes with takedowns: dead ∧ allowed is still dead
        dead = emb.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") % 3 == 1) & (F.col("vec_id") % 5 == 0)
        ).select("vec_id").localCheckpoint()
        assert dead.count() > 0
        remove_from_vector_index(spark, dead, prefix)
        both = _rows(
            vector_index_rerank_topk(
                load_vector_index(spark, prefix), queries,
                k=10, shortlist=50, n_probe=3, allowed=allowed,
            )
        )
        assert both == _rows(
            ivfpq_rerank_topk(
                emb.where(F.col("vec_id") % 3 != 0).join(dead, "vec_id", "left_anti"),
                queries, cent, cbs, k=10, shortlist=50, n_probe=3,
            )
        )
    finally:
        _drop(spark, prefix)


def test_streaming_ingest_drift_rebalance_cycle(spark, emb, quantizer, tmp_path):
    """The drift story END TO END: skewed micro-batches stream into the
    store through ``sink`` over vector_index_upsert_batch and pile into
    one list (ingest-time membership is the argmin under the build
    quantizer — drift is invisible to the writer),
    vector_index_list_stats surfaces the skew, rebalance_vector_index
    splits the hot list, and the NEXT
    streamed batch assigns against the post-split quantizer — its
    vectors land in the parent/child halves, never re-inflating a
    single cell. Serving stays pinned (full-probe ≡ inline) across the
    whole cycle."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        rebalance_vector_index,
        vector_index_list_stats,
    )
    from nlp_with_pyspark_spark.streaming.sinks import sink, vector_index_upsert_batch

    cent, cbs = quantizer
    prefix = "t_vstore_drift"
    store = str(tmp_path / "d")
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=store)
        stats0 = {
            int(r.list_id): int(r.n_live)
            for r in vector_index_list_stats(spark, prefix).collect()
        }
        h = max(stats0, key=lambda l: (stats0[l], l))
        # drift: two micro-batches of fresh ids whose vectors REUSE the
        # hot list's members — every one assigns back into list h
        members = emb.join(
            spark.table(f"{prefix}_codes")
            .where(F.col("list_id") == h)
            .select("vec_id"),
            "vec_id",
            "left_semi",
        ).localCheckpoint()
        src = tmp_path / "drift_in"
        src.mkdir()
        for i in (1, 2):
            members.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "embedding",
            ).coalesce(1).write.parquet(str(src / f"b{i}"))

        def run(ck, pattern):
            stream = (
                spark.readStream.schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / pattern))
            )
            sink(
                stream, vector_index_upsert_batch, str(tmp_path / ck),
                store_path=store, centroids=cent, codebooks=cbs,
                table_prefix=prefix, n_buckets=8,
            )

        run("ck1", "b[12]")
        stats1 = {
            int(r.list_id): int(r.n_live)
            for r in vector_index_list_stats(spark, prefix).collect()
        }
        assert stats1[h] == 3 * stats0[h]  # the drift piled into h
        for l, n in stats0.items():
            if l != h:
                assert stats1[l] == n

        rep = rebalance_vector_index(
            spark, prefix, max_list_factor=1.5, direction=_dirv(emb)
        )
        assert h in rep["hot_lists"]
        child = rep["splits"][h]["child"]

        # the next drifted batch assigns against the POST-SPLIT quantizer:
        # its vectors spread over the parent/child halves
        members.select(
            (F.col("vec_id") + F.lit(3 * 10_000_000)).alias("vec_id"),
            "embedding",
        ).coalesce(1).write.parquet(str(src / "b3"))
        run("ck2", "b3")
        # the sink's foreachBatch wrote through a CLONED session — this
        # session's cached file listing must be refreshed before raw
        # table reads (the engine's read entry points do this; see
        # load_vector_index)
        spark.catalog.refreshTable(f"{prefix}_codes")
        batch3_lists = {
            int(r.list_id)
            for r in spark.table(f"{prefix}_codes")
            .where(F.col("vec_id") >= 3 * 10_000_000)
            .select("list_id")
            .distinct()
            .collect()
        }
        # the child is a live assignment target and the batch no longer
        # piles into a single cell (a marginal member may legitimately
        # prefer a third cell once its old centroid moved to a half-mean)
        assert child in batch3_lists and batch3_lists != {h}
        live_cells = {
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        }
        assert batch3_lists <= live_cells

        idx = load_vector_index(spark, prefix)
        n_all = len(idx.centroids)
        ledger = spark.table(f"{prefix}_vecs")
        assert _rows(
            vector_index_rerank_topk(idx, queries, k=10, shortlist=50, n_probe=n_all)
        ) == _rows(
            ivfpq_rerank_topk(
                ledger, queries, idx.centroids, idx.codebooks,
                k=10, shortlist=50, n_probe=n_all,
            )
        )
    finally:
        _drop(spark, prefix)


# --- shard merge (parallel-build fold) -------------------------------------


def test_merge_equals_union_build_and_replays(spark, emb, quantizer, tmp_path):
    """Merging shard B into shard A (disjoint halves, one quantizer)
    produces codes and vecs tables row-identical to a one-shot build
    over the union — the deterministic-encode argument — and serving
    the merged store matches the inline retrieval over the full
    corpus. A replay of the merge admits nothing and changes nothing
    (the append protocol's convergence, inherited)."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        merge_vector_indexes,
    )

    cent, cbs = quantizer
    a, b, full = "t_vstore_mrg_a", "t_vstore_mrg_b", "t_vstore_mrg_full"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(
            emb.where(F.col("vec_id") % 2 == 0), cent, cbs, a,
            n_buckets=8, path=str(tmp_path / "a"),
        )
        persist_vector_index(
            emb.where(F.col("vec_id") % 2 == 1), cent, cbs, b,
            n_buckets=8, path=str(tmp_path / "b"),
        )
        n = merge_vector_indexes(spark, a, b)
        assert n == emb.where(F.col("vec_id") % 2 == 1).count()
        persist_vector_index(
            emb, cent, cbs, full, n_buckets=8, path=str(tmp_path / "f")
        )
        for t in ("codes", "vecs"):
            assert _rows(spark.table(f"{a}_{t}")) == _rows(
                spark.table(f"{full}_{t}")
            ), t
        assert _rows(_serve(spark, a, queries)) == _rows(
            ivfpq_rerank_topk(emb, queries, cent, cbs, k=10, shortlist=50, n_probe=3)
        )
        # replay: nothing admitted, nothing changed; src untouched
        snap = _rows(spark.table(f"{a}_vecs"))
        assert merge_vector_indexes(spark, a, b) == 0
        assert _rows(spark.table(f"{a}_vecs")) == snap
        assert spark.table(f"{b}_vecs").count() == n
    finally:
        for p in (a, b, full):
            _drop(spark, p)


def test_merge_folds_src_tombstones_and_keeps_first_writer(
    spark, emb, quantizer, tmp_path
):
    """A source vector with a pending takedown never enters the
    destination (merged ≡ vacuum-then-merge), and an id present in
    BOTH stores keeps the destination's row (first-writer-wins — the
    append protocol's ledger guard)."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        merge_vector_indexes,
    )

    cent, cbs = quantizer
    a, b = "t_vstore_mrgt_a", "t_vstore_mrgt_b"
    queries = emb.where(F.col("vec_id") < 5)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    try:
        persist_vector_index(
            emb.where(F.col("vec_id") % 2 == 0), cent, cbs, a,
            n_buckets=8, path=str(tmp_path / "a"),
        )
        # B holds the odds PLUS a clashing copy of some evens with
        # negated embeddings — the clash must lose to A's originals
        clash = emb.where(
            (F.col("vec_id") % 2 == 0) & (F.col("vec_id") % 10 == 4)
        ).select(
            "vec_id", F.expr("transform(embedding, x -> -x)").alias("embedding")
        )
        persist_vector_index(
            odd.select("vec_id", "embedding").unionByName(clash), cent, cbs, b,
            n_buckets=8, path=str(tmp_path / "b"),
        )
        dead = odd.where(F.col("vec_id") % 9 == 2).select("vec_id").localCheckpoint()
        assert dead.count() > 0
        remove_from_vector_index(spark, dead, b)
        merge_vector_indexes(spark, a, b)
        # src-dead ids never arrived; clashing ids kept A's embeddings
        a_vecs = spark.table(f"{a}_vecs")
        assert a_vecs.join(dead, "vec_id", "left_semi").count() == 0
        orig = {
            int(r.vec_id): [float(x) for x in r.embedding]
            for r in emb.join(clash.select("vec_id"), "vec_id", "left_semi").collect()
        }
        got = {
            int(r.vec_id): [float(x) for x in r.embedding]
            for r in a_vecs.join(clash.select("vec_id"), "vec_id", "left_semi").collect()
        }
        assert got == orig
        live = emb.join(dead, "vec_id", "left_anti")
        assert _rows(_serve(spark, a, queries)) == _rows(
            ivfpq_rerank_topk(live, queries, cent, cbs, k=10, shortlist=50, n_probe=3)
        )
    finally:
        for p in (a, b):
            _drop(spark, p)


def test_merge_quantizer_mismatch_raises(spark, emb, quantizer, tmp_path):
    """Stores built under different quantizers must refuse to merge —
    their code spaces are incompatible; the right tool is a retrain."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        merge_vector_indexes,
    )

    cent, cbs = quantizer
    a, b = "t_vstore_mrgq_a", "t_vstore_mrgq_b"
    other = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 108)
        ).collect()
    ]
    try:
        persist_vector_index(
            emb.where(F.col("vec_id") % 2 == 0), cent, cbs, a,
            n_buckets=8, path=str(tmp_path / "a"),
        )
        persist_vector_index(
            emb.where(F.col("vec_id") % 2 == 1), other, cbs, b,
            n_buckets=8, path=str(tmp_path / "b"),
        )
        with pytest.raises(ValueError, match="different quantizers"):
            merge_vector_indexes(spark, a, b)
    finally:
        for p in (a, b):
            _drop(spark, p)


# --- epoch retrain (coarse-quantizer refresh) ------------------------------


def _retrain_cents(emb, lo=100, hi=108):
    return [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in sorted(
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r.vec_id,
        )
    ]


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_retrain_global_reassignment_and_serve_pin(
    spark, emb, quantizer, tmp_path
):
    """Retrain moves ONLY list ids: codes blobs and ledger are
    untouched, every row's new list is the global argmin under the new
    centroid set (recomputed independently), the old cells are pruned
    (cell ids are exactly the new epoch range), and — because retrain
    membership IS the global argmin, unlike a split's local rule — the
    serve pin holds at the PARTIAL probe depth: store serve ≡ inline
    two-stage retrieval under the retrained quantizer. Takedowns and
    vacuum run unchanged against the new epoch."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        _encode,
        retrain_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_retrain"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "rt"))
        vecs_before = _rows(spark.table(f"{prefix}_vecs"))
        blobs_before = {
            r[0]: r[2] for r in _rows(spark.table(f"{prefix}_codes"))
        }
        new_cents = _retrain_cents(emb)
        rep = retrain_vector_index(spark, prefix, centroids=new_cents)
        base = rep["epoch_base"]
        assert base > 7 and rep["n_lists"] == 8
        # cells are exactly the epoch range — old cells pruned
        cent_ids = sorted(
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        )
        assert cent_ids == list(range(base, base + 8))
        # ledger + codes blobs untouched; membership = global argmin
        assert _rows(spark.table(f"{prefix}_vecs")) == vecs_before
        shifted = [(base + i, c) for i, (_, c) in enumerate(new_cents)]
        want = {
            (int(r.vec_id), int(r.list_id))
            for r in _encode(emb, shifted, cbs, "embedding", "vec_id").collect()
        }
        got = _pairs(spark, prefix)
        assert got == want
        assert {
            r[0]: r[2] for r in _rows(spark.table(f"{prefix}_codes"))
        } == blobs_before
        # the partial-probe serve pin (global-argmin membership)
        idx = load_vector_index(spark, prefix)
        served = _rows(
            vector_index_rerank_topk(idx, queries, k=10, shortlist=50, n_probe=3)
        )
        assert served == _rows(
            ivfpq_rerank_topk(
                emb, queries, shifted, cbs, k=10, shortlist=50, n_probe=3
            )
        )
        # lifecycle interop on the new epoch
        dead = emb.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") % 7 == 1)
        ).select("vec_id").localCheckpoint()
        remove_from_vector_index(spark, dead, prefix)
        assert _rows(
            vector_index_rerank_topk(
                load_vector_index(spark, prefix), queries,
                k=10, shortlist=50, n_probe=3,
            )
        ) == _rows(
            ivfpq_rerank_topk(
                emb.join(dead, "vec_id", "left_anti"), queries, shifted, cbs,
                k=10, shortlist=50, n_probe=3,
            )
        )
        vacuum_vector_index(spark, prefix)
        assert sorted(
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        ) == cent_ids
    finally:
        _drop(spark, prefix)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_retrain_crash_replay_converges(
    spark, emb, quantizer, tmp_path, monkeypatch
):
    """A crash between the centroid union (commit A) and the codes
    rewrite (commit B) leaves the new epoch's cells EMPTY and every
    codes row reachable under its old cell — serving stays correct at
    full probe. The replay re-derives a HIGHER epoch base, completes,
    and its prune (commit C) sweeps the crashed epoch's orphan cells
    away with the old cells — the final centroid set is exactly the
    replay's epoch range."""
    import nlp_with_pyspark_spark.sources.io as io_mod
    from nlp_with_pyspark_spark.operators.vector_store import (
        retrain_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_retrain_crash"
    queries = emb.where(F.col("vec_id") < 5)
    new_cents = _retrain_cents(emb)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "rc"))
        real = io_mod.compact_bucketed_table

        def boom(*a, **k):
            raise RuntimeError("simulated crash before the codes rewrite")

        monkeypatch.setattr(io_mod, "compact_bucketed_table", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            retrain_vector_index(spark, prefix, centroids=new_cents)
        monkeypatch.setattr(io_mod, "compact_bucketed_table", real)

        cent_ids_mid = {
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        }
        assert {c for c, _ in cent} < cent_ids_mid  # old ∪ crashed epoch
        code_lists = {l for _, l in _pairs(spark, prefix)}
        assert code_lists <= cent_ids_mid  # reachable mid-crash
        idx_mid = load_vector_index(spark, prefix)
        n_mid = len(idx_mid.centroids)
        assert _rows(
            vector_index_rerank_topk(idx_mid, queries, k=10, shortlist=50, n_probe=n_mid)
        ) == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx_mid.centroids, idx_mid.codebooks,
                k=10, shortlist=50, n_probe=n_mid,
            )
        )

        rep = retrain_vector_index(spark, prefix, centroids=new_cents)
        base2 = rep["epoch_base"]
        assert base2 > max(cent_ids_mid)  # above the crashed epoch
        cent_ids = sorted(
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        )
        assert cent_ids == list(range(base2, base2 + 8))  # orphans swept
        assert {l for _, l in _pairs(spark, prefix)} <= set(cent_ids)
        shifted = [(base2 + i, c) for i, (_, c) in enumerate(new_cents)]
        assert _rows(
            vector_index_rerank_topk(
                load_vector_index(spark, prefix), queries,
                k=10, shortlist=50, n_probe=3,
            )
        ) == _rows(
            ivfpq_rerank_topk(
                emb, queries, shifted, cbs, k=10, shortlist=50, n_probe=3
            )
        )
    finally:
        _drop(spark, prefix)


def test_retrain_trained_path(spark, emb, quantizer, tmp_path):
    """centroids=None trains k-means on the ledger (the production
    path): the store serves row-identically to the inline retrieval
    under the trained-and-loaded centroid set, at partial probe."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        retrain_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_retrain_km"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "rk"))
        rep = retrain_vector_index(spark, prefix, n_lists=4, train_fraction=0.5)
        assert rep["n_lists"] == 4
        idx = load_vector_index(spark, prefix)
        assert len(idx.centroids) == 4
        assert _rows(
            vector_index_rerank_topk(idx, queries, k=10, shortlist=50, n_probe=2)
        ) == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx.centroids, idx.codebooks,
                k=10, shortlist=50, n_probe=2,
            )
        )
    finally:
        _drop(spark, prefix)


# --- hot-list rebalance (drift maintenance) --------------------------------


def _dirv(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 11).head().embedding]


def _pairs(spark, prefix):
    return {
        (int(r.vec_id), int(r.list_id))
        for r in spark.table(f"{prefix}_codes").select("vec_id", "list_id").collect()
    }


def test_rebalance_splits_hot_lists_and_conserves(spark, emb, quantizer, tmp_path):
    """The hyperplane split's structural invariants: a hot list's rows
    partition EXACTLY into kept (parent id, ⌈n/2⌉) and moved (child id,
    ⌊n/2⌋); untouched lists keep their membership bit-for-bit; the vecs
    ledger and the codes blobs never change (PQ codes encode raw
    subspaces — a split moves list ids only); the centroid table gains
    the children and re-means the parents. Membership cross-engine
    parity is gated separately: the registered
    vector_index_rebalance_stats query replays detection + cut +
    allocation in DuckDB SQL (tests/test_oracle_parity)."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        rebalance_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_rebal"
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "r"))
        before = _pairs(spark, prefix)
        vecs_before = _rows(spark.table(f"{prefix}_vecs"))
        codes_before = _rows(spark.table(f"{prefix}_codes"))
        # factor 1.0: hot ⇔ a list strictly above the per-cell mean —
        # guaranteed non-empty unless all 8 counts are exactly equal
        rep = rebalance_vector_index(
            spark, prefix, max_list_factor=1.0, direction=_dirv(emb)
        )
        hot = rep["hot_lists"]
        assert hot, "no list above the mean — degenerate corpus"
        after = _pairs(spark, prefix)
        assert len(after) == len(before)
        assert {v for v, _ in after} == {v for v, _ in before}
        for h in hot:
            members = {v for v, l in before if l == h}
            kept = {v for v, l in after if l == h}
            child = rep["splits"][h]["child"]
            moved = {v for v, l in after if l == child}
            assert kept | moved == members and not (kept & moved)
            assert len(kept) == (len(members) + 1) // 2
            assert rep["splits"][h] == {
                "child": child, "kept": len(kept), "moved": len(moved)
            }
        untouched = {l for _, l in before} - set(hot)
        for l in untouched:
            assert {v for v, l2 in before if l2 == l} == {
                v for v, l2 in after if l2 == l
            }
        # ledger untouched; codes blobs unchanged row-for-row (list ids
        # are the only moved column)
        assert _rows(spark.table(f"{prefix}_vecs")) == vecs_before
        blob = {r[0]: r[2] for r in codes_before}
        for r in _rows(spark.table(f"{prefix}_codes")):
            assert r[2] == blob[r[0]]
        # quantizer: children added, parents re-meaned over their kept half
        import math

        cent_after = {
            int(r.list_id): [float(x) for x in r.centroid]
            for r in spark.table(f"{prefix}_centroids").collect()
        }
        assert set(cent_after) == {c for c, _ in cent} | {
            rep["splits"][h]["child"] for h in hot
        }
        led = {
            int(r.vec_id): [float(x) for x in r.embedding]
            for r in spark.table(f"{prefix}_vecs").collect()
        }
        h0 = hot[0]
        child0 = rep["splits"][h0]["child"]
        moved0 = sorted(v for v, l in after if l == child0)
        dim = len(led[moved0[0]])
        for d in range(dim):
            want = sum(led[v][d] for v in moved0) / len(moved0)
            assert math.isclose(cent_after[child0][d], want, abs_tol=2e-6)
    finally:
        _drop(spark, prefix)


def test_rebalance_noop_when_balanced(spark, emb, quantizer, tmp_path):
    """No list over the threshold ⇒ the rebalance is a strict no-op:
    empty report, codes untouched, quantizer untouched."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        rebalance_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_rebal_noop"
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "n"))
        before = _pairs(spark, prefix)
        rep = rebalance_vector_index(
            spark, prefix, max_list_factor=10.0, direction=_dirv(emb)
        )
        assert rep["hot_lists"] == [] and rep["splits"] == {}
        assert _pairs(spark, prefix) == before
        assert sorted(
            (int(r.list_id), [float(x) for x in r.centroid])
            for r in spark.table(f"{prefix}_centroids").collect()
        ) == sorted((c, v) for c, v in cent)
    finally:
        _drop(spark, prefix)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_rebalance_serve_anchor_and_lifecycle_interop(
    spark, emb, quantizer, tmp_path
):
    """The correctness anchor: membership after a split is split-rule
    membership (NOT global argmin under the new quantizer — the
    standard IVF insert-time property), so with n_probe = ALL lists the
    store's answer is row-identical to the inline two-stage retrieval
    under the post-split quantizer — membership-independent. And the
    rebalanced store keeps the full LSM contract: appends encode
    against the new quantizer (children are live assignment targets),
    takedowns + vacuum work unchanged, and a catalog-less restart
    recovers the rebalanced store exactly."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        rebalance_vector_index,
        register_vector_index,
        vector_index_list_stats,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_rebal_serve"
    store = str(tmp_path / "rs")
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=store)
        rep = rebalance_vector_index(
            spark, prefix, max_list_factor=1.0, direction=_dirv(emb)
        )
        assert rep["hot_lists"]
        idx = load_vector_index(spark, prefix)
        n_all = len(idx.centroids)
        assert n_all == 8 + len(rep["hot_lists"])
        anchor = _rows(
            vector_index_rerank_topk(idx, queries, k=10, shortlist=50, n_probe=n_all)
        )
        assert anchor == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx.centroids, idx.codebooks,
                k=10, shortlist=50, n_probe=n_all,
            )
        )

        # restart: registration recovers the post-rebalance quantizer
        stats = _rows(vector_index_list_stats(spark, prefix))
        _drop(spark, prefix)
        register_vector_index(spark, prefix, store)
        assert _rows(vector_index_list_stats(spark, prefix)) == stats
        assert sorted(load_vector_index(spark, prefix).centroids) == sorted(
            idx.centroids
        )

        # lifecycle interop: delete → serve excludes; append lands in a
        # child list when nearest; vacuum folds and preserves answers
        dead = emb.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") % 7 == 1)
        ).select("vec_id").localCheckpoint()
        remove_from_vector_index(spark, dead, prefix)
        live = emb.join(dead, "vec_id", "left_anti")
        served = _rows(
            vector_index_rerank_topk(
                load_vector_index(spark, prefix), queries,
                k=10, shortlist=50, n_probe=n_all,
            )
        )
        assert served == _rows(
            ivfpq_rerank_topk(
                live, queries, idx.centroids, idx.codebooks,
                k=10, shortlist=50, n_probe=n_all,
            )
        )
        vacuum_vector_index(spark, prefix)
        assert served == _rows(
            vector_index_rerank_topk(
                load_vector_index(spark, prefix), queries,
                k=10, shortlist=50, n_probe=n_all,
            )
        )
        # the forgotten vectors re-ingest against the NEW quantizer
        assert append_to_vector_index(
            emb.join(F.broadcast(dead), "vec_id", "left_semi"), prefix
        ) == dead.count()
        back = _rows(
            vector_index_rerank_topk(
                load_vector_index(spark, prefix), queries,
                k=10, shortlist=50, n_probe=n_all,
            )
        )
        assert back == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx.centroids, idx.codebooks,
                k=10, shortlist=50, n_probe=n_all,
            )
        )
    finally:
        _drop(spark, prefix)


def test_rebalance_detection_uses_live_counts(spark, emb, quantizer, tmp_path):
    """A list that is physically hot but has taken its takedowns is NOT
    split: detection reads live occupancy (vector_index_list_stats'
    n_live), so rebalance never reorganizes around rows the next vacuum
    will fold anyway."""
    from nlp_with_pyspark_spark.operators.vector_store import (
        rebalance_vector_index,
        vector_index_list_stats,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_rebal_live"
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "lv"))
        stats = {
            int(r.list_id): int(r.n_vecs)
            for r in vector_index_list_stats(spark, prefix).collect()
        }
        h = max(stats, key=lambda l: (stats[l], l))  # the physically hottest
        # tombstone most of the hot list so its LIVE count drops under
        # the mean while its physical count still sits above it
        members = sorted(
            r.vec_id
            for r in spark.table(f"{prefix}_codes")
            .where(F.col("list_id") == h)
            .select("vec_id")
            .collect()
        )
        keep_live = max(1, len(members) // 4)
        remove_from_vector_index(spark, members[keep_live:], prefix)
        st = {
            int(r.list_id): (int(r.n_vecs), int(r.n_live))
            for r in vector_index_list_stats(spark, prefix).collect()
        }
        total_live = sum(l for _, l in st.values())
        assert st[h][0] == len(members) and st[h][1] == keep_live
        # factor chosen between h's live ratio (below ⇒ not hot) and its
        # physical ratio (above ⇒ a physical-count detector WOULD split)
        assert st[h][1] * 8 <= 1.0 * total_live, "tombstoning left it live-hot"
        rep = rebalance_vector_index(
            spark, prefix, max_list_factor=1.0, direction=_dirv(emb)
        )
        assert h not in rep["hot_lists"]
    finally:
        _drop(spark, prefix)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_rebalance_crash_between_commits_replays_convergently(
    spark, emb, quantizer, tmp_path, monkeypatch
):
    """Commit order is centroids FIRST, codes rewrite second. A crash
    between them leaves child cells that are merely EMPTY — every list
    in codes still has a centroid row (reachability), and serving stays
    correct (full-probe ≡ inline under the committed quantizer, since
    membership never enters at full probe). The replay converges: it
    re-detects the same hot lists, allocates fresh children above the
    crashed attempt's, and completes the rewrite — the crashed
    attempt's cells persist only as benign empty quantizer cells (the
    documented analogue of the vacuum's stale-tombstone window)."""
    import nlp_with_pyspark_spark.sources.io as io_mod
    from nlp_with_pyspark_spark.operators.vector_store import (
        rebalance_vector_index,
    )

    cent, cbs = quantizer
    prefix = "t_vstore_rebal_crash"
    queries = emb.where(F.col("vec_id") < 5)
    try:
        persist_vector_index(emb, cent, cbs, prefix, n_buckets=8, path=str(tmp_path / "cr"))
        real = io_mod.compact_bucketed_table

        def boom(*a, **k):
            raise RuntimeError("simulated crash before the codes rewrite")

        monkeypatch.setattr(io_mod, "compact_bucketed_table", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            rebalance_vector_index(
                spark, prefix, max_list_factor=1.0, direction=_dirv(emb)
            )
        monkeypatch.setattr(io_mod, "compact_bucketed_table", real)

        # intermediate state: codes unchanged, children present but empty
        cent_ids = {
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        }
        code_lists = {l for _, l in _pairs(spark, prefix)}
        assert code_lists <= cent_ids  # reachability at every state
        orphans_mid = cent_ids - code_lists
        assert orphans_mid  # the crashed attempt's empty children
        idx_mid = load_vector_index(spark, prefix)
        n_mid = len(idx_mid.centroids)
        assert _rows(
            vector_index_rerank_topk(idx_mid, queries, k=10, shortlist=50, n_probe=n_mid)
        ) == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx_mid.centroids, idx_mid.codebooks,
                k=10, shortlist=50, n_probe=n_mid,
            )
        )

        rep = rebalance_vector_index(
            spark, prefix, max_list_factor=1.0, direction=_dirv(emb)
        )
        assert rep["hot_lists"]  # same detection — codes were unchanged
        cent_ids2 = {
            int(r.list_id) for r in spark.table(f"{prefix}_centroids").collect()
        }
        code_lists2 = {l for _, l in _pairs(spark, prefix)}
        assert code_lists2 <= cent_ids2
        # the completed children are fresh ids above the crashed attempt's
        done_children = {rep["splits"][h]["child"] for h in rep["hot_lists"]}
        assert done_children <= code_lists2
        assert done_children.isdisjoint(orphans_mid)
        idx2 = load_vector_index(spark, prefix)
        n2 = len(idx2.centroids)
        assert _rows(
            vector_index_rerank_topk(idx2, queries, k=10, shortlist=50, n_probe=n2)
        ) == _rows(
            ivfpq_rerank_topk(
                emb, queries, idx2.centroids, idx2.codebooks,
                k=10, shortlist=50, n_probe=n2,
            )
        )
    finally:
        _drop(spark, prefix)
