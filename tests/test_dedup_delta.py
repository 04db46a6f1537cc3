"""Incremental (delta) dedup against an indexed corpus.

The contract under test (operators/dedup.minhash_delta_pairs): checking
a NEW batch against an indexed corpus — without rescanning the corpus —
produces EXACTLY the pairs the batch-global run would emit restricted to
pairs touching the delta, including the combined-bucket skew guard; a
survivor store (streaming/sinks.neardup_upsert_batch) read through
``load_neardup_index`` answers like the in-memory index built over its
stored docs; and the stored index tables are only ever consumed through
broadcast semi-join prefilters, so no unfiltered index row crosses an
Exchange.
"""

import pyspark.sql.functions as F
import pytest

from nlp_with_pyspark_spark.functions.text import tokens_pipeline
from nlp_with_pyspark_spark.operators.dedup import (
    build_minhash_index,
    load_neardup_index,
    minhash_dedup_pairs,
    minhash_delta_pairs,
)
from nlp_with_pyspark_spark.plans import ancestor_chains
from nlp_with_pyspark_spark.sources.io import read_table
from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch


@pytest.fixture(scope="module")
def toks(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("tokens", tokens_pipeline(F.col("text")))
        .select("doc_id", "tokens")
        .localCheckpoint()
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _stored(spark, frame, prefix, id_col="doc_id"):
    """The rows of ``frame`` the survivor store at ``prefix`` holds."""
    ids = spark.table(f"{prefix}_docs").select(id_col)
    return frame.join(ids, id_col, "left_semi")


def _drop_store(spark, prefix, tables):
    for t in ("docs", "tombstones") + tables:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def _split(toks, mod, rem):
    delta = toks.where(F.col("doc_id") % mod == rem)
    corpus = toks.where(F.col("doc_id") % mod != rem)
    return delta, corpus


@pytest.mark.parametrize("mod,rem", [(10, 3), (3, 0)])
def test_delta_equals_batch_restricted(spark, toks, mod, rem):
    batch = minhash_dedup_pairs(toks, threshold=0.2)
    restricted = batch.where(
        (F.col("doc_a") % mod == rem) | (F.col("doc_b") % mod == rem)
    )
    delta, corpus = _split(toks, mod, rem)
    out = minhash_delta_pairs(delta, build_minhash_index(corpus), threshold=0.2)
    assert _rows(out) == _rows(restricted)
    # the delta split must actually exercise both pair kinds at least
    # once across the parametrization; assert non-triviality of the run
    assert batch.count() > 0


def test_combined_bucket_cap_matches_batch(spark, toks):
    """The skew guard counts the COMBINED bucket membership: with a cap
    small enough to bind, the incremental path must drop exactly the
    buckets the batch path drops — a delta-only count would keep
    buckets whose index-side membership overflows."""
    cap = 3
    batch = minhash_dedup_pairs(toks, threshold=0.0, max_docs_per_bucket=cap)
    restricted = batch.where((F.col("doc_a") % 4 == 1) | (F.col("doc_b") % 4 == 1))
    delta, corpus = _split(toks, 4, 1)
    out = minhash_delta_pairs(
        delta, build_minhash_index(corpus), threshold=0.0, max_docs_per_bucket=cap
    )
    assert _rows(out) == _rows(restricted)
    # the cap must have BOUND somewhere, or this test proves nothing
    uncapped = minhash_dedup_pairs(toks, threshold=0.0)
    assert uncapped.count() > batch.count()


def test_persisted_index_equal_and_broadcast_filtered(spark, toks, tmp_path):
    """The survivor store read through ``load_neardup_index`` answers a
    delta check exactly like ``build_minhash_index`` over its stored
    docs, and the read is broadcast-prefiltered."""
    delta, corpus = _split(toks, 10, 3)
    prefix = "t_delta_idx"
    try:
        neardup_upsert_batch(corpus, str(tmp_path / "idx"), table_prefix=prefix, n_buckets=8)
        loaded = load_neardup_index(spark, prefix, "minhash")
        out = minhash_delta_pairs(delta, loaded, threshold=0.2)
        inmem = minhash_delta_pairs(
            delta, build_minhash_index(_stored(spark, corpus, prefix)), threshold=0.2
        )
        assert _rows(out) == _rows(inmem)
        assert out.count() > 0

        # plan shape: every access of either index table must meet a
        # broadcast semi-join prefilter BELOW any shuffle — i.e. the
        # first join ancestor of the index FileScan is a
        # BroadcastHashJoin LeftSemi (band keys resp. candidate ids),
        # so only matching rows ever enter an Exchange
        unmat = minhash_delta_pairs(delta, loaded, threshold=0.2, materialize=False)
        for table in (f"{prefix}_buckets", f"{prefix}_shingles"):
            chains = ancestor_chains(unmat, table)
            assert chains, f"no scan of {table} in the plan"
            for chain in chains:
                first_join = next((op for op in chain if "Join" in op), None)
                assert first_join is not None, chain
                assert "BroadcastHashJoin" in first_join and "LeftSemi" in first_join, (
                    table,
                    first_join,
                )
    finally:
        _drop_store(spark, prefix, ("buckets", "shingles"))


def test_disjoint_outputs_union_to_batch(spark, toks):
    """Sanity on the composition story: index-vs-delta output plus the
    index corpus's own batch pairs equals the full batch output — the
    incremental pipeline loses nothing."""
    delta, corpus = _split(toks, 10, 3)
    index_pairs = minhash_dedup_pairs(corpus, threshold=0.2)
    delta_pairs = minhash_delta_pairs(delta, build_minhash_index(corpus), threshold=0.2)
    batch = minhash_dedup_pairs(toks, threshold=0.2)
    assert _rows(index_pairs.unionByName(delta_pairs)) == _rows(batch)


@pytest.mark.parametrize("mod,rem", [(10, 7), (4, 2)])
@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_simhash_delta_equals_batch_restricted(spark, toks, mod, rem):
    """SimHash twin of the minhash contract: delta-vs-index output ==
    batch-global pairs restricted to delta-touching pairs, at the
    oracle blocking config AND the combination-blocking 100 TB
    default."""
    from nlp_with_pyspark_spark.operators.dedup import (
        build_simhash_index,
        simhash_delta_pairs,
        simhash_near_pairs,
    )

    for kw in (
        {"max_hamming": 3, "bands": 4, "combo_size": 1},
        {"max_hamming": 3},  # defaults: bands=6, combo_size=3
    ):
        batch = simhash_near_pairs(toks, **kw)
        restricted = batch.where(
            (F.col("doc_a") % mod == rem) | (F.col("doc_b") % mod == rem)
        )
        delta = toks.where(F.col("doc_id") % mod == rem)
        corpus = toks.where(F.col("doc_id") % mod != rem)
        out = simhash_delta_pairs(delta, build_simhash_index(corpus, **kw), **kw)
        assert _rows(out) == _rows(restricted), kw
        assert batch.count() > 0


def test_append_to_index_preserves_plan_and_equivalence(spark, toks, tmp_path):
    """The survivor store's append of a batch's index rows (a) cannot
    drift the bucket-count layout contract (the spec is read from the
    catalog; a direct append with a different count is rejected by
    Spark), and (b) leaves the NEXT delta check through
    ``load_neardup_index`` both correct — equal to the in-memory index
    over every stored doc — and index-side-Exchange-free: the plan pin
    runs before AND after the append."""
    from nlp_with_pyspark_spark.sources.io import table_bucket_spec

    delta1 = toks.where(F.col("doc_id") % 10 == 3)
    delta2 = toks.where(F.col("doc_id") % 10 == 4)
    corpus = toks.where(~(F.col("doc_id") % 10).isin(3, 4))
    prefix = "t_app_idx"

    def assert_index_plan(unmat):
        for table in (f"{prefix}_buckets", f"{prefix}_shingles"):
            chains = ancestor_chains(unmat, table)
            assert chains, f"no scan of {table}"
            for chain in chains:
                first_join = next((op for op in chain if "Join" in op), None)
                assert (
                    first_join
                    and "BroadcastHashJoin" in first_join
                    and "LeftSemi" in first_join
                ), (table, first_join)

    path = str(tmp_path / "idx")
    try:
        neardup_upsert_batch(corpus, path, table_prefix=prefix, n_buckets=8)
        n_before = spark.table(f"{prefix}_docs").count()
        assert_index_plan(
            minhash_delta_pairs(
                delta1, load_neardup_index(spark, prefix, "minhash"), threshold=0.2,
                materialize=False,
            )
        )
        # ingest delta1: its survivors' index rows are appended
        neardup_upsert_batch(delta1, path, table_prefix=prefix, n_buckets=8)
        assert spark.table(f"{prefix}_docs").count() > n_before

        # layout contract intact
        assert table_bucket_spec(spark, f"{prefix}_buckets")[:2] == ("band_hash", 8)
        assert table_bucket_spec(spark, f"{prefix}_shingles")[:2] == ("doc_id", 8)

        loaded2 = load_neardup_index(spark, prefix, "minhash")
        unmat2 = minhash_delta_pairs(delta2, loaded2, threshold=0.2, materialize=False)
        assert_index_plan(unmat2)
        # correctness across the append: delta2 vs the stored index ==
        # delta2 vs the in-memory index over every stored doc
        out2 = minhash_delta_pairs(delta2, loaded2, threshold=0.2)
        scratch = minhash_delta_pairs(
            delta2, build_minhash_index(_stored(spark, toks, prefix)), threshold=0.2
        )
        assert _rows(out2) == _rows(scratch)
        assert out2.count() > 0

        # a bucket-count-drifting append is rejected outright
        with pytest.raises(Exception, match="(?i)bucket"):
            (
                build_minhash_index(delta2)
                .buckets.write.mode("append")
                .bucketBy(16, "band_hash")
                .sortBy("band_hash")
                .format("parquet")
                .saveAsTable(f"{prefix}_buckets")
            )
    finally:
        _drop_store(spark, prefix, ("buckets", "shingles"))


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_simhash_index_persist_append_roundtrip(spark, toks, tmp_path):
    """The simhash survivor store across an append: the delta check
    through ``load_neardup_index`` equals the in-memory index over the
    stored docs, and the bucket specs survive the append."""
    from nlp_with_pyspark_spark.operators.dedup import (
        build_simhash_index,
        simhash_delta_pairs,
    )
    from nlp_with_pyspark_spark.sources.io import table_bucket_spec

    kw = {"max_hamming": 3}
    delta1 = toks.where(F.col("doc_id") % 10 == 3)
    delta2 = toks.where(F.col("doc_id") % 10 == 4)
    corpus = toks.where(~(F.col("doc_id") % 10).isin(3, 4))
    prefix = "t_sim_idx"
    path = str(tmp_path / "sidx")
    try:
        for batch in (corpus, delta1):
            neardup_upsert_batch(
                batch, path, hash_family="simhash", table_prefix=prefix, n_buckets=8, **kw
            )
        assert table_bucket_spec(spark, f"{prefix}_keys")[:2] == ("band_hash", 8)
        assert table_bucket_spec(spark, f"{prefix}_fingerprints")[:2] == ("doc_id", 8)
        out = simhash_delta_pairs(delta2, load_neardup_index(spark, prefix, "simhash"), **kw)
        scratch = simhash_delta_pairs(
            delta2, build_simhash_index(_stored(spark, toks, prefix), **kw), **kw
        )
        assert _rows(out) == _rows(scratch)
        assert out.count() > 0
    finally:
        _drop_store(spark, prefix, ("keys", "fingerprints"))


# ---------------------------------------------------------------------------
# semantic (embedding) delta dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").localCheckpoint()


def _sem_cents(emb, n_lists=8):
    return [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < n_lists)
        .select("vec_id", "embedding")
        .collect()
    ]


def _sem_ingest(spark, batch, path, prefix, cents):
    """Run ``batch`` through the semantic survivor-store sink."""
    neardup_upsert_batch(
        batch, path, tokens_col="embedding", id_col="vec_id", hash_family="semantic",
        centroids=cents, table_prefix=prefix, n_buckets=8,
    )


def _emb_split(emb, mod, rem):
    return (
        emb.where(F.col("vec_id") % mod == rem),
        emb.where(F.col("vec_id") % mod != rem),
    )


@pytest.mark.parametrize("mod,rem", [(10, 3), (3, 0)])
def test_semantic_delta_equals_batch_restricted(spark, emb, mod, rem):
    from nlp_with_pyspark_spark.operators.dedup import (
        build_semantic_index,
        semantic_dedup_pairs,
        semantic_delta_pairs,
    )

    cents = _sem_cents(emb)
    batch = semantic_dedup_pairs(emb, cents, threshold=0.3)
    restricted = batch.where(
        (F.col("id_a") % mod == rem) | (F.col("id_b") % mod == rem)
    )
    delta, corpus = _emb_split(emb, mod, rem)
    out = semantic_delta_pairs(
        delta, build_semantic_index(corpus, cents), cents, threshold=0.3
    )
    assert _rows(out) == _rows(restricted)
    assert batch.count() > 0


def test_semantic_delta_combined_cluster_cap_matches_batch(spark, emb):
    """The skew cap counts COMBINED cluster membership (index + delta):
    with a cap small enough to bind, the incremental path must drop
    exactly the clusters the batch path drops."""
    from nlp_with_pyspark_spark.operators.dedup import (
        build_semantic_index,
        semantic_cluster_assign,
        semantic_dedup_pairs,
        semantic_delta_pairs,
    )

    cents = _sem_cents(emb)
    sizes = sorted(
        r["count"]
        for r in semantic_cluster_assign(emb, cents).groupBy("list_id").count().collect()
    )
    cap = sizes[len(sizes) // 2]  # median total size: binds on larger clusters
    batch = semantic_dedup_pairs(
        emb, cents, threshold=0.0, max_vecs_per_cluster=cap
    )
    restricted = batch.where((F.col("id_a") % 4 == 1) | (F.col("id_b") % 4 == 1))
    delta, corpus = _emb_split(emb, 4, 1)
    out = semantic_delta_pairs(
        delta,
        build_semantic_index(corpus, cents),
        cents,
        threshold=0.0,
        max_vecs_per_cluster=cap,
    )
    assert _rows(out) == _rows(restricted)
    uncapped = semantic_dedup_pairs(emb, cents, threshold=0.0)
    assert uncapped.count() > batch.count()  # the cap bound somewhere


def test_semantic_persisted_index_equal_and_exchange_free(spark, emb, tmp_path):
    """The semantic survivor store read through ``load_neardup_index``
    answers a delta check exactly like ``build_semantic_index`` over its
    stored vectors, with zero Exchange above the index scans."""
    from nlp_with_pyspark_spark.operators.dedup import (
        build_semantic_index,
        semantic_delta_pairs,
    )
    from nlp_with_pyspark_spark.plans import exchanges_covering

    cents = _sem_cents(emb)
    delta, corpus = _emb_split(emb, 10, 3)
    prefix = "t_sem_idx"
    try:
        _sem_ingest(spark, corpus, str(tmp_path / "idx"), prefix, cents)
        loaded = load_neardup_index(spark, prefix, "semantic", id_col="vec_id")
        out = semantic_delta_pairs(delta, loaded, cents, threshold=0.3)
        idx = build_semantic_index(_stored(spark, corpus, prefix, "vec_id"), cents)
        inmem = semantic_delta_pairs(delta, idx, cents, threshold=0.3)
        assert _rows(out) == _rows(inmem)
        assert out.count() > 0

        # no unfiltered index row ever crosses a shuffle: zero Exchange
        # anywhere above the index table's scans (the delta side is
        # broadcast; the size agg rides the bucketed layout)
        unmat = semantic_delta_pairs(
            delta, loaded, cents, threshold=0.3, materialize=False
        )
        assert exchanges_covering(unmat, f"{prefix}_assigned") == 0
    finally:
        _drop_store(spark, prefix, ("keys", "assigned"))


def test_semantic_index_append_preserves_plan_and_equivalence(spark, emb, tmp_path):
    """Appending a batch's survivors to the semantic store keeps the
    bucketed layout (zero-Exchange contract), and the store read through
    ``load_neardup_index`` answers the next delta check exactly like a
    from-scratch build over the stored vectors."""
    from nlp_with_pyspark_spark.operators.dedup import (
        build_semantic_index,
        semantic_delta_pairs,
    )
    from nlp_with_pyspark_spark.plans import exchanges_covering

    cents = _sem_cents(emb)
    batch1 = emb.where(F.col("vec_id") % 3 == 1)
    batch2 = emb.where(F.col("vec_id") % 3 == 2)
    base = emb.where(F.col("vec_id") % 3 == 0)
    prefix, path = "t_sem_app", str(tmp_path / "app")
    try:
        _sem_ingest(spark, base, path, prefix, cents)
        n_base = spark.table(f"{prefix}_docs").count()
        _sem_ingest(spark, batch1, path, prefix, cents)
        assert spark.table(f"{prefix}_docs").count() > n_base
        loaded = load_neardup_index(spark, prefix, "semantic", id_col="vec_id")
        out = semantic_delta_pairs(batch2, loaded, cents, threshold=0.3)
        scratch = semantic_delta_pairs(
            batch2,
            build_semantic_index(_stored(spark, emb, prefix, "vec_id"), cents),
            cents,
            threshold=0.3,
        )
        assert _rows(out) == _rows(scratch)
        assert out.count() > 0
        unmat = semantic_delta_pairs(
            batch2, loaded, cents, threshold=0.3, materialize=False
        )
        assert exchanges_covering(unmat, f"{prefix}_assigned") == 0
    finally:
        _drop_store(spark, prefix, ("keys", "assigned"))
