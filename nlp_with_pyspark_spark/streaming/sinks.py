"""Streaming sinks beyond the plain file sink (streaming/windows.py:
stream_to_parquet): ``foreachBatch`` patterns for sinks Spark has no
native writer for.

``foreachBatch`` hands each micro-batch to arbitrary batch code. Its
delivery guarantee is AT-LEAST-ONCE — a retried batch re-runs the
function with the same ``batch_id`` — so the function itself must be
idempotent. The incremental-dedup sink below gets idempotence for free
from its anti-join (a replayed batch finds its keys already in the
store and appends nothing), which is exactly why dedup-on-ingest is the
canonical foreachBatch example.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..operators import store


def _run_foreach_batch(stream: DataFrame, fn, checkpoint: str):
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of ``stream``
    until the input available at start is drained (``availableNow``),
    checkpointed at ``checkpoint``; returns the finished query."""
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def incremental_dedup_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: tuple[str, ...] = ("event_id",),
    table: str | None = None,
    n_buckets: int = 32,
    compact_threshold_files: int | None = None,
):
    """Continuously ingest a stream into a parquet store, keeping only
    the FIRST occurrence of each key — streaming exact dedup with a
    persistent, queryable output (the batch counterpart is
    operators/dedup.exact_dedup).

    Per micro-batch: drop in-batch duplicates, anti-join the batch
    against the store's existing keys (a key-only column scan — the
    store read never loads payloads), append the survivors. Replayed
    batches are no-ops (idempotent under foreachBatch's at-least-once
    contract).

    Scale notes: with the default plain-parquet layout the per-batch
    guard is a sort-merge shuffle of the store's full key column —
    honest but wrong at a billion rows. Passing ``table`` switches the
    store to a bucketed catalog table (bucketed by ``key_cols[0]``,
    data at ``path``): the guard's anti-join then reads the key column
    already partitioned on the join key — zero store-side Exchange,
    only the O(batch) side shuffles — exactly the layout the near-dup
    sink below uses. ``compact_threshold_files`` wires in the
    small-file maintenance pass (appends add one file set per batch).
    Unlike ``dropDuplicates`` state, the store survives restarts with
    NO watermark bound: dedup is against all history, not a time
    window; a bucketed table also survives a session-scoped catalog
    loss (metadata is re-registered over the surviving files).
    """
    keys = list(key_cols)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.io import (
            append_to_bucketed_table,
            compact_bucketed_table,
            compact_parquet,
            recover_compact_swap,
            register_bucketed_table,
            write_bucketed,
        )

        spark = batch_df.sparkSession
        recover_compact_swap(path)
        fresh = batch_df.dropDuplicates(keys)
        if table is not None:
            register_bucketed_table(spark, table, keys[0], n_buckets, path)
            if spark.catalog.tableExists(table):
                spark.catalog.refreshTable(table)
                fresh = fresh.join(spark.table(table).select(*keys), keys, "left_anti")
                # stale tombstones of admitted keys go before the append
                # (the vacuum crash window, operators/store.py)
                spec = store.exact(table, key_cols)
                tombs = store.live(spark, spec)
                if tombs is not None:
                    fresh = fresh.localCheckpoint()
                    store.scrub(spark, spec, F.broadcast(fresh.select(*keys)), tombs)
                append_to_bucketed_table(fresh, table)
            else:
                write_bucketed(fresh, table, keys[0], n_buckets, path=path)
            if (
                compact_threshold_files is not None
                and _parquet_file_count(path) > compact_threshold_files
            ):
                compact_bucketed_table(spark, table)
            return
        try:
            existing = spark.read.parquet(path).select(*keys)
            fresh = fresh.join(existing, keys, "left_anti")
        except AnalysisException as exc:
            # ONLY a missing store means "first batch". Any other
            # analysis error (key column absent from an existing store,
            # corrupt footer) must fail the batch — treating it as
            # first-batch would skip the anti-join and append duplicates
            # silently, voiding the sink's one guarantee.
            cond = getattr(exc, "getErrorClass", lambda: None)() or str(exc)
            if "PATH_NOT_FOUND" not in cond and "UNABLE_TO_INFER_SCHEMA" not in cond:
                raise
        fresh.write.mode("append").parquet(path)
        if (
            compact_threshold_files is not None
            and _parquet_file_count(path) > compact_threshold_files
        ):
            compact_parquet(spark, path)

    return _run_foreach_batch(stream_df, upsert, checkpoint)


def _neardup_family(
    hash_family: str,
    n: int,
    k: int,
    bands: int | None,
    threshold: float,
    max_hamming: int,
    combo_size: int | None,
    max_docs_per_bucket: int,
    hash_fn: str,
    centroids=None,
    assign_via: str = "literal",
):
    """Adapter between the sink's generic store logic and one near-dup
    hash family. All families share the store shape — a per-doc
    FEATURES table (one row per doc: shingle set / fingerprint /
    normalized embedding, bucketed by ``feats_bucket_col``) and a
    per-doc KEYS table (blocking keys, bucket-by band_hash) — and a
    delta-pairs function whose index side is only consumed through
    broadcast semi-join prefilters. For ``'semantic'`` the blocking key
    IS the cluster label (band_id = 0, band_hash = list_id) and the
    features table carries the assignment + unit-normalized vector,
    bucketed by list_id — the :class:`~..operators.dedup.SemanticIndex`
    layout, so the per-batch delta check reads it with zero store-side
    Exchange."""
    from ..operators import dedup as D

    if hash_family == "minhash":
        mh_bands = 4 if bands is None else bands
        return SimpleNamespace(
            keys_name="buckets",
            feats_name="shingles",
            keys_bucket_col="band_hash",
            feats_bucket_col="doc_id",
            feats=lambda df, tokens_col, id_col: D._shingle_sets(
                df, tokens_col, id_col, n
            ),
            keys=lambda feats: D._band_buckets_from_shingles(
                feats, k, mh_bands, hash_fn
            ),
            delta_pairs=lambda fresh, keys, feats, tokens_col, id_col, dfeats, dkeys: D.minhash_delta_pairs(
                fresh,
                D.MinhashIndex(buckets=keys, shingles=feats),
                tokens_col=tokens_col,
                id_col=id_col,
                n=n,
                k=k,
                bands=mh_bands,
                threshold=threshold,
                max_docs_per_bucket=max_docs_per_bucket,
                hash_fn=hash_fn,
                delta_shingles=dfeats,
                delta_bands=dkeys,
            ),
        )
    if hash_family == "simhash":
        sh_bands, sh_combo = D._simhash_blocking_params(max_hamming, bands, combo_size)
        return SimpleNamespace(
            keys_name="keys",
            feats_name="fingerprints",
            keys_bucket_col="band_hash",
            feats_bucket_col="doc_id",
            feats=lambda df, tokens_col, id_col: D.simhash_fingerprints(
                df, tokens_col, id_col, hash_fn
            ),
            keys=lambda feats: D._simhash_band_buckets(feats, sh_bands, sh_combo),
            delta_pairs=lambda fresh, keys, feats, tokens_col, id_col, dfeats, dkeys: D.simhash_delta_pairs(
                fresh,
                D.SimhashIndex(keys=keys, fingerprints=feats),
                tokens_col=tokens_col,
                id_col=id_col,
                max_hamming=max_hamming,
                bands=sh_bands,
                combo_size=sh_combo,
                max_docs_per_bucket=max_docs_per_bucket,
                hash_fn=hash_fn,
                delta_fingerprints=dfeats,
                delta_keys=dkeys,
            ),
        )
    if hash_family == "semantic":
        if centroids is None:
            raise ValueError("hash_family='semantic' requires centroids")

        def sem_feats(df, vec_col, id_col):
            from ..functions.vector import unit_normalized

            return unit_normalized(
                D.semantic_cluster_assign(
                    df, centroids, vec_col, id_col, via=assign_via
                ),
                vec_col,
                "nv",
            ).select(F.col(id_col).alias("doc_id"), "list_id", "nv")

        def sem_delta(fresh, keys, feats, vec_col, id_col, dfeats, dkeys):
            # dkeys unused: the semantic key table is a trivial
            # projection of the features (no hash fold to save)
            idx = D.SemanticIndex(
                assigned=feats.select(
                    F.col("doc_id").alias(id_col), "list_id", "nv"
                )
            )
            return D.semantic_delta_pairs(
                fresh,
                idx,
                centroids,
                threshold=threshold,
                vec_col=vec_col,
                id_col=id_col,
                max_vecs_per_cluster=max_docs_per_bucket,
                assign_via=assign_via,
                # the batch's assignment is already materialized for the
                # index append — never pay the argmin twice per batch
                delta_assigned=dfeats.select(
                    F.col("doc_id").alias(id_col), "list_id", "nv"
                ),
            ).select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                "cosine",
            )

        return SimpleNamespace(
            keys_name="keys",
            feats_name="assigned",
            keys_bucket_col="band_hash",
            feats_bucket_col="list_id",
            feats=sem_feats,
            keys=lambda feats: feats.select(
                "doc_id",
                F.lit(0).alias("band_id"),
                F.col("list_id").cast("long").alias("band_hash"),
            ),
            delta_pairs=sem_delta,
        )
    raise ValueError(
        f"unknown hash_family {hash_family!r} (minhash | simhash | semantic)"
    )


def _parquet_file_count(path: str) -> int:
    from ..sources.io import parquet_file_count

    return parquet_file_count(path)


def neardup_upsert_batch(
    batch_df: DataFrame,
    store_path: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    bands: int | None = None,
    threshold: float = 0.7,
    max_docs_per_bucket: int = 1000,
    hash_fn: str = "md5",
    hash_family: str = "minhash",
    max_hamming: int = 8,
    combo_size: int | None = None,
    table_prefix: str | None = None,
    n_buckets: int = 32,
    compact_threshold_files: int | None = None,
    centroids=None,
    assign_via: str = "literal",
) -> None:
    """One near-dup dedup-on-ingest step: check ``batch_df`` against the
    persistent store, keep only documents with no near-duplicate among
    EARLIER survivors or smaller-id batch mates, and append the
    survivors plus their index rows. ``hash_family`` picks the
    similarity notion: ``'minhash'`` (Jaccard ≥ ``threshold``, index =
    ``buckets``/``shingles`` — the
    :class:`~..operators.dedup.MinhashIndex` state), ``'simhash'``
    (Hamming ≤ ``max_hamming``, index = ``keys``/``fingerprints`` —
    :class:`~..operators.dedup.SimhashIndex`), or ``'semantic'``
    (cosine ≥ ``threshold`` within nearest-centroid clusters — SemDeDup
    on ingest; requires ``centroids``, the SAME quantizer for the life
    of the store, and ``tokens_col`` names the embedding column; index
    = ``keys``/``assigned`` — the
    :class:`~..operators.dedup.SemanticIndex` layout with the cluster
    label as blocking key; ``max_docs_per_bucket`` caps the combined
    cluster size; ``assign_via='pandas'`` selects the BLAS assignment
    path — mandatory at production quantizer sizes, where the literal
    expression's O(k·dim) plan text dominates; the batch's assignment
    is computed ONCE and shared by the index append and the delta
    check).

    Store layouts — the scale knob:

    * default (plain): parquet dirs under ``store_path`` (``docs/`` +
      the two index dirs). The replay/duplicate-id guard anti-joins the
      batch against the store's id column; Spark cannot broadcast the
      left side of a left-anti join, so this is a sort-merge shuffle of
      the full stored id column per batch — fine for moderate stores,
      wrong at a billion docs.
    * ``table_prefix`` given (bucketed): the store is three bucketed
      catalog tables (``{prefix}_docs`` by ``id_col``, the keys table
      by band_hash, the features table by doc_id) with data under
      ``store_path``. The guard's anti-join then reads the docs table
      id column ALREADY partitioned on the join key: zero store-side
      Exchange (asserted on the plan in tests/test_streaming.py); only
      the O(delta) batch side shuffles. Index appends go through
      ``append_to_minhash_index``-style bucket-preserving appends, so
      the delta check's zero-Exchange index contract survives every
      batch.

    Semantics — dedup-against-survivors, the standard incremental-ingest
    rule: a document is dropped iff its cluster (connected components
    over this batch's delta pairs) contains any already-stored doc, or a
    smaller-id doc of the same batch. Equivalently the store INVARIANT
    is that batch near-dup pairs over the stored docs are always empty
    (pinned in tests/test_streaming.py). Note this is weaker than
    batch-global clustering ONLY on transitive non-clique clusters
    (a~b, b~c, not a~c, arriving in separate batches: batch clustering
    drops b and c; ingest drops b, then KEEPS c — c has no near-dup
    among survivors). For a single batch the two coincide exactly
    (tested).

    Idempotence / crash ordering: append order is keys → features →
    docs, so the docs append is the commit point (docs-first would
    leave stored docs invisible to future near-dup checks, silently
    voiding the invariant). A crash before the commit point leaves
    index rows for docs absent from ``docs/``; on replay those docs
    re-enter as delta, and two per-batch repairs make the replay exact:
    (1) SCRUB — the index views exclude rows whose doc_id is in the
    current delta (broadcast anti-join), restoring the delta/index
    doc-id disjointness the delta check requires and keeping stale
    members from inflating bucket sizes against
    ``max_docs_per_bucket``; (2) IDEMPOTENT APPEND — recomputation is
    deterministic, so the replay's index rows equal the crashed
    attempt's, and anti-joining the to-append rows against the stale
    rows ((doc_id, band_id) for keys, doc_id for features — both
    row-identifying) means no duplicate index row is ever stored, even
    across partial job commits. Fully-replayed batches hit the docs
    guard and append nothing.

    Per-batch cost: the delta path of ``*_delta_pairs`` — the store's
    index is scanned keys-only under broadcast semi-join prefilters,
    never shuffled, the corpus text is never re-read, and the
    scrub/idempotence joins broadcast the (small) batch id list. Each
    batch appends one file set; with ``compact_threshold_files`` set,
    any store table whose parquet file count exceeds it is compacted
    after the batch commits (``compact_parquet`` for the plain layout,
    ``compact_bucketed_table`` — bucket-spec preserving — for the
    bucketed one), and every load first runs ``recover_compact_swap``
    so a crash inside a compaction swap never reads as an empty store.
    """
    from ..operators.graph import connected_components
    from ..sources.io import (
        append_to_bucketed_table,
        compact_bucketed_table,
        compact_parquet,
        recover_compact_swap,
        register_bucketed_table,
        table_bucket_spec,
        write_bucketed,
    )

    spark = batch_df.sparkSession
    fam = _neardup_family(
        hash_family, n, k, bands, threshold, max_hamming, combo_size,
        max_docs_per_bucket, hash_fn, centroids, assign_via,
    )
    docs_path = f"{store_path}/docs"
    keys_path = f"{store_path}/{fam.keys_name}"
    feats_path = f"{store_path}/{fam.feats_name}"
    for p in (docs_path, keys_path, feats_path):
        recover_compact_swap(p)

    bucketed = table_prefix is not None
    docs_tbl = f"{table_prefix}_docs" if bucketed else None
    keys_tbl = f"{table_prefix}_{fam.keys_name}" if bucketed else None
    feats_tbl = f"{table_prefix}_{fam.feats_name}" if bucketed else None

    fresh = batch_df.dropDuplicates([id_col])
    keys_raw = feats_raw = None
    docs_existed = False  # bucketed mode: docs table present pre-batch
    if bucketed:
        # restart self-heal: the in-memory catalog (tests, default local
        # builds) loses table metadata across sessions while the data
        # dirs survive — a store whose tables aren't registered must be
        # re-registered, NOT treated as "first batch" (which would
        # overwrite the corpus). No-op on a live metastore.
        register_bucketed_table(spark, docs_tbl, id_col, n_buckets, docs_path)
        register_bucketed_table(
            spark, keys_tbl, fam.keys_bucket_col, n_buckets, keys_path
        )
        register_bucketed_table(
            spark, feats_tbl, fam.feats_bucket_col, n_buckets, feats_path
        )
        docs_existed = spark.catalog.tableExists(docs_tbl)
        if docs_existed:
            # keys/feats re-register from their _BUCKET_SPEC sidecars
            # even when they hold zero rows (all stored docs shingle-
            # less); a legacy store without sidecars may lack the
            # tables entirely — an absent index table means an EMPTY
            # index (vacuously no candidates), not a crash
            for t in (docs_tbl, keys_tbl, feats_tbl):
                if spark.catalog.tableExists(t):
                    spark.catalog.refreshTable(t)
            # zero store-side Exchange: the docs table is bucketed by
            # id_col, so its id column arrives at the sort-merge
            # anti-join already partitioned on the join key — only the
            # O(delta) batch side shuffles (plan pinned in tests)
            fresh = fresh.join(
                spark.table(docs_tbl).select(id_col), id_col, "left_anti"
            )
            # BOTH index tables or neither: a legacy store can be
            # missing either one independently (pre-sidecar crash
            # windows), and the delta check needs keys AND features
            if spark.catalog.tableExists(keys_tbl) and spark.catalog.tableExists(
                feats_tbl
            ):
                keys_raw = spark.table(keys_tbl)
                feats_raw = spark.table(feats_tbl)
    else:
        try:
            existing = spark.read.parquet(docs_path).select(id_col)
            fresh = fresh.join(existing, id_col, "left_anti")
            keys_raw = spark.read.parquet(keys_path)
            feats_raw = spark.read.parquet(feats_path)
        except AnalysisException as exc:
            # ONLY a missing store means "first batch" — same contract
            # as incremental_dedup_sink above
            cond = getattr(exc, "getErrorClass", lambda: None)() or str(exc)
            if "PATH_NOT_FOUND" not in cond and "UNABLE_TO_INFER_SCHEMA" not in cond:
                raise
    fresh = fresh.localCheckpoint()
    if fresh.limit(1).count() == 0:
        return
    fresh_ids = fresh.select(F.col(id_col).alias("doc_id"))
    if bucketed and docs_existed:
        # takedown exclusion (operators/dedup.remove_from_neardup_
        # store): tombstoned docs leave candidate generation AND the
        # verify, so deleted content stops suppressing its future
        # near-duplicates the moment the delete commits. The broadcast
        # list stays small because vacuum_neardup_store periodically
        # folds it into the tables (the LSM cadence); checked once per
        # batch so a never-deleted-into store adds no join at all. The
        # docs-guard anti-join above still sees tombstoned ids in the
        # ledger — re-ingesting one requires a vacuum first. Before the
        # views load, stale tombstones of admitted ids are scrubbed (the
        # vacuum crash window, operators/store.py), or the re-ingested
        # doc would be invisibly excluded from every future delta
        # check's index views.
        spec = store.neardup(table_prefix, id_col)
        tombs = store.live(spark, spec)
        if store.scrub(spark, spec, F.broadcast(fresh_ids), tombs):
            tombs = store.live(spark, spec)
        if tombs is not None and keys_raw is not None:
            t_ids = F.broadcast(tombs.select("doc_id"))
            keys_raw = keys_raw.join(t_ids, "doc_id", "left_anti")
            feats_raw = feats_raw.join(t_ids, "doc_id", "left_anti")

    delta_feats = fam.feats(fresh, tokens_col, id_col).localCheckpoint()
    # checkpointed: consumed by BOTH the index append and the delta
    # check — sharing only the lineage would re-run the band/signature
    # fold once per consumer (tiny table: ~bands rows per doc, ids+hashes)
    delta_keys = fam.keys(delta_feats).localCheckpoint()
    if keys_raw is None:
        # empty index with the right schemas (key types depend on
        # hash_fn) — the first batch then dedups purely within itself
        stale_keys = keys_view = delta_keys.limit(0)
        stale_feats = feats_view = delta_feats.limit(0)
    else:
        # crash-window scrub (see docstring): stale index rows can only
        # belong to the replaying batch's own ids — exclude them from
        # the views, remember them for the idempotent append
        stale_keys = keys_raw.join(F.broadcast(fresh_ids), "doc_id", "left_semi")
        stale_feats = feats_raw.join(F.broadcast(fresh_ids), "doc_id", "left_semi")
        keys_view = keys_raw.join(F.broadcast(fresh_ids), "doc_id", "left_anti")
        feats_view = feats_raw.join(F.broadcast(fresh_ids), "doc_id", "left_anti")

    pairs = fam.delta_pairs(
        fresh, keys_view, feats_view, tokens_col, id_col, delta_feats, delta_keys
    )
    asg = connected_components(pairs, src="doc_a", dst="doc_b").join(
        fresh.select(F.col(id_col).alias("node"), F.lit(1).alias("is_delta")),
        "node",
        "left",
    )
    comp_stats = asg.groupBy("component").agg(
        F.max(F.when(F.col("is_delta").isNull(), 1).otherwise(0)).alias("has_index"),
        F.min(F.when(F.col("is_delta") == 1, F.col("node"))).alias("min_delta"),
    )
    drops = (
        asg.where(F.col("is_delta") == 1)
        .join(comp_stats, "component")
        .where((F.col("has_index") == 1) | (F.col("node") != F.col("min_delta")))
        .select(F.col("node").alias(id_col))
    )
    # checkpoint the DROPS side, not the survivors: drops (this batch's
    # duplicate ids, ≤ batch-sized — the same bound as the fresh_ids
    # broadcasts above) pins the components chain's one evaluation,
    # and every survivor consumer then derives lazily from the two
    # pinned frames (fresh ckpt minus drops ckpt) — a map-side
    # broadcast anti-join per consumer instead of a second corpus-wide
    # checkpoint materialization. The index filters flip from
    # semi-join-against-survivors (corpus-sized build side at scale)
    # to anti-join-against-drops: delta_keys/delta_feats rows belong to
    # fresh docs by construction, and survivors = fresh − drops, so
    # semi(survivors) ≡ anti(drops) row-for-row.
    drops = drops.localCheckpoint()
    survivors = fresh.join(F.broadcast(drops), id_col, "left_anti")
    drop_ids = F.broadcast(drops.select(F.col(id_col).alias("doc_id")))
    new_keys = delta_keys.join(drop_ids, "doc_id", "left_anti")
    new_feats = delta_feats.join(drop_ids, "doc_id", "left_anti")
    # idempotent append: drop rows a crashed attempt already stored
    # ((doc_id, band_id) identifies a key row — band_hash is a function
    # of it; doc_id identifies a feature row)
    new_keys = new_keys.join(
        F.broadcast(stale_keys.select("doc_id", "band_id")),
        ["doc_id", "band_id"],
        "left_anti",
    )
    new_feats = new_feats.join(
        F.broadcast(stale_feats.select("doc_id")), "doc_id", "left_anti"
    )

    # the two INDEX writes are order-independent (the idempotent-append
    # anti-joins above cancel either table's stale rows on replay), so
    # they run overlapped from a 2-thread pool (guide §2.6); the docs
    # ledger is the COMMIT POINT and must stay strictly AFTER both —
    # a store with docs committed but index rows missing would silently
    # stop detecting those docs' near-duplicates
    from concurrent.futures import ThreadPoolExecutor

    if bucketed:
        with ThreadPoolExecutor(max_workers=2) as pool:
            if keys_raw is None:
                # first batch for the INDEX: CREATE its bucketed tables
                # (overwrite clobbers any partial first-batch crash state)
                fk = pool.submit(
                    write_bucketed, new_keys, keys_tbl, fam.keys_bucket_col,
                    n_buckets, path=keys_path,
                )
                ff = pool.submit(
                    write_bucketed, new_feats, feats_tbl, fam.feats_bucket_col,
                    n_buckets, path=feats_path,
                )
            else:
                fk = pool.submit(append_to_bucketed_table, new_keys, keys_tbl)
                ff = pool.submit(append_to_bucketed_table, new_feats, feats_tbl)
            fk.result()
            ff.result()
        # docs existence is tracked SEPARATELY from the index's: a
        # legacy store can hold docs while its index tables are absent
        # (empty-index fallback above) — overwriting docs there would
        # delete the stored corpus
        if docs_existed:
            append_to_bucketed_table(survivors, docs_tbl)
        else:
            write_bucketed(survivors, docs_tbl, id_col, n_buckets, path=docs_path)
    else:
        mode = "append" if keys_raw is not None else "overwrite"
        with ThreadPoolExecutor(max_workers=2) as pool:
            fk = pool.submit(
                lambda: new_keys.write.mode(mode).parquet(keys_path)
            )
            ff = pool.submit(
                lambda: new_feats.write.mode(mode).parquet(feats_path)
            )
            fk.result()
            ff.result()
        survivors.write.mode("append").parquet(docs_path)

    if compact_threshold_files is not None:
        if bucketed:
            for t in (keys_tbl, feats_tbl, docs_tbl):
                if _parquet_file_count(table_bucket_spec(spark, t)[2]) > compact_threshold_files:
                    compact_bucketed_table(spark, t)
        else:
            for p in (keys_path, feats_path, docs_path):
                if _parquet_file_count(p) > compact_threshold_files:
                    compact_parquet(spark, p)


def neardup_dedup_sink(
    stream_docs: DataFrame,
    store_path: str,
    checkpoint: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    **kwargs,
):
    """Streaming near-dup dedup-on-ingest: the near-dup extension of
    ``incremental_dedup_sink`` (which dedups exact keys only). Each
    micro-batch runs :func:`neardup_upsert_batch` against the persistent
    store; the store's invariant — no near-dup pair among stored docs —
    survives restarts and has no watermark bound. All
    :func:`neardup_upsert_batch` knobs pass through: ``hash_family``
    ('minhash' | 'simhash' | 'semantic' — the latter needs
    ``centroids`` and an embedding ``tokens_col``), ``table_prefix``
    (bucketed store — the 100 TB layout), ``compact_threshold_files``
    (small-file maintenance)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        neardup_upsert_batch(
            batch_df,
            store_path,
            tokens_col=tokens_col,
            id_col=id_col,
            threshold=threshold,
            **kwargs,
        )

    return _run_foreach_batch(stream_docs, upsert, checkpoint)


def search_index_upsert_batch(
    batch_df: DataFrame,
    store_path: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    table_prefix: str | None = None,
    n_buckets: int = 32,
    compact_threshold_files: int | None = None,
) -> None:
    """One search-index-on-ingest step: append ``batch_df``'s postings
    into a persistent inverted index (operators/search.PostingIndex on
    disk), so BM25 serves every document the moment its batch commits —
    the streaming write half of :func:`~..operators.search.
    bm25_topk_indexed`'s read path.

    Store layout mirrors the near-dup sinks: ``postings/`` (word,
    doc_id, tf, dl) and ``docs/`` (doc_id, dl) parquet dirs — or, with
    ``table_prefix``, bucketed catalog tables (postings by word: the
    query-time Exchange-free layout; docs by doc_id: the replay guard's
    anti-join reads the stored ids already partitioned on the join key,
    zero store-side Exchange). The ``{prefix}_stats`` table
    :func:`~..operators.search.load_posting_index` expects is
    maintained as a DERIVED value — recomputed from the committed docs
    table after every append and overwritten — never a read-modify-
    write fold, so a replayed batch cannot double-count it.

    Idempotence / crash ordering (the near-dup sinks' protocol):
    append order is postings → docs → stats, so the docs append is the
    commit point. A replayed batch loses its docs to the guard
    anti-join and appends nothing. A crash BETWEEN the postings append
    and the docs append leaves postings rows for unstored docs; on
    replay those docs re-enter as delta, and the idempotent append —
    recomputation is deterministic, so the replay's rows equal the
    crashed attempt's — anti-joins the to-append postings against the
    store's stale rows for the delta's doc ids ((word, doc_id) is
    row-identifying), so no duplicate posting is ever stored. A crash
    after the docs append but before the stats overwrite leaves stats
    stale by one batch; the next batch's recompute repairs it, and
    BM25 degrades smoothly under a slightly-stale avgdl in the
    meantime (a corpus-level smoothing constant, not a correctness
    key). Every load first runs ``recover_compact_swap``; with
    ``compact_threshold_files`` set, over-fragmented store tables are
    compacted after the commit point.

    Per-batch cost: the batch's postings build is O(batch); the guard
    is a keys-only docs scan (zero store-side shuffle when bucketed);
    the idempotence check semi-filters the postings scan by the
    broadcast batch id list before the anti-join, so only stale rows of
    THIS batch's docs ever reach the join.
    """
    from ..operators.search import build_posting_index
    from ..sources.io import (
        append_to_bucketed_table,
        compact_bucketed_table,
        compact_parquet,
        recover_compact_swap,
        register_bucketed_table,
        write_bucketed,
    )

    spark = batch_df.sparkSession
    postings_path = f"{store_path}/postings"
    docs_path = f"{store_path}/docs"
    for p in (postings_path, docs_path):
        recover_compact_swap(p)

    bucketed = table_prefix is not None
    postings_tbl = f"{table_prefix}_postings" if bucketed else None
    docs_tbl = f"{table_prefix}_docs" if bucketed else None

    fresh = batch_df.dropDuplicates([id_col]).select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("tokens")
    )

    def _load(path: str, tbl: str | None):
        """Store frame or None if absent. Absence is only 'first batch'
        for a genuinely missing dir — any other read error must raise
        (the incremental_dedup_sink rule: treating a corrupt store as
        first-batch voids the guard silently)."""
        if bucketed and spark.catalog.tableExists(tbl):
            spark.catalog.refreshTable(tbl)
            return spark.table(tbl)
        try:
            return spark.read.parquet(path)
        except AnalysisException as exc:
            cond = getattr(exc, "getErrorClass", lambda: None)() or str(exc)
            if "PATH_NOT_FOUND" not in cond and "UNABLE_TO_INFER_SCHEMA" not in cond:
                raise
            return None

    if bucketed:
        # restart self-heal: re-register over surviving data dirs (the
        # sidecar carries the spec; no-op on a live metastore)
        register_bucketed_table(spark, postings_tbl, "word", n_buckets, postings_path)
        register_bucketed_table(spark, docs_tbl, "doc_id", n_buckets, docs_path)

    stored_docs = _load(docs_path, docs_tbl)
    if stored_docs is not None:
        # replay/duplicate-id guard; bucketed: store side Exchange-free
        fresh = fresh.join(stored_docs.select("doc_id"), "doc_id", "left_anti")
    # the delta is consumed by the postings build, the idempotence
    # anti-join's broadcast id list, the docs append, and (bucketed
    # first-batch) the table create — pin it once
    fresh = fresh.localCheckpoint()

    delta = build_posting_index(fresh, tokens_col="tokens", id_col="doc_id")
    to_append = delta.postings
    stored_postings = _load(postings_path, postings_tbl)
    if stored_postings is not None:
        # idempotent append: stale rows (a crashed attempt's postings
        # for THIS batch's docs) are found under a broadcast semi-join
        # prefilter, then cancelled row-for-row — (word, doc_id) is
        # row-identifying and recomputation is deterministic
        batch_ids = F.broadcast(fresh.select("doc_id"))
        stale = stored_postings.join(batch_ids, "doc_id", "left_semi")
        to_append = to_append.join(stale, ["word", "doc_id"], "left_anti")

    docs_rows = fresh.select("doc_id", F.size("tokens").alias("dl"))
    if bucketed:
        if spark.catalog.tableExists(postings_tbl):
            append_to_bucketed_table(to_append, postings_tbl)
        else:
            write_bucketed(
                to_append, postings_tbl, "word", n_buckets, path=postings_path
            )
        if spark.catalog.tableExists(docs_tbl):
            append_to_bucketed_table(docs_rows, docs_tbl)  # commit point
        else:
            write_bucketed(docs_rows, docs_tbl, "doc_id", n_buckets, path=docs_path)
    else:
        to_append.write.mode("append").parquet(postings_path)
        docs_rows.write.mode("append").parquet(docs_path)  # commit point

    # stats: DERIVED from the committed docs table (exact BIGINTs), so
    # the overwrite is idempotent under any replay; docs tombstoned by
    # operators/search.remove_from_posting_index stay subtracted (the
    # recompute must not resurrect their counts). The tombstone list is
    # healed first — the SAME restart story this function gives
    # postings/docs above — so a fresh session's first batch does not
    # resurrect takedowns committed by the previous session.
    committed = _load(docs_path, docs_tbl)
    tombs = store.table(spark, store.posting(table_prefix)) if bucketed else None
    if tombs is not None:
        committed = committed.join(F.broadcast(tombs), "doc_id", "left_anti")
    stats = committed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    if bucketed:
        # collect-then-recreate: saveAsTable('overwrite') cannot read
        # from the table it replaces, and the 1-row collect is bounded
        row = stats.collect()[0]
        spark.createDataFrame(
            [(row["n_docs"], row["total_dl"])], "n_docs bigint, total_dl bigint"
        ).write.mode("overwrite").format("parquet").option(
            "path", f"{store_path}/stats"
        ).saveAsTable(f"{table_prefix}_stats")
    else:
        stats.localCheckpoint().write.mode("overwrite").parquet(
            f"{store_path}/stats"
        )

    if compact_threshold_files is not None:
        if bucketed:
            for tbl, path in ((postings_tbl, postings_path), (docs_tbl, docs_path)):
                if _parquet_file_count(path) > compact_threshold_files:
                    compact_bucketed_table(spark, tbl)
        else:
            for path in (postings_path, docs_path):
                if _parquet_file_count(path) > compact_threshold_files:
                    compact_parquet(spark, path)


def search_index_sink(
    stream_docs: DataFrame,
    store_path: str,
    checkpoint: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    **kwargs,
):
    """Streaming search-index-on-ingest: each micro-batch runs
    :func:`search_index_upsert_batch` against the persistent inverted
    index, so a BM25 query (``bm25_topk_indexed`` over
    ``load_posting_index``) serves every document as soon as its batch
    commits. All upsert knobs pass through (``table_prefix`` for the
    bucketed 100 TB layout, ``compact_threshold_files`` for small-file
    maintenance)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        search_index_upsert_batch(
            batch_df, store_path, tokens_col=tokens_col, id_col=id_col, **kwargs
        )

    return _run_foreach_batch(stream_docs, upsert, checkpoint)


def neardup_delete_batch(
    batch_df: DataFrame,
    table_prefix: str,
    hash_family: str = "minhash",
    id_col: str = "doc_id",
    vacuum_threshold_tombstones: int | None = None,
) -> int:
    """One streaming takedown step against a dedup-on-ingest survivor
    store (operators/dedup.remove_from_neardup_store — the delete half
    of :func:`neardup_upsert_batch`'s append), so a taken-down document
    stops suppressing near-duplicates of its content as soon as the
    batch commits; with ``vacuum_threshold_tombstones`` set,
    :func:`~..operators.dedup.vacuum_neardup_store` runs once the list
    reaches it (operators/store.delete_batch). Returns the number of
    newly tombstoned ids."""
    from ..operators.dedup import remove_from_neardup_store, vacuum_neardup_store

    spark = batch_df.sparkSession
    return store.delete_batch(
        spark,
        store.neardup(table_prefix, id_col),
        vacuum_threshold_tombstones,
        lambda: remove_from_neardup_store(
            spark, batch_df.select(id_col), table_prefix, id_col=id_col
        ),
        lambda: vacuum_neardup_store(spark, table_prefix, hash_family, id_col=id_col),
    )

def neardup_delete_sink(
    stream_ids: DataFrame,
    table_prefix: str,
    checkpoint: str,
    hash_family: str = "minhash",
    id_col: str = "doc_id",
    vacuum_threshold_tombstones: int | None = None,
):
    """Streaming takedowns against a persisted survivor store: each
    micro-batch of doc ids is tombstoned via
    :func:`neardup_delete_batch` — the delete twin of
    :func:`neardup_dedup_sink`, completing the right-to-be-forgotten
    story for all three dedup families exactly as
    :func:`search_index_delete_sink` does for the posting index
    (takedowns arrive as streams exactly like ingest does). Replaying a
    batch from the checkpoint is a no-op, and the optional vacuum
    threshold keeps the store physically bounded under an unbounded
    delete stream."""

    def delete(batch_df: DataFrame, batch_id: int) -> None:
        neardup_delete_batch(
            batch_df,
            table_prefix,
            hash_family=hash_family,
            id_col=id_col,
            vacuum_threshold_tombstones=vacuum_threshold_tombstones,
        )

    return _run_foreach_batch(stream_ids, delete, checkpoint)


def dedup_store_delete_batch(
    batch_df: DataFrame,
    table: str,
    key_cols: tuple[str, ...] = ("event_id",),
    vacuum_threshold_tombstones: int | None = None,
) -> int:
    """One streaming takedown step against an exact-dedup store
    (operators/dedup.remove_from_exact_dedup_store — the delete half of
    :func:`incremental_dedup_sink`'s append), with the threshold vacuum
    of operators/store.delete_batch. Returns the number of newly
    tombstoned keys."""
    from ..operators.dedup import (
        remove_from_exact_dedup_store,
        vacuum_exact_dedup_store,
    )

    spark = batch_df.sparkSession
    return store.delete_batch(
        spark,
        store.exact(table, key_cols),
        vacuum_threshold_tombstones,
        lambda: remove_from_exact_dedup_store(
            spark, batch_df.select(*key_cols), table, key_cols=key_cols
        ),
        lambda: vacuum_exact_dedup_store(spark, table, key_cols=key_cols),
    )

def dedup_store_delete_sink(
    stream_keys: DataFrame,
    table: str,
    checkpoint: str,
    key_cols: tuple[str, ...] = ("event_id",),
    vacuum_threshold_tombstones: int | None = None,
):
    """Streaming takedowns against a persisted exact-dedup store — the
    delete twin of :func:`incremental_dedup_sink`, completing the
    right-to-be-forgotten story for the fourth and last persisted
    store family (posting index, three near-dup families, exact
    dedup). Replays are no-ops; the optional vacuum threshold keeps
    the store physically bounded under an unbounded delete stream."""

    def delete(batch_df: DataFrame, batch_id: int) -> None:
        dedup_store_delete_batch(
            batch_df,
            table,
            key_cols=key_cols,
            vacuum_threshold_tombstones=vacuum_threshold_tombstones,
        )

    return _run_foreach_batch(stream_keys, delete, checkpoint)


def search_index_delete_batch(
    batch_df: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    vacuum_threshold_tombstones: int | None = None,
) -> int:
    """One streaming takedown step: tombstone this micro-batch's ids in
    the persisted posting index (operators/search.remove_from_posting_
    index — the delete half of :func:`search_index_upsert_batch`'s
    append), with the threshold vacuum of operators/store.delete_batch
    (the compact_threshold_files pattern of the append sinks, applied
    to deletes). Returns the number of newly tombstoned ids."""
    from ..operators.search import remove_from_posting_index, vacuum_posting_index

    spark = batch_df.sparkSession
    return store.delete_batch(
        spark,
        store.posting(table_prefix),
        vacuum_threshold_tombstones,
        lambda: remove_from_posting_index(spark, batch_df.select(id_col), table_prefix),
        lambda: vacuum_posting_index(spark, table_prefix),
    )

def vector_index_upsert_batch(
    batch_df: DataFrame,
    store_path: str,
    centroids: list,
    codebooks: list,
    table_prefix: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int = 8,
    compact_threshold_files: int | None = None,
) -> int:
    """One vector-index-on-ingest step: append this micro-batch's
    embeddings into the persisted IVF-PQ store
    (operators/vector_store), so ANN serves every vector the moment its
    batch commits — the streaming write half of
    :func:`~..operators.vector_store.vector_index_rerank_topk`'s read
    path, and the fifth persisted store family to get the ingest-sink
    treatment.

    First batch bootstraps the store (``persist_vector_index``); later
    batches ride ``append_to_vector_index``'s replay-safe protocol
    (ledger anti-join guard, codes→vecs commit ordering — the posting
    sink's idempotence story). ``centroids``/``codebooks`` are consumed
    only at bootstrap: the quantizer is a trained artifact FIXED for
    the store's life (re-training re-encodes the store — that is a
    rebuild, not an append), and later batches encode with the STORED
    quantizer, so a sink restarted with different literals cannot fork
    the code space. Restart self-heal: bucketed tables re-register from
    their ``_BUCKET_SPEC`` sidecars, quantizer tables from their
    parquet dirs. Returns newly ingested vector count."""
    from ..operators.vector_store import (
        append_to_vector_index,
        persist_vector_index,
        register_vector_index,
    )
    from ..sources.io import compact_bucketed_table

    spark = batch_df.sparkSession
    register_vector_index(spark, table_prefix, store_path, n_buckets=n_buckets)
    if not spark.catalog.tableExists(f"{table_prefix}_vecs"):
        persist_vector_index(
            batch_df.dropDuplicates([id_col]),
            centroids,
            codebooks,
            table_prefix,
            n_buckets=n_buckets,
            path=store_path,
            vec_col=vec_col,
            id_col=id_col,
        )
        return batch_df.select(id_col).distinct().count()
    n = append_to_vector_index(batch_df, table_prefix, vec_col=vec_col, id_col=id_col)
    if compact_threshold_files is not None:
        for sub in ("codes", "vecs"):
            if _parquet_file_count(f"{store_path}/{sub}") > compact_threshold_files:
                compact_bucketed_table(spark, f"{table_prefix}_{sub}")
    return n


def vector_index_sink(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    centroids: list,
    codebooks: list,
    table_prefix: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int = 8,
    compact_threshold_files: int | None = None,
):
    """Streaming ingest into the persisted IVF-PQ store — one
    :func:`vector_index_upsert_batch` per micro-batch, idempotent under
    foreachBatch's at-least-once replay."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        vector_index_upsert_batch(
            batch_df,
            store_path,
            centroids,
            codebooks,
            table_prefix,
            vec_col=vec_col,
            id_col=id_col,
            n_buckets=n_buckets,
            compact_threshold_files=compact_threshold_files,
        )

    return _run_foreach_batch(stream_df, upsert, checkpoint)


def vector_index_delete_batch(
    batch_df: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vacuum_threshold_tombstones: int | None = None,
) -> int:
    """One streaming takedown step against the persisted vector index
    (operators/vector_store.remove_from_vector_index — the delete half
    of :func:`vector_index_upsert_batch`), with the threshold vacuum of
    operators/store.delete_batch. Returns the number of newly
    tombstoned ids."""
    from ..operators.vector_store import remove_from_vector_index, vacuum_vector_index

    spark = batch_df.sparkSession
    return store.delete_batch(
        spark,
        store.vector(table_prefix),
        vacuum_threshold_tombstones,
        lambda: remove_from_vector_index(spark, batch_df.select(id_col), table_prefix),
        lambda: vacuum_vector_index(spark, table_prefix),
    )

def vector_index_delete_sink(
    stream_ids: DataFrame,
    table_prefix: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vacuum_threshold_tombstones: int | None = None,
):
    """Streaming takedowns against the persisted vector index — ANN
    stops retrieving a vector as soon as its takedown batch commits
    (embeddings are user-derived data; right-to-be-forgotten must purge
    the vector store as surely as the text indexes)."""

    def delete(batch_df: DataFrame, batch_id: int) -> None:
        vector_index_delete_batch(
            batch_df,
            table_prefix,
            id_col=id_col,
            vacuum_threshold_tombstones=vacuum_threshold_tombstones,
        )

    return _run_foreach_batch(stream_ids, delete, checkpoint)


#: takedown target kind → (delete step, store-name key, {option: default})
_TAKEDOWN_KINDS = {
    "posting": (search_index_delete_batch, "table_prefix", {"id_col": "doc_id"}),
    "neardup": (
        neardup_delete_batch,
        "table_prefix",
        {"hash_family": "minhash", "id_col": "doc_id"},
    ),
    "exact": (dedup_store_delete_batch, "table", {"key_cols": ("event_id",)}),
    "vector": (vector_index_delete_batch, "table_prefix", {"id_col": "doc_id"}),
}


def takedown_fanout_batch(batch_df: DataFrame, targets: list[dict]) -> dict:
    """Apply ONE micro-batch of takedown ids to EVERY persisted store —
    the operational shape of a right-to-be-forgotten request, which
    must leave no index serving (or suppressing near-duplicates of)
    the deleted documents. ``targets`` is a list of store specs:

      * ``{"kind": "posting", "table_prefix": ...,
          "vacuum_threshold_tombstones": ...}``
      * ``{"kind": "neardup", "table_prefix": ..., "hash_family": ...,
          "id_col": ..., "vacuum_threshold_tombstones": ...}``
      * ``{"kind": "exact", "table": ..., "key_cols": (...),
          "vacuum_threshold_tombstones": ...}``
      * ``{"kind": "vector", "table_prefix": ..., "id_col": ...,
          "vacuum_threshold_tombstones": ...}`` — the persisted IVF-PQ
        embedding store (``id_col`` defaults to ``doc_id``: the one
        takedown stream carries document ids, and the vector store's
        vec_id shares that id space when embeddings are per-document)

    Atomicity across stores is CONVERGENCE, not a transaction: each
    store's delete is individually idempotent (anti-joins before the
    tombstone append), so a crash after store i commits and before
    store i+1 does is healed by the foreachBatch replay — stores that
    already deleted re-tombstone nothing, the rest catch up. Stores are
    processed in ``targets`` order. Returns {store_label: n_new}."""
    out = {}
    for t in targets:
        if t["kind"] not in _TAKEDOWN_KINDS:
            raise ValueError(
                f"unknown takedown target kind {t['kind']!r} "
                "(posting | neardup | exact | vector)"
            )
        step, name, opts = _TAKEDOWN_KINDS[t["kind"]]
        out[t[name]] = step(
            batch_df,
            t[name],
            vacuum_threshold_tombstones=t.get("vacuum_threshold_tombstones"),
            **{k: t.get(k, default) for k, default in opts.items()},
        )
    return out


def takedown_fanout_sink(
    stream_ids: DataFrame, targets: list[dict], checkpoint: str
):
    """One takedown-id stream driving EVERY persisted store the engine
    keeps — posting index, near-dup survivor stores, exact-dedup store,
    IVF-PQ vector index
    — through a single checkpointed sink (:func:`takedown_fanout_batch`
    per micro-batch). A replay after a crash anywhere in the fan-out
    converges: stores that already committed their delete re-tombstone
    nothing. The per-store vacuum thresholds keep every tombstone list
    broadcast-small under an unbounded delete stream."""

    def delete(batch_df: DataFrame, batch_id: int) -> None:
        takedown_fanout_batch(batch_df, targets)

    return _run_foreach_batch(stream_ids, delete, checkpoint)


def search_index_delete_sink(
    stream_ids: DataFrame,
    table_prefix: str,
    checkpoint: str,
    id_col: str = "doc_id",
    vacuum_threshold_tombstones: int | None = None,
):
    """Streaming takedowns against a persisted posting index: each
    micro-batch of doc ids is tombstoned via
    :func:`search_index_delete_batch`, so a BM25 query stops serving a
    document as soon as its takedown batch commits — the delete twin of
    :func:`search_index_sink` (takedowns arrive as streams exactly like
    ingest does). Replaying a batch from the checkpoint is a no-op (the
    tombstone anti-join), and the optional vacuum threshold keeps the
    store physically bounded under an unbounded delete stream."""

    def delete(batch_df: DataFrame, batch_id: int) -> None:
        search_index_delete_batch(
            batch_df,
            table_prefix,
            id_col=id_col,
            vacuum_threshold_tombstones=vacuum_threshold_tombstones,
        )

    return _run_foreach_batch(stream_ids, delete, checkpoint)
