"""Streaming sinks beyond the plain file sink (streaming/windows.py:
stream_to_parquet): ``foreachBatch`` steps for the persisted stores
Spark has no native writer for.

Every store is driven one way: :func:`sink` runs a per-batch step —
``*_upsert_batch`` to ingest, ``*_delete_batch`` to take down,
:func:`takedown_fanout_batch` to take down from every store at once —
on each micro-batch of a stream, e.g.
``sink(stream, search_index_upsert_batch, ckpt, store_path=...,
table_prefix=...)``. The step is the replayable unit: the same call
runs a stream, a batch job or a test.

``foreachBatch`` hands each micro-batch to arbitrary batch code. Its
delivery guarantee is AT-LEAST-ONCE — a retried batch re-runs the
step with the same ``batch_id`` — so every step is idempotent. The
exact-dedup upsert gets idempotence for free from its anti-join (a
replayed batch finds its keys already in the store and appends
nothing), which is exactly why dedup-on-ingest is the canonical
foreachBatch example.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import store


def sink(stream: DataFrame, step, checkpoint: str, **opts):
    """Run ``step(batch_df, **opts)`` on every micro-batch of ``stream``
    until the input available at start is drained (``availableNow``),
    checkpointed at ``checkpoint``; returns the finished query. A replay
    from the checkpoint re-runs the step on the same batch, which every
    store step treats as a no-op."""
    q = (
        stream.writeStream.foreachBatch(lambda batch_df, _: step(batch_df, **opts))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_store_upsert_batch(
    batch_df: DataFrame,
    path: str,
    key_cols: tuple[str, ...] = ("event_id",),
    *,
    table: str,
    n_buckets: int = 32,
    compact_threshold_files: int | None = None,
) -> None:
    """One exact-dedup-on-ingest step: append ``batch_df``'s rows to a
    store, keeping only the FIRST occurrence of each key — streaming
    exact dedup with a persistent, queryable output (the batch
    counterpart is operators/dedup.exact_dedup).

    The store is the bucketed catalog table ``table`` (bucketed by
    ``key_cols[0]``, data at ``path``), and the step runs the shared
    append protocol (operators/store.py): open, admit — drop in-batch
    duplicates, anti-join the batch against the store's key column
    (read already partitioned on the join key: zero store-side
    Exchange, only the O(batch) side shuffles), scrub — then commit and
    compact past ``compact_threshold_files`` (appends add one file set
    per batch). Replayed batches are no-ops (idempotent under
    foreachBatch's at-least-once contract). Unlike ``dropDuplicates``
    state, the store survives restarts with NO watermark bound: dedup
    is against all history, not a time window, and a session-scoped
    catalog loss is healed by re-registering over the surviving files.
    """
    spark = batch_df.sparkSession
    spec = store.exact(table, key_cols)
    store.open(spark, spec, path, n_buckets)
    fresh, _ = store.admit(spark, spec, batch_df)
    store.commit(spark, spec, path, n_buckets, {table: fresh})
    store.compact(spark, spec, compact_threshold_files)


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
    hash family. All families share the store shape
    (operators/store.NEARDUP_INDEX) — a per-doc FEATURES table (one row
    per doc: shingle set / fingerprint / normalized embedding) and a
    per-doc KEYS table (blocking keys, bucketed by band_hash) — and a
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
    *,
    table_prefix: str,
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

    The store is three bucketed catalog tables (``{prefix}_docs`` by
    ``id_col`` — the ledger —, the keys table by band_hash, the features
    table by doc_id, or list_id for semantic) with data under
    ``store_path``, driven through the shared append protocol
    (operators/store.py): open, admit (the docs ledger guard reads the
    stored id column already partitioned on the join key — zero
    store-side Exchange, asserted on the plan in
    tests/test_streaming.py), commit (keys and features, then docs),
    compact past ``compact_threshold_files``.

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

    Replay: docs is the commit point (docs-first would leave stored docs
    invisible to future near-dup checks, silently voiding the
    invariant). A crash before it leaves index rows for docs absent
    from the ledger; on replay those docs re-enter as delta, and two
    per-batch repairs make the replay exact: (1) the index views
    exclude rows whose doc_id is in the current delta (broadcast
    anti-join), restoring the delta/index doc-id disjointness the delta
    check requires and keeping stale members from inflating bucket
    sizes against ``max_docs_per_bucket``; (2) IDEMPOTENT APPEND —
    recomputation is deterministic, so the replay's index rows equal
    the crashed attempt's, and anti-joining the to-append rows against
    the stale rows ((doc_id, band_id) for keys, doc_id for features —
    both row-identifying) means no duplicate index row is ever stored.
    Takedowns (operators/dedup.remove_from_neardup_store): tombstoned
    docs leave the index views, so deleted content stops suppressing
    its future near-duplicates the moment the delete commits; the
    ledger guard still sees tombstoned ids, so re-ingesting one requires
    a vacuum first.

    Per-batch cost: the delta path of ``*_delta_pairs`` — the store's
    index is scanned keys-only under broadcast semi-join prefilters,
    never shuffled, the corpus text is never re-read, and the
    scrub/idempotence joins broadcast the (small) batch id list.
    """
    from ..operators.graph import connected_components

    spark = batch_df.sparkSession
    fam = _neardup_family(
        hash_family, n, k, bands, threshold, max_hamming, combo_size,
        max_docs_per_bucket, hash_fn, centroids, assign_via,
    )
    spec = store.neardup(table_prefix, id_col, hash_family)
    keys_tbl, feats_tbl = (t for t, _, _ in spec.tables[:2])
    store.open(spark, spec, store_path, n_buckets)
    fresh, tombs = store.admit(spark, spec, batch_df)
    if fresh.limit(1).count() == 0:
        return
    fresh_ids = F.broadcast(fresh.select(F.col(id_col).alias("doc_id")))

    delta_feats = fam.feats(fresh, tokens_col, id_col).localCheckpoint()
    # checkpointed: consumed by BOTH the index append and the delta
    # check — sharing only the lineage would re-run the band/signature
    # fold once per consumer (tiny table: ~bands rows per doc, ids+hashes)
    delta_keys = fam.keys(delta_feats).localCheckpoint()

    def index(tbl: str, delta: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(stale rows of this batch's ids, the view the delta check
        reads); an absent table is an EMPTY index with the delta's
        schema (key types depend on hash_fn)."""
        if not spark.catalog.tableExists(tbl):
            return delta.limit(0), delta.limit(0)
        rows = spark.table(tbl)
        if tombs is not None:
            rows = rows.join(F.broadcast(tombs.select("doc_id")), "doc_id", "left_anti")
        return (
            rows.join(fresh_ids, "doc_id", "left_semi"),
            rows.join(fresh_ids, "doc_id", "left_anti"),
        )

    stale_keys, keys_view = index(keys_tbl, delta_keys)
    stale_feats, feats_view = index(feats_tbl, delta_feats)
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
    store.commit(
        spark, spec, store_path, n_buckets,
        {keys_tbl: new_keys, feats_tbl: new_feats, spec.ledger: survivors},
    )
    store.compact(spark, spec, compact_threshold_files)


def search_index_upsert_batch(
    batch_df: DataFrame,
    store_path: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    *,
    table_prefix: str,
    n_buckets: int = 32,
    compact_threshold_files: int | None = None,
) -> None:
    """One search-index-on-ingest step: append ``batch_df``'s postings
    into a persistent inverted index (operators/search.PostingIndex on
    disk), so BM25 serves every document the moment its batch commits —
    the streaming write half of :func:`~..operators.search.
    bm25_topk_indexed`'s read path.

    The store is ``{prefix}_postings`` (word, doc_id, tf, dl — bucketed
    by word: the query-time Exchange-free layout), the ``{prefix}_docs``
    ledger (doc_id, dl — bucketed by doc_id) and the one-row
    ``{prefix}_stats`` table, with data under ``store_path``. The step
    opens the store (operators/store.open — restart self-heal included),
    then runs :func:`~..operators.search.append_to_posting_index`'s
    replay-safe append (admit, postings then docs, stats re-derived from
    the live ledger), then compacts past ``compact_threshold_files``.
    """
    from ..operators import search

    spark = batch_df.sparkSession
    spec = store.posting(table_prefix)
    store.open(spark, spec, store_path, n_buckets)
    search._append(
        batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(tokens_col).alias("tokens"),
            F.size(tokens_col).alias("dl"),
        ),
        table_prefix,
        path=store_path,
        n_buckets=n_buckets,
    )
    store.compact(spark, spec, compact_threshold_files)


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


def dedup_store_delete_batch(
    batch_df: DataFrame,
    table: str,
    key_cols: tuple[str, ...] = ("event_id",),
    vacuum_threshold_tombstones: int | None = None,
) -> int:
    """One streaming takedown step against an exact-dedup store
    (operators/dedup.remove_from_exact_dedup_store — the delete half of
    :func:`dedup_store_upsert_batch`'s append), with the threshold vacuum
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

    The step opens the store (operators/store.open: bucketed tables
    from their ``_BUCKET_SPEC`` sidecars, quantizer tables from their
    parquet dirs), then runs
    :func:`~..operators.vector_store.append_to_vector_index`'s
    replay-safe append, then compacts past ``compact_threshold_files``.
    The first batch is the same append: it creates the tables, and the
    vecs ledger is written last, so a first batch that crashed anywhere
    replays cleanly. ``centroids``/``codebooks`` are used only while the
    store has no quantizer tables: the quantizer is a trained artifact
    FIXED for the store's life (re-training re-encodes the store — that
    is a rebuild, not an append), and later batches encode with the
    STORED quantizer, so a sink restarted with different literals
    cannot fork the code space. Returns newly ingested vector count."""
    from ..operators import vector_store

    spark = batch_df.sparkSession
    spec = store.vector(table_prefix)
    store.open(spark, spec, store_path, n_buckets)
    n = vector_store._append(
        batch_df, table_prefix, vec_col, id_col, store_path, n_buckets,
        (centroids, codebooks),
    )
    store.compact(spark, spec, compact_threshold_files)
    return n


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
