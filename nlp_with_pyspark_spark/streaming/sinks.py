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
    store_path: str,
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
    ``key_cols[0]``, data at ``store_path``), and the step runs the shared
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

    The store is one table, so ``table`` names it whole, where the other
    families' ``table_prefix`` names a set of ``{prefix}_*`` tables.
    """
    spark = batch_df.sparkSession
    spec = store.exact(table, key_cols)
    store.open(spark, spec, store_path, n_buckets)
    fresh, _ = store.admit(spark, spec, batch_df)
    store.commit(spark, spec, store_path, n_buckets, {table: fresh})
    store.compact(spark, spec, compact_threshold_files)


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
    ``store_path``. The step opens the store (operators/store.open), runs
    the family's append (operators/dedup._append: admit — the docs
    ledger guard reads the stored id column already partitioned on the
    join key, zero store-side Exchange, asserted on the plan in
    tests/test_streaming.py —, the delta check against
    :func:`~..operators.dedup.load_neardup_index`'s live view of the
    store, then commit: keys and features, then docs), and compacts past
    ``compact_threshold_files``.

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
    from ..operators import dedup

    spark = batch_df.sparkSession
    spec = store.neardup(table_prefix, id_col, hash_family)
    store.open(spark, spec, store_path, n_buckets)
    dedup._append(
        batch_df, table_prefix, hash_family, tokens_col, id_col, store_path, n_buckets,
        n=n, k=k, bands=bands, threshold=threshold,
        max_docs_per_bucket=max_docs_per_bucket, hash_fn=hash_fn,
        max_hamming=max_hamming, combo_size=combo_size, centroids=centroids,
        assign_via=assign_via,
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
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    table_prefix: str,
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
