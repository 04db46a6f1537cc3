"""Full-text retrieval: BM25 scoring and top-k search over the corpus,
direct or against a persisted posting index.

The engine already builds the two statistics BM25 needs — per-(doc,
term) frequency and document frequency (operators/features.py computes
their presence-TF / unsmoothed-IDF cousins for the reference's TF-IDF
path, `utils/prep_rdd.py:42-78`). BM25 is the retrieval-grade weighting
of the same tables: Robertson–Spärck Jones IDF with the standard
+1 floor (the Lucene/Okapi practical form, non-negative for any df)
and term-frequency saturation with document-length normalization.

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Scale shape (direct path): the query's term list is a literal
IN-filter applied to the exploded token stream BEFORE any aggregation —
only occurrences of query terms are ever shuffled (O(Σ df(t)) rows,
not O(corpus)). The per-term document frequencies (≤ |query| rows) and
the 1-row (N, avgdl) corpus statistics ride broadcasts. One scan
computes corpus stats, one scan the filtered term stream; no join
touches a corpus-sized build side.

Scale shape (indexed path): a retrieval service doesn't re-tokenize
100 TB per query — it searches a PERSISTED inverted index. The index
here follows the engine's bucketed-store contract (the near-dup
survivor store's layout, operators/dedup.py): postings
``(word, doc_id, tf, dl)`` live in a bucketed+sorted catalog table
keyed by word, the doc-length norm DENORMALIZED into each posting (the
classic posting-list layout) so query-time needs NO join back to a
per-doc table; corpus stats are a one-row ``(n_docs, total_dl)`` table
re-derived from a committed per-doc ledger after every append (exact
BIGINTs — never a read-modify-write fold). A query is then: scan postings
with the term IN-filter pushed to parquet (the index side crosses ZERO
shuffle Exchanges — plan-asserted in tests), aggregate candidate-sized
frames only, broadcast the ≤|query|-row df table. Appends reuse
``append_to_bucketed_table`` so the bucket-count layout contract can
never drift, and indexed results are BIT-IDENTICAL to the direct path
(same integer tf/dl/df/N inputs, same float association order —
equality pinned in tests/test_sketch_search.py).

Index maintenance follows the LSM delete pattern: ``remove_from_
posting_index`` tombstones ids (query-time excludes them via a
broadcast anti-join on the candidate-sized frame, stats re-derive over
the live ledger — bit-identical to a rebuild without those docs), and
``vacuum_posting_index`` periodically folds the tombstones into a
spec-preserving physical rewrite so the tombstone list stays
broadcast-small and scan cost tracks live data.

Reference: Robertson & Zaragoza, "The Probabilistic Relevance
Framework: BM25 and Beyond" (FnTIR 2009).
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store


def _bm25_topk(
    tf: DataFrame,
    stats: DataFrame,
    id_col: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring core: ``tf`` is (id_col, word, __tf, __dl) — one
    row per (candidate doc, query term) — and ``stats`` the one-row
    (__n_docs, __avgdl) frame. Both entry paths (direct and indexed)
    land here, so their scores cannot diverge: identical integer
    inputs, identical float association order (the parenthesization is
    pinned — float * is non-associative, and the DuckDB oracle writes
    the same chain)."""
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("__df"))
    scored = tf.join(F.broadcast(dfreq), "word").crossJoin(F.broadcast(stats))
    idf = F.log(
        1.0
        + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    wtd = (
        idf
        * (F.col("__tf") * (k1 + 1.0))
        / (
            F.col("__tf")
            + k1 * ((1.0 - b) + b * (F.col("__dl") / F.col("__avgdl")))
        )
    )
    return (
        scored.select(id_col, wtd.alias("__w"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("matched"),
            F.round(F.sum("__w"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _clean_terms(query_terms: Sequence[str]) -> list[str]:
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    return terms


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query, scored directly
    from the token column: ``(doc_id, matched, score)`` ordered by
    score desc then ``id_col`` asc (total order — docs with identical
    (tf, dl) profiles tie exactly, so the id tie-break is
    load-bearing). ``matched`` is the number of distinct query terms
    present. Scores are rounded to 6 decimals AFTER the per-document
    sum (the registry's float-rounding convention; summands are O(10)
    with ≤|query| terms, so 1-ulp summation-order noise sits ~1e-10
    under the rounding grid).
    """
    terms = _clean_terms(query_terms)
    toks = docs.select(id_col, F.col(tokens_col).alias("__toks")).withColumn(
        "__dl", F.size("__toks")
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("__dl").alias("__avgdl"),
    )
    hits = (
        toks.select(id_col, "__dl", F.explode("__toks").alias("word"))
        .where(F.col("word").isin(terms))
    )
    tf = hits.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl")
    )
    return _bm25_topk(tf, stats, id_col, k, k1, b)


def bm25_batch_topk(
    docs: DataFrame,
    queries: dict[str, Sequence[str]],
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score MANY bag-of-words queries in one corpus pass — the shape a
    retrieval evaluation or a batched search API actually runs:
    ``(query_id, rank, doc_id, matched, score)``, rank 1..k per query,
    ordered (query_id, rank). Per-query slices are row-identical to
    :func:`bm25_topk` run alone (pinned in tests): tf and df are
    query-independent, so they are computed ONCE over the union of all
    terms, and the tiny (query_id, word) table broadcast-joins on top —
    Q queries cost one corpus scan plus candidate-sized aggregations,
    not Q scans. The per-query top-k is a rank window partitioned by
    query_id over the ≤(Q × candidates) scored frame."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("queries must be non-empty")
    qrows = sorted(
        {(qid, t) for qid, terms in queries.items() for t in _clean_terms(terms)}
    )
    union_terms = sorted({w for _, w in qrows})
    toks = docs.select(id_col, F.col(tokens_col).alias("__toks")).withColumn(
        "__dl", F.size("__toks")
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("__dl").alias("__avgdl"),
    )
    hits = (
        toks.select(id_col, "__dl", F.explode("__toks").alias("word"))
        .where(F.col("word").isin(union_terms))
    )
    tf = hits.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("__tf"), F.max("__dl").alias("__dl")
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("__df"))
    qdf = docs.sparkSession.createDataFrame(qrows, "query_id string, word string")
    scored = (
        tf.join(F.broadcast(qdf), "word")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0
        + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    wtd = (
        idf
        * (F.col("__tf") * (k1 + 1.0))
        / (
            F.col("__tf")
            + k1 * ((1.0 - b) + b * (F.col("__dl") / F.col("__avgdl")))
        )
    )
    per = (
        scored.select("query_id", id_col, wtd.alias("__w"))
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("matched"),
            F.round(F.sum("__w"), 6).alias("score"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    )
    return (
        per.withColumn("rank", rn)
        .where(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "matched", "score")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted posting index
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PostingIndex:
    """An inverted index as up to four frames: ``postings`` (word,
    doc_id, tf, dl — the length norm denormalized into every posting),
    ``stats`` (one row: n_docs, total_dl — exact BIGINTs, so
    ``avgdl = total_dl / n_docs`` is reproduced exactly), ``docs``
    (doc_id, dl — one row per indexed document, INCLUDING token-less
    docs that have no postings), and ``tombstones`` (doc_id — docs
    logically deleted by :func:`remove_from_posting_index` and not yet
    :func:`vacuum_posting_index`-ed). ``docs`` is the append-time
    ledger: the replay guard anti-joins against it and ``stats``
    re-derives from it (minus tombstones), the same store layout the
    streaming ingest sink keeps
    (streaming/sinks.search_index_upsert_batch). Query-time touches
    only ``postings``, ``stats`` and — when present and non-empty —
    the broadcast ``tombstones`` anti-join; ``docs`` is never read at
    query time (``None`` on indexes loaded from a legacy two-table
    store)."""

    postings: DataFrame
    stats: DataFrame
    docs: DataFrame | None = None
    tombstones: DataFrame | None = None


def build_posting_index(
    docs: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> PostingIndex:
    """Tokenized docs → :class:`PostingIndex`. One corpus scan, one
    hash agg on (word, doc_id) — map-side combine does the tf counting,
    so the shuffle carries distinct (word, doc_id) rows, not raw
    occurrences."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    postings = (
        toks.select("doc_id", "__dl", F.explode("__toks").alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("__dl").alias("dl"))
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__dl").cast("long").alias("total_dl"),
    )
    return PostingIndex(postings, stats, toks.select("doc_id", F.col("__dl").alias("dl")))


def persist_posting_index(
    index: PostingIndex,
    table_prefix: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Write ``{prefix}_postings`` bucketed+sorted by word (the
    query-time key — the IN-filter prunes buckets and row groups, and
    the bucket count is the index's layout contract for the life of the
    store), ``{prefix}_docs`` bucketed by doc_id (the append-time
    ledger: the replay guard's anti-join reads it already partitioned
    on the join key, zero store-side Exchange), and ``{prefix}_stats``
    as a one-row table."""
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.io import write_bucketed

    # the postings and docs writes are independent — overlapped from a
    # 2-thread pool (guide §2.6), same as persist_vector_index
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                write_bucketed,
                index.postings,
                f"{table_prefix}_postings",
                "word",
                n_buckets,
                path=None if path is None else f"{path}/postings",
            )
        ]
        if index.docs is not None:
            futs.append(
                pool.submit(
                    write_bucketed,
                    index.docs,
                    f"{table_prefix}_docs",
                    "doc_id",
                    n_buckets,
                    path=None if path is None else f"{path}/docs",
                )
            )
        for f in futs:
            f.result()
    from ..sources.io import write_small_table

    spark = index.postings.sparkSession
    if index.docs is not None:
        # stats derived from the COMMITTED docs ledger — a keys-only
        # columnar scan of the just-written bucketed table — instead of
        # collecting index.stats, whose plan is a third full pass over
        # the corpus-sized build lineage (tokenize + agg); same exact
        # BIGINTs by construction (the ledger holds one (doc_id, dl)
        # row per doc, token-less docs included)
        docs_tbl = f"{table_prefix}_docs"
        spark.catalog.refreshTable(docs_tbl)
        srow = (
            spark.table(docs_tbl)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").cast("long").alias("total_dl"),
            )
            .collect()[0]
        )
    else:
        srow = index.stats.collect()[0]
    # one-row artifact: written without a Spark job (io.write_small_table)
    write_small_table(
        spark,
        [(srow["n_docs"], srow["total_dl"] or 0)],
        "n_docs bigint, total_dl bigint",
        f"{table_prefix}_stats",
        None if path is None else f"{path}/stats",
    )


def load_posting_index(spark: SparkSession, table_prefix: str) -> PostingIndex:
    """Load the store for querying. Every table is refreshed first —
    the family-wide read-entry idiom (vector_store.load_vector_index):
    a streaming sink's foreachBatch writes through a CLONED
    SparkSession, so the clone's cache invalidation never reaches this
    session's cached file listing, and a query after a streamed
    append/delete would read dropped files (or miss new ones) without
    the refresh."""
    docs_tbl = f"{table_prefix}_docs"
    # existence-guarded (like docs below): an unconditional refresh of a
    # nonexistent table raises a catalog error far less informative than
    # a store-not-found message
    if not spark.catalog.tableExists(f"{table_prefix}_postings"):
        raise ValueError(
            f"{table_prefix}_postings not found: no posting index at "
            f"this prefix — build one with persist_posting_index first"
        )
    for sub in ("postings", "stats"):
        if spark.catalog.tableExists(f"{table_prefix}_{sub}"):
            spark.catalog.refreshTable(f"{table_prefix}_{sub}")
    if spark.catalog.tableExists(docs_tbl):
        spark.catalog.refreshTable(docs_tbl)
    return PostingIndex(
        spark.table(f"{table_prefix}_postings"),
        spark.table(f"{table_prefix}_stats"),
        spark.table(docs_tbl) if spark.catalog.tableExists(docs_tbl) else None,
        # None when empty: query plans keep the pre-delete shape
        # (plan-asserted in tests)
        store.live(spark, store.posting(table_prefix)),
    )


def append_to_posting_index(index_delta: PostingIndex, table_prefix: str) -> None:
    """Append a new batch into the persisted index, REPLAY-SAFELY, and
    refresh the one-row stats table from committed data, through the
    shared append protocol (operators/store.py: admit → commit, the
    ``{prefix}_docs`` ledger last). Both appends go through
    ``append_to_bucketed_table`` (bucket spec read from the catalog,
    never the caller), so the Exchange-free query layout survives every
    append.

    Idempotence: docs already in the ledger leave the delta up front
    (re-appending a committed doc, the natural recovery after a crash,
    is a no-op rather than a double count). The delta's postings are
    then anti-joined against the store's rows for the delta's own doc
    ids — (word, doc_id) is row-identifying and the posting build is
    deterministic, so a replay after a crash BETWEEN the postings
    append and the docs append cancels row-for-row and appends only
    what the crashed attempt did not commit. Stats are DERIVED from the
    committed ledger minus tombstones (exact BIGINTs, token-less docs
    included) and overwritten — never a read-modify-write fold — so no
    sequence of crashes or replays can double-count them, and ``avgdl``
    after N appends equals the one-shot build's to the last bit; a
    crash before the overwrite leaves them one batch stale until the
    next append re-derives them.

    Scale shape: both guard joins semi-filter the store scan by the
    broadcast delta id list, so only this batch's (possibly stale)
    rows ever reach a join, and the ledger side is bucketed on the
    join key; the stats recompute is a keys-only ledger scan — an
    append-time, not query-time, cost."""
    if index_delta.docs is None:
        raise ValueError(
            "append_to_posting_index needs a delta with a docs ledger "
            "(build_posting_index provides one); a legacy two-table store "
            "cannot be appended to replay-safely"
        )
    docs_tbl = f"{table_prefix}_docs"
    if not index_delta.postings.sparkSession.catalog.tableExists(docs_tbl):
        raise ValueError(
            f"{docs_tbl} not found: the store predates the docs ledger — "
            "rebuild it with persist_posting_index before appending"
        )
    _append(index_delta.docs, table_prefix, index_delta.postings)


def _append(
    docs: DataFrame,
    table_prefix: str,
    postings: DataFrame | None = None,
    path: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Admit ``docs`` (doc_id, dl, and tokens when ``postings`` is
    ``None``: the postings are then built from the admitted docs), append
    the admitted docs' postings not already stored, commit the docs
    ledger and re-derive the stats. ``path``/``n_buckets`` place tables
    the store does not have yet (the streaming sink's first batch)."""
    spark = docs.sparkSession
    spec = store.posting(table_prefix)
    fresh, _ = store.admit(spark, spec, docs)
    batch_ids = F.broadcast(fresh.select("doc_id"))
    if postings is None:
        postings = build_posting_index(fresh).postings
    else:
        postings = postings.join(batch_ids, "doc_id", "left_semi")
    postings_tbl = spec.tables[0][0]
    if spark.catalog.tableExists(postings_tbl):
        # stale rows: a crashed attempt's postings for THIS batch's docs
        stale = spark.table(postings_tbl).join(batch_ids, "doc_id", "left_semi")
        postings = postings.join(stale, ["word", "doc_id"], "left_anti")
    store.commit(
        spark, spec, path, n_buckets,
        {postings_tbl: postings, spec.ledger: fresh.select("doc_id", "dl")},
    )
    _refresh_stats(spark, table_prefix, store._dir(path, "stats"))


def _live_docs(spark: SparkSession, table_prefix: str) -> DataFrame:
    """The committed docs ledger minus tombstoned ids — the document
    set every derived quantity (stats, rebuild-equivalence) is defined
    over."""
    docs_tbl = f"{table_prefix}_docs"
    spark.catalog.refreshTable(docs_tbl)
    live = spark.table(docs_tbl)
    tombs = store.table(spark, store.posting(table_prefix))
    if tombs is not None:
        live = live.join(F.broadcast(tombs), "doc_id", "left_anti")
    return live


def _refresh_stats(spark: SparkSession, table_prefix: str, path: str | None = None) -> None:
    """Overwrite ``{prefix}_stats`` with (n_docs, total_dl) DERIVED
    from the live ledger (committed docs minus tombstones) — exact
    BIGINTs, idempotent under any replay, never a read-modify-write
    fold. An EXTERNAL stats table keeps its location through the
    overwrite (``_table_path_if_external``): dropping it to a managed
    warehouse table would leave the store's on-disk ``stats/`` dir
    stale — a path-addressed reader would see pre-delete counts.
    ``path`` places a stats table that does not exist yet."""
    from ..sources.io import write_small_table

    stats_tbl = f"{table_prefix}_stats"
    row = (
        _live_docs(spark, table_prefix)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("long").alias("total_dl"),
        )
        .collect()[0]
    )
    spath = (
        store._table_path_if_external(spark, stats_tbl)
        if spark.catalog.tableExists(stats_tbl)
        else path
    )
    write_small_table(
        spark,
        [(row["n_docs"], row["total_dl"] or 0)],
        "n_docs bigint, total_dl bigint",
        stats_tbl,
        spath,
    )


def remove_from_posting_index(
    spark: SparkSession, doc_ids, table_prefix: str
) -> int:
    """Logically DELETE documents from a persisted index (takedown /
    recrawl-replacement maintenance) through the shared tombstone
    protocol (operators/store.py): the ids land in a
    ``{prefix}_tombstones`` table, stats re-derive over the live ledger
    (committed minus tombstoned — so n_docs/avgdl immediately reflect
    the deletion), and :func:`bm25_topk_indexed` excludes tombstoned
    docs via a broadcast anti-join on the candidate-sized frame. The
    result is BIT-IDENTICAL to an index rebuilt without those docs
    (pinned in tests): tf rows drop before df is counted, and the
    stats are the rebuild's exact integers.

    Replay-safe and idempotent; ids absent from the docs ledger are
    ignored. Returns the number of NEWLY tombstoned ids. A tombstoned
    id stays deleted until :func:`vacuum_posting_index`; re-ingesting
    it requires vacuuming first (the append guard treats ledger ids as
    committed).

    ``doc_ids``: a one-column DataFrame or any iterable of ids."""
    n = store.remove(spark, store.posting(table_prefix), doc_ids)
    if n:
        _refresh_stats(spark, table_prefix)
    return n


def vacuum_posting_index(spark: SparkSession, table_prefix: str) -> dict:
    """Physically drop tombstoned docs' rows from the postings table
    and the docs ledger, then clear the tombstones table
    (operators/store.vacuum) and re-derive the stats. Query results are
    identical before and after (the anti-join was already excluding
    those rows — pinned in tests); vacuum reclaims space, restores scan
    cost to live-data size, compacts as a side effect, and resets the
    broadcast tombstone list that query-time carries. Returns per-table
    rewrite reports (``postings``, ``docs``) plus the number of
    tombstones folded."""
    spec = store.posting(table_prefix)
    report = store.vacuum(spark, spec)
    if spark.catalog.tableExists(spec.tombstones):
        _refresh_stats(spark, table_prefix)
    return report


def bm25_topk_indexed(
    index: PostingIndex,
    query_terms: Sequence[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` against a :class:`PostingIndex` — bit-identical output
    to :func:`bm25_topk` over the same corpus (tests pin the equality),
    without touching the corpus: the term IN-filter is pushed into the
    bucketed postings scan (zero index-side shuffle Exchanges,
    plan-asserted), every aggregation is candidate-sized, and the df /
    stats frames ride broadcasts. Tombstoned docs (see
    :func:`remove_from_posting_index`) are excluded by a broadcast
    anti-join on the candidate-sized tf frame BEFORE df is counted, so
    the answer equals a rebuild without them."""
    terms = _clean_terms(query_terms)
    tf = index.postings.where(F.col("word").isin(terms)).select(
        "doc_id", "word", F.col("tf").alias("__tf"), F.col("dl").alias("__dl")
    )
    if index.tombstones is not None:
        tf = tf.join(
            F.broadcast(index.tombstones.select("doc_id")), "doc_id", "left_anti"
        )
    stats = index.stats.select(
        F.col("n_docs").alias("__n_docs"),
        (F.col("total_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "__avgdl"
        ),
    )
    return _bm25_topk(tf, stats, "doc_id", k, k1, b)
