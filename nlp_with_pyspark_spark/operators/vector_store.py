"""Persisted IVF-PQ vector index with the full store lifecycle —
ingest, takedown, vacuum, serve.

Every other persisted store family in this engine (posting index,
minhash/simhash survivor stores, exact-dedup store) has the LSM
maintenance story: appends are replay-safe, deletes are broadcast
tombstone lists, a once-per-epoch vacuum physically folds them out, and
a fresh session self-heals the sidecar state. The vector index is the
store that HOLDS EMBEDDINGS — user-derived data a takedown must purge
just as surely as the documents themselves — so this module gives it
the identical contract, built from the same proven pieces:

  * ``{prefix}_codes``  (vec_id, list_id, codes) — the compressed
    corpus ADC search scans, bucketed **and sorted by list_id** via
    ``io.write_bucketed``: every inverted list is physically clustered,
    so the serve-time literal IN-filter on probed lists prunes row
    groups at the parquet footer (the IVF layout promise — a query
    touches only its ``n_probe`` lists' bytes, plan-asserted in
    tests/test_vector_store.py).
  * ``{prefix}_vecs``   (vec_id, embedding) — the full-precision
    ledger, bucketed by vec_id. Doubles as the append-time replay
    guard (the posting index's ``docs`` ledger role) and as the
    re-rank fetch target: stage 2 reads ONLY the shortlisted
    candidates' vectors through a broadcast semi-join.
  * ``{prefix}_centroids`` / ``{prefix}_codebooks`` — the coarse and
    product quantizers AS TABLES: the quantizer is a trained artifact
    with the store's lifetime (re-training it re-encodes the store),
    so the store is self-contained — a fresh session serves without
    re-deriving anything. Both are bounded-small (n_lists rows;
    m·ksub rows) and are collected into plan literals at load.
  * ``<codes>__tombstones`` sidecar + ``{prefix}_tombstones`` table —
    the shared LSM delete (operators/store.py): idempotent appends,
    broadcast anti-join at serve time, restart self-heal from the
    sidecar, vacuum folds + clears.

Scale shape at 100 TB: the corpus never shuffles after the one encode
projection at build/ingest (codebooks and centroids compile to plan
literals — reference: Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011, §V for the re-rank refinement); serve
moves Q·n_probe probe rows and Q·shortlist candidate rows; deletes
move id lists only; vacuum is the once-per-epoch rewrite that tracks
live data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import store
from .similarity import (
    _d2_sql,
    _dot_sql,
    _hyperplane,
    centroid_assign_col,
    centroid_entries_sql,
)

__all__ = [
    "VectorIndex",
    "append_to_vector_index",
    "load_vector_index",
    "merge_vector_indexes",
    "persist_vector_index",
    "rebalance_vector_index",
    "register_vector_index",
    "retrain_vector_index",
    "remove_from_vector_index",
    "train_and_persist_vector_index",
    "vacuum_vector_index",
    "vector_index_list_stats",
    "vector_index_rerank_topk",
    "vector_index_tombstones",
]


@dataclass
class VectorIndex:
    """A loaded persisted IVF-PQ store: the two data tables plus the
    quantizer literals (collected once — n_lists and m·ksub rows) and
    the live tombstone list (``None`` when empty, so every serve plan
    stays anti-join-free after a vacuum)."""

    codes: DataFrame
    vecs: DataFrame
    centroids: list[tuple[int, list[float]]]
    codebooks: list[list[list[float]]]
    tombstones: DataFrame | None = None


def _encode(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(vec_id, list_id, codes) — ONE literal-compiled projection does
    the coarse assignment and the PQ encode (the corpus-side block of
    similarity.ivfpq_topk): zero shuffle, scan speed, the index build's
    only corpus pass."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vs = f"`{vec_col}`"

    def code_sql(s: int) -> str:
        sub_sql = f"slice({vs}, {s * dsub + 1}, {dsub})"
        items = ", ".join(
            f"struct({_d2_sql(sub_sql, codebooks[s][c])} AS d2, {c} AS code)"
            for c in range(len(codebooks[s]))
        )
        return f"array_min(array({items})).code"

    return corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        centroid_assign_col(vs, centroids).alias("list_id"),
        F.expr(f"array({', '.join(code_sql(s) for s in range(m))})").alias("codes"),
    )


def persist_vector_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    table_prefix: str,
    n_buckets: int = 8,
    path: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Build + persist the store. ``codes`` is bucketed+sorted by
    list_id (probe pruning — see module docstring), ``vecs`` by vec_id
    (ledger joins); quantizer tables are tiny plain parquet."""
    from ..sources.io import write_bucketed

    from concurrent.futures import ThreadPoolExecutor

    spark = corpus.sparkSession
    # the two data writes are independent single-source jobs — run them
    # from a 2-thread pool so the vecs scan back-fills executors freed
    # by the codes write's tail (guide §2.6: overlap independent jobs)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_codes = pool.submit(
            write_bucketed,
            _encode(corpus, centroids, codebooks, vec_col, id_col),
            f"{table_prefix}_codes",
            "list_id",
            n_buckets,
            path=None if path is None else f"{path}/codes",
        )
        f_vecs = pool.submit(
            write_bucketed,
            corpus.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            ),
            f"{table_prefix}_vecs",
            "vec_id",
            n_buckets,
            path=None if path is None else f"{path}/vecs",
        )
        f_codes.result()
        f_vecs.result()
    from ..sources.io import write_small_table

    # quantizer tables: bounded by construction (n_lists rows; m·ksub
    # rows), rows already on the driver — written without a Spark job
    # (io.write_small_table; two saveAsTable jobs here cost as much as
    # the corpus-sized bucketed writes above at local scale)
    for (name, sub), (rows, ddl) in zip(
        store.vector(table_prefix).sides, _quantizer_rows(centroids, codebooks)
    ):
        write_small_table(spark, rows, ddl, name, None if path is None else f"{path}/{sub}")


def _quantizer_rows(
    centroids: list[tuple[int, list[float]]], codebooks: list[list[list[float]]]
) -> tuple[tuple[list, str], tuple[list, str]]:
    """``(rows, DDL)`` of the centroids and codebooks tables."""
    return (
        (
            [(int(i), [float(x) for x in c]) for i, c in centroids],
            "list_id int, centroid array<double>",
        ),
        (
            [
                (s, c, [float(x) for x in codebooks[s][c]])
                for s in range(len(codebooks))
                for c in range(len(codebooks[s]))
            ],
            "subspace int, code int, centroid array<double>",
        ),
    )


def train_and_persist_vector_index(
    corpus: DataFrame,
    table_prefix: str,
    n_lists: int = 16,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    n_buckets: int = 8,
    path: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_fraction: float | None = None,
    seed: int = 42,
) -> None:
    """The PRODUCTION index build: train the coarse quantizer (k-means,
    similarity.build_ivf_index) and the PQ codebooks (per-subspace
    k-means, similarity.pq_train) on the corpus — or on a deterministic
    hash-sample of it via ``train_fraction`` (quantizers converge on
    ~1e5-1e6 vectors; at 100 TB you never train on the full corpus) —
    then encode and persist the full corpus through
    :func:`persist_vector_index`. The trained artifacts land in the
    store's quantizer tables, so every later append/serve/vacuum uses
    THEM (the store is self-contained; retraining means rebuilding).
    The trained-vs-untrained recall gap is pinned in
    tests/test_dedup_similarity.py (0.25 → 0.70 @ n_probe=3 on
    clustered data); this helper is the bridge from that tuning loop to
    the maintained store."""
    from .similarity import build_ivf_index, pq_train

    train = corpus
    if train_fraction is not None:
        from .sampling import hash_sample

        train = hash_sample(corpus, train_fraction, key_col=id_col)
    _, cent_df = build_ivf_index(train, n_lists, vec_col, id_col, seed)
    centroids = [
        (int(r.list_id), [float(x) for x in r.centroid])
        for r in sorted(cent_df.collect(), key=lambda r: r.list_id)
    ]
    codebooks = pq_train(
        train, m=m, ksub=ksub, dim=dim, vec_col=vec_col, seed=seed
    )
    persist_vector_index(
        corpus, centroids, codebooks, table_prefix,
        n_buckets=n_buckets, path=path, vec_col=vec_col, id_col=id_col,
    )


def vector_index_tombstones(
    spark: SparkSession, table_prefix: str
) -> DataFrame | None:
    """The live tombstone list, or ``None`` when the store has none —
    healed from the sidecar first, so a fresh session never serves
    taken-down vectors."""
    return store.live(spark, store.vector(table_prefix))


def register_vector_index(
    spark: SparkSession, table_prefix: str, store_path: str, n_buckets: int = 8
) -> None:
    """Re-register the store's catalog entries over surviving on-disk
    data after a session restart (operators/store.open): bucketed tables
    (codes, vecs) from their ``_BUCKET_SPEC`` sidecars (read directly,
    so a store built with a non-default bucket count recovers without
    the caller remembering the build-time value; ``n_buckets`` is only
    the fallback for sidecar-less pre-existing stores), quantizer tables
    from their parquet dirs, tombstones from the ``__tombstones``
    sidecar. Also resolves any half-finished compaction swap first.
    No-op for every entry that is already live; after this,
    :func:`load_vector_index` serves the committed state exactly —
    including still-pending takedowns."""
    store.open(spark, store.vector(table_prefix), store_path, n_buckets)


def _quantizer(
    spark: SparkSession, table_prefix: str
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]]]:
    """The stored quantizer as plan literals: (centroids, codebooks)."""
    for sub in ("centroids", "codebooks"):
        spark.catalog.refreshTable(f"{table_prefix}_{sub}")
    cent_rows = spark.table(f"{table_prefix}_centroids").collect()
    centroids = sorted(
        (int(r.list_id), [float(x) for x in r.centroid]) for r in cent_rows
    )
    cb_rows = spark.table(f"{table_prefix}_codebooks").collect()
    by_key = {(int(r.subspace), int(r.code)): [float(x) for x in r.centroid] for r in cb_rows}
    m = 1 + max(s for s, _ in by_key)
    ksub = 1 + max(c for _, c in by_key)
    return centroids, [[by_key[(s, c)] for c in range(ksub)] for s in range(m)]


def load_vector_index(spark: SparkSession, table_prefix: str) -> VectorIndex:
    """Load the store for serving. The quantizer tables are collected
    into literals here — bounded by construction (n_lists rows and
    m·ksub rows, the artifact's size, independent of corpus size).

    Every table is refreshed first — the family-wide read-entry idiom:
    a streaming sink's foreachBatch writes through a CLONED
    SparkSession, so the clone's cache invalidation never reaches this
    session's cached file listing, and a serve after a streamed append
    would silently miss the new rows without the refresh (caught by
    the drift-cycle test in tests/test_vector_store.py)."""
    for sub in ("codes", "vecs"):
        spark.catalog.refreshTable(f"{table_prefix}_{sub}")
    centroids, codebooks = _quantizer(spark, table_prefix)
    return VectorIndex(
        spark.table(f"{table_prefix}_codes"),
        spark.table(f"{table_prefix}_vecs"),
        centroids,
        codebooks,
        vector_index_tombstones(spark, table_prefix),
    )


def append_to_vector_index(
    new_vectors: DataFrame,
    table_prefix: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Ingest a batch into the persisted store, REPLAY-SAFELY, through
    the shared append protocol (operators/store.py: admit → commit, the
    vecs ledger last):

      * ids already in the ledger leave the batch up front (anti-join —
        re-appending a committed vector after a crash is a no-op);
      * the batch's code rows are anti-joined against the store's rows
        for the batch's own ids (vec_id is row-identifying in codes and
        the encode is deterministic, so a replay after a crash BETWEEN
        the codes append and the vecs append cancels row-for-row);
      * append order is codes → vecs (the commit point).

    A tombstoned id is still in the ledger, so re-ingesting it
    pre-vacuum is suppressed — a taken-down vector stays dead until the
    vacuum physically forgets it, after which a re-ingest is admitted
    as a first occurrence. Stale tombstone rows of admitted ids (a
    vacuum that crashed between fold and clear) are scrubbed before the
    data appends (operators/store.admit), so the re-ingested vector
    serves immediately instead of being invisibly shadowed.

    Scale shape: the encode is the literal projection; the ledger
    guard semi-filters a bucketed key-only scan by the broadcast batch
    id list, and the stale-row guard scans ONLY the batch's own lists —
    the encode is deterministic, so a crashed append's orphan codes
    rows can live nowhere else — via a literal IN-filter on list_id
    (bounded by n_lists values) that prunes unprobed lists' row groups
    at the parquet footer of the bucketed-sorted-by-list_id layout:
    per-batch append cost tracks the batch's lists, not the store
    (measured flat-decade in SCALING.md "Vector-index ingest cost vs
    store size"). Returns the number of newly ingested vectors."""
    vecs_tbl = f"{table_prefix}_vecs"
    if not new_vectors.sparkSession.catalog.tableExists(vecs_tbl):
        raise ValueError(
            f"{vecs_tbl} not found: no vector index at this prefix — "
            "build one with persist_vector_index first"
        )
    return _append(new_vectors, table_prefix, vec_col, id_col)


def _append(
    new_vectors: DataFrame,
    table_prefix: str,
    vec_col: str,
    id_col: str,
    path: str | None = None,
    n_buckets: int | None = None,
    quantizer: tuple[list, list] | None = None,
) -> int:
    """Admit, encode and commit a batch (see :func:`append_to_vector_index`).
    The stored quantizer encodes when the store has one; otherwise
    ``quantizer`` does, and its tables are committed before the ledger.
    ``path``/``n_buckets`` place tables the store does not have yet (the
    streaming sink's first batch)."""
    spark = new_vectors.sparkSession
    spec = store.vector(table_prefix)
    fresh, _ = store.admit(
        spark,
        spec,
        new_vectors.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        ),
    )
    n_new = fresh.count()
    if not n_new:
        return 0
    sides = {}
    if spark.catalog.tableExists(f"{table_prefix}_centroids"):
        centroids, codebooks = _quantizer(spark, table_prefix)
    else:
        # the store's first quantizer: committed with the batch, before the ledger
        centroids, codebooks = quantizer
        sides = {name: t for (name, _), t in zip(spec.sides, _quantizer_rows(*quantizer))}
    codes_tbl = spec.tables[0][0]
    new_codes = _encode(
        fresh, centroids, codebooks, "embedding", "vec_id"
    ).localCheckpoint()  # consumed by the list collect, the guard, the append
    if spark.catalog.tableExists(codes_tbl):
        batch_lists = sorted(
            r.list_id for r in new_codes.select("list_id").distinct().collect()
        )  # bounded by n_lists — the quantizer's size, never the batch's
        stale = (
            spark.table(codes_tbl)
            .where(F.col("list_id").isin([int(i) for i in batch_lists]))
            .join(F.broadcast(fresh.select("vec_id")), "vec_id", "left_semi")
        )
        new_codes = new_codes.join(stale.select("vec_id"), "vec_id", "left_anti")
    store.commit(spark, spec, path, n_buckets, {codes_tbl: new_codes, spec.ledger: fresh}, sides)
    return n_new


def remove_from_vector_index(
    spark: SparkSession, vec_ids, table_prefix: str
) -> int:
    """Logically DELETE vectors (takedown) through the shared tombstone
    protocol (operators/store.remove): serving excludes them via a
    broadcast anti-join on the probed-candidate frame BEFORE the
    shortlist rank, so the answer equals an index rebuilt without them
    (next-best candidates fill the freed shortlist slots — pinned in
    tests). Idempotent and replay-safe; never-ingested ids are ignored.
    Returns the number of NEWLY tombstoned ids."""
    return store.remove(spark, store.vector(table_prefix), vec_ids)


def vacuum_vector_index(spark: SparkSession, table_prefix: str) -> dict:
    """Physically fold tombstoned vectors out of ``codes`` and ``vecs``,
    then clear the tombstone table (operators/store.vacuum — fold
    before clear, so a crash in between never serves a taken-down
    vector). Serve results are identical before and after; the rewrite
    reclaims space and resets the broadcast list. Returns per-table
    rewrite reports (``codes``, ``vecs``) + fold count."""
    return store.vacuum(spark, store.vector(table_prefix))


def merge_vector_indexes(
    spark: SparkSession, dst_prefix: str, src_prefix: str
) -> int:
    """Merge ``src``'s store into ``dst`` — the parallel-build pattern
    (shard-local indexes built independently, then folded into one
    serving store; FAISS's ``merge_from`` is the public analog, and on
    Spark the shards are e.g. per-date partition builds).

    Both stores must share ONE quantizer (centroids and codebooks
    compared value-for-value; a mismatch raises — merging across
    quantizers is a rebuild, use :func:`retrain_vector_index`). Given
    that, the merge needs NO new machinery: the encode is a
    deterministic function of the quantizer, so re-encoding ``src``'s
    ledger through :func:`append_to_vector_index` reproduces its codes
    bit-for-bit while inheriting the whole replay protocol — ids
    already in ``dst`` are skipped (first-writer-wins, the append
    semantics), a crashed merge replays to convergence, and the encode
    is the scan-speed literal projection.

    ``src``'s PENDING takedowns are folded, not copied: tombstoned src
    rows are excluded from the admitted set (the merged store equals
    src-live ∪ dst — the same answer as vacuum-then-merge), so a
    taken-down vector can never resurface through a merge. ``src`` is
    left untouched. Returns the number of vectors admitted into
    ``dst``."""
    for sub in ("centroids", "codebooks"):
        a = sorted(map(tuple, spark.table(f"{dst_prefix}_{sub}").collect()))
        b = sorted(map(tuple, spark.table(f"{src_prefix}_{sub}").collect()))
        if a != b:
            raise ValueError(
                f"{sub} differ between {dst_prefix} and {src_prefix}: "
                "stores were built with different quantizers — merging "
                "across quantizers is a rebuild (retrain_vector_index)"
            )
    src_vecs = f"{src_prefix}_vecs"
    spark.catalog.refreshTable(src_vecs)
    live = spark.table(src_vecs)
    src_tombs = vector_index_tombstones(spark, src_prefix)
    if src_tombs is not None:
        live = live.join(
            F.broadcast(src_tombs.select("vec_id")), "vec_id", "left_anti"
        )
    return append_to_vector_index(live, dst_prefix)


def retrain_vector_index(
    spark: SparkSession,
    table_prefix: str,
    centroids: list[tuple[int, list[float]]] | None = None,
    n_lists: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
) -> dict:
    """EPOCH-level coarse-quantizer refresh — the global complement to
    :func:`rebalance_vector_index`'s local splits. When drift has
    reshaped the whole distribution (not just overfilled a few lists),
    the right move is a fresh coarse quantizer and a global
    re-assignment. Because PQ codes encode RAW subspaces (never
    list-relative residuals, :func:`_encode`), a coarse retrain — like
    a split — moves ``list_id`` values ONLY: the codes blobs, the vecs
    ledger, and the PQ codebooks are all untouched, and the rewrite is
    one pass through the vacuum's compact seam.

    ``centroids`` supplies an externally trained quantizer (cell ids
    are REASSIGNED — only the order matters, it fixes argmin
    tie-breaks); ``None`` trains k-means on the ledger (or a
    deterministic ``train_fraction`` hash-sample — at 100 TB you never
    train on the full corpus), exactly
    :func:`train_and_persist_vector_index`'s path minus the rebuild.

    Crash protocol — the rebalance doctrine, epoch-shifted: the new
    cells take ids ABOVE every id either table has seen (``base``), and
    the commits are ordered so every codes row is reachable at every
    intermediate state:

      A. centroids := old cells ∪ new epoch cells  (new cells empty —
         at most wasted probe slots until B);
      B. codes rewritten through ``compact_bucketed_table``: each row
         re-assigned to its argmin cell among the NEW centroids via the
         literal projection, codes blob carried through (the one
         corpus-sized pass — the epoch's price, same class as vacuum);
         a codes row whose id is missing from the ledger (a
         half-committed crashed append) is dropped here — the append's
         replay re-delivers it cleanly against the new quantizer;
      C. centroids := new epoch cells only (prunes the old cells AND
         any earlier interrupted epoch's orphans in one stroke).

    A replay after a crash at any point re-derives a HIGHER base (the
    epoch ids are now visible) and converges; between B and C the old
    cells are merely empty. Tombstones are vec_id-keyed and unaffected;
    delete/vacuum/append/serve run unchanged against the new epoch.
    Unlike a split, retrain membership IS the global argmin — so the
    serve pin holds at ANY probe depth: store serve ≡ the inline
    two-stage retrieval under the new quantizer, row-identical
    (tests/test_vector_store.py; the registered
    ``ann_ivfpq_retrained_topk`` gates the full composition through the
    rerank SQL with the retrained centroid set)."""
    from ..sources.io import compact_bucketed_table

    vecs_tbl = f"{table_prefix}_vecs"
    codes_tbl = f"{table_prefix}_codes"
    spark.catalog.refreshTable(vecs_tbl)
    spark.catalog.refreshTable(codes_tbl)
    ledger = spark.table(vecs_tbl)
    if centroids is None:
        from .similarity import build_ivf_index

        train = ledger
        if train_fraction is not None:
            from .sampling import hash_sample

            train = hash_sample(ledger, train_fraction, key_col="vec_id")
        _, cent_df = build_ivf_index(train, n_lists, "embedding", "vec_id", seed)
        new_vecs = [
            [float(x) for x in r.centroid]
            for r in sorted(cent_df.collect(), key=lambda r: r.list_id)
        ]
    else:
        new_vecs = [[float(x) for x in c] for _, c in centroids]
    old_rows = sorted(
        (int(r.list_id), [float(x) for x in r.centroid])
        for r in spark.table(f"{table_prefix}_centroids").collect()
    )
    code_lists = [
        int(r.list_id)
        for r in spark.table(codes_tbl).select("list_id").distinct().collect()
    ]  # bounded by the quantizer's cell count
    base = 1 + max([i for i, _ in old_rows] + code_lists)
    shifted = [(base + i, v) for i, v in enumerate(new_vecs)]
    _overwrite_centroids(spark, table_prefix, old_rows + shifted)  # commit A

    def reassign(df: DataFrame) -> DataFrame:
        return (
            df.select("vec_id", "codes")
            .join(spark.table(vecs_tbl), "vec_id")
            .select(
                "vec_id",
                centroid_assign_col("`embedding`", shifted).alias("list_id"),
                "codes",
            )
        )

    rep = compact_bucketed_table(spark, codes_tbl, transform=reassign)  # commit B
    _overwrite_centroids(spark, table_prefix, shifted)  # commit C
    return {
        "epoch_base": base,
        "n_lists": len(shifted),
        "codes_rewrite": rep,
    }


def vector_index_rerank_topk(
    index: VectorIndex,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allowed: DataFrame | None = None,
    deterministic_queries: bool = True,
) -> DataFrame:
    """Serve the production two-stage retrieval FROM THE STORE —
    row-identical to similarity.ivfpq_rerank_topk over the live corpus
    (pinned in tests), without ever touching the corpus:

      1. the probe set (query_id, list_id) is computed from the stored
         quantizer literals, and its DISTINCT list ids are collected
         into the plan as a literal IN-filter on the codes scan —
         bounded by ``n_probe · |queries|`` ids (a query batch, never
         corpus-sized) — so the bucketed-sorted-by-list_id layout
         prunes unprobed lists' row groups at the parquet footer;
      2. tombstoned vectors leave the candidate frame BEFORE the
         shortlist rank (broadcast anti-join — freed slots fill with
         next-best, the rebuild-without semantics); the same seam
         serves FILTERED retrieval: ``allowed`` (an id frame — a
         policy allowlist, a metadata predicate's id projection, a
         tenant scope) semi-joins the candidate frame at the same
         point, so the answer equals an index holding ONLY the allowed
         vectors (filter ≡ rebuild-with-only, pinned in tests; no
         broadcast hint — a filter can be corpus-scale where a
         tombstone list never is, so AQE picks the join side);
      3. ADC fold over codes → shortlist rank window;
      4. exact re-rank: ONLY the Q·shortlist candidates' true vectors
         are fetched from the vecs ledger via a broadcast semi-join.

    Transient during an in-flight append (documented, accepted): a
    vector half-committed by a crashed ``append_to_vector_index`` —
    codes row written, vecs ledger row not yet (codes is appended
    first) — can win a stage-1 shortlist slot and then drop at the
    stage-2 inner join on the ledger, displacing one next-best live
    candidate until the batch replays (which completes the ledger row
    and restores the exact answer). The window is one crashed batch
    wide; the replay protocol closes it. Filtering it out at serve
    time would cost a probed-candidates × ledger anti-join on every
    query — corpus-scale work to mask a bounded, self-healing
    transient — so serving tolerates it instead.

    ``deterministic_queries``: stage 1 derives the probe-id IN-list and
    the per-query LUT join from TWO evaluations of the ``queries`` plan,
    which must therefore be deterministic (the default asserts nothing —
    a plain scan/projection batch, the serving shape, always is). Pass
    ``False`` when it is not (rand/sample/limit, or a source that can
    change between the two jobs): the batch is snapshotted once
    (localCheckpoint) so both consumers read the same rows.
    """
    if shortlist < k:
        raise ValueError("shortlist must be >= k")
    if not deterministic_queries:
        # the probe-id collect below and the lazy q join each evaluate
        # the queries plan once; a NONDETERMINISTIC queries frame
        # (rand/sample/limit, a source mutating between the two jobs)
        # could diverge between the two reads and silently drop probed
        # lists from cand_codes — pin one snapshot for both consumers
        queries = queries.localCheckpoint()
    m = len(index.codebooks)
    dsub = len(index.codebooks[0][0])
    vs = f"`{vec_col}`"

    def lut_sql(s: int) -> str:
        sub_sql = f"slice({vs}, {s * dsub + 1}, {dsub})"
        return (
            "array("
            + ", ".join(
                _d2_sql(sub_sql, index.codebooks[s][c])
                for c in range(len(index.codebooks[s]))
            )
            + ")"
        )

    probes_expr = F.expr(
        f"transform(slice(array_sort({centroid_entries_sql(vs, index.centroids)}),"
        f" 1, {n_probe}), s -> s.list_id)"
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.explode(probes_expr).alias("list_id"),
        F.expr(f"array({', '.join(lut_sql(s) for s in range(m))})").alias("lut"),
    )
    # probe ids from a NARROW twin plan (probe column only, no LUT
    # evaluation) instead of localCheckpoint-ing q for double
    # consumption: one job fewer per serve, and the only recompute is
    # the n_lists-fold coarse assign over the query BATCH — bounded by
    # the batch, never the corpus
    probe_ids = sorted(
        r.list_id
        for r in queries.select(F.explode(probes_expr).alias("list_id"))
        .distinct()
        .collect()
    )
    cand_codes = index.codes.where(F.col("list_id").isin([int(i) for i in probe_ids]))
    if index.tombstones is not None:
        cand_codes = cand_codes.join(
            F.broadcast(index.tombstones.select("vec_id")), "vec_id", "left_anti"
        )
    if allowed is not None:
        cand_codes = cand_codes.join(
            allowed.select(F.col(allowed.columns[0]).cast("long").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda cd, l: F.element_at(l, cd + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand_codes.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dist, 6).alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    from ..functions.vector import squared_l2

    ids = cand.select(F.col("neighbor_id").alias("vec_id")).distinct()
    vecs = index.vecs.join(F.broadcast(ids), "vec_id", "left_semi").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    qv = queries.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("qv")
    )
    rescored = (
        cand.join(vecs, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(squared_l2(F.col("qv"), F.col("cv")), 6).alias("d2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


def vector_index_list_stats(
    spark: SparkSession, table_prefix: str
) -> DataFrame:
    """Per-inverted-list occupancy — ``(list_id, n_vecs, n_live)`` —
    the balance dashboard every IVF deployment watches (a hot list is
    the store's probe-cost ceiling: serve reads whole lists, so one
    list at 10× the mean makes every query probing it pay 10×), and
    :func:`rebalance_vector_index`'s detection input.

    Scale shape: a KEY-ONLY columnar aggregate — the scan reads the
    (vec_id, list_id) columns and prunes the codes blob at the parquet
    footer; ``n_live`` nets out tombstones via the broadcast flag join
    (tombstone lists are takedown-sized). No corpus-sized shuffle: the
    agg output is bounded by the quantizer's cell count."""
    codes_tbl = f"{table_prefix}_codes"
    spark.catalog.refreshTable(codes_tbl)
    rows = spark.table(codes_tbl).select("vec_id", "list_id")
    tombs = vector_index_tombstones(spark, table_prefix)
    if tombs is None:
        return rows.groupBy("list_id").agg(
            F.count("*").alias("n_vecs"), F.count("*").alias("n_live")
        )
    flagged = rows.join(
        F.broadcast(tombs.select("vec_id").withColumn("_dead", F.lit(1))),
        "vec_id",
        "left",
    )
    return flagged.groupBy("list_id").agg(
        F.count("*").alias("n_vecs"),
        F.count(F.when(F.col("_dead").isNull(), F.lit(1))).alias("n_live"),
    )


def _overwrite_centroids(
    spark: SparkSession, table_prefix: str, rows: list[tuple[int, list[float]]]
) -> None:
    """Overwrite the (tiny) centroid table preserving its external
    location (see ``store._table_path_if_external``)."""
    from ..sources.io import write_small_table

    tbl = f"{table_prefix}_centroids"
    write_small_table(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in rows],
        "list_id int, centroid array<double>",
        tbl,
        store._table_path_if_external(spark, tbl),
    )
    spark.catalog.refreshTable(tbl)


def rebalance_vector_index(
    spark: SparkSession,
    table_prefix: str,
    max_list_factor: float = 1.5,
    direction: list[float] | None = None,
) -> dict:
    """Split HOT inverted lists — the IVF store's answer to data drift.

    Streaming appends assign every new vector through the quantizer
    that was trained at build time; when the data distribution drifts,
    vectors pile into a few lists and the store's serve cost becomes
    the hottest list's size (probing a list reads the whole list).
    Production IVF systems re-balance instead of re-training: a list
    whose LIVE occupancy exceeds ``max_list_factor ×`` the per-cell
    mean is split in two by a deterministic hyperplane — rows are
    ordered by their projection onto ``direction`` (rounded to 6
    decimals, the engine's cross-engine-replay idiom) with vec_id as
    the tiebreak, the low half keeps the parent list id, the high half
    moves to a freshly allocated child id — and each half's centroid
    becomes its own mean (components rounded to 6, same idiom). The
    Annoy-style hyperplane split (random-projection median cut;
    Bernhardsson's annoy, public) is chosen over 2-means because it is
    deterministic, guarantees a balanced cut, and its membership rule
    is replayable in plain SQL — the registered
    ``vector_index_rebalance_stats`` query oracle-checks it end to end.

    PQ codes are computed from the raw vector subspaces, NOT from
    list-relative residuals (see :func:`_encode`), so a split moves a
    row's ``list_id`` and nothing else — no re-encode, the codes blob
    column is untouched.

    Membership semantics (the standard IVF property): after a split, a
    row's list is its SPLIT-RULE membership — not the global argmin
    under the updated quantizer, which only a full rebuild re-derives
    (exactly as a streamed append's membership is the argmin at INGEST
    time, never revisited). Serving is unchanged and exact w.r.t. its
    shortlist (stage 2 re-ranks true vectors); with ``n_probe`` = all
    lists the store's answer is pinned row-identical to the inline
    ``similarity.ivfpq_rerank_topk`` under the post-split quantizer —
    membership-independent, the correctness anchor
    (tests/test_vector_store.py).

    Semantics and protocol:

      * detection uses LIVE counts (:func:`vector_index_list_stats`);
        the split rule then partitions a hot list's PHYSICAL rows
        (tombstoned rows move with their list and stay tombstoned) —
        rebalance after big takedowns belongs AFTER the vacuum in the
        epoch order;
      * child ids are allocated ABOVE every id either the codes table
        or the centroid table has ever seen — a list id is never
        reused, so an in-flight append can never collide with a child;
      * commit order is centroids FIRST, then the codes rewrite
        (through ``io.compact_bucketed_table``'s crash-recoverable
        spec-preserving swap). At every intermediate state each
        ``list_id`` present in codes has a centroid row — rows stay
        reachable — and serving stays correct: a crash between the two
        commits leaves child cells that are merely EMPTY (a probe slot
        wasted on them until the replay completes, never a wrong row).
        A replay re-detects the same hot lists (codes are unchanged)
        and converges; it allocates fresh child ids above the crashed
        attempt's, leaving at most one benign empty quantizer cell per
        interrupted attempt (documented, like the vacuum's stale-
        tombstone window).

    Scale shape: detection is the key-only stats agg; the split plan
    touches ONLY hot lists' rows — the codes scan carries a literal
    IN-filter on the hot list ids that prunes at the parquet footer of
    the bucketed-sorted-by-list_id layout (the serve path's pruning),
    and the ledger join is Exchange-free on the bucketed store side;
    the one store-sized cost is the codes rewrite itself, which rides
    the SAME compact seam the vacuum pays (once-per-epoch maintenance,
    measured 2.6× at 100× on the bigger text stores). Returns a report
    dict: hot lists, per-split child ids and sizes, rewrite stats."""
    stats = vector_index_list_stats(spark, table_prefix).collect()
    cent_rows = spark.table(f"{table_prefix}_centroids").collect()
    n_cells = len(cent_rows)
    total_live = sum(int(r.n_live) for r in stats)
    hot = sorted(
        int(r.list_id)
        for r in stats
        if int(r.n_live) * n_cells > max_list_factor * total_live
    )
    report: dict = {"hot_lists": hot, "splits": {}, "total_live": total_live}
    if not hot:
        return report
    dim = len(cent_rows[0].centroid)
    if direction is None:
        direction = _hyperplane(dim, 0, seed="vec-rebalance")
    elif len(direction) != dim:
        # zip_with would silently truncate the projection to the
        # shorter operand — a wrong-dim direction must fail loud
        raise ValueError(
            f"direction has dim {len(direction)}, store has dim {dim}"
        )
    max_id = max(
        [int(r.list_id) for r in cent_rows] + [int(r.list_id) for r in stats]
    )
    children = {h: max_id + 1 + i for i, h in enumerate(hot)}
    codes_tbl, vecs_tbl = f"{table_prefix}_codes", f"{table_prefix}_vecs"
    spark.catalog.refreshTable(vecs_tbl)  # read-entry idiom (see load)
    hot_rows = (
        spark.table(codes_tbl)
        .where(F.col("list_id").isin(hot))
        .select("vec_id", "list_id")
        .join(spark.table(vecs_tbl), "vec_id")
    )
    w = Window.partitionBy("list_id").orderBy(F.asc("proj"), F.asc("vec_id"))
    wn = Window.partitionBy("list_id")
    child_col = F.col("list_id")  # fallback never hit: every row's list is hot
    for h in hot:
        child_col = F.when(
            F.col("list_id") == h, F.lit(children[h])
        ).otherwise(child_col)
    planned = (
        hot_rows.withColumn(
            "proj", F.round(F.expr(_dot_sql("`embedding`", direction)), 6)
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nn", F.count("*").over(wn))
        .select(
            "vec_id",
            "list_id",
            "embedding",
            F.when(2 * F.col("rn") <= F.col("nn") + 1, F.col("list_id"))
            .otherwise(child_col)
            .cast("int")
            .alias("tgt_list"),
        )
        .localCheckpoint()  # snapshot: both commits rewrite what this reads
    )
    moves = planned.where(F.col("tgt_list") != F.col("list_id")).select(
        "vec_id", F.col("tgt_list").alias("_new_list")
    )
    cent_new = (
        planned.select("tgt_list", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("tgt_list", "pos")
        .agg(F.avg("x").alias("av"))
        .groupBy("tgt_list")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "av"))).alias("pa"))
        .select(
            F.col("tgt_list").cast("int").alias("list_id"),
            F.expr("transform(pa, s -> round(s.av, 6))").alias("centroid"),
        )
        .collect()  # bounded: ≤ 2 × |hot lists| rows
    )
    sizes = {
        int(r.tgt_list): int(r.n)
        for r in planned.groupBy("tgt_list").agg(F.count("*").alias("n")).collect()
    }
    replaced = {int(r.list_id) for r in cent_new}
    rows_out = [
        (int(r.list_id), [float(x) for x in r.centroid])
        for r in cent_rows
        if int(r.list_id) not in replaced
    ] + [(int(r.list_id), [float(x) for x in r.centroid]) for r in cent_new]
    _overwrite_centroids(spark, table_prefix, sorted(rows_out))  # commit A
    compact_report = None
    if sizes.keys() - set(hot):  # any row actually moved
        from ..sources.io import compact_bucketed_table

        def remap(df: DataFrame) -> DataFrame:
            return (
                df.join(moves, "vec_id", "left")
                .withColumn(
                    "list_id",
                    F.coalesce(F.col("_new_list"), F.col("list_id")),
                )
                .drop("_new_list")
            )

        compact_report = compact_bucketed_table(
            spark, codes_tbl, transform=remap
        )  # commit B
    report["splits"] = {
        h: {
            "child": children[h],
            "kept": sizes.get(h, 0),
            "moved": sizes.get(children[h], 0),
        }
        for h in hot
    }
    report["codes_rewrite"] = compact_report
    return report
