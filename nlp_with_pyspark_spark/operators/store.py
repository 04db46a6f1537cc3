"""The lifecycle every persisted store family shares — posting index,
IVF-PQ vector store, near-dup survivor stores, exact-dedup store: one
append protocol and one tombstone protocol. A family differs only in
its table names, bucket columns and key columns, which a
:class:`StoreSpec` binds; its own delta builders, derived refreshes and
serve code live in its module.

Every store is a set of bucketed catalog tables with data under one
store dir: one or more INDEX tables, and a LEDGER table holding every
stored key (posting ``docs``, vector ``vecs``, near-dup ``docs``, the
exact store's one table). Small plain SIDE tables ride along (posting
``stats``, vector ``centroids``/``codebooks``). Local-filesystem stores
only (probes are ``os.path``); a non-local store pairs with a live
metastore whose catalog entries survive restarts.

Append — ``open`` → ``admit`` → ``commit`` → ``compact``:

* :func:`open` resolves half-finished compaction swaps, re-registers
  every bucketed table from its ``_BUCKET_SPEC`` sidecar and every side
  table from its parquet dir, and heals the tombstone table. The
  catalog is per-session, the dirs are not: a store whose tables are
  not registered must be re-registered, never read as "first batch".
* :func:`admit` drops in-batch duplicates, anti-joins the batch against
  the ledger's keys (the ledger is bucketed by its key, so its side of
  the join crosses no Exchange; only the O(batch) side shuffles), pins
  the delta once, and scrubs stale tombstones of the admitted keys
  (below). A replayed batch admits nothing.
* :func:`commit` writes the index tables (``append.index``) and the
  side tables, and the ledger LAST (``append.ledger``, the commit
  point). The family then refreshes what it derives from the
  committed ledger (``append.derived``: the posting stats). A table is
  created with ``write_bucketed`` when absent and appended with
  ``append_to_bucketed_table`` otherwise, so the first batch runs the
  same code path as every later one. The ledger goes last on the
  first batch too: "the ledger exists" is what makes the next batch's
  guard drop committed keys, so an index or side table written before a
  crash is simply re-used by the replay, never a half-built store the
  replay cannot open. A crash before the ledger
  leaves index rows for keys absent from the ledger; the replay
  re-admits those keys, and each family's idempotent append cancels
  the stale index rows (recomputation is deterministic and its index
  rows are row-identifying), so no duplicate index row is ever stored.
* :func:`compact` rewrites any table past ``threshold`` files through
  ``io.compact_bucketed_table`` (``compact.swap``, spec-preserving and
  crash-recoverable by the next :func:`open`).

Delete — the LSM pattern. A takedown appends the dead keys to a
``*_tombstones`` table; readers exclude them with a broadcast anti-join
on a candidate-sized frame, and a periodic vacuum folds them into a
physical rewrite of the store tables and clears the list, so the list
stays broadcast-small and scan cost tracks live data. On disk the list
lives in a ``<anchor data dir>__tombstones`` sidecar dir, so it shares
the store's lifecycle whether the store is external or
warehouse-managed; :func:`heal` re-registers the table over the
surviving dir (schema declared, not inferred — a post-vacuum empty dir
has no footer) before every operation, so a fresh session never
serves, or lets suppress near-duplicates, a taken-down row.

Commit points and crash windows of the delete half:

* :func:`remove` drops keys the ledger never held and keys already
  tombstoned, then appends the rest in ONE bounded job
  (``io.append_ids_table``; a contract-violating corpus-sized frame
  degrades to the distributed append). The append is the commit
  point, and a replay after a crash appends nothing.
* :func:`vacuum` folds first and clears second. Each store table's
  rewrite is a spec-preserving staged swap
  (``io.compact_bucketed_tables``, individually crash-recoverable);
  the clear is a driver-side ``write_small_table`` of zero rows. The
  reverse order could serve taken-down rows after a crash between the
  two. A crash between fold and clear leaves tombstones whose rows are
  already gone: readers subtract nothing, and a replayed vacuum
  completes the clear.
* That window has one real hazard: the fold removed the key from the
  ledger, so an ingest may re-admit it while its stale tombstone still
  shadows it — the re-ingested row would be invisible to readers and
  folded out again by the next vacuum. Live tombstones are always in
  the ledger and never admitted, so an ADMITTED key with a tombstone
  row can only be that stale row. That is why :func:`scrub` runs inside
  :func:`admit`, before any data write: every ingest path admits, so
  none can skip it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


@dataclass(frozen=True)
class StoreSpec:
    """One store family's layout.

    ``tombstones``: the tombstone table. ``anchor``: the table whose data
    dir hosts the ``<dir>__tombstones`` sidecar; :func:`heal` runs only
    while it exists. ``ledger``: the table holding every stored key.
    ``keys``: ``(ledger column, tombstone column)`` pairs. ``types``: the
    tombstone column types, or ``None`` to read the ledger's. ``folds``:
    ``(table, key columns, report label)`` per table a vacuum rewrites,
    key columns matching the tombstone columns by position. ``tables``:
    ``(table, bucket column, data sub-dir)`` per bucketed table, index
    tables first and the ledger last (sub-dir ``""`` is the store dir
    itself). ``sides``: ``(table, data sub-dir)`` per plain side
    table."""

    tombstones: str
    anchor: str
    ledger: str
    keys: tuple[tuple[str, str], ...]
    types: tuple[str, ...] | None
    folds: tuple[tuple[str, tuple[str, ...], str], ...]
    tables: tuple[tuple[str, str, str], ...]
    sides: tuple[tuple[str, str], ...]


def posting(table_prefix: str) -> StoreSpec:
    p = table_prefix
    return StoreSpec(
        f"{p}_tombstones", f"{p}_postings", f"{p}_docs", (("doc_id", "doc_id"),),
        ("bigint",),
        ((f"{p}_postings", ("doc_id",), "postings"), (f"{p}_docs", ("doc_id",), "docs")),
        ((f"{p}_postings", "word", "postings"), (f"{p}_docs", "doc_id", "docs")),
        ((f"{p}_stats", "stats"),),
    )


def vector(table_prefix: str) -> StoreSpec:
    p = table_prefix
    return StoreSpec(
        f"{p}_tombstones", f"{p}_codes", f"{p}_vecs", (("vec_id", "vec_id"),),
        ("bigint",),
        ((f"{p}_codes", ("vec_id",), "codes"), (f"{p}_vecs", ("vec_id",), "vecs")),
        ((f"{p}_codes", "list_id", "codes"), (f"{p}_vecs", "vec_id", "vecs")),
        ((f"{p}_centroids", "centroids"), (f"{p}_codebooks", "codebooks")),
    )


#: near-dup hash family → its (keys, features) index tables, each as
#: (table suffix = data sub-dir, bucket column); every one carries doc_id
NEARDUP_INDEX = {
    "minhash": (("buckets", "band_hash"), ("shingles", "doc_id")),
    "simhash": (("keys", "band_hash"), ("fingerprints", "doc_id")),
    "semantic": (("keys", "band_hash"), ("assigned", "list_id")),
}


def neardup(
    table_prefix: str, id_col: str = "doc_id", hash_family: str | None = None
) -> StoreSpec:
    """Survivor store: tombstones are ``doc_id`` with the docs table's
    ``id_col`` type. With ``hash_family`` the spec also binds that
    family's index tables (keyed by ``doc_id``, folded after the docs
    table); without it, only the docs ledger (enough for the delete
    half)."""
    if hash_family is not None and hash_family not in NEARDUP_INDEX:
        raise ValueError(
            f"unknown hash_family {hash_family!r} (minhash | simhash | semantic)"
        )
    p = table_prefix
    docs = f"{p}_docs"
    index = NEARDUP_INDEX[hash_family] if hash_family is not None else ()
    return StoreSpec(
        f"{p}_tombstones", docs, docs, ((id_col, "doc_id"),), None,
        ((docs, (id_col,), "docs"),) + tuple((f"{p}_{s}", ("doc_id",), s) for s, _ in index),
        tuple((f"{p}_{s}", col, s) for s, col in index) + ((docs, id_col, "docs"),),
        (),
    )


def exact(table: str, key_cols: tuple[str, ...]) -> StoreSpec:
    key_cols = tuple(key_cols)
    return StoreSpec(
        f"{table}_tombstones", table, table, tuple((k, k) for k in key_cols), None,
        ((table, key_cols, "store"),),
        ((table, key_cols[0], ""),),
        (),
    )


def _dir(path: str | None, sub: str) -> str | None:
    return None if path is None else (f"{path}/{sub}" if sub else path)


def _table_path_if_external(spark: SparkSession, table: str) -> str | None:
    """Data path of ``table`` when it is EXTERNAL, else None. Maintenance
    overwrites must carry this path through ``option('path', ...)``: a
    bare ``mode('overwrite').saveAsTable`` DROPS an external table and
    recreates it MANAGED at the warehouse (verified on pyspark 4.1.2),
    orphaning the on-disk store dir — a path-addressed store would
    silently stop reflecting committed state, and the next session's
    heal would resurrect the orphaned ids as live tombstones."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r.col_name: r.data_type for r in rows}
    if info.get("Type", "").strip().upper() != "EXTERNAL":
        return None
    loc = info["Location"]
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _sidecar(spark: SparkSession, spec: StoreSpec) -> str:
    from ..sources.io import table_bucket_spec

    return table_bucket_spec(spark, spec.anchor)[2].rstrip("/") + "__tombstones"


def _columns(spark: SparkSession, spec: StoreSpec) -> list[tuple[str, str]]:
    """``(tombstone column, SQL type)`` pairs. Types read from the ledger
    must match it exactly, or the exclusion joins would insert casts
    that defeat bucket pruning."""
    if spec.types is not None:
        return [(t, typ) for (_, t), typ in zip(spec.keys, spec.types)]
    fields = {f.name: f.dataType.simpleString() for f in spark.table(spec.ledger).schema.fields}
    missing = [c for c, _ in spec.keys if c not in fields]
    if missing:
        raise ValueError(
            f"{spec.ledger} has no key column(s) {missing}; pass the key "
            "columns the store was built with"
        )
    return [(t, fields[c]) for c, t in spec.keys]


def _ddl(cols: list[tuple[str, str]]) -> str:
    return ", ".join(f"`{c}` {typ}" for c, typ in cols)


def heal(spark: SparkSession, spec: StoreSpec) -> bool:
    """Re-register the tombstone table over its surviving sidecar dir
    after a session restart. No-op when the table is live or the store
    was never deleted into. Returns True if the table exists after the
    call."""
    if spark.catalog.tableExists(spec.tombstones):
        return True
    if not spark.catalog.tableExists(spec.anchor):
        return False
    path = _sidecar(spark, spec)
    if not os.path.isdir(path):
        return False
    spark.sql(
        f"CREATE TABLE {spec.tombstones} ({_ddl(_columns(spark, spec))}) "
        f"USING parquet LOCATION '{path}'"
    )
    return True


def table(spark: SparkSession, spec: StoreSpec) -> DataFrame | None:
    """The healed, refreshed tombstone table, or ``None`` when the store
    has none."""
    if not heal(spark, spec):
        return None
    spark.catalog.refreshTable(spec.tombstones)
    return spark.table(spec.tombstones)


def live(spark: SparkSession, spec: StoreSpec) -> DataFrame | None:
    """The live tombstone list, or ``None`` when it is empty — checked
    ONCE per load, so a never-deleted-into or freshly vacuumed store
    keeps its pre-delete plan shape, no anti-join added."""
    tombs = table(spark, spec)
    return None if tombs is None or tombs.isEmpty() else tombs


def remove(spark: SparkSession, spec: StoreSpec, ids) -> int:
    """Tombstone ``ids`` — a DataFrame carrying the ledger's key columns
    (else taken by position), or, for a one-key store, any iterable of
    key values. Keys the ledger never held and keys already tombstoned
    are ignored. Returns the number of NEWLY tombstoned keys."""
    if not spark.catalog.tableExists(spec.ledger):
        raise ValueError(
            f"{spec.ledger} not found: takedowns need the store's ledger — "
            "build the store first"
        )
    cols = _columns(spark, spec)
    ledger_cols = [c for c, _ in spec.keys]
    if not isinstance(ids, DataFrame):
        if len(cols) != 1:
            raise ValueError(
                "iterable keys only supported for single-column stores; "
                f"pass a DataFrame carrying {tuple(ledger_cols)!r}"
            )
        cast = int if cols[0][1] in _INTEGRAL else (lambda k: k)
        ids = spark.createDataFrame([(cast(k),) for k in ids], _ddl(cols))
    src = ledger_cols if set(ledger_cols) <= set(ids.columns) else ids.columns[: len(cols)]
    ids = ids.select(*[F.col(s).cast(typ).alias(t) for s, (t, typ) in zip(src, cols)])
    tomb_cols = [t for t, _ in cols]
    spark.catalog.refreshTable(spec.ledger)
    stored = spark.table(spec.ledger).select(*[F.col(c).alias(t) for c, t in spec.keys])
    fresh = ids.distinct().join(stored, tomb_cols, "left_semi")
    tombs = table(spark, spec)
    if tombs is not None:
        fresh = fresh.join(F.broadcast(tombs), tomb_cols, "left_anti")
    from ..sources.io import append_ids_table

    return append_ids_table(
        spark, fresh, _ddl(cols), spec.tombstones, _sidecar(spark, spec)
    )


def scrub(
    spark: SparkSession, spec: StoreSpec, admitted: DataFrame, tombs: DataFrame | None
) -> bool:
    """Drop stale tombstone rows for keys an append is about to admit
    (the fold-then-crash window above). ``admitted``: a broadcast frame
    of the admitted keys in the tombstone columns; ``tombs``: the
    tombstone frame the caller already holds, or ``None``. Runs before
    the data append. Returns True if the table was rewritten."""
    if tombs is None:
        return False
    on = [t for _, t in spec.keys]
    if tombs.join(admitted, on, "left_semi").isEmpty():
        return False
    # materialized first: the rewrite overwrites the table it reads
    writer = (
        tombs.join(admitted, on, "left_anti")
        .localCheckpoint()
        .write.mode("overwrite")
        .format("parquet")
    )
    path = _table_path_if_external(spark, spec.tombstones)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(spec.tombstones)
    return True


def vacuum(spark: SparkSession, spec: StoreSpec) -> dict:
    """Fold the tombstoned keys out of every table in ``spec.folds``,
    then clear the list. Returns ``tombstones_folded`` plus each folded
    table's rewrite report under its label."""
    from ..sources.io import compact_bucketed_tables, write_small_table

    dead = table(spark, spec)
    if dead is None:
        return {"tombstones_folded": 0}
    # no checkpoint: `dead` is only consumed by the folds, all of which
    # commit BEFORE the clear rewrites the table it reads
    n_dead = dead.count()
    report: dict = {"tombstones_folded": n_dead}
    if n_dead:
        tomb_cols = [t for _, t in spec.keys]

        def drop(cols: tuple[str, ...]) -> Callable[[DataFrame], DataFrame]:
            keys = dead if list(cols) == tomb_cols else dead.toDF(*cols)
            return lambda df: df.join(F.broadcast(keys), list(cols), "left_anti")

        # absent index tables (a store whose batches never produced
        # index rows) have nothing to fold; the rewrites are independent
        # — overlapped (§2.6)
        folds = [f for f in spec.folds if spark.catalog.tableExists(f[0])]
        reps = compact_bucketed_tables(spark, {t: drop(c) for t, c, _ in folds})
        report.update({label: reps[t] for t, _, label in folds})
    write_small_table(
        spark, [], _ddl(_columns(spark, spec)), spec.tombstones,
        _table_path_if_external(spark, spec.tombstones),
    )
    return report


def delete_batch(
    spark: SparkSession,
    spec: StoreSpec,
    threshold: int | None,
    remove_fn: Callable[[], int],
    vacuum_fn: Callable[[], dict],
) -> int:
    """One streaming takedown step: ``remove_fn()`` (the family's
    :func:`remove`), then — when a ``threshold`` is set — one ``count``
    of the tombstone list and ``vacuum_fn()`` (its :func:`vacuum`) once
    the list has reached the threshold: the LSM maintenance cadence
    that keeps the list broadcast-small under an unbounded delete
    stream. Idempotence comes from the remove itself, so a foreachBatch
    replay adds nothing; a crash between the remove and the vacuum is
    safe, the next batch re-triggers it. Returns the number of newly
    tombstoned keys."""
    n_new = remove_fn()
    if threshold is not None:
        tombs = table(spark, spec)
        if tombs is not None and tombs.count() >= threshold:
            vacuum_fn()
    return n_new


def open(spark: SparkSession, spec: StoreSpec, path: str, n_buckets: int) -> None:
    """Make the store at ``path`` readable in this session: resolve any
    half-finished compaction swap, re-register each bucketed table from
    its ``_BUCKET_SPEC`` sidecar (``n_buckets`` and the spec's bucket
    column are only the fallback for a sidecar-less dir) and each side
    table from its parquet dir, then heal the tombstone table. No-op for
    every entry that is already live."""
    from ..sources.io import (
        parquet_data_files,
        read_bucket_spec_sidecar,
        recover_compact_swap,
        register_bucketed_table,
    )

    for name, col, sub in spec.tables:
        d = _dir(path, sub)
        recover_compact_swap(d)
        col, n = read_bucket_spec_sidecar(d) or (col, n_buckets)
        register_bucketed_table(spark, name, col, n, d)
    for name, sub in spec.sides:
        d = _dir(path, sub)
        if not spark.catalog.tableExists(name) and parquet_data_files(d):
            spark.catalog.createTable(name, path=d, source="parquet")
    heal(spark, spec)


def admit(
    spark: SparkSession, spec: StoreSpec, batch: DataFrame
) -> tuple[DataFrame, DataFrame | None]:
    """The batch's rows whose keys the ledger does not hold, one row per
    key, pinned once (``localCheckpoint``), with stale tombstones of the
    admitted keys scrubbed. Returns ``(delta, live tombstones or None)``.

    Every bucketed table is refreshed first: a streaming sink's
    foreachBatch writes through a CLONED SparkSession, whose cache
    invalidation never reaches the caller's cached file listing."""
    for name, _, _ in spec.tables:
        if spark.catalog.tableExists(name):
            spark.catalog.refreshTable(name)
    keys = [c for c, _ in spec.keys]
    delta = batch.dropDuplicates(keys)
    if spark.catalog.tableExists(spec.ledger):
        delta = delta.join(spark.table(spec.ledger).select(*keys), keys, "left_anti")
    delta = delta.localCheckpoint()
    tombs = live(spark, spec)
    if tombs is not None:
        admitted = F.broadcast(delta.select(*[F.col(c).alias(t) for c, t in spec.keys]))
        if scrub(spark, spec, admitted, tombs):
            tombs = live(spark, spec)
    return delta, tombs


def commit(
    spark: SparkSession,
    spec: StoreSpec,
    path: str | None,
    n_buckets: int | None,
    frames: dict[str, DataFrame],
    sides: dict[str, tuple[list, str]] | None = None,
) -> None:
    """Write ``frames`` (table → rows to add) into the bucketed tables:
    the index tables first (overlapped — they are independent), then
    ``sides`` (side table → ``(rows, DDL)``, overwritten driver-side),
    then the ledger, the commit point. Absent tables are created under
    ``path`` with ``n_buckets``; present ones keep their spec."""
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.io import append_to_bucketed_table, write_bucketed, write_small_table

    layout = {name: (col, sub) for name, col, sub in spec.tables}

    def put(name: str) -> None:
        if spark.catalog.tableExists(name):
            append_to_bucketed_table(frames[name], name)
        else:
            col, sub = layout[name]
            write_bucketed(frames[name], name, col, n_buckets, path=_dir(path, sub))

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(put, t) for t in frames if t != spec.ledger]:
            f.result()
    side_dirs = dict(spec.sides)
    for name, (rows, ddl) in (sides or {}).items():
        write_small_table(spark, rows, ddl, name, _dir(path, side_dirs[name]))
    put(spec.ledger)


def compact(spark: SparkSession, spec: StoreSpec, threshold: int | None) -> None:
    """Compact every bucketed table holding more than ``threshold``
    parquet files (no-op for ``None``): appends add one file set per
    batch."""
    if threshold is None:
        return
    from ..sources.io import compact_bucketed_table, parquet_file_count, table_bucket_spec

    for name, _, _ in spec.tables:
        if parquet_file_count(table_bucket_spec(spark, name)[2]) > threshold:
            compact_bucketed_table(spark, name)
