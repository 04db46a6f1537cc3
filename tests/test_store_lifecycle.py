"""The lifecycle of every persisted store family in the default run, on
stores of at most 200 rows: remove → replay (the family's delete step
run by ``sink`` under foreachBatch) → restart heal → vacuum
crashed between fold and clear → (sink-fed stores: a full catalog loss)
→ re-ingest → vacuum; a near-dup takedown seen through the store's
reader; and a vector sink whose first batch crashed.

Each family is driven only through its public API; the tombstone
table's sidecar path and column types are pinned literally, so a store
written by an earlier build must heal to the same table."""

import warnings

import pytest
from pyspark.sql import functions as F

from nlp_with_pyspark_spark.sources import io as io_mod

N = 120
DEAD = [3, 10, 17, 44, 91]
NEVER_STORED = 10**9


def _location(spark, table):
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    return info["Location"].removeprefix("file:")


def _is_external(spark, table):
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    return info["Type"].strip().upper() == "EXTERNAL"


class _Posting:
    tomb_types = [("doc_id", "bigint")]
    report_keys = {"tombstones_folded", "postings", "docs"}
    # ingest reopens the store after a catalog loss (sink-fed stores)
    reopens = False

    def __init__(self, spark, tmp, sf_dir):
        from nlp_with_pyspark_spark.operators.search import (
            build_posting_index,
            persist_posting_index,
        )

        self.spark, self.prefix = spark, "t_lc_posting"
        self.path = f"{tmp}/bm"
        self.sidecar = f"{self.path}/postings__tombstones"
        # an int ledger id: tombstones stay bigint
        self.docs = spark.createDataFrame(
            [(i, [f"w{i % 7}", f"u{i}", "common"]) for i in range(N)],
            "doc_id int, tokens array<string>",
        )
        persist_posting_index(
            build_posting_index(self.docs), self.prefix, n_buckets=4, path=self.path
        )

    def remove(self, ids):
        from nlp_with_pyspark_spark.operators.search import remove_from_posting_index

        return remove_from_posting_index(self.spark, ids, self.prefix)

    def vacuum(self):
        from nlp_with_pyspark_spark.operators.search import vacuum_posting_index

        return vacuum_posting_index(self.spark, self.prefix)

    def delete_step(self):
        from nlp_with_pyspark_spark.streaming.sinks import search_index_delete_batch

        return search_index_delete_batch, "doc_id long", {"table_prefix": self.prefix}

    def live(self):
        from nlp_with_pyspark_spark.operators.search import load_posting_index

        return load_posting_index(self.spark, self.prefix).tombstones

    def ingest(self, ids):
        from nlp_with_pyspark_spark.operators.search import (
            append_to_posting_index,
            build_posting_index,
        )

        delta = self.docs.where(F.col("doc_id").isin(ids))
        append_to_posting_index(build_posting_index(delta), self.prefix)

    def served(self):
        from nlp_with_pyspark_spark.operators.search import load_posting_index

        idx = load_posting_index(self.spark, self.prefix)
        docs = idx.docs
        if idx.tombstones is not None:
            docs = docs.join(F.broadcast(idx.tombstones), "doc_id", "left_anti")
        ids = {r.doc_id for r in docs.collect()}
        # stats re-derive over the live ledger after every remove/vacuum
        assert idx.stats.first().n_docs == len(ids)
        return ids

    def tables(self):
        return [f"{self.prefix}_{s}" for s in ("postings", "docs", "stats", "tombstones")]


class _PostingSink(_Posting):
    """The posting index fed by the streaming sink's per-batch step."""

    reopens = True

    def __init__(self, spark, tmp, sf_dir):
        self.spark, self.prefix = spark, "t_lc_posting_sink"
        self.path = f"{tmp}/bms"
        self.sidecar = f"{self.path}/postings__tombstones"
        self.docs = spark.createDataFrame(
            [(i, [f"w{i % 7}", f"u{i}", "common"]) for i in range(N)],
            "doc_id int, tokens array<string>",
        )
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            self.ingest(list(range(N)))
        assert not [w for w in caught if issubclass(w.category, FutureWarning)], [
            str(w.message) for w in caught
        ]

    def ingest(self, ids):
        from nlp_with_pyspark_spark.streaming.sinks import search_index_upsert_batch

        search_index_upsert_batch(
            self.docs.where(F.col("doc_id").isin(ids)), self.path,
            table_prefix=self.prefix, n_buckets=4,
        )

    def served(self):
        ids = super().served()
        # the stats table stays the store's own dir, also after a reopen
        stats = f"{self.prefix}_stats"
        assert _is_external(self.spark, stats)
        assert _location(self.spark, stats) == f"{self.path}/stats"
        return ids


class _Vector:
    tomb_types = [("vec_id", "bigint")]
    report_keys = {"tombstones_folded", "codes", "vecs"}
    reopens = False

    def __init__(self, spark, tmp, sf_dir):
        from nlp_with_pyspark_spark.operators.similarity import pq_fixed_codebooks
        from nlp_with_pyspark_spark.operators.vector_store import persist_vector_index
        from nlp_with_pyspark_spark.sources.io import read_table

        self.spark, self.prefix = spark, "t_lc_vector"
        self.path = f"{tmp}/vec"
        self.sidecar = f"{self.path}/codes__tombstones"
        self.emb = (
            read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < N).localCheckpoint()
        )
        cent = [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in self.emb.where(F.col("vec_id") < 8).collect()
        ]
        persist_vector_index(
            self.emb, cent, pq_fixed_codebooks(), self.prefix, n_buckets=4, path=self.path
        )

    def remove(self, ids):
        from nlp_with_pyspark_spark.operators.vector_store import remove_from_vector_index

        return remove_from_vector_index(self.spark, ids, self.prefix)

    def vacuum(self):
        from nlp_with_pyspark_spark.operators.vector_store import vacuum_vector_index

        return vacuum_vector_index(self.spark, self.prefix)

    def delete_step(self):
        from nlp_with_pyspark_spark.streaming.sinks import vector_index_delete_batch

        return vector_index_delete_batch, "vec_id long", {"table_prefix": self.prefix}

    def live(self):
        from nlp_with_pyspark_spark.operators.vector_store import vector_index_tombstones

        return vector_index_tombstones(self.spark, self.prefix)

    def ingest(self, ids):
        from nlp_with_pyspark_spark.operators.vector_store import append_to_vector_index

        append_to_vector_index(self.emb.where(F.col("vec_id").isin(ids)), self.prefix)

    def served(self):
        from nlp_with_pyspark_spark.operators.vector_store import load_vector_index

        idx = load_vector_index(self.spark, self.prefix)
        vecs = idx.vecs
        if idx.tombstones is not None:
            vecs = vecs.join(F.broadcast(idx.tombstones), "vec_id", "left_anti")
        return {r.vec_id for r in vecs.collect()}

    def tables(self):
        return [
            f"{self.prefix}_{s}"
            for s in ("codes", "vecs", "centroids", "codebooks", "tombstones")
        ]


class _Neardup:
    """A near-dup survivor store fed by the sink's per-batch step, with an
    ``id int`` ledger column; every doc's content is its own, so no two
    stored docs are near-duplicates. ``served`` reads the store through
    ``load_neardup_index``, whose every table must serve exactly the
    live ledger."""

    # tombstones are `doc_id` with the docs table's `id` type
    tomb_types = [("doc_id", "int")]
    reopens = True
    family = "minhash"
    #: the sink's family options beyond ``hash_family``
    extra: dict = {}

    def __init__(self, spark, tmp, sf_dir):
        from nlp_with_pyspark_spark.operators.store import NEARDUP_INDEX

        self.spark, self.prefix = spark, f"t_lc_nd_{self.family}"
        self.path = f"{tmp}/nd"
        self.sidecar = f"{self.path}/docs__tombstones"
        self.suffixes = ("docs",) + tuple(s for s, _ in NEARDUP_INDEX[self.family])
        self.report_keys = {"tombstones_folded", *self.suffixes}
        self.opts = {"hash_family": self.family, **self.extra}
        self.docs = self.corpus(spark)
        self.ingest(list(range(N)))

    def corpus(self, spark):
        return spark.createDataFrame(
            [(i, [f"d{i}t{j}" for j in range(6)]) for i in range(N)],
            "id int, tokens array<string>",
        )

    def delta_pairs(self, batch, index):
        from nlp_with_pyspark_spark.operators.dedup import minhash_delta_pairs

        return minhash_delta_pairs(batch, index, id_col="id")

    def remove(self, ids):
        from nlp_with_pyspark_spark.operators.dedup import remove_from_neardup_store

        return remove_from_neardup_store(self.spark, ids, self.prefix, id_col="id")

    def vacuum(self):
        from nlp_with_pyspark_spark.operators.dedup import vacuum_neardup_store

        return vacuum_neardup_store(self.spark, self.prefix, self.family, id_col="id")

    def delete_step(self):
        from nlp_with_pyspark_spark.streaming.sinks import neardup_delete_batch

        return neardup_delete_batch, "id int", {"table_prefix": self.prefix, "id_col": "id"}

    def live(self):
        from nlp_with_pyspark_spark.operators.dedup import neardup_store_tombstones

        return neardup_store_tombstones(self.spark, self.prefix, id_col="id")

    def upsert(self, batch):
        from nlp_with_pyspark_spark.streaming.sinks import neardup_upsert_batch

        neardup_upsert_batch(
            batch, self.path, id_col="id", table_prefix=self.prefix, n_buckets=4,
            **self.opts,
        )

    def ingest(self, ids):
        self.upsert(self.docs.where(F.col("id").isin(ids)))

    def index(self):
        from nlp_with_pyspark_spark.operators.dedup import load_neardup_index

        return load_neardup_index(self.spark, self.prefix, self.family, id_col="id")

    def served(self):
        docs = f"{self.prefix}_docs"
        self.spark.catalog.refreshTable(docs)
        stored = {r.id for r in self.spark.table(docs).collect()}
        tombs = self.live()
        ids = stored - ({r.doc_id for r in tombs.collect()} if tombs is not None else set())
        for frame in self.index():
            assert {r[0] for r in frame.select(frame.columns[0]).collect()} == ids
        return ids

    def tables(self):
        return [f"{self.prefix}_{s}" for s in self.suffixes + ("tombstones",)]


class _NeardupSimhash(_Neardup):
    family = "simhash"
    extra = {"max_hamming": 3}

    def delta_pairs(self, batch, index):
        from nlp_with_pyspark_spark.operators.dedup import simhash_delta_pairs

        return simhash_delta_pairs(batch, index, id_col="id", max_hamming=3)


class _NeardupSemantic(_Neardup):
    """One-hot embeddings (pairwise cosine 0) under four block centroids."""

    family = "semantic"
    cents = [(c, [float(i // 30 == c) for i in range(N)]) for c in range(4)]
    extra = {"tokens_col": "embedding", "centroids": cents}

    def corpus(self, spark):
        return spark.createDataFrame(
            [(i, [float(i == j) for j in range(N)]) for i in range(N)],
            "id int, embedding array<float>",
        )

    def delta_pairs(self, batch, index):
        from nlp_with_pyspark_spark.operators.dedup import semantic_delta_pairs

        return semantic_delta_pairs(batch, index, self.cents, 0.7, id_col="id").select(
            "id_a", "id_b"
        )


class _Exact:
    tomb_types = [("event_id", "bigint")]
    report_keys = {"tombstones_folded", "store"}
    reopens = True

    def __init__(self, spark, tmp, sf_dir):
        self.spark, self.tmp, self.table = spark, tmp, "t_lc_exact"
        self.path = f"{tmp}/ex"
        self.sidecar = f"{self.path}__tombstones"
        self.n_ingest = 0
        self.ingest(list(range(N)))

    def remove(self, ids):
        from nlp_with_pyspark_spark.operators.dedup import remove_from_exact_dedup_store

        return remove_from_exact_dedup_store(self.spark, ids, self.table)

    def vacuum(self):
        from nlp_with_pyspark_spark.operators.dedup import vacuum_exact_dedup_store

        return vacuum_exact_dedup_store(self.spark, self.table)

    def delete_step(self):
        from nlp_with_pyspark_spark.streaming.sinks import dedup_store_delete_batch

        return dedup_store_delete_batch, "event_id long", {"table": self.table}

    def live(self):
        from nlp_with_pyspark_spark.operators.dedup import exact_dedup_store_tombstones

        return exact_dedup_store_tombstones(self.spark, self.table)

    def ingest(self, ids):
        from nlp_with_pyspark_spark.streaming.sinks import dedup_store_upsert_batch, sink

        self.n_ingest += 1
        src = f"{self.tmp}/src{self.n_ingest}"
        self.spark.createDataFrame(
            [(int(i), f"e{i}") for i in ids], "event_id long, payload string"
        ).coalesce(1).write.parquet(src)
        stream = self.spark.readStream.schema("event_id long, payload string").parquet(src)
        sink(
            stream, dedup_store_upsert_batch, f"{self.tmp}/ck{self.n_ingest}",
            store_path=self.path, table=self.table, n_buckets=4,
        )

    def served(self):
        from nlp_with_pyspark_spark.operators.dedup import load_exact_dedup_store

        return {r.event_id for r in load_exact_dedup_store(self.spark, self.table).collect()}

    def tables(self):
        return [self.table, f"{self.table}_tombstones"]


def _remove_through_sink(spark, store, ids, tmp):
    """Run the family's delete step on ``ids`` as one micro-batch of a
    stream through ``sink``; returns what the step returned per batch."""
    from nlp_with_pyspark_spark.streaming.sinks import sink

    step, ddl, opts = store.delete_step()
    src = f"{tmp}/takedown"
    spark.createDataFrame([(i,) for i in ids], ddl).coalesce(1).write.parquet(src)
    counts = []

    def recorded(batch_df, **kw):
        counts.append(step(batch_df, **kw))

    sink(spark.readStream.schema(ddl).parquet(src), recorded, f"{tmp}/takedown_ck", **opts)
    return counts


FAMILIES = {
    "posting": _Posting,
    "posting-sink": _PostingSink,
    "vector": _Vector,
    "neardup-minhash": _Neardup,
    "neardup-simhash": _NeardupSimhash,
    "neardup-semantic": _NeardupSemantic,
    "exact": _Exact,
}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_tombstone_lifecycle_matrix(spark, sf_dir, tmp_path, monkeypatch, family):
    store = FAMILIES[family](spark, str(tmp_path), sf_dir)
    tomb = store.tables()[-1]  # the tombstone table
    everything = set(range(N))
    try:
        assert store.served() == everything
        # remove returns n, then 0 on replay (the family's delete step
        # under foreachBatch); a never-stored id is ignored
        assert store.remove(DEAD) == len(DEAD)
        assert _remove_through_sink(spark, store, DEAD, str(tmp_path)) == [0]
        assert store.remove([NEVER_STORED]) == 0

        # restart: the catalog entry goes, the sidecar dir stays; the
        # next read heals the table at the pinned path and column types
        spark.sql(f"DROP TABLE {tomb}")
        assert sorted(r[0] for r in store.live().collect()) == DEAD
        assert _location(spark, tomb) == store.sidecar
        assert [
            (f.name, f.dataType.simpleString()) for f in spark.table(tomb).schema.fields
        ] == store.tomb_types
        assert store.served() == everything - set(DEAD)

        # a vacuum that dies between its fold and its clear
        real = io_mod.write_small_table

        def crash_at_clear(spark_, rows, ddl, table, path):
            if table == tomb:
                raise RuntimeError("simulated crash before the clear")
            return real(spark_, rows, ddl, table, path)

        monkeypatch.setattr(io_mod, "write_small_table", crash_at_clear)
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.vacuum()
        monkeypatch.setattr(io_mod, "write_small_table", real)
        assert sorted(r[0] for r in store.live().collect()) == DEAD

        if store.reopens:
            # restart: every catalog entry goes; the next batch reopens
            for t in store.tables():
                spark.sql(f"DROP TABLE {t}")
        # re-ingest of the folded ids: admitted, stale tombstones scrubbed
        store.ingest(DEAD)
        assert store.live() is None
        assert store.served() == everything

        # vacuum folds a new wave and empties the list
        assert store.remove(DEAD[:2]) == 2
        report = store.vacuum()
        assert set(report) == store.report_keys
        assert report["tombstones_folded"] == 2
        assert store.live() is None
        assert store.served() == everything - set(DEAD[:2])
    finally:
        for t in store.tables():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("family", [f for f in FAMILIES if f.startswith("neardup-")])
def test_neardup_takedown_matches_nothing(spark, sf_dir, tmp_path, family):
    """A taken-down doc matches nothing: through ``load_neardup_index``,
    a copy of stored doc X pairs with X until X is removed, then names
    no removed doc, and the sink admits the copy."""
    store = FAMILIES[family](spark, str(tmp_path), sf_dir)
    x, copy_id = DEAD[0], N
    copy = store.docs.where(F.col("id") == x).withColumn("id", F.lit(copy_id))

    def pairs():
        return sorted(tuple(r)[:2] for r in store.delta_pairs(copy, store.index()).collect())

    try:
        assert pairs() == [(x, copy_id)]
        assert store.remove([x]) == 1
        assert pairs() == []
        store.upsert(copy)
        assert store.served() == set(range(N + 1)) - {x}
    finally:
        for t in store.tables():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vector_sink_first_batch_crash_replays(spark, sf_dir, tmp_path, monkeypatch):
    """A vector sink whose FIRST batch dies before the quantizer tables
    are written replays to a store that serves every vector: the first
    batch commits through the same ledger-last append as later ones."""
    from nlp_with_pyspark_spark.operators.similarity import pq_fixed_codebooks
    from nlp_with_pyspark_spark.operators.vector_store import load_vector_index
    from nlp_with_pyspark_spark.sources.io import read_table
    from nlp_with_pyspark_spark.streaming.sinks import vector_index_upsert_batch

    prefix, path = "t_lc_vec_boot", f"{tmp_path}/vb"
    emb = read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < N).localCheckpoint()
    cent = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]
    real = io_mod.write_small_table

    def crash_at_centroids(spark_, rows, ddl, table, p):
        if table.endswith("_centroids"):
            raise RuntimeError("simulated crash before the centroids")
        return real(spark_, rows, ddl, table, p)

    def upsert():
        return vector_index_upsert_batch(
            emb, path, cent, pq_fixed_codebooks(), table_prefix=prefix, n_buckets=4
        )

    try:
        monkeypatch.setattr(io_mod, "write_small_table", crash_at_centroids)
        with pytest.raises(RuntimeError, match="simulated crash"):
            upsert()
        monkeypatch.setattr(io_mod, "write_small_table", real)
        assert upsert() == N
        idx = load_vector_index(spark, prefix)
        assert {r.vec_id for r in idx.vecs.collect()} == set(range(N))
        # one codes row per vector: the replay cancelled the crashed rows
        assert sorted(r.vec_id for r in idx.codes.collect()) == list(range(N))
        assert upsert() == 0
    finally:
        for s in ("codes", "vecs", "centroids", "codebooks", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")
