"""The benchmark's workloads: ``maintain`` and ``train``.

Each workload is a closed loop with one client: the next operation is
sent only after the previous one returned. A workload object has four
phases, driven by ``run.py``:

* ``setup()``   generate the inputs, build stores or features, warm up;
* ``step(op)``  one timed operation, recording its latency (also when
                it raises);
* ``check()``   correctness checks outside the timed region; returns the
                ids of operations whose output was wrong;
* ``metrics()`` ``op_p50_s`` and ``build_s`` (see README.md).

``build_s`` is timed after untimed, cold builds of the same code: the
first builds pay for class loading, code generation and JIT
compilation, which swing too much from run to run to be compared (they
stay in ``setup_s``).

``detail`` holds the raw samples and sizes for the stderr summary.

Every engine call goes through ``self.call`` so it gets a span named
``<module>.<function>`` (see layers.TRACED_CALLS).
"""

from __future__ import annotations

import math
import os
import statistics
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import gen

from nlp_with_pyspark_spark.functions import tokens_pipeline
from nlp_with_pyspark_spark.ml import gd
from nlp_with_pyspark_spark.operators import dedup, features, search, similarity, vector_store, vocab
from nlp_with_pyspark_spark.sources.io import ensure_parallelism, read_table
from nlp_with_pyspark_spark.streaming import sinks

BM25_K = 10
ANN_K, ANN_SHORTLIST, ANN_PROBES = 10, 50, 3
#: vectors in one ANN query batch
ANN_BATCH = 4
#: the IVF quantizer: the first N_LISTS vectors of the table (the
#: engine's maintained-ANN convention), with fixed PQ codebooks
N_LISTS = 8
N_BUCKETS = 8


def tokenized(spark, data_dir: str):
    docs = ensure_parallelism(read_table(spark, data_dir, "documents"))
    return docs.withColumn("tokens", tokens_pipeline(F.col("text")))


def dir_stats(paths: list[str]) -> tuple[int, dict[str, int]]:
    """(bytes on disk, parquet data files per table dir) under ``paths``."""
    total, per = 0, {}
    for top in paths:
        for root, _, names in os.walk(top):
            for n in names:
                total += os.path.getsize(os.path.join(root, n))
                if n.endswith(".parquet"):
                    table = "/".join(os.path.relpath(root, os.path.dirname(top)).split(os.sep)[:2])
                    per[table] = per.get(table, 0) + 1
    return total, per


class Workload:
    name = ""

    def __init__(self, spark, tracer, workdir: str, seed: int) -> None:
        self.spark, self.tracer, self.workdir, self.seed = spark, tracer, workdir, seed
        self.samples: list[float] = []
        self.detail: dict = {}

    @contextmanager
    def timed(self, name: str, op: int, per: int = 1):
        """Span one operation and record its wall time ÷ ``per``, also when
        it raises, so a run whose every operation failed still reports."""
        try:
            with self.tracer.span(name, op) as s:
                yield
        finally:
            self.samples.append(s["wall"] / per)

    def metrics(self) -> dict:
        return {"op_p50_s": statistics.median(self.samples), "build_s": self.build_s}

    def call(self, name: str, fn, *args, **kw):
        with self.tracer.span(name):
            return fn(*args, **kw)

    def store_stats(self) -> tuple[int, float]:
        """(parquet files in the stores, store bytes per live document)."""
        return 0, 0.0


class Maintain(Workload):
    """Maintenance cycles on three persisted stores built in set-up from a
    base split of the corpus: a BM25 posting index, an IVF-PQ vector
    store and a near-duplicate survivor store. One operation is one
    cycle: ingest a batch into all three stores, take a wave of live
    documents down from all three through the engine's delete sinks,
    then serve one BM25 and one ANN query while the tombstones and
    un-compacted files are live.

    Vacuum follows the delete sinks' own cadence: a store is vacuumed
    inside its delete sink once its tombstone list reaches
    ``VACUUM_TOMBSTONES``. Set-up warms every path up on small cold
    stores: it builds them, takes down a wave that large, so that every
    store vacuums once, and serves. It then builds the timed stores from
    the base split; their timed waves reach the threshold on every
    ``VACUUM_TOMBSTONES // WAVE_DOCS``-th cycle. The batch, wave, query
    and threshold sizes are a chosen mix, not one taken from measured
    traffic (see README.md)."""

    name = "maintain"
    #: documents (and vectors) generated; the first BASE_DOCS of a seeded
    #: order are built into the stores, the rest wait to be ingested, so
    #: even a much faster engine does not run out of batches in a run
    N_DOCS, BASE_DOCS = 6000, 1500
    #: documents (and vectors) of the base split in the cold warm-up stores
    COLD_DOCS = 200
    BATCH_DOCS = 100
    #: documents (and vectors) taken down per cycle: ~1% of the base split
    WAVE_DOCS = 16
    #: the delete sinks' vacuum threshold: four waves of tombstones
    VACUUM_TOMBSTONES = 4 * WAVE_DOCS
    STEPS = ("ingest", "takedown", "serve")

    def setup(self) -> None:
        spark = self.spark
        data = gen.build_inputs(self.workdir, self.seed, self.N_DOCS, 1, self.N_DOCS)
        self.docs = tokenized(spark, data).select("doc_id", "lang", "n_chars", "tokens").localCheckpoint()
        self.emb = read_table(spark, data, "embeddings").localCheckpoint()
        rows = self.emb.where(F.col("vec_id") < N_LISTS).select("vec_id", "embedding").collect()
        self.centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]
        self.codebooks = similarity.pq_fixed_codebooks()

        rng = np.random.default_rng([self.seed, 3])
        n_base = self.BASE_DOCS
        docs = [int(x) for x in rng.permutation(self.N_DOCS)]
        # the quantizer's vectors stay in the base split and are never taken down
        vecs = list(range(N_LISTS)) + [N_LISTS + int(x) for x in rng.permutation(self.N_DOCS - N_LISTS)]
        self.pending_docs, self.pending_vecs = docs[n_base:], vecs[n_base:]

        # warm-up, untimed: small cold stores, a wave that trips every
        # store's vacuum, and one serve
        self.live_docs, self.live_vecs = set(docs[: self.COLD_DOCS]), set(vecs[: self.COLD_DOCS])
        with self.tracer.span("maintain.build_cold"):
            self.build(0)
        self.load_vocab()
        self.answers: list[tuple] = []
        with self.tracer.span("maintain.vacuum_wave"):
            self.takedown(-1, self.VACUUM_TOMBSTONES)
        if any(self.tombstones()):
            raise RuntimeError(f"the warm-up wave left tombstones {self.tombstones()}: no vacuum ran")
        self.serve(-1)
        self.answers = []

        self.live_docs, self.live_vecs = set(docs[:n_base]), set(vecs[:n_base])
        with self.tracer.span("maintain.build") as s:
            self.build(1)
        self.build_s = s["wall"]
        self.load_vocab()

    def build(self, i: int) -> None:
        """Build the three stores from the live documents into tables and
        dirs of their own; the workload goes on with the last ones."""
        self.prefix = {k: f"mt{i}_{k}" for k in ("bm", "vec", "nd")}
        self.root = {k: f"{self.workdir}/store{i}_{k}" for k in ("bm", "vec", "nd")}
        base = self.doc_frame(self.live_docs)
        self.call(
            "sinks.search_index_upsert_batch", sinks.search_index_upsert_batch,
            base, self.root["bm"], table_prefix=self.prefix["bm"], n_buckets=N_BUCKETS,
        )
        self.call(
            "vector_store.persist_vector_index", vector_store.persist_vector_index,
            self.vec_frame(self.live_vecs), self.centroids, self.codebooks, self.prefix["vec"],
            n_buckets=N_BUCKETS, path=self.root["vec"],
        )
        self.call(
            "sinks.neardup_upsert_batch", sinks.neardup_upsert_batch,
            base, self.root["nd"], threshold=0.2, table_prefix=self.prefix["nd"], n_buckets=N_BUCKETS,
        )

    def load_vocab(self) -> None:
        """BM25 query terms are Zipf-drawn over the index vocabulary ranked
        by document frequency."""
        self.vocab = [
            r.word
            for r in self.spark.table(f"{self.prefix['bm']}_postings").groupBy("word").count()
            .orderBy(F.desc("count"), "word").collect()
        ]
        p = 1.0 / np.arange(1, len(self.vocab) + 1) ** 1.1
        self.zipf = p / p.sum()

    def tombstones(self) -> list[int]:
        """Live tombstones in the posting index, vector store and near-dup store."""
        spark, out = self.spark, []
        bm = f"{self.prefix['bm']}_tombstones"
        if spark.catalog.tableExists(bm):
            spark.catalog.refreshTable(bm)
            out.append(spark.table(bm).count())
        for t in (vector_store.vector_index_tombstones(spark, self.prefix["vec"]),
                  dedup.neardup_store_tombstones(spark, self.prefix["nd"])):
            out.append(0 if t is None else t.count())
        return out

    def doc_frame(self, ids):
        ids_df = self.spark.createDataFrame([(int(i),) for i in sorted(ids)], "doc_id long")
        return self.docs.join(F.broadcast(ids_df), "doc_id", "left_semi")

    def vec_frame(self, ids):
        ids_df = self.spark.createDataFrame([(int(i),) for i in sorted(ids)], "vec_id long")
        return self.emb.join(F.broadcast(ids_df), "vec_id", "left_semi")

    def rng(self, op: int, stream: int):
        return np.random.default_rng([self.seed, stream, op < 0, abs(op)])

    def step(self, op: int) -> None:
        with self.timed("maintain.cycle", op):
            for kind in self.STEPS:
                with self.tracer.span(f"maintain.{kind}"):
                    getattr(self, kind)(op)

    def ingest(self, op: int) -> None:
        d, self.pending_docs = self.pending_docs[: self.BATCH_DOCS], self.pending_docs[self.BATCH_DOCS :]
        v, self.pending_vecs = self.pending_vecs[: self.BATCH_DOCS], self.pending_vecs[self.BATCH_DOCS :]
        if not d:
            raise RuntimeError("maintain ran out of documents to ingest")
        batch = self.doc_frame(d)
        self.call(
            "sinks.search_index_upsert_batch", sinks.search_index_upsert_batch,
            batch, self.root["bm"], table_prefix=self.prefix["bm"], n_buckets=N_BUCKETS,
        )
        self.call(
            "vector_store.append_to_vector_index", vector_store.append_to_vector_index,
            self.vec_frame(v), self.prefix["vec"],
        )
        self.call(
            "sinks.neardup_upsert_batch", sinks.neardup_upsert_batch,
            batch, self.root["nd"], threshold=0.2, table_prefix=self.prefix["nd"], n_buckets=N_BUCKETS,
        )
        self.live_docs.update(d)
        self.live_vecs.update(v)

    def takedown(self, op: int, n: int = WAVE_DOCS) -> None:
        rng = self.rng(op, 11)
        d = [int(x) for x in rng.choice(sorted(self.live_docs), size=n, replace=False)]
        v = [int(x) for x in rng.choice(sorted(self.live_vecs - set(range(N_LISTS))), size=n, replace=False)]
        ids = self.spark.createDataFrame([(i,) for i in d], "doc_id long")
        vids = self.spark.createDataFrame([(i,) for i in v], "vec_id long")
        every = self.VACUUM_TOMBSTONES
        self.call(
            "sinks.search_index_delete_batch", sinks.search_index_delete_batch,
            ids, self.prefix["bm"], vacuum_threshold_tombstones=every,
        )
        self.call(
            "sinks.vector_index_delete_batch", sinks.vector_index_delete_batch,
            vids, self.prefix["vec"], vacuum_threshold_tombstones=every,
        )
        self.call(
            "sinks.neardup_delete_batch", sinks.neardup_delete_batch,
            ids, self.prefix["nd"], vacuum_threshold_tombstones=every,
        )
        self.live_docs.difference_update(d)
        self.live_vecs.difference_update(v)

    def serve(self, op: int) -> None:
        rng = self.rng(op, 7)
        terms = [self.vocab[i] for i in sorted(rng.choice(len(self.vocab), 3, replace=False, p=self.zipf))]
        x = rng.normal(size=(ANN_BATCH, gen.DIM))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        queries = [(i, [float(c) for c in x[i]]) for i in range(ANN_BATCH)]

        index = self.call(
            "search.load_posting_index", search.load_posting_index, self.spark, self.prefix["bm"],
        )
        bm25 = self.call(
            "search.bm25_topk_indexed",
            lambda: [tuple(r) for r in search.bm25_topk_indexed(index, terms, k=BM25_K).collect()],
        )
        vindex = self.call(
            "vector_store.load_vector_index", vector_store.load_vector_index, self.spark, self.prefix["vec"],
        )
        ann = self.call(
            "vector_store.vector_index_rerank_topk",
            lambda: [
                tuple(r)
                for r in vector_store.vector_index_rerank_topk(
                    vindex, self.spark.createDataFrame(queries, "vec_id long, embedding array<float>"),
                    k=ANN_K, shortlist=ANN_SHORTLIST, n_probe=ANN_PROBES,
                ).collect()
            ],
        )
        self.answers.append(
            (op, terms, bm25, queries, ann, frozenset(self.live_docs), frozenset(self.live_vecs))
        )

    def check(self) -> list[int]:
        """Every served answer equals the direct path over the corpus that
        was live when it was served (delete = rebuild without), the
        survivor store serves only live documents, and no store holds
        as many tombstones as its vacuum threshold."""
        bad = []
        for op, terms, bm25, queries, ann, live_d, live_v in self.answers:
            want_bm25 = search.bm25_topk(self.doc_frame(live_d), terms, k=BM25_K).collect()
            want_ann = similarity.ivfpq_rerank_topk(
                self.vec_frame(live_v),
                self.spark.createDataFrame(queries, "vec_id long, embedding array<float>"),
                self.centroids, self.codebooks, k=ANN_K, shortlist=ANN_SHORTLIST, n_probe=ANN_PROBES,
            ).collect()
            if (
                not bm25
                or not ann
                or sorted(bm25) != sorted(map(tuple, want_bm25))
                or sorted(ann) != sorted(map(tuple, want_ann))
            ):
                bad.append(op)
        stored = self.spark.table(f"{self.prefix['nd']}_docs").select("doc_id")
        tombs = dedup.neardup_store_tombstones(self.spark, self.prefix["nd"])
        if tombs is not None:
            stored = stored.join(F.broadcast(tombs.select("doc_id")), "doc_id", "left_anti")
        served = {r.doc_id for r in stored.collect()}
        if not served or not served <= self.live_docs:
            bad.extend(range(len(self.samples)))
        # every delete sink vacuumed its store when the threshold was reached
        tombs = self.tombstones()
        if max(tombs) >= self.VACUUM_TOMBSTONES:
            bad.extend(range(len(self.samples)))
        size, per = dir_stats(list(self.root.values()))
        self.detail = {"cycles_s": self.samples, "build_s": self.build_s, "live_docs": len(self.live_docs),
                       "tombstones": tombs, "store_bytes": size, "store_files": per}
        return bad

    def store_stats(self) -> tuple[int, float]:
        size, per = dir_stats(list(self.root.values()))
        return sum(per.values()), size / len(self.live_docs)


class Train(Workload):
    """GD iterations of logistic regression (plain GD and Adam, in turn)
    over TF-IDF features of 50,000 documents: the source paper's own
    workload. One operation is one ``GDTrainer.fit`` of ``ITERS``
    iterations; its latency sample is the fit's wall time per
    iteration."""

    name = "train"
    N_BASE, FACTOR = 5000, 10
    VOCAB_K = 1000
    ITERS = 5
    #: timed featurizations; ``build_s`` is their median. A featurization
    #: is short and runs one task per core, so one stall of a core moves
    #: a single sample by up to 1.4x
    BUILDS = 2

    def featurize(self, docs) -> None:
        """Featurize ``docs``; the workload goes on with the last features."""
        if getattr(self, "feats", None) is not None:
            self.feats.unpersist(blocking=True)
        vocab_df = self.call("vocab.top_k_vocabulary", vocab.top_k_vocabulary, docs, k=self.VOCAB_K)
        tfidf = self.call("features.tf_idf", features.tf_idf, docs, vocab_df)
        labels = docs.select("doc_id", (F.col("lang") == self.label_lang).cast("int").alias("label"))
        with self.tracer.span("gd.sparse_features"):
            feats = gd.sparse_features(tfidf, labels).persist(StorageLevel.MEMORY_AND_DISK)
            n = feats.count()
        self.feats, self.n, self.k = feats, n, vocab_df.count()

    def setup(self) -> None:
        data = gen.build_inputs(self.workdir, self.seed, self.N_BASE, self.FACTOR, N_LISTS)
        # labels: one seeded language against the rest
        self.label_lang = gen.LANGS[self.seed % len(gen.LANGS)]
        self.docs = tokenized(self.spark, data).select("doc_id", "lang", "tokens").localCheckpoint()
        # warm-up, untimed: a cold featurization of the first of the
        # replicas, then of the whole corpus (the first one at full size
        # still runs 1.5x slower than the next), and one short fit per
        # optimizer
        with self.tracer.span("train.featurize_cold"):
            self.featurize(self.docs.where(F.col("doc_id") < gen.ID_STRIDE))
            self.featurize(self.docs)
        self.curves: dict[str, list[tuple[int, list[float]]]] = {"gd": [], "adam": []}
        for op in (-2, -1):
            self.step(op, iters=2)
        self.samples = []
        self.curves = {"gd": [], "adam": []}
        self.builds = []
        for _ in range(self.BUILDS):
            with self.tracer.span("train.featurize") as s:
                self.featurize(self.docs)
            self.builds.append(s["wall"])
        self.build_s = statistics.median(self.builds)

    def step(self, op: int, iters: int = ITERS) -> None:
        opt = "gd" if op % 2 == 0 else "adam"
        trainer = gd.GDTrainer(k=self.k, loss="logistic", optimizer=opt, iterations=iters)
        with self.timed(f"train.fit_{opt}", op, per=iters):
            self.call("gd.GDTrainer.fit", trainer.fit, self.feats)
        self.curves[opt].append((op, list(trainer.costs_)))

    def check(self) -> list[int]:
        """Every fit's cost curve equals, to a relative 1e-6, the curve
        of the same optimizer recomputed with numpy on the driver from
        the collected features; and plain GD descends."""
        pdf = self.feats.select("label", "indices", "values").toPandas()
        want = {opt: reference_curve(pdf, self.k, opt, self.ITERS) for opt in self.curves}
        bad = []
        for opt, runs in self.curves.items():
            for op, curve in runs:
                if (
                    len(curve) != self.ITERS
                    or not np.allclose(curve, want[opt], rtol=1e-6, atol=0.0)
                    or (opt == "gd" and not curve[-1] < curve[0])
                ):
                    bad.append(op)
        self.detail = {"iter_s": self.samples, "builds_s": self.builds, "rows": self.n, "k": self.k,
                       "label_lang": self.label_lang, "curve_gd": want["gd"], "curve_adam": want["adam"]}
        return bad


def reference_curve(pdf, k: int, optimizer: str, iters: int, lr: float = 0.01,
                    l2: float = 1.15) -> list[float]:
    """The cost curve of ``GDTrainer(k, loss="logistic", optimizer=...)``
    from zero weights, in plain numpy over the collected sparse rows
    (``label``, ``indices``, ``values``): cost = Σ log(1 + e^θ) − yθ +
    l2·|w|², gradient = Xᵀ(σ(θ) − y) + 2·l2·w. Plain GD takes the bold
    driver step (lr × 1.05 after an improvement, × 0.5 otherwise, set
    before the update); Adam is the published rule (β 0.9/0.999,
    ε 1e-8)."""
    lens = pdf["indices"].map(len).to_numpy()
    rows = np.repeat(np.arange(len(pdf)), lens)
    cols = np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["indices"]])
    vals = np.concatenate([np.asarray(a, dtype=np.float64) for a in pdf["values"]])
    y = pdf["label"].to_numpy(dtype=np.float64)
    w, m, v = np.zeros(k), np.zeros(k), np.zeros(k)
    prev, costs = math.inf, []
    for t in range(1, iters + 1):
        theta = np.bincount(rows, weights=vals * w[cols], minlength=len(pdf))
        cost = float(np.sum(np.logaddexp(0.0, theta) - y * theta)) + l2 * float(w @ w)
        resid = 1.0 / (1.0 + np.exp(-theta)) - y
        g = np.bincount(cols, weights=vals * resid[rows], minlength=k) + 2.0 * l2 * w
        costs.append(cost)
        if optimizer == "gd":
            lr = lr * 1.05 if cost < prev else lr * 0.5
            w = w - lr * g
        else:
            m = 0.9 * m + 0.1 * g
            v = 0.999 * v + 0.001 * g * g
            w = w - lr * (m / (1 - 0.9**t)) / (np.sqrt(v / (1 - 0.999**t)) + 1e-8)
        prev = cost
    return costs


WORKLOADS = {w.name: w for w in (Maintain, Train)}
