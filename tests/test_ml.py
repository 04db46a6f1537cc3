"""ML-surface tests (SURVEY §5 non-oracle paths): finite-difference
gradient checks, cost-decrease properties, and learnability smoke tests."""

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import ArrayType, LongType
from pyspark.storagelevel import StorageLevel

from nlp_with_pyspark_spark.functions.text import tokens_pipeline
from nlp_with_pyspark_spark.ml import gd
from nlp_with_pyspark_spark.ml.gd import GDTrainer, _block_partials, sparse_features
from nlp_with_pyspark_spark.ml.nn import NNTrainer
from nlp_with_pyspark_spark.ml.worker import cached_arrow_batches, csr_blocks
from nlp_with_pyspark_spark.operators.features import tf_idf
from nlp_with_pyspark_spark.operators.vocab import top_k_vocabulary
from nlp_with_pyspark_spark.sources.io import read_table


def _tiny_batch():
    return pa.RecordBatch.from_pydict(
        {
            "label": pa.array([1, 0, 1], pa.int32()),
            "indices": pa.array([[0, 2], [1, 3], [0, 4]], pa.list_(pa.int32())),
            "values": pa.array([[0.5, 1.0], [0.3, 0.7], [1.2, 0.1]], pa.list_(pa.float64())),
        }
    )


def _run_partials(loss, k, w, batches):
    """(cost, grad, n) of the single partial the block kernel yields over
    ``batches`` as Arrow record-batch messages (as the fit's cached RDD
    hands them over: one IPC message per batch, as bytes)."""
    messages = [b.serialize().to_pybytes() for b in batches]
    out = list(_block_partials(loss, k, w, batches[0].schema)(iter(messages)))
    assert len(out) == 1
    return out[0]


@pytest.mark.parametrize("loss", ["logistic", "hinge"])
def test_gradient_matches_finite_difference(loss, restore_zipimporter):
    k = 5
    rng = np.random.default_rng(0)
    w = rng.normal(0, 0.5, k)
    batch = _tiny_batch()

    def eval_at(wv):
        cost, grad, _ = _run_partials(loss, k, wv, [batch])
        return cost, grad

    cost0, grad = eval_at(w)
    eps = 1e-6
    for j in range(k):
        wp = w.copy()
        wp[j] += eps
        wm = w.copy()
        wm[j] -= eps
        fd = (eval_at(wp)[0] - eval_at(wm)[0]) / (2 * eps)
        assert abs(fd - grad[j]) < 1e-4, f"{loss} grad[{j}]: fd={fd} analytic={grad[j]}"


@pytest.mark.parametrize("loss", ["logistic", "hinge"])
def test_partials_read_empty_and_sliced_batches(loss, restore_zipimporter):
    """An empty batch adds nothing and a sliced batch is read from its
    own offsets: the partial over [batch, empty, batch.slice(1, 2)]
    equals a row-by-row numpy computation over rows 0,1,2,1,2."""
    k = 5
    w = np.random.default_rng(1).normal(0, 0.5, k)
    batch = _tiny_batch()
    cost, grad, n = _run_partials(loss, k, w, [batch, batch.slice(0, 0), batch.slice(1, 2)])

    rows = batch.to_pylist()
    want_cost, want_grad = 0.0, np.zeros(k)
    for r in rows + rows[1:3]:
        cols, vals, y = np.asarray(r["indices"]), np.asarray(r["values"]), float(r["label"])
        theta = float(vals @ w[cols])
        if loss == "logistic":
            want_cost += np.logaddexp(0.0, theta) - y * theta
            resid = 1.0 / (1.0 + np.exp(-theta)) - y
        else:
            ypm = 2.0 * y - 1.0
            want_cost += max(0.0, 1.0 - ypm * theta)
            resid = -ypm if ypm * theta < 1.0 else 0.0
        np.add.at(want_grad, cols, vals * resid)
    assert n == 5
    np.testing.assert_allclose(cost, want_cost, rtol=1e-12)
    np.testing.assert_allclose(grad, want_grad, rtol=1e-12, atol=1e-15)


@pytest.fixture(scope="module")
def doc_features(spark, sf_dir):
    """Sparse TF-IDF features with a separable label (doc contains 'spark')."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .withColumn("tokens", tokens_pipeline(F.col("text")))
        .cache()
    )
    vocab = top_k_vocabulary(docs, k=50)
    long = tf_idf(docs, vocab).cache()
    labels = docs.select(
        "doc_id", F.array_contains("tokens", "spark").cast("int").alias("label")
    )
    feats = sparse_features(long, labels).cache()
    return long, feats


@pytest.mark.parametrize("optimizer", ["gd", "momentum", "nesterov", "adam", "adagrad", "rmsprop"])
def test_lr_cost_decreases_all_optimizers(doc_features, optimizer):
    _, feats = doc_features
    lr = 0.05 if optimizer in ("adam", "adagrad", "rmsprop") else 0.001
    t = GDTrainer(k=50, loss="logistic", optimizer=optimizer, lr=lr, iterations=12, l2=0.01)
    t.fit(feats)
    assert len(t.costs_) == 12
    assert t.costs_[-1] < t.costs_[0], f"{optimizer}: {t.costs_[0]} -> {t.costs_[-1]}"


@pytest.mark.parametrize("optimizer", ["nesterov", "rmsprop"])
def test_reference_compat_optimizers_descend(doc_features, optimizer):
    """compat='reference' replays the as-written (nonstandard) Nesterov/
    RMSprop formulas (LR_Optimizers.py:162-184); they must still reduce
    cost, and must differ from the standard-formula trajectory."""
    _, feats = doc_features
    kw = dict(k=50, loss="logistic", optimizer=optimizer, lr=0.01, iterations=10, l2=0.01)
    ref = GDTrainer(compat="reference", **kw)
    ref.fit(feats)
    std = GDTrainer(compat="standard", **kw)
    std.fit(feats)
    assert ref.costs_[-1] < ref.costs_[0]
    assert ref.costs_ != std.costs_


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _fit_watching_cache(spark, monkeypatch, feats, iterations):
    """Fit Adam on ``feats``; return the persistent RDD ids seen before,
    during (at every optimizer step) and after the fit, the number of
    Spark jobs the fit ran and its ``SparkContext.broadcast`` calls."""
    sc = spark.sparkContext
    during, broadcasts = [], []
    step = gd.Optimizer.step
    broadcast = type(sc).broadcast

    def spy(self, w, g):
        during.append(_persistent_rdd_ids(spark))
        return step(self, w, g)

    def broadcast_spy(self, value):
        broadcasts.append(value)
        return broadcast(self, value)

    monkeypatch.setattr(gd.Optimizer, "step", spy)
    monkeypatch.setattr(type(sc), "broadcast", broadcast_spy)
    before = _persistent_rdd_ids(spark)
    group = f"fit-watch-{id(feats)}"
    sc.setJobGroup(group, "GDTrainer.fit under test")
    try:
        GDTrainer(k=50, loss="logistic", optimizer="adam", iterations=iterations).fit(feats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return before, during, _persistent_rdd_ids(spark), jobs, len(broadcasts)


@pytest.mark.parametrize("cached", [True, False], ids=["cached", "uncached"])
def test_fit_owns_one_block_cache(spark, doc_features, monkeypatch, cached):
    """Cached or not, the input's Arrow batches are cached in ONE
    persistent RDD of the fit's own, released before ``fit`` returns; the
    input's storage level is left as it was; an N-iteration fit runs N
    Spark jobs (the first iteration's job materializes the cache); and
    the weights travel in the kernel's closure, never by a broadcast of
    the fit's own."""
    _, feats = doc_features
    if cached:
        feats.count()  # materialize the fixture's own cache first
    else:
        feats = spark.createDataFrame(feats.collect(), feats.schema)
    level = feats.storageLevel
    assert (level != StorageLevel.NONE) == cached
    before, during, after, jobs, broadcasts = _fit_watching_cache(
        spark, monkeypatch, feats, iterations=3
    )
    assert len(during) == 3
    assert all(len(ids - before) == 1 for ids in during), "fit did not own exactly one cached RDD"
    assert len(set().union(*during) - before) == 1, "fit cached its blocks more than once"
    assert not after - before, "fit left its blocks cached"
    assert feats.storageLevel == level
    assert jobs == 3
    assert broadcasts == 0


def _replay_gd(rows, k, loss, lr, l2, iterations):
    """Cost curve and final weights of ``GDTrainer(k, loss, optimizer="gd",
    lr, l2, iterations)`` (standard compat, bold driver) in dense numpy
    over the collected rows."""
    X = np.zeros((len(rows), k))
    for r, row in enumerate(rows):
        np.add.at(X[r], np.asarray(row["indices"], dtype=np.int64), row["values"])
    y = np.array([float(row["label"]) for row in rows])
    w, prev, costs = np.zeros(k), float("inf"), []
    for _ in range(iterations):
        theta = X @ w
        if loss == "logistic":
            cost = float(np.sum(np.logaddexp(0.0, theta) - y * theta)) + l2 * float(w @ w)
            grad = X.T @ (1.0 / (1.0 + np.exp(-theta)) - y) + 2.0 * l2 * w
        else:
            lam, ypm = 1.0 / (0.5 * len(rows)), 2.0 * y - 1.0
            cost = float(np.sum(np.maximum(0.0, 1.0 - ypm * theta))) + 0.5 * lam * float(w @ w)
            grad = X.T @ np.where(ypm * theta < 1.0, -ypm, 0.0) + lam * w
        costs.append(cost)
        lr = lr * 1.05 if cost < prev else lr * 0.5
        w, prev = w - lr * grad, cost
    return costs, w


@pytest.mark.parametrize("loss", ["logistic", "hinge"])
def test_fit_reads_the_jvm_arrow_batches(spark, loss):
    """The fit reads the Arrow record-batch messages the JVM writes
    (``Dataset.toArrowBatchRdd``, a ``private[sql]`` Scala method that
    pyspark does not wrap): on a frame with a ``bigint`` label,
    ``array<bigint>`` indices, rows without features, an empty partition
    and ``maxRecordsPerBatch=7``, the cache holds 7-row messages and the
    cost curve and weights match a driver-side numpy replay. A pyspark
    upgrade that drops or reshapes that method fails here."""
    k = 6
    no_features = F.col("id") % 11 == 0
    frame = (
        spark.range(0, 60, 1, numPartitions=3)
        .where(F.spark_partition_id() != 1)
        .select(
            (F.col("id") % 2).alias("label"),
            F.when(no_features, F.array().cast("array<bigint>"))
            .otherwise(F.array(F.col("id") % k, (F.col("id") * 5 + 2) % k))
            .alias("indices"),
            F.when(no_features, F.array().cast("array<double>"))
            .otherwise(F.array(F.lit(0.25) + F.col("id") / 60.0, F.lit(1.0) - F.col("id") / 90.0))
            .alias("values"),
        )
    )
    assert frame.schema["label"].dataType == LongType()
    assert frame.schema["indices"].dataType == ArrayType(LongType())
    rows = frame.collect()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        with cached_arrow_batches(frame) as (messages, schema):
            read = csr_blocks(schema)
            sizes = messages.mapPartitions(lambda ms: [b[0] for b in read(ms)]).glom().collect()
        t = GDTrainer(k=k, loss=loss, optimizer="gd", lr=0.05, iterations=6, l2=0.01).fit(frame)
    finally:
        spark.conf.set(conf, saved)
    assert sizes == [[7, 7, 6], [], [7, 7, 6]]
    want_costs, want_w = _replay_gd(rows, k, loss, lr=0.05, l2=0.01, iterations=6)
    np.testing.assert_allclose(t.costs_, want_costs, rtol=1e-12)
    np.testing.assert_allclose(t.weights_, want_w, rtol=1e-12)


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_svm_cost_decreases(doc_features):
    _, feats = doc_features
    t = GDTrainer(k=50, loss="hinge", optimizer="gd", lr=0.001, iterations=40)
    t.fit(feats)
    assert t.costs_[-1] < t.costs_[0]


def test_svm_early_stop_triggers(doc_features):
    _, feats = doc_features
    # tol chosen above the per-iteration delta at this lr so the
    # |Δcost| ≤ tol rule (RDD_SVM.py:155-157) fires quickly
    t = GDTrainer(
        k=50, loss="hinge", optimizer="gd", lr=0.001, iterations=50, early_stop_tol=1.0
    )
    t.fit(feats)
    assert len(t.costs_) < 50, "early stop never triggered"


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_lr_finds_signal_feature(spark, doc_features, sf_dir):
    """Mechanism test: training on 'doc contains <word>' must put the
    single largest weight on <word>'s own feature and beat the base rate.
    (Full separation is NOT reachable here: no intercept + presence/len
    TF values of O(0.01) mean the separator needs unbounded weights —
    matching the reference's own no-intercept model, R10.)"""
    from nlp_with_pyspark_spark.operators.vocab import top_k_vocabulary
    from nlp_with_pyspark_spark.sources.io import read_table

    long, feats = doc_features
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "tokens", tokens_pipeline(F.col("text"))
    )
    spark_idx = (
        top_k_vocabulary(docs, k=50).filter(F.col("word") == "spark").first()["idx"]
    )
    t = GDTrainer(k=50, loss="logistic", optimizer="adam", lr=0.5, iterations=80, l2=0.0)
    t.fit(feats)
    assert int(np.argmax(t.weights_)) == spark_idx
    preds = t.predict_long(long)
    joined = preds.join(feats.select("doc_id", F.col("label").alias("y")), "doc_id")
    base = joined.agg(F.avg(F.col("y").cast("double"))).first()[0]
    base_rate = max(base, 1 - base)
    acc = joined.agg(F.avg((F.col("pred") == F.col("y")).cast("double"))).first()[0]
    assert acc > base_rate, f"acc {acc} did not beat base rate {base_rate}"


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_lr_separates_synthetic(spark):
    """Well-scaled separable data (feature 0 ⇔ label 1, feature 1 ⇔ label 0,
    O(1) values) must be driven to ~perfect accuracy."""
    rows = []
    rng = np.random.default_rng(7)
    for i in range(200):
        y = i % 2
        sig = 0 if y == 1 else 1
        noise_idx = int(rng.integers(2, 10))
        rows.append((i, y, [sig, noise_idx], [1.0, float(rng.normal(0, 0.3))]))
    feats = spark.createDataFrame(
        rows, "doc_id long, label int, indices array<long>, values array<double>"
    )
    t = GDTrainer(k=10, loss="logistic", optimizer="adam", lr=0.2, iterations=60, l2=0.0)
    t.fit(feats)
    long = feats.select(
        "doc_id", F.posexplode(F.arrays_zip("indices", "values"))
    ).select(
        "doc_id",
        F.col("col.indices").cast("int").alias("idx"),
        F.col("col.values").alias("tfidf"),
    )
    preds = t.predict_long(long)
    joined = preds.join(feats.select("doc_id", F.col("label").alias("y")), "doc_id")
    acc = joined.agg(F.avg((F.col("pred") == F.col("y")).cast("double"))).first()[0]
    assert acc > 0.97, f"synthetic separable data learned poorly: {acc}"


@pytest.mark.slow  # heavy e2e/marathon; kin + oracle parity cover the default run
def test_top_features_and_cost_sink(spark, doc_features, sf_dir, tmp_path):
    """R12 report surfaces 'spark' for the contains-spark label; R13 sink
    writes exactly one part file."""
    from nlp_with_pyspark_spark.operators.vocab import top_k_vocabulary
    from nlp_with_pyspark_spark.sources.io import read_table

    _, feats = doc_features
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "tokens", tokens_pipeline(F.col("text"))
    )
    vocab = top_k_vocabulary(docs, k=50)
    t = GDTrainer(k=50, loss="logistic", optimizer="adam", lr=0.5, iterations=40, l2=0.0)
    t.fit(feats)
    top = t.top_features(vocab, n=5)
    rows = top.collect()
    assert len(rows) == 5
    assert rows[0].word == "spark"  # the label-defining token dominates
    assert [r.weight for r in rows] == sorted((r.weight for r in rows), reverse=True)

    out = str(tmp_path / "costs")
    t.save_cost_curve(spark, out)
    import glob

    parts = glob.glob(f"{out}/part-*")
    assert len(parts) == 1, f"expected one part file, got {parts}"


def test_nn_cost_decreases(doc_features):
    _, feats = doc_features
    t = NNTrainer(k=50, hidden=16, optimizer="adam", lr=0.01, iterations=15, seed=1)
    t.fit(feats)
    assert t.costs_[-1] < t.costs_[0]


def test_nn_reference_compat_descends(doc_features):
    """compat='reference' NN Adam (bias 2nd-moment bug as written,
    RDD_NN.py:198) must still reduce cost and differ from standard."""
    _, feats = doc_features
    kw = dict(k=50, hidden=16, optimizer="adam", lr=0.01, iterations=10, seed=1)
    ref = NNTrainer(compat="reference", **kw)
    ref.fit(feats)
    std = NNTrainer(compat="standard", **kw)
    std.fit(feats)
    assert ref.costs_[-1] < ref.costs_[0]
    assert ref.costs_ != std.costs_


def test_nn_predict_schema(doc_features):
    _, feats = doc_features
    t = NNTrainer(k=50, hidden=8, optimizer="sgd", lr=0.05, iterations=5, seed=2)
    t.fit(feats)
    preds = t.predict(feats)
    rows = preds.collect()
    assert all(r.pred in (0, 1) for r in rows)
    assert preds.count() == feats.count()
