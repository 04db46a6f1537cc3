"""Distributed batch gradient descent (R4-R8): logistic regression and
linear SVM with six driver-side optimizers.

Reference shape (RDD_logisticregression.py:127-175, RDD_SVM.py:127-171,
LR_Optimizers.py / SVM_Optimizers.py): per iteration, ship the weight
vector to executors inside a *pickled lambda closure*, map every row to
(cost, grad) with NumPy, and ``reduce`` tuple-sums back to the driver.

Our engine keeps the math but fixes the physics (SURVEY §4.2):
  * the weights still ride in the kernel's closure, but as ONE numpy
    array per job: a PythonRDD command reaches executors inside Spark's
    once-per-stage task binary, and pyspark broadcasts a command larger
    than ``spark.broadcast.UDFCompressionThreshold`` (1 MB) itself, so a
    large ``k`` still travels by torrent broadcast. An ``sc.broadcast``
    plus ``destroy`` of our own cost 10–30 ms per iteration;
  * features stay SPARSE ``(indices, values)`` end-to-end — the
    reference's dense 10k-dim row (80 KB/row) is its scaling cliff;
  * the features are cached ONCE per fit as the Arrow record-batch
    messages the JVM itself writes for ``(label, indices, values)``
    (:func:`.worker.cached_arrow_batches`, persisted
    ``MEMORY_AND_DISK``; the first iteration's job materializes them,
    and they are released before ``fit`` returns). The kernel reads each
    message as one CSR block (:func:`.worker.csr_blocks`: float64
    labels, row ids, int32 columns, float64 values, through each list
    column's offsets) — the shape of Spark MLlib's ``InstanceBlock``
    training. No Python pass packs the rows and nothing returns to the
    JVM but the partials. The reference instead re-runs the full
    tokenize→join→groupBy lineage on every one of its 300 iterations
    (SURVEY §4.1, 'the single biggest perf fix');
  * per-row Python lambdas → one ``mapPartitions`` pass over the cached
    messages per iteration that emits a single (cost, grad, n) partial
    per partition; the driver sums #partitions small tuples — the same
    partial-aggregation shape as MLlib's ``treeAggregate``. An
    iteration builds no SQL plan and converts no rows to Arrow: the
    kernel reduces each block with ``np.bincount``;
  * an iteration is bound by fixed costs at the JVM/Python boundary,
    not by arithmetic, so each task first installs
    :func:`.worker.spark_zips_read_once`. Every Python task starts with
    ``importlib.invalidate_caches()``, which makes the worker re-read
    the central directory of every archive on its path: Spark's
    ``pyspark.zip`` and py4j zip and the spark-core jar. Skipping those
    immutable archives spares a reused worker 0.1–0.3 s on every later
    task (4-core host, pyspark 4.1.2, CPython 3.11.7).

The worker functions are self-contained — nested functions only, pickled
by value — so executors need numpy and pyarrow, not this package
(``tests/test_worker.py`` runs the kernels in a process that cannot
import it).

Optimizer update rules are the standard published forms (SGD, Momentum,
Nesterov, Adam, Adagrad, RMSprop). The reference's Nesterov and RMSprop
deviate from the literature (LR_Optimizers.py:162-166,180-184 — SURVEY
§7.4 'known bugs'); we default to corrected math and do not replicate
the bugs.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .worker import cached_arrow_batches, csr_blocks, spark_zips_read_once


def sparse_features(
    tfidf_long: DataFrame, labels: DataFrame, id_col: str = "doc_id", label_col: str = "label"
) -> DataFrame:
    """(doc_id, label, indices, values) from long-form TF-IDF + labels.

    Docs absent from tfidf_long are dropped — the reference's inner-join
    semantics (J2).
    """
    from ..operators.features import to_sparse_vectors

    vecs = to_sparse_vectors(tfidf_long)
    return vecs.join(
        labels.select(F.col(id_col).alias("doc_id"), F.col(label_col).cast("int").alias("label")),
        "doc_id",
    )


def _block_partials(loss: str, k: int, w: np.ndarray, schema: pa.Schema) -> callable:
    """mapPartitions kernel over Arrow record-batch messages (read as CSR
    blocks by :func:`.worker.csr_blocks` against ``schema``): one
    ``(cost, grad, n)`` partial per partition at the weights ``w``.

    θ is summed per row with ``np.bincount`` over each block, and the
    gradient is ONE bincount over the partition's contributions in
    arrival order — the order of accumulating element by element with
    ``np.add.at``, so the gradient does not depend on how the partition
    was cut into blocks.
    """
    if loss not in ("logistic", "hinge"):
        raise ValueError(loss)
    keep_spark_zips = spark_zips_read_once()
    blocks = csr_blocks(schema)

    def partials(messages: Iterator[bytes]) -> Iterator[tuple]:
        keep_spark_zips()
        cost = 0.0
        n = 0
        grad_cols, grad_terms = [], []
        for rows, y, row_ids, cols, vals in blocks(messages):
            theta = np.bincount(row_ids, weights=vals * w[cols], minlength=rows)
            if loss == "logistic":
                # cost = -yθ + log(1+e^θ); grad = x·(σ(θ) - y)
                cost += float(np.sum(-y * theta + np.logaddexp(0.0, theta)))
                resid = 1.0 / (1.0 + np.exp(-theta)) - y
            else:
                # y∈{-1,1}; cost = max(0, 1-yθ); grad = -y·x where margin<1
                ypm = 2.0 * y - 1.0
                margin = ypm * theta
                cost += float(np.sum(np.maximum(0.0, 1.0 - margin)))
                resid = np.where(margin < 1.0, -ypm, 0.0)
            grad_cols.append(cols)
            grad_terms.append(vals * resid[row_ids])
            n += rows
        grad = (
            np.bincount(np.concatenate(grad_cols), weights=np.concatenate(grad_terms), minlength=k)
            if grad_cols
            else np.zeros(k, dtype=np.float64)
        )
        yield cost, grad, n

    return partials


@dataclass
class Optimizer:
    """Driver-side first-order update rules (R8).

    ``compat='standard'`` (default) uses the published formulas.
    ``compat='reference'`` replicates the reference's as-written rules,
    which deviate from the literature (SURVEY §7.4 'known bugs'):
    Nesterov applies the lookahead against the *previous* iteration's
    momentum (LR_Optimizers.py:162-166); RMSprop decays a cumulative
    sum divided by the iteration count instead of a running mean
    (LR_Optimizers.py:180-184); Adam's second moment starts at the
    SCALAR 10000 (``second_mom = np.array(10000)``,
    LR_Optimizers.py:140) so its first steps are ~100× too small — the
    golden curve out/optimizer:Adam/part-00000 (4405.14 → 4404.82 over
    3 iterations) confirms that bug is live in the reference's own
    outputs; and epsilon is 10e-8 i.e. 1e-7 (LR_Optimizers.py:141).
    All still descend. Exact golden-curve replay is impossible for the
    per-optimizer curves — the reference initializes coefficients from
    an UNSEEDED ``np.random.normal(0, 0.1, 10000)``
    (LR_Optimizers.py:129) — so the validated parity surface is the
    zeros-init initial-cost identity + curve-shape envelope + bug
    reproduction (tests/test_golden_curves.py).
    """

    name: str = "gd"
    lr: float = 0.01
    momentum: float = 0.9
    beta1: float = 0.9
    beta2: float = 0.999
    eps: float = 1e-8
    compat: str = "standard"
    _v: np.ndarray | None = None
    _m: np.ndarray | None = None
    _t: int = 0

    def step(self, w: np.ndarray, g: np.ndarray) -> np.ndarray:
        self._t += 1
        if self._v is None:
            self._v = np.zeros_like(w)
            self._m = np.zeros_like(w)
            if self.name == "adam" and self.compat == "reference":
                # LR_Optimizers.py:140: second_mom = np.array(10000) — a
                # scalar 10000, broadcast into the decay. First steps are
                # divided by ~sqrt(10000/(1-β2^t)) ≈ 100× too large a
                # denominator; the golden Adam curve barely moves.
                self._v = np.full_like(w, 10000.0)
        eps = 1e-7 if self.compat == "reference" else self.eps  # ref: 10e-8
        if self.name in ("gd", "sgd"):
            return w - self.lr * g
        if self.name == "momentum":
            self._v = self.momentum * self._v + self.lr * g
            return w - self._v
        if self.name == "nesterov":
            if self.compat == "reference":
                # as-written (LR_Optimizers.py:162-166): lookahead uses the
                # momentum from TWO updates ago (prev_mom lags one step)
                temp = w - self.momentum * self._m
                out = temp - self.lr * g
                self._m = self._v
                self._v = self.momentum * self._v + self.lr * g
                return out
            v_prev = self._v
            self._v = self.momentum * self._v - self.lr * g
            return w + (-self.momentum * v_prev + (1 + self.momentum) * self._v)
        if self.name == "adam":
            self._m = self.beta1 * self._m + (1 - self.beta1) * g
            self._v = self.beta2 * self._v + (1 - self.beta2) * g * g
            mhat = self._m / (1 - self.beta1**self._t)
            vhat = self._v / (1 - self.beta2**self._t)
            return w - self.lr * mhat / (np.sqrt(vhat) + eps)
        if self.name == "adagrad":
            self._v = self._v + g * g
            return w - self.lr * g / (np.sqrt(self._v) + eps)
        if self.name == "rmsprop":
            if self.compat == "reference":
                # as-written (LR_Optimizers.py:180-184): decays the running
                # *cumulative sum / t*, then accumulates after the step
                exp_grad = self.beta1 * self._v / self._t + (1 - self.beta1) * g * g
                out = w - self.lr / np.sqrt(exp_grad + eps) * g
                self._v = self._v + g * g
                return out
            self._v = self.beta2 * self._v + (1 - self.beta2) * g * g
            return w - self.lr * g / (np.sqrt(self._v) + eps)
        raise ValueError(self.name)


@dataclass
class GDTrainer:
    """Full-batch distributed GD over sparse features.

    bold_driver: lr ×1.05 on cost improvement, ×0.5 on worsening —
    the reference's adaptation rule (RDD_logisticregression.py:150-153).
    early_stop_tol: stop when |Δcost| ≤ tol (live in RDD_SVM.py:155-157,
    disabled in LR — pass None to disable).

    ``compat='reference'`` replicates the reference LOOP exactly, not
    just the update rules (LR_Optimizers.py:144-200): the bold driver
    applies to ALL optimizers (the shared learning_rate every rule
    reads), the weight update uses the CURRENT lr and the adjustment
    happens AFTER it, and ``old_cost`` starts at 0 — so iteration 0
    always halves the rate (any positive cost > 0). Standard mode keeps
    bold driver for plain GD only, adjusts BEFORE the update, and
    starts ``prev_cost`` at +inf (first update never halves) — a
    deliberate cleanup, documented divergence.
    """

    k: int
    loss: str = "logistic"
    optimizer: str = "gd"
    lr: float = 0.01
    iterations: int = 100
    l2: float = 1.15
    bold_driver: bool = True
    early_stop_tol: float | None = None
    compat: str = "standard"  # 'reference' replays the as-written R8 formulas
    weights_: np.ndarray | None = None
    costs_: list[float] = field(default_factory=list)

    def fit(self, features: DataFrame) -> "GDTrainer":
        """Run up to ``iterations`` full-batch steps over ``features``
        (``label``, ``indices``, ``values``); one Spark job per iteration.

        Cached or not, the input is read through one fit-owned cache of
        its Arrow record batches (:func:`.worker.cached_arrow_batches`) —
        a second, transient copy of the features that is released
        (blocking) before ``fit`` returns; the input's own storage level
        is left as it was. The weights ride in each iteration's kernel
        closure.
        """
        w = np.zeros(self.k, dtype=np.float64)
        opt = Optimizer(name=self.optimizer, lr=self.lr, compat=self.compat)
        lr = self.lr
        # reference: old_cost = 0 (LR_Optimizers.py:134) — iteration 0's
        # positive cost always halves the rate under the bold driver
        prev_cost = 0.0 if self.compat == "reference" else float("inf")
        with cached_arrow_batches(features) as (messages, schema):
            for _ in range(self.iterations):
                kernel = _block_partials(self.loss, self.k, w, schema)
                parts = messages.mapPartitions(kernel).collect()
                cost = sum(p[0] for p in parts)
                grad = np.sum([p[1] for p in parts], axis=0)
                n = sum(p[2] for p in parts)
                if self.loss == "hinge":
                    lam = 1.0 / (0.5 * max(n, 1))  # reference: λ = 1/(c·n), c=0.5
                    cost += 0.5 * lam * float(w @ w)
                    grad = grad + lam * w
                else:
                    cost += self.l2 * float(w @ w)
                    grad = grad + 2.0 * self.l2 * w
                self.costs_.append(float(cost))
                if self.early_stop_tol is not None and abs(prev_cost - cost) <= self.early_stop_tol:
                    break
                if self.compat == "reference":
                    # LR_Optimizers.py:144-200: update with the CURRENT shared
                    # lr (all six rules read it), THEN bold-driver adjust it
                    # for the next iteration.
                    opt.lr = lr
                    w = opt.step(w, grad)
                    if self.bold_driver:
                        lr = lr * 1.05 if cost < prev_cost else lr * 0.5
                elif self.optimizer == "gd":
                    if self.bold_driver:
                        lr = lr * 1.05 if cost < prev_cost else lr * 0.5
                    w = w - lr * grad
                else:
                    w = opt.step(w, grad)
                prev_cost = cost
        self.weights_ = w
        return self

    def top_features(self, vocab: DataFrame, n: int = 5) -> DataFrame:
        """R12 (RDD_logisticregression.py:168-173): the n words with the
        largest coefficients, natively: posexplode weights → orderBy →
        limit → broadcast-join vocab. Tie-break pinned on idx."""
        assert self.weights_ is not None
        spark = vocab.sparkSession
        wdf = spark.createDataFrame(
            [(int(i), float(v)) for i, v in enumerate(self.weights_)], "idx int, weight double"
        )
        return (
            wdf.orderBy(F.desc("weight"), F.asc("idx"))
            .limit(n)
            .join(F.broadcast(vocab.select("idx", "word")), "idx")
            .select("idx", "word", "weight")
            .orderBy(F.desc("weight"), F.asc("idx"))
        )

    def save_cost_curve(self, spark, path: str) -> None:
        """R13 (RDD_logisticregression.py:253-254): persist the
        cost-per-iteration curve as ONE csv part file — the reference's
        golden-output format (out/*/part-00000)."""
        from ..sources.io import write_single_file

        df = spark.createDataFrame(
            list(enumerate(self.costs_)), "iteration int, cost double"
        )
        write_single_file(df, path, fmt="csv")

    def predict_long(self, tfidf_long: DataFrame) -> DataFrame:
        """R10 natively: score long-form features against the trained
        weights with a broadcast join + hash agg — one pass, fully JVM.

        pred = 1{Σ tfidf·w > 0} (no intercept, matching
        RDD_logisticregression.py:177-181).
        """
        assert self.weights_ is not None
        spark = tfidf_long.sparkSession
        wdf = spark.createDataFrame(
            [(int(i), float(v)) for i, v in enumerate(self.weights_)], "idx int, w double"
        )
        return (
            tfidf_long.join(F.broadcast(wdf), "idx")
            .groupBy("doc_id")
            .agg(F.sum(F.col("tfidf") * F.col("w")).alias("theta"))
            .select("doc_id", (F.col("theta") > 0).cast("int").alias("pred"))
        )
