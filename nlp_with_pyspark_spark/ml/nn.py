"""Distributed 2-layer neural network (R9: RDD_NN.py).

Architecture preserved from the reference (RDD_NN.py:214-301):
input k → hidden h (LeakyReLU) → 2 (sigmoid), one-hot labels, SSE cost
0.5·Σ(ŷ−y)², gradients averaged by n, SGD or Adam, bold-driver lr.

Shape NOT preserved, deliberately (SURVEY §2.10 R9): the reference
chains **11 separate ``.map`` stages** for forward/backward, each stage
re-pickling ≈520 KB of closure-captured weights per task. Here the
whole forward+backward is ONE vectorized NumPy pass per iteration: a
``mapPartitions`` over the same fit-owned cache of the input's Arrow
record batches that ``GDTrainer.fit`` reads
(:func:`.worker.cached_arrow_batches`), with the weights in the
kernel's closure (no broadcast of our own); each block is densified
batch-locally and each partition emits one (cost, dW1, dB1, dW2, dB2)
partial. ``predict`` stays one ``mapInPandas`` pass.

Known reference bugs NOT replicated (SURVEY §7.4): Adam second moment
uses ``DB`` instead of ``DB**2`` (RDD_NN.py:198, utils/nn_func.py:99)
and masks the resulting negatives with ``sqrt(abs(v))`` (:209-210);
we use the standard Adam.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from .worker import cached_arrow_batches, csr_blocks, spark_zips_read_once


def _activations() -> tuple:
    """``(leaky_relu, leaky_relu_grad, sigmoid)`` as nested functions, so
    a worker function that calls them is pickled by value with them."""

    def leaky_relu(x: np.ndarray, alpha: float = 0.01) -> np.ndarray:
        return np.where(x > 0, x, alpha * x)

    def leaky_relu_grad(x: np.ndarray, alpha: float = 0.01) -> np.ndarray:
        return np.where(x > 0, 1.0, alpha)

    def sigmoid(x: np.ndarray) -> np.ndarray:
        return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))

    return leaky_relu, leaky_relu_grad, sigmoid


def _nn_partials(k: int, h: int, w: dict, schema: pa.Schema) -> callable:
    """mapPartitions kernel over Arrow record-batch messages (read as CSR
    blocks by :func:`.worker.csr_blocks` against ``schema``): one
    ``(cost, dW1, dB1, dW2, dB2, n)`` partial per partition at the
    weights ``w``."""
    keep_spark_zips = spark_zips_read_once()
    blocks = csr_blocks(schema)
    leaky_relu, leaky_relu_grad, sigmoid = _activations()

    def partials(messages: Iterator[bytes]) -> Iterator[tuple]:
        keep_spark_zips()
        w1, b1, w2, b2 = w["w1"], w["b1"], w["w2"], w["b2"]
        cost = 0.0
        dW1 = np.zeros_like(w1)
        dB1 = np.zeros_like(b1)
        dW2 = np.zeros_like(w2)
        dB2 = np.zeros_like(b2)
        n = 0
        for rows, y, row_ids, cols, vals in blocks(messages):
            # densify the sparse block (rows × k, block-local only)
            X = np.zeros((rows, k))
            X[row_ids, cols] = vals
            Y = np.eye(2)[y.astype(np.int64)]  # one-hot (n×2)
            # forward
            Z1 = X @ w1 + b1
            A1 = leaky_relu(Z1)
            Z2 = A1 @ w2 + b2
            A2 = sigmoid(Z2)
            cost += float(0.5 * np.sum((A2 - Y) ** 2))
            # backward (SSE → sigmoid → LeakyReLU chain)
            dZ2 = (A2 - Y) * A2 * (1.0 - A2)
            dW2 += A1.T @ dZ2
            dB2 += dZ2.sum(axis=0)
            dZ1 = (dZ2 @ w2.T) * leaky_relu_grad(Z1)
            dW1 += X.T @ dZ1
            dB1 += dZ1.sum(axis=0)
            n += rows
        yield cost, dW1, dB1, dW2, dB2, n

    return partials


@dataclass
class NNTrainer:
    """2-layer NN on sparse features (same input DataFrame contract as
    GDTrainer: label, indices, values)."""

    k: int
    hidden: int = 128
    optimizer: str = "adam"  # 'sgd' | 'adam'
    lr: float = 0.001
    iterations: int = 50
    seed: int = 123
    bold_driver: bool = True
    #: 'reference' replays the as-written loop (RDD_NN.py:220-296,
    #: utils/nn_func.py:80-111): BIAS second moment accumulates DB (not
    #: DB²), masked by sqrt(abs(v)) (:98,109-110); epsilon 10e-8 = 1e-7;
    #: bold driver applies to BOTH optimizers (the shared learning_rate
    #: Adam also reads), adjusted AFTER the update with old_cost = 0.
    #: Exact golden replay (out/NN_rdd_*) is impossible — unseeded
    #: uniform init (RDD_NN.py:232-235) — so parity is envelope + bug
    #: reproduction (tests/test_golden_curves.py). Default: standard.
    compat: str = "standard"
    weights_: dict | None = None
    costs_: list[float] = field(default_factory=list)

    def fit(self, features: DataFrame) -> "NNTrainer":
        """One Spark job per iteration over a fit-owned cache of the
        input's Arrow record batches, released before ``fit`` returns."""
        rng = np.random.default_rng(self.seed)
        k, h = self.k, self.hidden
        w = {
            "w1": rng.normal(0, 0.5, (k, h)),
            "b1": np.zeros(h),
            "w2": rng.normal(0, 0.5, (h, 2)),
            "b2": np.zeros(2),
        }
        m = {key: np.zeros_like(val) for key, val in w.items()}
        v = {key: np.zeros_like(val) for key, val in w.items()}
        b1p, b2p = 0.9, 0.999
        eps = 1e-7 if self.compat == "reference" else 1e-8
        lr = self.lr
        prev_cost = 0.0 if self.compat == "reference" else float("inf")
        with cached_arrow_batches(features) as (messages, schema):
            for t in range(1, self.iterations + 1):
                parts = messages.mapPartitions(_nn_partials(k, h, w, schema)).collect()
                n = max(sum(p[5] for p in parts), 1)
                cost = sum(p[0] for p in parts) / n
                grads = {
                    key: np.sum([p[i] for p in parts], axis=0) / n
                    for i, key in enumerate(("w1", "b1", "w2", "b2"), start=1)
                }
                self.costs_.append(float(cost))
                if self.optimizer == "adam":
                    for key in w:
                        m[key] = b1p * m[key] + (1 - b1p) * grads[key]
                        if self.compat == "reference" and key in ("b1", "b2"):
                            # as-written (utils/nn_func.py:98): bias 2nd moment
                            # uses the raw gradient, sqrt(abs(·)) masks the sign
                            v[key] = b2p * v[key] + (1 - b2p) * grads[key]
                            vhat = np.abs(v[key] / (1 - b2p**t))
                        else:
                            v[key] = b2p * v[key] + (1 - b2p) * grads[key] ** 2
                            vhat = v[key] / (1 - b2p**t)
                        mhat = m[key] / (1 - b1p**t)
                        w[key] = w[key] - lr * mhat / (np.sqrt(vhat) + eps)
                    if self.compat == "reference" and self.bold_driver:
                        # RDD_NN.py:287-291: the bold driver also runs after
                        # Adam updates — Adam reads the adapted shared lr
                        lr = lr * 1.05 if cost < prev_cost else lr * 0.5
                else:
                    if self.compat == "reference":
                        for key in w:
                            w[key] = w[key] - lr * grads[key]
                        if self.bold_driver:
                            lr = lr * 1.05 if cost < prev_cost else lr * 0.5
                    else:
                        if self.bold_driver:
                            lr = lr * 1.05 if cost < prev_cost else lr * 0.5
                        for key in w:
                            w[key] = w[key] - lr * grads[key]
                prev_cost = cost
        self.weights_ = w
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        """argmax over the forward pass — Arrow-batched, no shuffle."""
        assert self.weights_ is not None
        import pyspark.sql.functions as F  # noqa: F401

        wts = self.weights_
        k = self.k
        keep_spark_zips = spark_zips_read_once()
        leaky_relu, _, sigmoid = _activations()

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            keep_spark_zips()
            for pdf in batches:
                if pdf.empty:
                    continue
                rows = len(pdf)
                X = np.zeros((rows, k))
                for r, (idxs, vals) in enumerate(zip(pdf["indices"], pdf["values"])):
                    X[r, np.asarray(idxs, dtype=np.int64)] = np.asarray(vals, dtype=np.float64)
                A1 = leaky_relu(X @ wts["w1"] + wts["b1"])
                A2 = sigmoid(A1 @ wts["w2"] + wts["b2"])
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "pred": np.argmax(A2, axis=1).astype("int32")}
                )

        return features.mapInPandas(gen, schema="doc_id long, pred int")
