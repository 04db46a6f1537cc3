"""Distributed 2-layer neural network (R9: RDD_NN.py).

Architecture preserved from the reference (RDD_NN.py:214-301):
input k → hidden h (LeakyReLU) → 2 (sigmoid), one-hot labels, SSE cost
0.5·Σ(ŷ−y)², gradients averaged by n, SGD or Adam, bold-driver lr.

Shape NOT preserved, deliberately (SURVEY §2.10 R9): the reference
chains **11 separate ``.map`` stages** for forward/backward, each stage
re-pickling ≈520 KB of closure-captured weights per task. Here the
whole forward+backward is ONE vectorized NumPy pass inside a single
``mapInPandas``, with weights broadcast once per iteration; each
partition emits one (cost, dW1, dB1, dW2, dB2) partial.

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
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .worker import spark_zips_read_once


def _leaky_relu(x: np.ndarray, alpha: float = 0.01) -> np.ndarray:
    return np.where(x > 0, x, alpha * x)


def _leaky_relu_grad(x: np.ndarray, alpha: float = 0.01) -> np.ndarray:
    return np.where(x > 0, 1.0, alpha)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


def _nn_partials(k: int, h: int, weights_bc) -> callable:
    keep_spark_zips = spark_zips_read_once()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_spark_zips()
        w1, b1, w2, b2 = (
            weights_bc.value["w1"],
            weights_bc.value["b1"],
            weights_bc.value["w2"],
            weights_bc.value["b2"],
        )
        cost = 0.0
        dW1 = np.zeros_like(w1)
        dB1 = np.zeros_like(b1)
        dW2 = np.zeros_like(w2)
        dB2 = np.zeros_like(b2)
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            rows = len(pdf)
            # densify the sparse batch (batch × k, batch-local only)
            X = np.zeros((rows, k))
            for r, (idxs, vals) in enumerate(zip(pdf["indices"], pdf["values"])):
                X[r, np.asarray(idxs, dtype=np.int64)] = np.asarray(vals, dtype=np.float64)
            y = pdf["label"].to_numpy(dtype=np.int64)
            Y = np.eye(2)[y]  # one-hot (n×2)
            # forward
            Z1 = X @ w1 + b1
            A1 = _leaky_relu(Z1)
            Z2 = A1 @ w2 + b2
            A2 = _sigmoid(Z2)
            cost += float(0.5 * np.sum((A2 - Y) ** 2))
            # backward (SSE → sigmoid → LeakyReLU chain)
            dZ2 = (A2 - Y) * A2 * (1.0 - A2)
            dW2 += A1.T @ dZ2
            dB2 += dZ2.sum(axis=0)
            dZ1 = (dZ2 @ w2.T) * _leaky_relu_grad(Z1)
            dW1 += X.T @ dZ1
            dB1 += dZ1.sum(axis=0)
            n += rows
        yield pd.DataFrame(
            {
                "cost": [cost],
                "dW1": [dW1.ravel().tolist()],
                "dB1": [dB1.tolist()],
                "dW2": [dW2.ravel().tolist()],
                "dB2": [dB2.tolist()],
                "n": [n],
            }
        )

    return gen


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
        spark = features.sparkSession
        sc = spark.sparkContext
        feat = features.select("label", "indices", "values")
        # a cached input is read through its own cache; only an uncached
        # one gets a cached copy for the loop, released when the fit ends
        owned = features.storageLevel == StorageLevel.NONE
        if owned:
            feat = feat.persist(StorageLevel.MEMORY_AND_DISK)
            feat.count()
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
        schema = "cost double, dW1 array<double>, dB1 array<double>, dW2 array<double>, dB2 array<double>, n long"
        for t in range(1, self.iterations + 1):
            bw = sc.broadcast(w)
            parts = feat.mapInPandas(_nn_partials(k, h, bw), schema=schema).collect()
            bw.destroy()
            n = max(sum(p["n"] for p in parts), 1)
            cost = sum(p["cost"] for p in parts) / n
            grads = {
                "w1": np.sum([np.asarray(p["dW1"]).reshape(k, h) for p in parts], axis=0) / n,
                "b1": np.sum([np.asarray(p["dB1"]) for p in parts], axis=0) / n,
                "w2": np.sum([np.asarray(p["dW2"]).reshape(h, 2) for p in parts], axis=0) / n,
                "b2": np.sum([np.asarray(p["dB2"]) for p in parts], axis=0) / n,
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
        if owned:
            feat.unpersist()
        self.weights_ = w
        return self

    def predict(self, features: DataFrame) -> DataFrame:
        """argmax over the forward pass — Arrow-batched, no shuffle."""
        assert self.weights_ is not None
        import pyspark.sql.functions as F  # noqa: F401

        wts = self.weights_
        k = self.k
        keep_spark_zips = spark_zips_read_once()

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            keep_spark_zips()
            for pdf in batches:
                if pdf.empty:
                    continue
                rows = len(pdf)
                X = np.zeros((rows, k))
                for r, (idxs, vals) in enumerate(zip(pdf["indices"], pdf["values"])):
                    X[r, np.asarray(idxs, dtype=np.int64)] = np.asarray(vals, dtype=np.float64)
                A1 = _leaky_relu(X @ wts["w1"] + wts["b1"])
                A2 = _sigmoid(A1 @ wts["w2"] + wts["b2"])
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "pred": np.argmax(A2, axis=1).astype("int32")}
                )

        return features.mapInPandas(gen, schema="doc_id long, pred int")
