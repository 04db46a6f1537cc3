"""Unit tests of the benchmark's own reference computations."""

import math
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from workloads import reference_curve  # noqa: E402


def rows():
    return pd.DataFrame({
        "label": [1, 0, 1, 0],
        "indices": [[0, 2], [1], [0], [1, 2]],
        "values": [[1.0, 0.5], [2.0], [1.5], [0.5, 1.0]],
    })


def test_reference_curve_starts_at_n_log_2_and_gd_descends():
    gd = reference_curve(rows(), 3, "gd", 5)
    adam = reference_curve(rows(), 3, "adam", 5)
    assert gd[0] == pytest.approx(4 * math.log(2.0), rel=1e-12)
    assert adam[0] == gd[0]
    assert all(b < a for a, b in zip(gd, gd[1:]))
    assert adam[-1] < adam[0] and adam != gd


def test_reference_curve_first_gd_step_by_hand():
    # zero weights: θ = 0, σ = 1/2, gradient = Xᵀ(1/2 − y); the bold
    # driver raises lr to 0.0105 before the first update
    x = np.array([[1.0, 0.0, 0.5], [0.0, 2.0, 0.0], [1.5, 0.0, 0.0], [0.0, 0.5, 1.0]])
    y = np.array([1.0, 0.0, 1.0, 0.0])
    w = -0.0105 * (x.T @ (0.5 - y))
    theta = x @ w
    want = float(np.sum(np.logaddexp(0.0, theta) - y * theta)) + 1.15 * float(w @ w)
    assert reference_curve(rows(), 3, "gd", 2)[1] == pytest.approx(want, rel=1e-12)


def test_peak_heap_reads_the_gc_log(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.234s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 25M->4M(256M) 3.1ms\n"
        "[5.678s][info][gc] GC(1) Pause Young (Concurrent Start) (G1 Humongous Allocation) 310M->120M(512M) 9.0ms\n"
        "[6.000s][info][gc] GC(2) Pause Full (System.gc()) 150M->90M(512M) 40.2ms\n"
    )
    assert run.peak_heap_mb(str(log)) == 310.0


def test_a_failed_operation_still_records_its_latency():
    from layers import Tracer
    from workloads import Workload

    wl = Workload(None, Tracer(), "", 0)
    wl.build_s = 1.0
    with pytest.raises(RuntimeError):
        with wl.timed("op", 0):
            raise RuntimeError("operation failed")
    assert len(wl.samples) == 1 and wl.samples[0] >= 0.0
    assert wl.metrics()["op_p50_s"] == wl.samples[0]
