"""Unit tests of the event-log reader and the per-layer metrics.

``data/eventlog`` is a recorded Spark 4.1 event log (``local[2]``,
rolling layout) of two queries: a broadcast join followed by a grouped
count, and a ``mapInPandas`` pass followed by a sum. It is trimmed to
the record types the reader uses. Run with
``python3 -m pytest perfbench/tests``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from layers import (  # noqa: E402
    EventLog,
    Tracer,
    layer_metrics,
    per_layer_names,
    plan_counts,
    read_event_log,
    union_length,
)

LOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog")


@pytest.fixture(scope="module")
def log():
    return EventLog(read_event_log(LOG_DIR))


def span(sid, name, start, end, parent=None, phase="measure"):
    return {"id": sid, "name": name, "parent": parent, "op": sid, "phase": phase,
            "start": start, "end": end, "wall": end - start}


#: op 0 covers the join query (jobs 0-2), op 1 the mapInPandas query
#: (jobs 3-4) with a GD-fit span around its jobs
SPANS = [
    span(0, "session.get_spark", 1792190510.0, 1792190517.0, phase="setup"),
    span(1, "op.join", 1792190523.9, 1792190526.5),
    span(2, "op.python", 1792190526.7, 1792190529.0),
    span(3, "gd.GDTrainer.fit", 1792190526.8, 1792190528.95, parent=2),
]


def test_reader_parses_jobs_tasks_and_plans(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert len(log.tasks) == 8
    assert log.jobs[3]["start"] == pytest.approx(1792190526.865)
    assert log.jobs[3]["end"] == pytest.approx(1792190528.819)
    assert {t["job"] for t in log.tasks} == {0, 1, 2, 3, 4}
    # the final adaptive plan of each query
    assert plan_counts(log.sql[0]["plan"]) == {
        "exchanges": 1, "broadcast_joins": 1, "sort_merge_joins": 0, "scans": 0}
    assert plan_counts(log.sql[1]["plan"])["exchanges"] == 1
    py = [t for t in log.tasks if t["py_to"]]
    assert [t["py_to"] for t in py] == [8416.0, 8416.0]
    assert [t["py_from"] for t in py] == [12272.0, 12272.0]


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([]) == 0.0


def test_layer_metrics(log):
    m = layer_metrics(log, SPANS, cores=2, store=(7, 512.0))
    assert list(m) == per_layer_names()
    assert m["session.start_s"] == pytest.approx(7.0)
    assert m["sched.jobs"] == pytest.approx(2.5)
    assert m["sched.tasks"] == pytest.approx(4.0)
    assert m["sched.stages"] == pytest.approx(2.5)
    assert m["io.store_files"] == 7
    assert m["io.store_bytes_per_doc"] == 512.0
    assert m["python.bytes_to_worker"] == pytest.approx(8416.0)
    assert m["python.bytes_from_worker"] == pytest.approx(12272.0)
    assert m["plan.sql_executions"] == pytest.approx(1.0)
    assert m["plan.exchanges"] == pytest.approx(1.0)
    assert m["plan.broadcast_joins"] == pytest.approx(0.5)
    # op wall minus the union of the jobs inside it
    driver = ((2.6 - (0.335 + 0.288 + 0.145)) + (2.3 - (1.954 + 0.045))) / 2
    assert m["driver.self_s"] == pytest.approx(driver, abs=1e-6)
    run_s = sum(t["run_s"] for t in log.tasks)
    assert m["exec.run_s"] == pytest.approx(run_s / 2)
    assert m["exec.busy_share"] == pytest.approx(run_s / (2 * 4.9))
    assert m["gd.GDTrainer.fit.jobs"] == 2
    assert m["gd.GDTrainer.fit.wall_s"] == pytest.approx(2.15)
    assert m["gd.GDTrainer.fit.shuffle_bytes"] == 118
    assert m["search.bm25_topk_indexed.wall_s"] == 0.0


def test_layer_metrics_needs_timed_ops(log):
    with pytest.raises(ValueError):
        layer_metrics(log, SPANS[:1], cores=2)


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("outer", op=3):
        tr.phase = "measure"
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["op"] == 3 and inner["phase"] == "measure"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_benchmark_json_lists_what_the_runs_print():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in bench["end_to_end"]] == list(run.E2E_UNITS.values())
    traced = [f"traced.{k}" for k in run.E2E_UNITS]
    assert [m["name"] for m in bench["per_layer"]] == per_layer_names() + traced
    for m in bench["per_layer"][: len(per_layer_names())]:
        assert m["unit"] == run.unit_of(m["name"])
    assert [w["name"] for w in bench["workloads"]] == ["maintain", "train"]
