"""Span recorder and Spark event-log reader.

The benchmark opens a span around every operation and around each
public engine call inside it. Spans stay in memory and are written out
when the run ends. A traced run also enables Spark's event log; after
the session stops, :func:`layer_metrics` joins the log's jobs, stages,
tasks and SQL executions to the spans by wall-clock time and returns
the per-layer numbers listed in ``BENCHMARK.json``.

Unless a name says otherwise, a per-layer value is a mean per timed
operation: totals over the jobs submitted inside the measured window,
divided by the number of operations in it. A per-call metric
(``<call>.wall_s`` and the like) is a mean over that call's spans in the
measured window, or over its set-up spans when it only runs in set-up;
0 when the workload never makes the call. ``io.store_*`` describe the
stores on disk at the end of the run; ``mem.*`` are the run's peaks,
measured outside the event log and passed in.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: the spans with per-span metrics: the benchmark's own steps, then the
#: public engine calls it wraps, named ``<module>.<function>``
TRACED_CALLS = (
    "maintain.build_cold",
    "maintain.build",
    "maintain.ingest",
    "maintain.takedown",
    "maintain.serve",
    "maintain.vacuum_wave",
    "train.featurize_cold",
    "train.featurize",
    "vector_store.persist_vector_index",
    "search.load_posting_index",
    "search.bm25_topk_indexed",
    "vector_store.load_vector_index",
    "vector_store.vector_index_rerank_topk",
    "sinks.search_index_upsert_batch",
    "vector_store.append_to_vector_index",
    "sinks.neardup_upsert_batch",
    "sinks.search_index_delete_batch",
    "sinks.vector_index_delete_batch",
    "sinks.neardup_delete_batch",
    "vocab.top_k_vocabulary",
    "features.tf_idf",
    "gd.sparse_features",
    "gd.GDTrainer.fit",
)
CALL_FIELDS = ("wall_s", "driver_s", "jobs", "shuffle_bytes")

#: layer metrics that do not depend on the call list
LAYER_METRICS = (
    "session.start_s",
    "driver.self_s",
    "sched.jobs",
    "sched.stages",
    "sched.tasks",
    "sched.overhead_s",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.busy_share",
    "exec.skew_max_median",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.records",
    "spill.bytes",
    "io.input_bytes",
    "io.output_bytes",
    "io.store_files",
    "io.store_bytes_per_doc",
    "plan.sql_executions",
    "plan.exchanges",
    "plan.broadcast_joins",
    "plan.sort_merge_joins",
    "plan.scans",
    "python.bytes_to_worker",
    "python.bytes_from_worker",
    "mem.peak_rss_mb",
    "mem.peak_heap_mb",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name a traced run prints, in order."""
    return list(LAYER_METRICS) + [f"{c}.{f}" for c in TRACED_CALLS for f in CALL_FIELDS]


class Tracer:
    """In-memory spans: name, start, end, parent, op id and phase."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "phase": self.phase,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall"]
            self._stack.pop()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``, in file then line order.

    Handles both the single-file and the rolling (``eventlog_v2_*/
    events_<n>_*``) layouts; the log must be uncompressed.
    """
    files = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus") or n.endswith(".crc"):
                continue
            files.append(os.path.join(root, n))

    def order(path: str):
        parts = os.path.basename(path).split("_")
        return (path.rsplit(os.sep, 1)[0], int(parts[1]) if parts[0] == "events" else 0)

    events = []
    for path in sorted(files, key=order):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _acc(task: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task["Task Info"].get("Accumulables", [])
        if a.get("Name") == name
    )


class EventLog:
    """Jobs, tasks and SQL plans out of a list of event-log records."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                self.jobs[jid] = {"start": e["Submission Time"] / 1e3, "end": None, "stages": set()}
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                jid = stage_job.get(e["Stage ID"])
                if jid is not None:
                    self.jobs[jid]["stages"].add((e["Stage ID"], e["Stage Attempt ID"]))
                self.tasks.append({
                    "job": jid,
                    "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                    "start": info["Launch Time"] / 1e3,
                    "end": info["Finish Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    "py_to": _acc(e, "data sent to Python workers"),
                    "py_from": _acc(e, "data returned from Python workers"),
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql[e["executionId"]] = {"start": e["time"] / 1e3, "plan": e["sparkPlanInfo"]}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in self.sql:
                    # the last update is the plan that actually ran
                    self.sql[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        for j in self.jobs.values():
            if j["end"] is None:
                j["end"] = j["start"]


def plan_counts(plan: dict) -> dict[str, int]:
    """Exchange, join and scan node counts of one ``sparkPlanInfo`` tree."""
    out = {"exchanges": 0, "broadcast_joins": 0, "sort_merge_joins": 0, "scans": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node["nodeName"]
        if name == "Exchange":
            out["exchanges"] += 1
        elif name.startswith("BroadcastHashJoin") or name.startswith("BroadcastNestedLoopJoin"):
            out["broadcast_joins"] += 1
        elif name.startswith("SortMergeJoin"):
            out["sort_merge_joins"] += 1
        elif name.startswith("Scan ") or name in ("LocalTableScan", "InMemoryTableScan", "BatchScan"):
            out["scans"] += 1
        stack.extend(node.get("children", []))
    return out


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Total length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _calls(spans: list[dict], name: str) -> list[dict]:
    done = [s for s in spans if s["name"] == name and "end" in s]
    timed = [s for s in done if s["phase"] == "measure"]
    return timed or done


def layer_metrics(
    log: EventLog,
    spans: list[dict],
    cores: int,
    store: tuple[int, float] = (0, 0.0),
    memory: tuple[float, float] = (0.0, 0.0),
) -> dict[str, float]:
    """The per-layer metrics of one traced run (see module docstring)."""
    ops = [s for s in spans if s["parent"] is None and s["phase"] == "measure" and "end" in s]
    if not ops:
        raise ValueError("no timed operation spans")
    n = len(ops)
    lo, hi = min(s["start"] for s in ops), max(s["end"] for s in ops)
    jobs = {j: v for j, v in log.jobs.items() if lo <= v["start"] <= hi}
    tasks = [t for t in log.tasks if t["job"] in jobs]
    job_iv = [(v["start"], v["end"]) for v in jobs.values()]

    by_stage: dict[tuple, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(max(t["end"] - t["start"], 1e-3))
    skew = max(
        (max(d) / statistics.median(d) for d in by_stage.values() if len(d) > 1), default=1.0
    )
    plans = [plan_counts(x["plan"]) for x in log.sql.values() if lo <= x["start"] <= hi]
    session = [s for s in spans if s["name"] == "session.get_spark"]

    def tsum(key: str) -> float:
        return sum(t[key] for t in tasks)

    m = {
        "session.start_s": session[0]["wall"] if session else 0.0,
        "driver.self_s": sum(
            s["wall"] - union_length(job_iv, s["start"], s["end"]) for s in ops
        ) / n,
        "sched.jobs": len(jobs) / n,
        "sched.stages": sum(len(v["stages"]) for v in jobs.values()) / n,
        "sched.tasks": len(tasks) / n,
        "sched.overhead_s": (
            union_length(job_iv) - union_length([(t["start"], t["end"]) for t in tasks])
        ) / n,
        "exec.run_s": tsum("run_s") / n,
        "exec.cpu_s": tsum("cpu_s") / n,
        "exec.gc_s": tsum("gc_s") / n,
        "exec.busy_share": tsum("run_s") / (cores * sum(s["wall"] for s in ops)),
        "exec.skew_max_median": skew,
        "shuffle.write_bytes": tsum("shuffle_write") / n,
        "shuffle.read_bytes": tsum("shuffle_read") / n,
        "shuffle.records": tsum("shuffle_records") / n,
        "spill.bytes": tsum("spill") / n,
        "io.input_bytes": tsum("input") / n,
        "io.output_bytes": tsum("output") / n,
        "io.store_files": float(store[0]),
        "io.store_bytes_per_doc": float(store[1]),
        "plan.sql_executions": len(plans) / n,
        "python.bytes_to_worker": tsum("py_to") / n,
        "python.bytes_from_worker": tsum("py_from") / n,
        "mem.peak_rss_mb": memory[0],
        "mem.peak_heap_mb": memory[1],
    }
    for key in ("exchanges", "broadcast_joins", "sort_merge_joins", "scans"):
        m[f"plan.{key}"] = sum(p[key] for p in plans) / n

    for call in TRACED_CALLS:
        calls = _calls(spans, call)
        vals = {f: 0.0 for f in CALL_FIELDS}
        for s in calls:
            inside = [
                j for j, v in log.jobs.items() if s["start"] <= v["start"] <= s["end"]
            ]
            vals["wall_s"] += s["wall"]
            vals["driver_s"] += s["wall"] - union_length(
                [(log.jobs[j]["start"], log.jobs[j]["end"]) for j in inside], s["start"], s["end"]
            )
            vals["jobs"] += len(inside)
            inside = set(inside)
            vals["shuffle_bytes"] += sum(
                t["shuffle_write"] for t in log.tasks if t["job"] in inside
            )
        for f in CALL_FIELDS:
            m[f"{call}.{f}"] = vals[f] / len(calls) if calls else 0.0
    return {k: m[k] for k in per_layer_names()}
