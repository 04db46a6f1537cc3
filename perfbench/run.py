"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark starts one local Spark
session on every core the process may use, generates its inputs from
``--seed``, sets up the workload, then sends operations in a closed
loop (one client) for ``--seconds`` seconds, finishing the operation in
flight. Outputs are checked outside the
timed region. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``), each as ``{"value": ..., "unit": ...}``. A traced run
also writes spans, per-layer numbers and its own end-to-end numbers to
``perfbench-results/``. Everything else the run writes lives in a
scratch dir under ``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, "perfbench-results")
#: the end-to-end metrics every workload prints, with their units
E2E_UNITS = {"op_p50_s": "s", "build_s": "s", "setup_s": "s", "live_heap_mb": "MB"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Summed peak resident memory (VmHWM) of this process and its
    descendants: the Spark JVM and any Python workers."""
    total_kb = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def live_heap_mb(spark) -> float:
    """JVM heap in use once garbage is gone: what the driver keeps
    (cached frames, broadcasts, catalog). Each round runs Python's
    collector, so JVM objects held only by unreachable Python objects
    are released through py4j, then a full JVM collection. Freeing
    takes several rounds, because Spark's cleaner releases broadcasts
    and shuffles only after a collection found their owners unreachable,
    so rounds repeat until three readings in a row agree to 0.5%."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    while len(readings) < 12:
        gc.collect()
        jvm.System.gc()
        time.sleep(0.25)
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        last = readings[-3:]
        if len(last) == 3 and max(last) - min(last) <= 0.005 * min(last):
            break
    log(f"heap after each collection round, MB: {[round(r, 1) for r in readings]}")
    return readings[-1]


def peak_heap_mb(gc_log: str) -> float:
    """The most heap in use when any collection started (``<before>M->``
    in the JVM's unified gc log): the driver's peak heap use."""
    with open(gc_log) as fh:
        return float(max((int(b) for b in re.findall(r"(\d+)M->\d+M\(\d+M\)", fh.read())), default=0))


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, by its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name or name.endswith("_worker"):
        return "B"
    if name.endswith("share"):
        return "share"
    if name.endswith("max_median"):
        return "ratio"
    return "count"


def start_spark(workdir: str, cores: int, trace_dir: str | None, gc_log: str):
    from nlp_with_pyspark_spark.session import get_spark

    # the engine's own driver memory and collector settings are kept
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData -Xlog:gc:file={gc_log}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # workers exit once the JVM has closed their pipes
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, workdir: str) -> dict:
    sys.path[:0] = [ROOT, HERE]
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    from layers import EventLog, Tracer, layer_metrics, read_event_log

    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer()
    trace_dir = os.path.join(workdir, "eventlog") if args.trace else None
    gc_log = os.path.join(workdir, "gc.log")
    if trace_dir:
        os.makedirs(trace_dir)

    t_setup = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_spark(workdir, cores, trace_dir, gc_log)
    try:
        wl = WORKLOADS[args.workload](spark, tracer, workdir, args.seed)
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - t_setup
        log(f"{args.workload}: set-up {setup_s:.2f} s on local[{cores}]")

        tracer.phase = "measure"
        failed: set[int] = set()
        op, t0 = 0, time.perf_counter()
        while op == 0 or time.perf_counter() - t0 < args.seconds:
            try:
                wl.step(op)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                log(f"operation {op} failed:\n{traceback.format_exc()}")
                failed.add(op)
            op += 1
        measured_s = time.perf_counter() - t0
        attempted = op
        rss, heap = peak_rss_mb(), live_heap_mb(spark)
        tracer.phase = "check"

        try:
            failed.update(o for o in wl.check() if 0 <= o < attempted)
        except Exception:  # noqa: BLE001 - a check that cannot run fails every operation
            log(f"correctness check failed:\n{traceback.format_exc()}")
            failed.update(range(attempted))
        values = {**wl.metrics(), "setup_s": setup_s, "live_heap_mb": heap}
        e2e = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        store = wl.store_stats()
        log(f"{args.workload}: {attempted} ops in {measured_s:.1f} s, {len(failed)} failed; "
            f"{json.dumps(wl.detail)}")
    finally:
        stop_spark(spark)

    for k, m in e2e.items():
        log(f"  {k:32s} {m['value']:.6g} {m['unit']}")
    metrics = e2e
    if args.trace:
        layers = layer_metrics(EventLog(read_event_log(trace_dir)), tracer.spans, cores, store,
                               (rss, peak_heap_mb(gc_log)))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        metrics.update({f"traced.{k}": m for k, m in e2e.items()})
        os.makedirs(RESULTS, exist_ok=True)
        out = os.path.join(RESULTS, f"trace_{args.workload}_s{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                       "end_to_end": e2e, "per_layer": metrics, "detail": wl.detail,
                       "spans": tracer.spans}, fh, indent=1)
        log(f"per-layer profile written to {out}")
    for k, m in metrics.items():
        if not math.isfinite(m["value"]):
            raise ValueError(f"metric {k} is not finite: {m['value']}")
    return {"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("maintain", "train"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isdir(os.path.join(ROOT, "nlp_with_pyspark_spark")):
        log(f"the engine package nlp_with_pyspark_spark is not next to {HERE}")
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        result = run(args, workdir)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result line
        log(traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
