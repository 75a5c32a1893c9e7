"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from
the seed under ``.perfbench/`` in the checkout, starts a local Spark
session with one core per CPU, runs the workload once through the
package's public functions, checks every output and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, the
Spark event log is on, and the spans are written to
``.perfbench/traces/<workload>-<seed>.spans.jsonl``. Lines before the last
one name every metric of the run with its unit, and the host's steal and
idle shares over the timed phase. The exit code is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_HEAP = "3g"

# The host-noise sampling bench.py does, repeated here so the benchmark
# does not import bench.py (and, through it, the whole query registry).
def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """steal% and idle% (idle + iowait) of all jiffies in the window."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal_pct": 100.0 * d[7] / total, "idle_pct": 100.0 * (d[3] + d[4]) / total}


def tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next((int(line.split()[1]) for line in fh if line.startswith("VmRSS:")), 0)
        except OSError:
            pass
    return total


class Window:
    """The timed phase: peak RSS of this process tree, sampled every
    50 ms, and the host's CPU shares."""

    def __init__(self):
        self.peak_kb = 0
        self.shares: dict[str, float] = {}

    @contextmanager
    def __call__(self):
        stop = threading.Event()

        def sample():
            while not stop.is_set():
                self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
                stop.wait(0.05)

        sampler = threading.Thread(target=sample, daemon=True)
        before = cpu_jiffies()
        sampler.start()
        try:
            yield
        finally:
            stop.set()
            sampler.join()
            self.shares = cpu_shares(before, cpu_jiffies())


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it every
    Python worker it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "rustic_witcher_spark")):
        print(f"perfbench: no rustic_witcher_spark package under {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    events, tmp = os.path.join(work, "events"), os.path.join(work, "tmp")
    os.makedirs(events, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            # keep every temporary file inside the checkout: Python's, and
            # the JVM's (native-library extraction, perf data)
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", JVM_HEAP),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # pandas-UDF workers import the package by name
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    if args.trace:
        from spans import spark_submit_args

        os.environ["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(events)
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer, job_stats

    from rustic_witcher_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # set-up: session start, which launches the JVM
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    start_s = time.perf_counter() - t0

    tracer = Tracer(uuid.uuid4().hex, bool(args.trace), spark)
    window = Window()
    ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, nproc, window)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        spark.stop()
        stop_jvm()

    checks_failed = [c for c in res.checks if not c[1]]
    attempted = res.operations + len(res.checks)
    failed = res.operation_failures + len(checks_failed)
    e2e = {
        "setup_s": (start_s + res.warm_s, "s"),
        "rows_per_s": (res.rows / statistics.median(res.pass_s), "rows/s"),
        "output_bytes_ratio": (res.output_bytes / res.input_bytes, "ratio"),
        "recall": (res.recall, "ratio"),
    }
    if args.trace:
        stats = job_stats(events)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            per_layer = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        layers = dict.fromkeys(per_layer, 0.0)
        layers.update(res.layers(stats) if res.layers else {})
        # only the traced part of the run sets job groups
        timed = {g: s for g, s in stats.items() if g}
        wall = max(s["end"] for s in tracer.spans) - min(s["start"] for s in tracer.spans)
        run_s = sum(s["run_s"] for s in timed.values())
        layers.update(
            {
                "session.start_s": start_s,
                "run.peak_rss_mb": window.peak_kb / 1024,
                "spark.jobs": sum(s["jobs"] for s in timed.values()),
                "spark.tasks": sum(s["tasks"] for s in timed.values()),
                "spark.executor_cpu_s": sum(s["cpu_s"] for s in timed.values()),
                "spark.gc_s": sum(s["gc_s"] for s in timed.values()),
                "spark.idle_frac": max(0.0, 1 - run_s / (wall * nproc)),
                "trace.job_s": res.pass_s[0],
                "trace.boundary_s": sum(s["end"] - s["start"] for s in tracer.spans if s.get("boundary")),
            }
        )
        spans_path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.spans.jsonl")
        tracer.write(spans_path)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)} (trace id {tracer.trace_id})")
        metrics = {k: (layers[k], unit) for k, unit in per_layer.items()}
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in res.checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    report = {
        **e2e,
        **res.summary,
        "error_frac": (failed / attempted, "ratio"),
        "peak_rss_mb": (window.peak_kb / 1024, "MB"),
        "session_start_s": (start_s, "s"),
        "warm_pass_s": (res.warm_s, "s"),
        "timed_passes_s": (" ".join(f"{s:.3f}" for s in res.pass_s), "s"),
    }
    if args.trace:
        report.update(metrics)
    for name, (value, unit) in report.items():
        print(f"{name} = {value} {unit}" if isinstance(value, str) else f"{name} = {round(value, 6)} {unit}")
    print(" ".join(f"{k}={v:.1f}" for k, v in window.shares.items()))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
