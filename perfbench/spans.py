"""Spans, layer boundaries and Spark event-log attribution for traced runs.

A span records one call into a layer: name, start, end, its parent span
and the run's trace id. Spans stay in memory and are written out once at
the end of the run. Each span sets the Spark job group of its thread to
``<name>#<span id>``, so the event log attributes every job, and with it
task CPU, GC, shuffle and spill bytes, to the span that submitted it.

Spark is lazy, so a layer's self time is measured at its boundaries: the
traced run materializes a layer's output with a ``noop`` write and
subtracts the same measurement taken at the layer's input. Rows are
counted at the same boundaries with ``DataFrame.observe``.

With tracing off every method is a pass-through and records nothing.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def job_group(span: dict) -> str:
    return f"{span['name']}#{span['span_id']}"


class Tracer:
    def __init__(self, trace_id: str, enabled: bool, spark=None):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.spark = spark
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Record a span around the block; yields the span dict (or None
        with tracing off). ``parent`` overrides the thread's innermost
        open span, for work handed to another thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent if parent is not None else (stack[-1] if stack else None)
        with self._lock:
            sid = next(self._ids)
        rec = {"trace_id": self.trace_id, "span_id": sid, "parent_id": parent and parent["span_id"], "name": name}
        stack.append(rec)
        self._set_group(job_group(rec))
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_group(job_group(stack[-1]) if stack else None)
            with self._lock:
                self.spans.append(rec)

    def boundary(self, df: DataFrame, name: str) -> tuple[float, int, str]:
        """Materialize ``df`` with a noop write inside span ``name``;
        return (seconds, rows, job group). (0.0, 0, "") with tracing off."""
        if not self.enabled:
            return 0.0, 0, ""
        obs = Observation()
        with self.span(name) as rec:
            rec["boundary"] = True
            t0 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        return dt, int(obs.get["rows"]), job_group(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log


def spark_submit_args(event_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS that switch the event log on from outside the
    program's session factory."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        # one plain JSON-lines file per application
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def _empty() -> dict:
    return {
        "jobs": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "records_read": 0,
        "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
    }


def job_stats(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU/run/GC seconds, records
    read, shuffle and spill bytes, from every event log in ``event_dir``.
    Jobs without a group are filed under ``""``."""
    out: dict[str, dict] = defaultdict(_empty)
    for path in glob.glob(os.path.join(event_dir, "*")):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    out[group]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def stats_for(stats: dict[str, dict], tracer: Tracer, name: str, key: str) -> float:
    """Sum of ``key`` over the jobs of every span called ``name``."""
    groups = {job_group(s) for s in tracer.spans if s["name"] == name}
    return sum(stats[g][key] for g in groups if g in stats)


def stats_under(stats: dict[str, dict], tracer: Tracer, root: dict, key: str) -> float:
    """Sum of ``key`` over the jobs of ``root`` and all its descendant spans."""
    children = defaultdict(list)
    for s in tracer.spans:
        children[s["parent_id"]].append(s)
    todo, total = [root], 0.0
    while todo:
        s = todo.pop()
        total += stats.get(job_group(s), {}).get(key, 0)
        todo.extend(children[s["span_id"]])
    return total
