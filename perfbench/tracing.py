"""Tracing for the benchmark's traced run, all from the benchmark side.

* ``Tracer`` keeps spans in memory (name, job, pass label, start, end,
  parent) and writes them out once at the end.
* ``count_py4j`` wraps the py4j gateway client so every command the
  Python driver sends to the JVM is counted.
* ``wrap_writes`` wraps the package's public write and commit calls
  (``sources.writers`` functions, ``VersionedTable`` methods) in
  ``write`` spans.
* ``parse_event_log`` reads Spark's own (uncompressed, non-rolling)
  event log and sums stage, task and SQL-metric numbers per job group.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

# SQL metric names (as Spark prints them) the per-layer numbers use.
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
FILES_READ = "number of files read"
FILES_WRITTEN = "number of written files"


# The public write and commit calls of ``sources``.
WRITER_CALLS = ("write_summary", "incremental_update", "write_sorted",
                "write_zorder", "compact_partitions", "write_bucketed",
                "write_observed", "merge_upsert")
TABLE_CALLS = ("commit", "merge", "compact", "restore", "vacuum")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.context: tuple[str, str] = ("", "")  # (pass label, job)

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.rec = {"name": self.name, "pass": t.context[0], "job": t.context[1],
                    "parent": t._stack[-1] if t._stack else None,
                    "t0": time.time(), "py4j0": t.py4j_calls}
        self._p0 = time.perf_counter()
        t._stack.append(len(t.spans))
        t.spans.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["dur"] = time.perf_counter() - self._p0
        self.rec["t1"] = self.rec["t0"] + self.rec["dur"]
        self.rec["py4j"] = self.tracer.py4j_calls - self.rec.pop("py4j0")
        self.tracer._stack.pop()
        return False


def count_py4j(spark, tracer: Tracer) -> None:
    """Count every command sent through the session's gateway client."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted(*args, **kwargs):
        tracer.py4j_calls += 1
        return send(*args, **kwargs)

    client.send_command = counted


def wrap_writes(tracer: Tracer) -> None:
    """Put a ``write`` span around each public write/commit call.  Only
    the outermost call of a nest is a span.  Module-level references to
    the same function objects (``from ...writers import merge_upsert``)
    are rebound too."""
    from location_summary_etl_spark.sources import versioned, writers

    depth = [0]

    def wrap(fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if depth[0]:
                return fn(*args, **kwargs)
            depth[0] += 1
            try:
                with tracer.span("write"):
                    return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
        return traced

    swaps = {getattr(writers, name): wrap(getattr(writers, name))
             for name in WRITER_CALLS}
    for name in TABLE_CALLS:
        setattr(versioned.VersionedTable, name,
                wrap(getattr(versioned.VersionedTable, name)))
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("location_summary_etl_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and val in swaps:
                setattr(mod, attr, swaps[val])


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, summed task metrics (ms and
    bytes), Python-worker bytes and the run time of stages that feed
    Python workers, files read/written, and each completed stage's
    (submit, complete) wall interval in epoch ms."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_name: dict[int, str] = {}
    driver_acc: list[tuple[int, int, float]] = []
    stage_run: dict[int, float] = defaultdict(float)
    python_stages: set[int] = set()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = groups[group]
                    g["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(
                            int(props["spark.sql.execution.id"]), group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Submission Time" not in info:
                        continue
                    g = groups[group]
                    g["stages"] += 1
                    g.setdefault("stage_walls", []).append(
                        (info["Submission Time"], info["Completion Time"]))
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in (PY_SENT, PY_RECV):
                            g["python_bytes"] += float(acc.get("Value", 0))
                            python_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    g["run_ms"] += m["Executor Run Time"]
                    stage_run[ev["Stage ID"]] += m["Executor Run Time"]
                    g["cpu_ms"] += m["Executor CPU Time"] / 1e6
                    g["gc_ms"] += m["JVM GC Time"]
                    g["spill_bytes"] += (m["Memory Bytes Spilled"]
                                         + m["Disk Bytes Spilled"])
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    g["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    g["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    g["output_bytes"] += m.get(
                        "Output Metrics", {}).get("Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"], acc_name)
                elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in ev["sqlPlanMetrics"]:
                        acc_name[m["accumulatorId"]] = m["name"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        driver_acc.append((ev["executionId"], acc_id, value))
    for sid in python_stages:
        if sid in stage_group:
            groups[stage_group[sid]]["python_run_ms"] += stage_run[sid]
    for exec_id, acc_id, value in driver_acc:
        group = exec_group.get(exec_id)
        name = acc_name.get(acc_id)
        if group is None:
            continue
        if name == FILES_READ:
            groups[group]["files_read"] += value
        elif name == FILES_WRITTEN:
            groups[group]["files_written"] += value
    return {k: dict(v) for k, v in groups.items()}


def event_logs(directory: str) -> list[str]:
    return sorted(os.path.join(directory, f) for f in os.listdir(directory)
                  if not f.startswith("."))


def stage_union_ms(group: dict, t0: float, t1: float) -> float:
    """Union of the group's stage walls clipped to [t0, t1] (epoch s)."""
    lo, hi = t0 * 1000, t1 * 1000
    clipped = [(max(a, lo), min(b, hi)) for a, b in group.get("stage_walls", [])
               if b > lo and a < hi]
    return _union_ms(clipped)
