"""What the benchmark reads from Spark's public telemetry, and the spans
of a traced run.

- ``progress``: streaming progress reports (``query.recentProgress``),
  normalised to dicts, with the SSE source's end offset decoded.
- ``Tracer``: wraps public module functions for the duration of a traced
  run and records one span per call, with its parent span, so self time
  per layer can be computed. Spans stay in memory.
- ``job_group``/``group_jobs``: run a block in a named job group and
  read its jobs, stages and tasks back from ``statusTracker``.
- ``fold_event_log``: fold an uncompressed event log into executor
  totals and the job-start list.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import glob
import json
import os
import threading
import time
from datetime import datetime


# --- streaming progress -------------------------------------------------------
def progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        out.append(d)
    return sorted(out, key=lambda d: d["batchId"])


def end_seq(p: dict) -> int:
    """The SSE source's delivered-event counter at the end of a trigger."""
    end = p["sources"][0].get("endOffset")
    if isinstance(end, str):
        # a Python data source reports its offset dict as its repr
        end = ast.literal_eval(end)
    return int((end or {}).get("seq", 0))


def trigger_end(p: dict) -> float:
    """Wall-clock end of a trigger: its start plus triggerExecution."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


# --- spans ------------------------------------------------------------------------
class Tracer:
    """Records one span per call of each wrapped function."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._installed: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = {
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "id": len(tracer.spans),
                "t0": time.time(),
            }
            tracer.spans.append(span)
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
                span["result"] = out if isinstance(out, (bool, int, float)) else None
                return out
            finally:
                stack.pop()
                span["t1"] = time.time()

        self._installed.append((module, attr, fn))
        setattr(module, attr, traced)

    def within(self, windows: list[tuple[float, float]]) -> "Tracer":
        """A view holding only the spans that start inside a window."""
        view = Tracer()
        view.spans = [
            s for s in self.spans if any(t0 <= s["t0"] <= t1 for t0, t1 in windows)
        ]
        return view

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._installed):
            setattr(module, attr, fn)
        self._installed.clear()

    def durations_ms(self, name: str) -> list[float]:
        return [
            1000.0 * (s["t1"] - s["t0"])
            for s in self.spans
            if s["name"] == name and "t1" in s
        ]

    def self_time_s(self) -> dict[str, float]:
        """Per span name: total time minus the time of its child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "t1" in s:
                own = s["t1"] - s["t0"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total_s(self, name: str) -> float:
        return sum(d for d in self.durations_ms(name)) / 1000.0


# --- job groups -------------------------------------------------------------------
@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


# --- event log -----------------------------------------------------------------------
_SQL_UI = "org.apache.spark.sql.execution.ui."


def _python_time_metrics(plan: dict, out: dict[int, str]) -> None:
    """accumulatorId -> metricType of every Python worker time metric."""
    for metric in plan.get("metrics", []):
        name = metric.get("name", "")
        if "Python" in name and name.startswith("time"):
            out[metric["accumulatorId"]] = metric.get("metricType", "timing")
    for child in plan.get("children", []):
        _python_time_metrics(child, out)


def _to_ms(value, metric_type: str) -> float:
    return float(value) / 1e6 if metric_type == "nsTiming" else float(value)


def fold_event_log(log_dir: str) -> dict:
    """Executor totals and job starts from the (single) event log in
    ``log_dir``. Call after the session stopped, so the log is complete."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    tot = {"task_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
           "python_ms": 0.0, "tasks": 0}
    jobs: list[dict] = []
    python_ids: dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        if acc.get("ID") in python_ids:
                            tot["python_ms"] += _to_ms(acc.get("Update", 0), python_ids[acc["ID"]])
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "t": ev["Submission Time"] / 1000.0,
                            "group": props.get("spark.jobGroup.id"),
                        }
                    )
                elif kind in (
                    _SQL_UI + "SparkListenerSQLExecutionStart",
                    _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    _python_time_metrics(ev.get("sparkPlanInfo", {}), python_ids)
                elif kind == _SQL_UI + "SparkListenerDriverAccumUpdates":
                    # Python data source planning runs on the driver
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_id in python_ids:
                            tot["python_ms"] += _to_ms(value, python_ids[acc_id])
    return {"totals": tot, "jobs": jobs}


def jobs_between(jobs: list[dict], t0: float, t1: float, exclude: set[str]) -> int:
    return sum(1 for j in jobs if t0 <= j["t"] <= t1 and j["group"] not in exclude)
