"""Per-layer metrics of a traced run, and how the layers split wall time.

Every workload reports every metric; a layer that is idle in a workload
reports 0 (design.json lists where each layer is busy). Parts are
checked to add up: trigger phases against ``triggerExecution``, wrapped
foreachBatch functions against ``addBatch``, and per-query build +
execute against per-query wall time.
"""

from __future__ import annotations

import os

from common import median
from telemetry import end_seq, fold_event_log, jobs_between, trigger_end

PLAN_MODULES = (
    "northstar", "relational", "corpus", "clustering", "bpe", "incremental",
    "events", "wiki",
)
PLAN_FIELDS = ("build_s", "exec_s", "build_jobs", "exec_jobs", "tasks")

METRICS: list[str] = [
    "sse.drain_ms_p50", "sse.rows_per_batch_p50", "sse.lag_events_max", "sse.connects",
    "pipeline.lines_in", "pipeline.rows_out", "pipeline.keep_ratio",
    "state.rows_total_end", "state.memory_bytes_end", "state.commit_ms_p50",
    "state.dups_dropped",
    "trigger.planning_ms_p50", "trigger.add_batch_ms_p50", "trigger.wal_ms_p50",
    "trigger.total_ms_p50", "trigger.jobs_p50", "trigger.phase_coverage",
    "ingest.append_batch_ms_p50", "ingest.apply_retention_ms_p50",
    "ingest.retention_rewrites", "ingest.sink_files_end", "ingest.sink_bytes_end",
    "neardup.dedup_ingest_batch_ms_p50", "neardup.bucket_store_files_end",
    "decontam.curation_batch_ms_p50", "decontam.reported_input_ratio",
    "replay.write_splits_s",
    *[f"plans.{m}.{f}" for m in PLAN_MODULES for f in PLAN_FIELDS],
    "plans.coverage",
    "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_bytes", "spark.spill_bytes",
    "spark.python_ms",
    "session.get_spark_s",
    "dashboard.poll_ms_p50",
    "process.peak_rss_mb",
]


def _tree(path: str | None) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    if path and os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += len(names)
            size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return files, size


def _stream_layers(m: dict, prog: list[dict], tracer, jobs, exclude) -> dict:
    """Trigger, state and wrapped-function metrics; returns the parts."""
    windows = [
        (trigger_end(p) - p["durationMs"]["triggerExecution"] / 1000.0, trigger_end(p))
        for p in prog
    ]
    tracer = tracer.within(windows)
    total = [float(p["durationMs"]["triggerExecution"]) for p in prog]
    phases: dict[str, float] = {}
    for p in prog:
        for k, v in p["durationMs"].items():
            if k != "triggerExecution":
                phases[k] = phases.get(k, 0.0) + float(v)
    m["trigger.planning_ms_p50"] = median([p["durationMs"].get("queryPlanning", 0) for p in prog])
    m["trigger.add_batch_ms_p50"] = median([p["durationMs"].get("addBatch", 0) for p in prog])
    m["trigger.wal_ms_p50"] = median(
        [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
         for p in prog]
    )
    m["trigger.total_ms_p50"] = median(total)
    m["trigger.phase_coverage"] = sum(phases.values()) / max(1.0, sum(total))
    m["trigger.jobs_p50"] = median([jobs_between(jobs, *w, exclude) for w in windows])
    spans_ms = {
        "ingest.append_batch_ms_p50": "ingest.append_batch",
        "ingest.apply_retention_ms_p50": "ingest.apply_retention",
        "neardup.dedup_ingest_batch_ms_p50": "neardup.dedup_ingest_batch",
        "decontam.curation_batch_ms_p50": "decontam.full_curation_ingest_batch",
    }
    for metric, span in spans_ms.items():
        m[metric] = median(tracer.durations_ms(span))
    m["ingest.retention_rewrites"] = sum(
        1 for s in tracer.spans if s["name"] == "ingest.apply_retention" and s.get("result")
    )
    top = sum(s["t1"] - s["t0"] for s in tracer.spans if s["parent"] is None and "t1" in s)
    add_batch_s = phases.get("addBatch", 0.0) / 1000.0
    self_s = tracer.self_time_s()
    return {
        "wall_s": sum(total) / 1000.0,
        "trigger_phases_s": {k: v / 1000.0 for k, v in phases.items()},
        "phase_coverage": m["trigger.phase_coverage"],
        "add_batch_split_s": {
            **{f"{k} (self)": v for k, v in self_s.items()},
            "addBatch outside wrapped functions": add_batch_s - top,
        },
        "add_batch_coverage": top / add_batch_s if add_batch_s else None,
        "self_time_s": {
            **{f"trigger.{k}": v / 1000.0 for k, v in phases.items() if k != "addBatch"},
            "trigger.addBatch (unwrapped)": add_batch_s - top,
            **self_s,
        },
    }


def compute(
    workload: str, res: dict, tracer, get_spark_s: float, peak_rss_mb: float,
    event_log_dir: str,
):
    m = {k: 0.0 for k in METRICS}
    m["process.peak_rss_mb"] = peak_rss_mb
    raw = res.get("raw", {})
    ev = fold_event_log(event_log_dir)
    for k, v in ev["totals"].items():
        if f"spark.{k}" in m:
            m[f"spark.{k}"] = v
    m["session.get_spark_s"] = get_spark_s
    parts: dict = {"spark_executors": ev["totals"]}

    if workload == "wiki_ingest":
        prog = [  # triggers after the warm-up that read events
            p for p in raw["progress"] if end_seq(p) > raw["n_warm"] and p["numInputRows"]
        ]
        parts.update(_stream_layers(m, prog, tracer, ev["jobs"], {"dashboard"}))
        sent = sorted(raw["sent_at"].values())
        # the paced drain is what latency waits on; a burst drain is instant
        m["sse.drain_ms_p50"] = median(
            [p["durationMs"].get("latestOffset", 0) for p in prog
             if p["batchId"] in raw["paced_batches"]]
        )
        m["sse.rows_per_batch_p50"] = median([p["numInputRows"] for p in prog])
        m["sse.lag_events_max"] = max(
            sum(1 for t in sent if t <= trigger_end(p)) - end_seq(p) for p in prog
        )
        m["sse.connects"] = raw["sse_connects"]
        m["dashboard.poll_ms_p50"] = median(raw["polls_ms"])
        ops = [p["stateOperators"][0] for p in prog]
        dropped = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)
        late = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        updated = sum(o.get("numRowsUpdated", 0) for o in ops)
        m["pipeline.lines_in"] = sum(p["numInputRows"] for p in prog)
        m["pipeline.rows_out"] = updated + dropped + late
        m["pipeline.keep_ratio"] = m["pipeline.rows_out"] / max(1, m["pipeline.lines_in"])
        m["state.rows_total_end"] = ops[-1].get("numRowsTotal", 0)
        m["state.memory_bytes_end"] = ops[-1].get("memoryUsedBytes", 0)
        m["state.commit_ms_p50"] = median([o.get("commitTimeMs", 0) for o in ops])
        m["state.dups_dropped"] = dropped
        m["ingest.sink_files_end"] = raw["sink_files"]
        m["ingest.sink_bytes_end"] = raw["sink_bytes"]
    elif workload == "curate_stream":
        prog = raw["progress"]
        parts.update(_stream_layers(m, prog, tracer, ev["jobs"], set()))
        m["decontam.reported_input_ratio"] = (
            sum(p["numInputRows"] for p in prog) / raw["docs_in"]
        )
        m["replay.write_splits_s"] = raw["replay_write_s"]
        m["ingest.sink_files_end"], m["ingest.sink_bytes_end"] = _tree(raw["sink_dir"])
        m["neardup.bucket_store_files_end"] = _tree(raw["bucket_store_dir"])[0]
    else:  # query_suite
        wall = build = execute = 0.0
        per_module: dict[str, dict] = {}
        for q in raw["plans"].values():
            pre = f"plans.{q['module']}."
            m[pre + "build_s"] += q["build_s"]
            m[pre + "exec_s"] += q["exec_s"]
            m[pre + "build_jobs"] += q["build"]["jobs"]
            m[pre + "exec_jobs"] += q["exec"]["jobs"]
            m[pre + "tasks"] += q["build"]["tasks"] + q["exec"]["tasks"]
            wall += q["wall_s"]
            build += q["build_s"]
            execute += q["exec_s"]
            mod = per_module.setdefault(q["module"], {"build_s": 0.0, "exec_s": 0.0})
            mod["build_s"] += q["build_s"]
            mod["exec_s"] += q["exec_s"]
        m["plans.coverage"] = (build + execute) / wall if wall else 0.0
        parts.update(
            {
                "wall_s": wall,
                "self_time_s": {"plans.build": build, "plans.exec": execute},
                "per_module_s": per_module,
                "coverage": m["plans.coverage"],
            }
        )
    return m, parts
