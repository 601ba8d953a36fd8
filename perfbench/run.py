#!/usr/bin/env python3
"""The engine's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload wiki_ingest --seed 1 --seconds 20 --trace 0

Workloads (design.json has the reasons, the metric definitions and the
layer map):

- wiki_ingest:   live SSE ingest, open loop (latency, capacity, polls)
- curate_stream: the documents table through full streaming curation
- query_suite:   one registry query per plan module into the noop sink,
                 closed loop (run by hand; BENCHMARK.json lists the
                 first two, which is what fits the repeated-run budget)

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json. They are one set for every workload, so each
workload maps its own measure onto op_time_s (its ``E2E``): the time
of the workload's unit of work, in wall-clock time where the workload
waits on its source (wiki_ingest's paced latency) and in CPU time where
it is CPU-bound (curate_stream's triggers). With ``--trace 1`` (a separate run) the line
carries the per-layer metrics, read from job groups, streaming
progress, wrapped public functions and an uncompressed event log, and
the run's record holds the tracing overhead against the latest
untraced run. Every run writes its full record, with the workload's
own metric names and units, to ``.perfbench/out/<workload>-trace<t>.json``.
Outputs are checked in the same run; mismatches count as failed
operations, not crashes.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

import common
from common import PROCESS_START, WORK, peak_rss_mb, prepare_env, session_conf, unit

MODULES = {"wiki_ingest": "wl_wiki", "curate_stream": "wl_curate", "query_suite": "wl_suite"}
WORKLOADS = tuple(MODULES)
# BENCHMARK.json's end-to-end metrics; each workload's E2E maps op_time_s
# to its own measure. Peak RSS is reported per layer instead: its
# run-to-run spread (JVM heap growth, GC timing) is wider than any bound
# the repeated runs can hold. So are the wall-clock times and rates of
# CPU-bound work on a shared host; they stay in the run's record.
E2E_METRICS = ("setup_s", "op_time_s")
HARD_LIMIT_S = 170  # the run must end within 180 s


class Engine:
    """Starts the engine's session once, timed, with the run's conf."""

    def __init__(self, app: str, event_log_dir: str | None, shuffle_partitions=None):
        self.app = app
        self.event_log_dir = event_log_dir
        self.shuffle_partitions = shuffle_partitions
        self.spark = None
        self.get_spark_s = 0.0

    def start(self):
        from etl_wikipedia_updates_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=self.app,
            shuffle_partitions=self.shuffle_partitions,
            extra_conf=session_conf(self.event_log_dir),
        )
        self.get_spark_s = time.perf_counter() - t0
        return self.spark


def tracing_overhead(workload: str, seconds: int, traced: dict) -> dict | None:
    """Traced minus untraced per end-to-end metric, against the latest
    untraced run of the workload in this checkout (None if there is none
    with the same --seconds)."""
    path = os.path.join(WORK, "out", f"{workload}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)
    if base["seconds"] != seconds:
        return None
    return {
        "untraced_seed": base["seed"],
        "delta": {k: v - base["end_to_end"][k] for k, v in traced.items()
                  if k in base["end_to_end"]},
        "ratio": {k: v / base["end_to_end"][k] for k, v in traced.items()
                  if base["end_to_end"].get(k)},
    }


def _watchdog(_signum, _frame):
    print(f"run exceeded {HARD_LIMIT_S}s; no result", file=sys.stderr)
    os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(HARD_LIMIT_S)
    cpu_start = common.cpu_times()

    # the engine is built from the checkout's own source, never from
    # another copy on the path
    if not os.path.isfile(os.path.join(common.ROOT, "etl_wikipedia_updates_spark", "__init__.py")):
        print("no engine source in this checkout; no result", file=sys.stderr)
        return 2
    prepare_env()
    import etl_wikipedia_updates_spark  # noqa: F401
    import layers
    from telemetry import Tracer

    module = importlib.import_module(MODULES[args.workload])
    event_log_dir = None
    tracer = None
    if args.trace:
        event_log_dir = os.path.join(WORK, "eventlog", args.workload)
        shutil.rmtree(event_log_dir, ignore_errors=True)
        tracer = Tracer()
    engine = Engine(
        f"perfbench-{args.workload}", event_log_dir,
        getattr(module, "SHUFFLE_PARTITIONS", None),
    )
    res = module.run(engine, args.seed, args.seconds, tracer)
    rss = peak_rss_mb()
    common.stop_engine(engine.spark)

    named = {
        **res["metrics"],
        "setup_s": res["setup_done"] - PROCESS_START,
        "peak_rss_mb": rss,
        "ops_failed_frac": res["failed"] / max(1, res["attempted"]),
    }
    e2e = {k: named[module.E2E.get(k, k)] for k in E2E_METRICS}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "problems": res.get("problems", []),
        "host_cpu_steal_ratio": common.steal_ratio(cpu_start, common.cpu_times()),
        "end_to_end": e2e,
        "workload_metrics": {k: {"value": v, "unit": unit(k)} for k, v in named.items()},
        "detail": res.get("detail", {}),
        "triggers": [
            {"batchId": p["batchId"], "numInputRows": p["numInputRows"],
             "durationMs": p["durationMs"]}
            for p in res.get("raw", {}).get("progress", [])
        ],
    }
    if args.trace:
        per_layer, parts = layers.compute(
            args.workload, res, tracer, engine.get_spark_s, rss, event_log_dir
        )
        record["per_layer"] = per_layer
        record["layer_parts"] = parts
        record["tracing_overhead"] = tracing_overhead(args.workload, args.seconds, e2e)
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in e2e.items()}
    common.write_artifact(f"{args.workload}-trace{args.trace}.json", record)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
