"""curate_stream: the documents table through full streaming curation.

The first N_DOCS documents of the fixed sf0.1 documents table
(datagen) are replayed in doc_id order as N_SPLITS splits of 625 docs
(sources.replay) through streaming.decontam.ingest_with_full_curation
against the CONTAM_BENCH_SOURCE slice, as tools/stream_bench.py does
with the whole table in 8 splits: the trigger size is the same and the
replay shorter, so a run fits its time budget. One untimed warm-up
replay of the first split (one trigger, which plans and compiles the
whole trigger body once) is counted in set-up.

The timed work is fixed: one replay per REPLAY_S of --seconds (one, of
three triggers, at the benchmark's 20 s). The engine is still warming
up then (each trigger is faster than the one before), so a run that
replayed until a time was used would do more, and faster, triggers on
a quiet host than on a busy one. Each replay is checked against the
kept doc_id set recorded in expected.json.

A document's latency runs from the replay's start() to the end of the
trigger that committed it (the whole corpus is due at start, as in a
closed-loop batch); its tail is the time to a complete result. The
engine's CPU time (driver JVM and Python workers, user + system) is
measured over the same replays; per trigger, it is the benchmark's
op_time_s here. Every wall-clock figure of this CPU-bound workload
moved 1.7x when the shared host turned busy for minutes at a time, the
CPU time 1.4x; see design.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from common import WORK, median, tail_percentile, tree_cpu_s
from datagen import ensure_tables
from telemetry import progress, trigger_end

HERE = os.path.dirname(os.path.abspath(__file__))
N_DOCS = 1875
N_SPLITS = 3
REPLAY_S = 20  # --seconds per timed replay
SHUFFLE_PARTITIONS = 8  # as tools/stream_bench.py
TIMEOUT_S = 120

# the benchmark's end-to-end metric -> this workload's measure of it
E2E = {"op_time_s": "curate_cpu_s_per_trigger"}


def kept_hash(doc_ids: list[int]) -> str:
    return hashlib.sha256(repr(sorted(doc_ids)).encode()).hexdigest()


def expected_kept() -> str:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)["curate_stream"]["kept_sha256"]


def replay_docs(spark, sf_dir: str):
    """The replayed documents and the decontamination slice."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.plans.northstar import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    return docs.filter(F.col("doc_id") < N_DOCS), bench


def doc_latency_p99(progresses: list[dict], t_start: float) -> float:
    """99th percentile (or the highest keeping ten samples beyond it) of
    per-document latency: end of the committing trigger - t_start."""
    lat = [trigger_end(p) - t_start for p in progresses for _ in range(p["numInputRows"])]
    return tail_percentile(lat, 99.0)[0]


def _replay(spark, start, replay_dir, schema, work) -> tuple[float, float, float, list[dict], list[int]]:
    """(wall s from start() to termination, engine CPU s, doc latency
    p99 s, progress, kept doc_ids) of one replay."""
    from etl_wikipedia_updates_spark.sources.replay import read_replay_stream
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink

    shutil.rmtree(work, ignore_errors=True)
    stream = read_replay_stream(spark, replay_dir, schema)
    t_wall = time.time()
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    q = start(stream, os.path.join(work, "sink"), os.path.join(work, "ckpt"))
    finished = q.awaitTermination(TIMEOUT_S)
    elapsed = time.perf_counter() - t0
    cpu = tree_cpu_s() - c0
    if not finished:
        q.stop()
        raise TimeoutError(f"replay did not finish within {TIMEOUT_S}s")
    kept = [r.doc_id for r in read_sink(spark, os.path.join(work, "sink")).select("doc_id").collect()]
    prog = progress(q)
    return elapsed, cpu, doc_latency_p99(prog, t_wall), prog, kept


def run(engine, seed: int, seconds: int, tracer) -> dict:
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming import decontam, ingest, neardup
    from etl_wikipedia_updates_spark.streaming.neardup import bucket_store_path

    del seed  # the documents table is fixed; see datagen
    sf_dir = ensure_tables(os.path.join(WORK, "tables", "sf0.1"))
    spark = engine.start()
    work = os.path.join(WORK, "curate")
    shutil.rmtree(work, ignore_errors=True)
    docs, bench = replay_docs(spark, sf_dir)
    n_docs = docs.count()

    t0 = time.perf_counter()
    chunks = write_replay_splits(docs, os.path.join(work, "replay"), N_SPLITS, "doc_id")
    write_splits_s = time.perf_counter() - t0

    def start(stream, sink, ckpt):
        return decontam.ingest_with_full_curation(stream, bench, sink, ckpt)

    _replay(spark, start, chunks[0], docs.schema, os.path.join(work, "warm"))
    setup_done = time.perf_counter()

    if tracer is not None:
        tracer.wrap(decontam, "full_curation_ingest_batch",
                    "decontam.full_curation_ingest_batch")
        tracer.wrap(neardup, "dedup_ingest_batch", "neardup.dedup_ingest_batch")
        for module in (ingest, decontam, neardup):
            tracer.wrap(module, "append_batch", "ingest.append_batch")
    expected = expected_kept()
    failed = 0
    problems: list[str] = []
    rates: list[float] = []
    cpu_s = 0.0
    tails: list[float] = []
    triggers: list[dict] = []
    replays = max(1, round(seconds / REPLAY_S))
    try:
        for i in range(1, replays + 1):
            try:
                elapsed, cpu, tail, prog, kept = _replay(
                    spark, start, os.path.join(work, "replay"), docs.schema,
                    os.path.join(work, f"run{i}"),
                )
            except TimeoutError as exc:
                failed += 1
                problems.append(str(exc))
                continue
            if kept_hash(kept) != expected:
                failed += 1
                problems.append(f"replay {i}: kept set of {len(kept)} docs differs")
            rates.append(n_docs / elapsed)
            cpu_s += cpu
            tails.append(tail)
            triggers += prog
    finally:
        if tracer is not None:
            tracer.uninstall()

    last_sink = os.path.join(work, f"run{replays}", "sink")
    batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in triggers]
    return {
        "setup_done": setup_done,
        "attempted": max(1, replays),
        "failed": failed,
        "problems": problems,
        "metrics": {
            "curate_docs_per_s": median(rates),
            "curate_batch_p50_s": median(batch_ms) / 1000.0,
            "curate_doc_latency_p99_s": median(tails),
            "curate_cpu_s_per_trigger": cpu_s / max(1, len(triggers)),
        },
        "detail": {"replays": replays, "docs_in": n_docs, "splits": N_SPLITS},
        "raw": {
            "progress": triggers,
            "docs_in": n_docs * replays,
            "replay_write_s": write_splits_s,
            "sink_dir": last_sink,
            "bucket_store_dir": bucket_store_path(last_sink),
        },
    }
