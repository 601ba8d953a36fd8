"""wiki_ingest: the reference's production path, open loop.

A seeded feed (loadgen) is served over loopback SSE. The engine path is
composed from public functions: register_sse_source ->
readStream.format("sse") with default options -> pipeline.parse_raw ->
pipeline.transform -> streaming.ingest.streaming_dedup ->
ingest_with_retention(max_rows=CAP, available_now=False). The main
thread polls streaming.ingest.sink_metrics every POLL_S seconds while
the stream runs, as the dashboard does.

Phases: a warm-up prefix of N_WARM events served unpaced (closed by
EOF, counted in set-up: one full drain, which plans and runs the
trigger body and the append once before anything is timed), a paced
phase at RATE events/s (latency), and an unpaced burst of BURST_TRIGGERS
full triggers (capacity, recorded but not an end-to-end metric: it is
CPU-bound, so it moves with the shared host more than any bound holds).
The reader drains BATCH events per trigger (its default
maxEventsPerBatch) and a drain ends only when it is full,
so the paced phase is sized in whole triggers: at least --seconds long,
rounded up to a multiple of BATCH events (one 25 s trigger at 40 ev/s
for --seconds up to 25). Every paced trigger is then closed by paced
events alone, and paced latency includes the whole source drain.
A paced trigger that mixes in burst events counts as a failed run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from common import WORK, median, percentile, tail_percentile
from loadgen import SSEFeedServer, make_feed
from telemetry import end_seq, progress, trigger_end
from wiki_model import check_sink

RATE = 40  # events/s, the upper observed Wikimedia recentchange rate
N_WARM = 1000
BATCH = 1000  # the SSE reader's default maxEventsPerBatch
BURST_TRIGGERS = 2  # full triggers after the last paced one
CAP = 1000  # retention cap: rewrites several times per run
WATERMARK = "1 minute"
POLL_S = 5.0  # dashboard poll period, from the paced phase's start
TIMEOUT_S = 120.0

# the benchmark's end-to-end metric -> this workload's measure of it
E2E = {"op_time_s": "wiki_latency_p50_s"}


def attribute_latency(
    progresses: list[dict], due: dict[int, float]
) -> dict[int, float]:
    """seq -> (end of the first trigger whose endOffset.seq covers seq)
    minus the seq's due time. Seqs no trigger covers are left out."""
    ends = sorted((end_seq(p), trigger_end(p)) for p in progresses)
    out: dict[int, float] = {}
    i = 0
    for seq in sorted(due):
        while i < len(ends) and ends[i][0] < seq:
            i += 1
        if i == len(ends):
            break
        out[seq] = ends[i][1] - due[seq]
    return out


def _committed_seq(query) -> int:
    p = query.lastProgress
    if not p:
        return 0
    return end_seq(p if isinstance(p, dict) else json.loads(p.json))


def run(engine, seed: int, seconds: int, tracer) -> dict:
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.pipeline import DEDUP_KEY, parse_raw, transform
    from etl_wikipedia_updates_spark.sources.sse import register_sse_source
    from etl_wikipedia_updates_spark.streaming import ingest
    from telemetry import job_group

    n_paced = BATCH * max(1, math.ceil(RATE * seconds / BATCH))
    burst = BATCH * BURST_TRIGGERS
    feed = make_feed(seed, N_WARM, n_paced, burst, n_paced / RATE)
    total = len(feed.messages)
    server = SSEFeedServer(feed).start()
    spark = engine.start()
    work = os.path.join(WORK, "wiki")
    shutil.rmtree(work, ignore_errors=True)
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    if tracer is not None:
        tracer.wrap(ingest, "append_batch", "ingest.append_batch")
        tracer.wrap(ingest, "apply_retention", "ingest.apply_retention")
    query = None
    polls_ms: list[float] = []
    polls_failed = 0
    try:
        register_sse_source(spark)
        lines = spark.readStream.format("sse").option("url", server.url).load()
        events = ingest.streaming_dedup(
            transform(parse_raw(lines)), DEDUP_KEY, "event_timestamp", WATERMARK
        )
        query = ingest.ingest_with_retention(
            events, sink, ckpt, max_rows=CAP, ts_col="event_timestamp",
            available_now=False,
        )
        deadline = time.time() + TIMEOUT_S
        while _committed_seq(query) < N_WARM and time.time() < deadline:
            time.sleep(0.05)
        setup_done = time.perf_counter()
        server.start_paced()
        next_poll = time.time() + POLL_S
        while _committed_seq(query) < total and time.time() < deadline:
            if query.exception() is not None:
                break
            if time.time() >= next_poll:
                next_poll += POLL_S
                t0 = time.perf_counter()
                try:
                    with job_group(spark, "dashboard"):
                        ingest.sink_metrics(spark, sink, "event_timestamp")
                    polls_ms.append(1000.0 * (time.perf_counter() - t0))
                except Exception:
                    polls_failed += 1
            # each check is a gateway call into the engine's JVM: check
            # rarely, so the harness takes little CPU from the triggers
            time.sleep(0.25)
        server.finish()
        query.stop()
        progresses = progress(query)
        sink_rows = [
            r.asDict()
            for r in ingest.read_sink(spark, sink)
            .withColumn(
                "event_timestamp",
                F.date_format("event_timestamp", "yyyy-MM-dd HH:mm:ss"),
            )
            .collect()
        ]
    finally:
        if query is not None and query.isActive:
            query.stop()
        server.stop()
        if tracer is not None:
            tracer.uninstall()

    log = server.log
    last_paced = N_WARM + n_paced
    # latency comes only from triggers that hold paced events alone
    paced_triggers = [p for p in progresses if N_WARM < end_seq(p) <= last_paced]
    due = {m.seq: log.paced_t0 + m.due_s for m in feed.paced}
    lat = attribute_latency(paced_triggers, due)
    lost = n_paced - len(lat)
    problems: list[str] = []
    if lost:
        problems.append(f"{lost} paced events not closed by a paced-only trigger")
    # capacity: the median burst trigger's rate, so that one trigger
    # stalled by the host does not set the run's figure (the triggers
    # run back to back, so the gaps between them are not lost time)
    capacity = median([
        1000.0 * p["numInputRows"] / p["durationMs"]["triggerExecution"]
        for p in progresses if end_seq(p) > last_paced and p["numInputRows"]
    ])
    check = check_sink([m.line for m in feed.messages], sink_rows, CAP)
    lat_s = list(lat.values())
    p99, p99_q = tail_percentile(lat_s, 99.0)
    sink_files = sum(len(f) for _r, _d, f in os.walk(sink))
    sink_bytes = sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(sink) for f in fs
    )
    unread = total - max(end_seq(p) for p in progresses)
    return {
        "setup_done": setup_done,
        "attempted": total + len(polls_ms) + polls_failed + check.checked,
        "failed": lost + polls_failed + check.failed + unread,
        "problems": (problems + check.problems)[:10],
        "metrics": {
            "wiki_latency_p50_s": median(lat_s),
            "wiki_latency_p99_s": p99,
            "wiki_capacity_ev_s": capacity,
            "dashboard_poll_p50_ms": median(polls_ms),
        },
        "detail": {
            "events": total,
            "paced": n_paced,
            "paced_s": n_paced / RATE,
            "paced_triggers": len(paced_triggers),
            "burst": burst,
            "retention_cap": CAP,
            "polls": len(polls_ms),
            "wiki_latency_p99_percentile": p99_q,
            "generator_lateness_p99_ms": 1000.0 * percentile(log.lateness_s, 99),
            "sink_rows": len(sink_rows),
        },
        "raw": {
            "progress": progresses,
            "n_warm": N_WARM,
            "paced_batches": [p["batchId"] for p in paced_triggers],
            "polls_ms": polls_ms,
            "sse_connects": log.connects,
            "sent_at": log.sent_at,
            "sink_files": sink_files,
            "sink_bytes": sink_bytes,
        },
    }
