#!/usr/bin/env python
"""Streaming ingest throughput bench (BASELINE.md bench contract).

Replays the events table through the file-replay source into the
foreachBatch parquet sink and reports sustained events/s. The bar is
>=100x the Wikimedia recentchange SSE rate (~10-40 ev/s publicly
observed => >=4000 ev/s; /root/reference/config.py:10). Then replays
the documents (or embeddings) table through EVERY shipped streaming
dedup/curation mode and reports docs/s per mode — all nine ingest
variants (r18 verdict #4: the r18 artifact covered 5 of ~8, so a
regression in the embedding, cosine-verified, decontam, or one-pass
curate modes was invisible round-over-round):

- neardup / quality / verified / span: document near-dup family
- embedding / embedding_verified: SemDeDup-style sign-bucket dedup
  over the embeddings table (bands nominate; _verified rescoring
  with the exact cosine)
- decontam_shingle / decontam_span: benchmark-decontamination ingest
  against the CONTAM_BENCH_SOURCE slice (the batch `contamination` /
  `span_decontam` rules, streamed)
- curate: the one-pass quality+decontam+neardup curation ingest

One untimed warm-up replay runs before the first timed measurement.
Prints one JSON line per measurement. With ``--out PATH`` it also
writes the combined object to PATH — the per-round regression
artifact (STREAMBENCH_r{N}.json at the repo root, r17 verdict #4:
the SCALE.md §8 throughput numbers were session-local prose before
this, so a regression there was invisible to round-over-round diffs).
Metric names for the five r18 modes are unchanged, so r19-vs-r18
diffs line up key-for-key.

Run: python tools/stream_bench.py [sf_dir] [--out PATH]
     [--modes neardup,quality,...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json
import tempfile
import time

from etl_wikipedia_updates_spark.session import get_spark
from etl_wikipedia_updates_spark.sources.replay import (
    read_replay_stream,
    write_replay_splits,
)
from etl_wikipedia_updates_spark.streaming.ingest import (
    ingest_with_retention,
    read_sink,
)
from etl_wikipedia_updates_spark.tables import load_table

WIKIMEDIA_EV_S = 40  # upper end of the publicly observed SSE rate
N_SPLITS = 8  # micro-batches; each batch pays trigger+commit overhead
TIMEOUT_S = 600

# mode -> (replayed table, split/order key, one-line cost note);
# starters bind in main() once the static frames exist
MODE_SPECS: dict[str, tuple[str, str, str]] = {
    "neardup": (
        "documents",
        "doc_id",
        "shingle+MinHash per batch + bucket-store collision join",
    ),
    "quality": (
        "documents",
        "doc_id",
        "quality gate, then the MinHash dedup path",
    ),
    "verified": (
        "documents",
        "doc_id",
        "MinHash nomination + exact bottom-k Jaccard verify",
    ),
    "span": (
        "documents",
        "doc_id",
        "exact-substring veto: span hashes ARE the store rows",
    ),
    "embedding": (
        "embeddings",
        "vec_id",
        "sign-bucket (SimHash band) blocking over the embedding column",
    ),
    "embedding_verified": (
        "embeddings",
        "vec_id",
        "sign-bucket nomination + exact cosine verify",
    ),
    "decontam_shingle": (
        "documents",
        "doc_id",
        "benchmark shingle-overlap veto (batch `contamination` rule)",
    ),
    "decontam_span": (
        "documents",
        "doc_id",
        "benchmark exact-substring veto (batch `span_decontam` rule)",
    ),
    "curate": (
        "documents",
        "doc_id",
        "one-pass quality + decontam + near-dup curation ingest",
    ),
}


def _await_or_die(q, what: str) -> None:
    """A timed-out replay must FAIL the bench, not report a partial
    sink as a result (and the still-running query would then race the
    TemporaryDirectory cleanup)."""
    if not q.awaitTermination(TIMEOUT_S):
        q.stop()
        raise SystemExit(
            f"{what}: replay did not finish within {TIMEOUT_S}s; "
            "no benchmark result (partial sink discarded)"
        )


def _replay_frame(spark, frame, key, start, what: str):
    """Replay ``frame`` (split/ordered on ``key``) through an ingest
    starter; return (elapsed_sec, rows_kept)."""
    with tempfile.TemporaryDirectory() as tmp:
        replay = f"{tmp}/replay"
        write_replay_splits(frame, replay, N_SPLITS, key)
        stream = read_replay_stream(spark, replay, frame.schema)
        t0 = time.perf_counter()
        q = start(stream, f"{tmp}/sink", f"{tmp}/ckpt")
        _await_or_die(q, what)
        elapsed = time.perf_counter() - t0
        kept = read_sink(spark, f"{tmp}/sink").count()
    return elapsed, kept


def main() -> None:
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.plans.northstar import (
        CONTAM_BENCH_SOURCE,
    )
    from etl_wikipedia_updates_spark.streaming.decontam import (
        ingest_with_decontam,
        ingest_with_full_curation,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        ingest_with_embedding_neardup,
        ingest_with_neardup,
        ingest_with_quality_neardup,
        ingest_with_span_neardup,
        ingest_with_verified_embedding_neardup,
        ingest_with_verified_neardup,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=None,
        help="also write the combined JSON object here "
        "(STREAMBENCH_r{N}.json per-round artifact)",
    )
    ap.add_argument(
        "--modes",
        default=",".join(MODE_SPECS),
        help="comma-separated mode subset — documents modes plus the "
        "embedding/embedding_verified embeddings-table modes "
        "(default: all)",
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    selected = [m for m in args.modes.split(",") if m]
    unknown = set(selected) - set(MODE_SPECS)
    if unknown:
        raise SystemExit(f"unknown modes: {sorted(unknown)}")

    results: list[dict] = []

    def emit(obj: dict) -> None:
        print(json.dumps(obj), flush=True)
        results.append(obj)

    spark = get_spark(app_name="stream_bench", shuffle_partitions=8)
    events = load_table(spark, sf_dir, "events")
    n_events = events.count()
    frames = {
        name: load_table(spark, sf_dir, name)
        for name in {MODE_SPECS[m][0] for m in selected}
    }
    counts = {name: f.count() for name, f in frames.items()}
    docs = frames.get("documents")
    # held-out benchmark slice, the same convention the batch
    # contamination query and the CLI --mode decontam default declare;
    # exclude_self=True because the slice shares the stream's ids
    bench = (
        docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
        if docs is not None
        else None
    )
    starters = {
        "neardup": ingest_with_neardup,
        "quality": ingest_with_quality_neardup,
        "verified": ingest_with_verified_neardup,
        "span": ingest_with_span_neardup,
        "embedding": ingest_with_embedding_neardup,
        "embedding_verified": ingest_with_verified_embedding_neardup,
        "decontam_shingle": lambda s, sink, ck: ingest_with_decontam(
            s, bench, sink, ck, mode="shingles"
        ),
        "decontam_span": lambda s, sink, ck: ingest_with_decontam(
            s, bench, sink, ck, mode="spans"
        ),
        "curate": lambda s, sink, ck: ingest_with_full_curation(
            s, bench, sink, ck
        ),
    }
    # One untimed replay first (the first selected mode, else the
    # events ingest), so JVM start-up and first-use class loading land
    # on no timed measurement.
    if selected:
        table, key, _note = MODE_SPECS[selected[0]]
        _replay_frame(
            spark, frames[table], key, starters[selected[0]], "warm-up"
        )
    else:
        _replay_frame(spark, events, "ts", ingest_with_retention, "warm-up")
    with tempfile.TemporaryDirectory() as tmp:
        replay = f"{tmp}/replay"
        write_replay_splits(events, replay, N_SPLITS, "ts")
        stream = read_replay_stream(spark, replay, events.schema)
        t0 = time.perf_counter()
        q = ingest_with_retention(stream, f"{tmp}/sink", f"{tmp}/ckpt")
        _await_or_die(q, "stream_ingest")
        elapsed = time.perf_counter() - t0
        sunk = read_sink(spark, f"{tmp}/sink").count()
    ev_s = sunk / elapsed
    emit(
        {
            "metric": "stream_ingest_events_per_sec",
            "value": round(ev_s, 1),
            "unit": "events/sec",
            "events": sunk,
            "expected_events": n_events,
            "elapsed_sec": round(elapsed, 2),
            "micro_batches": N_SPLITS,
            "x_wikimedia": round(ev_s / WIKIMEDIA_EV_S, 1),
            "meets_100x_bar": ev_s >= 100 * WIKIMEDIA_EV_S,
            "sf": sf_dir,
        }
    )

    for mode in selected:
        table, key, note = MODE_SPECS[mode]
        elapsed, kept = _replay_frame(
            spark, frames[table], key, starters[mode], f"{mode}_ingest"
        )
        emit(
            {
                "metric": f"{mode}_ingest_docs_per_sec",
                "value": round(counts[table] / elapsed, 1),
                "unit": "docs/sec",
                "table": table,
                "docs_in": counts[table],
                "docs_kept": kept,
                "elapsed_sec": round(elapsed, 2),
                "micro_batches": N_SPLITS,
                "note": note,
                "sf": sf_dir,
            }
        )

    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {
                    "sf": sf_dir,
                    "micro_batches": N_SPLITS,
                    "measurements": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {args.out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
