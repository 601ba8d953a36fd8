"""S1-S5: streaming batch-equivalence tests (SURVEY §2.3).

Each test replays the deterministic events table through a file-replay
stream and asserts the streaming result equals the batch answer over
the same data — the correctness contract for streaming (not
duckdb-hashed; SURVEY §5.2).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.sources.replay import (
    read_replay_stream,
    write_replay_splits,
)
from etl_wikipedia_updates_spark.streaming.decontam import (
    shingle_hits,
    start_ingest,
    verdict_rows,
)
from etl_wikipedia_updates_spark.streaming.ingest import (
    ingest_with_retention,
    metrics_delta,
    progress_velocity,
    read_sink,
    sink_metrics,
    streaming_dedup,
    windowed_counts,
)
from etl_wikipedia_updates_spark.streaming.neardup import (
    SHINGLES_DIRNAME,
    VECTORS_DIRNAME,
)
from etl_wikipedia_updates_spark.tables import load_table

N_SPLITS = 4


@pytest.fixture(scope="module")
def events(spark, sf_smoke):
    return load_table(spark, sf_smoke, "events").cache()


@pytest.fixture(scope="module")
def replay_dir(events, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("replay"))
    write_replay_splits(events, path, N_SPLITS, "ts")
    return path


def _checksum(df):
    row = df.agg(
        F.count("*").alias("n"), F.sum("event_id").alias("s")
    ).first()
    return row["n"], row["s"]


def shingle_store_path(sink_path: str) -> str:
    return os.path.join(sink_path, SHINGLES_DIRNAME)


def vector_store_path(sink_path: str) -> str:
    return os.path.join(sink_path, VECTORS_DIRNAME)


def decontam_verdicts(docs, bench_sh, exclude_self: bool = True):
    """(doc_id, bench_doc, shared) for every doc the shingle rule
    vetoes (``exclude_self`` as in decontam._strongest_hits)."""
    return verdict_rows(shingle_hits(docs, bench_sh, exclude_self))


# --- S1: file-replay ingest == batch -----------------------------------------
def test_s1_replay_ingest_equals_batch(spark, events, replay_dir, tmp_path):
    stream = read_replay_stream(spark, replay_dir, events.schema)
    q = ingest_with_retention(
        stream, str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    assert _checksum(read_sink(spark, str(tmp_path / "sink"))) == _checksum(events)
    velocity = progress_velocity(q)
    assert velocity is None or velocity >= 0


def test_compact_sink_preserves_rows_and_merges_files(
    spark, events, replay_dir, tmp_path
):
    """Per-batch appends fragment the sink; compaction must merge files
    without changing the data."""
    from etl_wikipedia_updates_spark.streaming.ingest import compact_sink

    from etl_wikipedia_updates_spark.streaming.ingest import sink_snapshot

    stream = read_replay_stream(spark, replay_dir, events.schema)
    sink = str(tmp_path / "sink")
    q = ingest_with_retention(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    before = _checksum(read_sink(spark, sink))
    stats = compact_sink(spark, sink, target_files=2)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 2
    assert _checksum(read_sink(spark, sink)) == before
    # the compacted table IS a published snapshot version: readable
    # directly through SnapshotTable.read with identical content
    snap = sink_snapshot(sink)
    v = snap.current_version()
    assert v is not None
    assert _checksum(snap.read(spark, v)) == before


def test_compaction_never_exposes_partial_sink(
    spark, events, replay_dir, tmp_path
):
    """A foreign reader (DuckDB) following the sink's manifest protocol
    THROUGHOUT repeated compactions must see the complete dataset at
    EVERY instant, with zero failed reads. This is the no-missing-
    instant guarantee the snapshot publish adds over the old
    rename-swap (which had a between-renames path-not-found window the
    old version of this test had to retry around): resolve
    _snapshot/_current.json -> read that version's immutable files +
    batch dirs newer than its folded_through marker; before the first
    publish, read the append-only batch dirs."""
    import glob as _glob
    import json
    import os
    import threading

    import duckdb

    from etl_wikipedia_updates_spark.streaming.ingest import compact_sink

    stream = read_replay_stream(spark, replay_dir, events.schema)
    sink = str(tmp_path / "sink")
    q = ingest_with_retention(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    n_full = read_sink(spark, sink).count()

    observed: set[int] = set()
    failures: list[Exception] = []
    stop = threading.Event()

    def poll():
        con = duckdb.connect()
        while not stop.is_set():
            try:
                manifest = os.path.join(sink, "_snapshot", "_current.json")
                if os.path.exists(manifest):
                    with open(manifest) as fh:
                        v = int(json.load(fh)["version"])
                    vdir = os.path.join(sink, "_snapshot", f"v{v}")
                    with open(os.path.join(vdir, "_meta.json")) as fh:
                        folded = int(json.load(fh).get("folded_through", -1))
                    paths = [f"{vdir}/*.parquet"] + [
                        f"{d}/*.parquet"
                        for d in sorted(_glob.glob(f"{sink}/batch_*"))
                        if int(os.path.basename(d).split("_", 1)[1]) > folded
                    ]
                else:  # pre-publish: append-only batch dirs
                    paths = [f"{sink}/batch_*/*.parquet"]
                sql = " UNION ALL ".join(
                    f"SELECT COUNT(*) AS n FROM read_parquet('{p}')"
                    for p in paths
                )
                observed.add(
                    con.sql(f"SELECT SUM(n) FROM ({sql})").fetchone()[0]
                )
            except Exception as exc:  # any failure = an unreadable instant
                failures.append(exc)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        for target in (4, 3, 2):
            compact_sink(spark, sink, target_files=target)
    finally:
        stop.set()
        t.join(30)
    assert not failures, f"reader hit an unreadable instant: {failures[0]!r}"
    assert observed == {n_full}  # never empty, never partial, never doubled
    assert read_sink(spark, sink).count() == n_full


def test_pinned_reader_survives_next_publish(spark, events, replay_dir, tmp_path):
    """A reader holding version N keeps a consistent snapshot while
    version N+1 publishes and becomes current (one-publish grace:
    versions vacuum keep_last=2, folded batch dirs are deleted one
    maintenance cycle late)."""
    from etl_wikipedia_updates_spark.streaming.ingest import (
        compact_sink,
        sink_snapshot,
    )

    stream = read_replay_stream(spark, replay_dir, events.schema)
    sink = str(tmp_path / "sink")
    q = ingest_with_retention(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    full = _checksum(read_sink(spark, sink))

    compact_sink(spark, sink, target_files=4)
    snap = sink_snapshot(sink)
    v1 = snap.current_version()
    pinned = read_sink(spark, sink, version=v1)
    assert _checksum(pinned) == full

    compact_sink(spark, sink, target_files=2)
    assert snap.current_version() == v1 + 1
    # the pinned plan still reads version N's files after N+1 went live
    assert _checksum(pinned) == full
    assert _checksum(read_sink(spark, sink, version=v1)) == full
    assert _checksum(read_sink(spark, sink)) == full


def test_s2_watermark_drops_late_rows(spark, events, tmp_path):
    """Spark's semantics (verified on 4.1): rows later than the
    watermark are *admitted* while their window's state is still live
    and *dropped* once the window has been finalized and evicted. So
    the late chunk arrives after a sentinel has pushed the watermark
    past every on-time window's end."""
    import time

    base = events.filter(F.col("ts") < "2024-01-01 03:00:00")
    late = base.filter(F.col("ts") < "2024-01-01 01:00:00").withColumn(
        "event_id", F.col("event_id") + 1_000_000
    )
    sentinel = base.limit(1).select(
        (F.col("event_id") + 2_000_000).alias("event_id"),
        F.lit("2024-01-01 12:00:00").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).select(*base.columns)
    replay = str(tmp_path / "replay")
    base.coalesce(1).write.parquet(replay + "/chunk_0001")
    time.sleep(1.5)  # distinct modification times fix replay order
    sentinel.coalesce(1).write.parquet(replay + "/chunk_0002")
    time.sleep(1.5)
    late.coalesce(1).write.parquet(replay + "/chunk_0003")

    stream = read_replay_stream(spark, replay, base.schema)
    windowed = windowed_counts(stream, "ts", "1 hour", "10 minutes")
    q = (
        windowed.writeStream.format("memory")
        .queryName("s2_windows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    rows = spark.sql("SELECT * FROM s2_windows").collect()
    got = {str(r.window_start): r.n for r in rows}
    expected = {
        str(r.w["start"]): r.n
        for r in base.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # on-time windows carry on-time-only counts; late chunk dropped
    for w, n in expected.items():
        assert got.get(w) == n, f"window {w}: streaming={got.get(w)} batch={n}"
    assert dropped > 0, "late rows should be dropped by the watermark"
    # append mode must never emit a window twice
    assert len(rows) == len(got)


# --- S3: streaming dedup == batch dedup ----------------------------------------
def test_s3_streaming_dedup_equals_batch(spark, events, tmp_path):
    sample = events.filter(F.col("event_id") % 10 == 0)
    dup_replay = str(tmp_path / "replay")
    sample.coalesce(1).write.parquet(dup_replay + "/chunk_0001")
    # exact duplicate rows replayed in the next micro-batch
    sample.coalesce(1).write.parquet(dup_replay + "/chunk_0002")

    stream = read_replay_stream(spark, dup_replay, sample.schema)
    deduped = streaming_dedup(
        stream, ["user_id", "event_type", "ts"], "ts", "2 hours"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("s3_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = spark.sql("SELECT COUNT(*) AS n FROM s3_dedup").first()["n"]
    batch = sample.dropDuplicates(["user_id", "event_type", "ts"]).count()
    assert streamed == batch


# --- S4: retention keeps newest N ----------------------------------------------
def test_s4_retention_keeps_newest(spark, events, replay_dir, tmp_path):
    max_rows = 200
    stream = read_replay_stream(spark, replay_dir, events.schema)
    q = ingest_with_retention(
        stream,
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
        max_rows=max_rows,
        ts_col="ts",
    )
    q.awaitTermination(300)
    sink = read_sink(spark, str(tmp_path / "sink"))
    assert sink.count() <= int(1.1 * max_rows)
    # whatever survived must be the newest rows end-to-end
    newest_batch = events.orderBy(F.col("ts").desc()).limit(max_rows)
    oldest_kept = sink.agg(F.min("ts")).first()[0]
    cutoff = newest_batch.agg(F.min("ts")).first()[0]
    assert oldest_kept >= cutoff
    m = sink_metrics(spark, str(tmp_path / "sink"), "ts")
    assert m["rows"] == sink.count() and m["bytes"] > 0
    # D6: deltas between two polls of the same gauges
    d = metrics_delta(m, sink_metrics(spark, str(tmp_path / "sink"), "ts"))
    assert d["rows"] == 0 and d["bytes"] == 0 and d["max_ts"] is None


# --- S2 session variant: native session_window == batch lag-gap -----------------
def test_session_window_equals_batch(spark, events, tmp_path):
    import time

    from etl_wikipedia_updates_spark.streaming.ingest import session_counts

    base = events.filter(F.col("user_id") < 20)
    # one far-future sentinel advances the global watermark past every
    # real session's end+gap so append mode emits them all
    sentinel = base.limit(1).select(
        (F.col("event_id") + 9_000_000).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
        F.lit(-1).alias("user_id"),
        "event_type", "value", "props",
    ).select(*base.columns)
    replay = str(tmp_path / "replay")
    base.coalesce(1).write.parquet(replay + "/chunk_0001")
    time.sleep(1.5)
    sentinel.coalesce(1).write.parquet(replay + "/chunk_0002")

    stream = read_replay_stream(spark, replay, base.schema)
    q = (
        session_counts(stream, "ts", "30 minutes", "10 minutes")
        .writeStream.format("memory")
        .queryName("s2_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in spark.sql(
            "SELECT * FROM s2_sessions WHERE user_id >= 0"
        ).collect()
    }

    # batch expectation: Q21's lag-gap formulation
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tu = F.unix_micros(F.col("ts"))
    gapped = base.select(
        "user_id", "event_id", "ts", tu.alias("tu"),
        F.lag(tu).over(w).alias("prev_tu"),
    )
    is_new = F.when(
        F.col("prev_tu").isNull()
        | ((F.col("tu") - F.col("prev_tu")) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    sessions = (
        gapped.select(
            "user_id", "ts",
            F.sum(is_new).over(
                W.partitionBy("user_id").orderBy("tu", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ).alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n_events"))
    )
    expected = {
        (r.user_id, str(r.start), r.n_events) for r in sessions.collect()
    }
    assert got == expected


def test_hidden_swap_siblings_are_invisible_to_readers(
    spark, events, tmp_path
):
    """`._`-prefixed siblings of a batch dir (the names the retired
    rename-swap publish used for its in-flight state) are skipped by
    Spark's file listing, so leftovers never reach a reader."""
    import os
    import shutil

    from etl_wikipedia_updates_spark.streaming.ingest import append_batch

    sink = str(tmp_path / "sink")
    append_batch(events, sink, 0)
    total = read_sink(spark, sink).count()

    # Plant a full copy of the batch dir under both in-flight names;
    # the row count must not change, for the sink view and for a raw
    # recursive listing alike.
    for name in ("._trim_batch_0000000000", "._old_batch_0000000000"):
        shutil.copytree(
            os.path.join(sink, "batch_0000000000"), os.path.join(sink, name)
        )
    assert read_sink(spark, sink).count() == total
    raw = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    assert raw.count() == total


def test_s5_checkpoint_resume(spark, events, replay_dir, tmp_path):
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream = read_replay_stream(spark, replay_dir, events.schema)
    # run 1: processing-time trigger, killed after the first progress
    q1 = ingest_with_retention(stream, sink, ckpt, available_now=False)
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p for p in q1.recentProgress if p["numInputRows"] > 0):
            break
        time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(60)
    # run 2: same checkpoint, availableNow drains the rest
    stream2 = read_replay_stream(spark, replay_dir, events.schema)
    q2 = ingest_with_retention(stream2, sink, ckpt, available_now=True)
    q2.awaitTermination(300)
    assert _checksum(read_sink(spark, sink)) == _checksum(events)


# --- incremental rollup: streamed partials == batch aggregate ----------------
def test_rollup_maintenance_equals_batch(spark, events, replay_dir, tmp_path):
    from etl_wikipedia_updates_spark.streaming.ingest import (
        compact_rollup,
        ingest_with_rollup,
        rollup_view,
    )

    stream = read_replay_stream(spark, replay_dir, events.schema)
    q = ingest_with_rollup(
        stream,
        str(tmp_path / "sink"),
        str(tmp_path / "rollup"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    def normalize(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["n"], round(r["sum_value"], 4))
            for r in df.collect()
        )

    expected = normalize(
        events.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    got = normalize(rollup_view(spark, str(tmp_path / "rollup")))
    assert got == expected
    # partials folded down -> view unchanged, one partial per (day, key)
    compact_rollup(spark, str(tmp_path / "rollup"))
    assert normalize(rollup_view(spark, str(tmp_path / "rollup"))) == expected


def test_maintenance_skips_uncommitted_batch_dir(spark, events, tmp_path):
    """An in-flight append (batch dir without Spark's _SUCCESS job
    marker — e.g. mid-overwrite) must be invisible to the composite
    view AND unfolded by maintenance; once the marker lands, its rows
    appear exactly once. This pins the fold-vs-append race fix: the
    rewrite reads exactly the committed dirs it lists, so a racing
    batch can be neither double-counted nor silently folded away."""
    import os as _os

    from etl_wikipedia_updates_spark.streaming.ingest import (
        append_batch,
        compact_sink,
        read_sink,
        sink_snapshot,
    )

    sink = str(tmp_path / "sink")
    first = events.limit(50)
    second = events.limit(120).exceptAll(first)
    append_batch(first, sink, 0)
    append_batch(second, sink, 1)
    # simulate batch 1 caught mid-write: strip its job-commit marker
    marker = None
    for d in _os.listdir(sink):
        if d.startswith("batch_") and d.endswith("1"):
            marker = _os.path.join(sink, d, "_SUCCESS")
    assert marker and _os.path.exists(marker)
    _os.rename(marker, marker + ".held")

    assert read_sink(spark, sink).count() == 50  # invisible while in-flight
    compact_sink(spark, sink, target_files=1)
    snap = sink_snapshot(sink)
    v = snap.current_version()
    assert int(snap.meta_for(v)["folded_through"]) == 0  # batch 1 NOT folded
    assert read_sink(spark, sink).count() == 50

    _os.rename(marker + ".held", marker)  # the write commits
    assert _checksum(read_sink(spark, sink)) == _checksum(events.limit(120))
    # the next maintenance folds it exactly once
    compact_sink(spark, sink, target_files=1)
    assert _checksum(read_sink(spark, sink)) == _checksum(events.limit(120))


def test_streaming_neardup_ingest_equals_batch(spark, tmp_path):
    """S-style batch equivalence for ingest-time near-dup dedup: the
    corpus replayed in doc_id order through the doc mode must
    land exactly the docs the batch rule keeps (no smaller doc_id
    shares any LSH bucket), and the rule must actually drop something
    on this corpus. A second run over the same checkpoint replays
    nothing and changes nothing (exactly-once)."""
    from etl_wikipedia_updates_spark.sources.replay import (
        read_replay_stream,
        write_replay_splits,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_neardup_keep,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    stream = read_replay_stream(spark, replay, docs.schema)
    q = start_ingest("doc", stream, sink, ckpt)
    q.awaitTermination(300)

    def checksum(df):
        r = df.agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s")
        ).first()
        return r["n"], r["s"]

    expected = checksum(batch_neardup_keep(docs))
    assert expected[0] < docs.count()  # the rule bites on this corpus
    assert checksum(read_sink(spark, sink)) == expected
    # the micro-batch is read once: the reported input is the replay
    assert sum(p["numInputRows"] for p in q.recentProgress) == docs.count()

    q2 = start_ingest(
        "doc",
        read_replay_stream(spark, replay, docs.schema), sink, ckpt
    )
    q2.awaitTermination(300)
    assert checksum(read_sink(spark, sink)) == expected


def test_neardup_batch_replay_idempotent_and_blocks_later_dups(
    spark, tmp_path
):
    """foreachBatch replay semantics for the neardup ingest: re-running
    a batch under its own id must not self-collide (the store read
    excludes the current id) nor duplicate output; a LATER batch of
    exact duplicates must collide with the stored buckets and land
    zero docs."""
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        dedup_ingest_batch,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
    sink = str(tmp_path / "sink")

    dedup_ingest_batch(docs, sink, 0)
    first = read_sink(spark, sink).count()
    assert 0 < first <= 100
    dedup_ingest_batch(docs, sink, 0)  # at-least-once replay, same id
    assert read_sink(spark, sink).count() == first

    copies = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    dedup_ingest_batch(copies, sink, 1)  # exact dups of batch 0
    assert read_sink(spark, sink).count() == first


def test_streaming_embedding_neardup_equals_batch(spark, tmp_path):
    """Embedding-space (SemDeDup-style) ingest dedup: the embeddings
    table replayed in vec_id order must land exactly the vectors the
    batch sign-bucket rule keeps, and the rule must drop a small
    nonzero fraction on this corpus."""
    from etl_wikipedia_updates_spark.sources.replay import (
        read_replay_stream,
        write_replay_splits,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_embedding_neardup_keep,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    replay = str(tmp_path / "replay")
    write_replay_splits(emb, replay, 4, "vec_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "embedding",
        read_replay_stream(spark, replay, emb.schema), sink, ckpt
    )
    q.awaitTermination(300)

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("vec_id").alias("s")).first()
        return r["n"], r["s"]

    expected = checksum(batch_embedding_neardup_keep(emb))
    total = emb.count()
    assert 0 < total - expected[0] < total * 0.2  # drops some, not most
    assert checksum(read_sink(spark, sink)) == expected


def test_streaming_quality_neardup_equals_batch(spark, tmp_path):
    """The combined ingest pipeline (repetition quality gate -> near-dup
    dedup) replayed in doc_id order must equal its batch statement, and
    both stages must bite: fewer docs than dedup alone would keep."""
    from etl_wikipedia_updates_spark.sources.replay import (
        read_replay_stream,
        write_replay_splits,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_neardup_keep,
        batch_quality_neardup_keep,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 4, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "quality",
        read_replay_stream(spark, replay, docs.schema), sink, ckpt
    )
    q.awaitTermination(300)

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    expected = checksum(batch_quality_neardup_keep(docs))
    assert expected[0] < batch_neardup_keep(docs).count()  # quality bites
    assert checksum(read_sink(spark, sink)) == expected


def test_neardup_bucket_store_compaction(spark, tmp_path):
    """The bucket store folds through the sink's SnapshotTable
    machinery: batches keep colliding with buckets that moved into the
    snapshot, a replayed batch still excludes its own buckets after a
    fold, no bucket row is lost or doubled, and the store's live
    file/dir count is bounded by the compaction cadence instead of
    growing one dir per batch."""
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        compact_store,
        read_view,
        sink_snapshot,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_neardup_keep,
        bucket_store_path,
        dedup_ingest_batch,
        doc_band_rows,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    n = len(ids)
    cuts = [n * k // 6 for k in range(7)]

    def part(k):
        return docs.filter(F.col("doc_id").isin(ids[cuts[k]:cuts[k + 1]]))

    sink = str(tmp_path / "sink")
    store = bucket_store_path(sink)
    for k in range(4):
        dedup_ingest_batch(part(k), sink, k)
    assert len(_batch_dirs(store)) == 4

    # Maintenance-form compaction: default folds everything below the
    # newest committed batch (one-batch replay grace horizon).
    out = compact_store(spark, store)
    assert out == {"version": 1, "folded_dirs": 3}
    snap = sink_snapshot(store)
    assert int(snap.meta_for(1)["folded_through"]) == 2
    # Nothing new to fold -> no pointless full-store rewrite.
    assert compact_store(spark, store) is None

    # A replay of the newest batch after the fold must not self-collide
    # (its own buckets stayed unfolded) nor duplicate output.
    before = _checksum_docs(read_sink(spark, sink))
    dedup_ingest_batch(part(3), sink, 3)
    assert _checksum_docs(read_sink(spark, sink)) == before

    # In-handler cadence: batch 4 compacts below itself (folds batch 3,
    # deletes the already-folded dirs one cycle late), batch 5 appends.
    dedup_ingest_batch(part(4), sink, 4, compact_every=2)
    dedup_ingest_batch(part(5), sink, 5)
    assert _checksum_docs(read_sink(spark, sink)) == _checksum_docs(
        batch_neardup_keep(docs)
    )
    live = sorted(b for b, _ in _batch_dirs(store))
    assert live == [3, 4, 5]  # bounded: 3 live dirs after 6 batches

    # The composite store view neither lost nor doubled a bucket row.
    total_rows = read_view(spark, store, below=10**9)[0].count()
    assert total_rows == doc_band_rows(docs).count()

    # A fold through the newest batch (an external run with a too-high
    # below) leaves no view a replay of that batch may read: the dedup
    # body refuses instead of colliding the batch with itself.
    assert compact_store(spark, store, below=6) is not None
    with pytest.raises(RuntimeError, match="folded through"):
        dedup_ingest_batch(part(5), sink, 5)


def _checksum_docs(df):
    row = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
    return row["n"], row["s"]


def test_streaming_neardup_compaction_equals_batch(spark, tmp_path):
    """The doc mode with compact_every=2 over a 5-split replay:
    result still equals the batch rule exactly, the store has folded
    into a snapshot version, and fewer live batch dirs remain than
    batches ran."""
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        sink_snapshot,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_neardup_keep,
        bucket_store_path,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "doc",
        read_replay_stream(spark, replay, docs.schema),
        sink,
        ckpt,
        compact_every=2,
    )
    q.awaitTermination(300)

    assert _checksum_docs(read_sink(spark, sink)) == _checksum_docs(
        batch_neardup_keep(docs)
    )
    store = bucket_store_path(sink)
    assert sink_snapshot(store).current_version() is not None
    assert len(_batch_dirs(store)) < 5


def test_sink_invisible_before_first_commit(spark, tmp_path):
    """A sink whose FIRST append is still mid-write (batch dir exists,
    no _SUCCESS) must refuse both the composite read and a maintenance
    fold — falling back to a recursive listing would surface the
    in-flight dir's partial part-files, rows that double once the
    commit lands."""
    import os as _os

    from etl_wikipedia_updates_spark.streaming.ingest import (
        append_batch,
        compact_sink,
        sink_row_count,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(10)
    sink = str(tmp_path / "sink")
    append_batch(events, sink, 0)
    marker = _os.path.join(sink, "batch_0000000000", "_SUCCESS")
    _os.rename(marker, marker + ".held")  # simulate mid-write

    with pytest.raises(FileNotFoundError):
        read_sink(spark, sink).count()
    with pytest.raises(FileNotFoundError):
        sink_row_count(sink)
    with pytest.raises(FileNotFoundError):
        compact_sink(spark, sink, target_files=1)

    _os.rename(marker + ".held", marker)  # the write commits
    assert read_sink(spark, sink).count() == 10
    assert compact_sink(spark, sink, target_files=1)["rows"] == 10


def test_sink_row_count_maintained(spark, tmp_path):
    """The maintained count (version-meta n_rows + per-batch-dir
    sidecars) equals read_sink().count() at every point of an
    append / compaction / append / retention cycle, and stays exact
    when a sidecar is lost to the write-then-sidecar crash window
    (parquet-footer fallback)."""
    import os as _os

    from etl_wikipedia_updates_spark.streaming.ingest import (
        NROWS_SIDECAR,
        append_batch,
        apply_retention,
        compact_sink,
        sink_row_count,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    sink = str(tmp_path / "sink")

    def check():
        assert sink_row_count(sink) == read_sink(spark, sink).count()

    append_batch(events.limit(40), sink, 0)
    check()
    append_batch(events.limit(70).exceptAll(events.limit(40)), sink, 1)
    check()
    compact_sink(spark, sink, target_files=1)
    check()
    batch2 = events.limit(100).exceptAll(events.limit(70))
    append_batch(batch2, sink, 2)
    check()
    # crash window: batch 3 committed but its sidecar never landed
    batch3 = events.limit(120).exceptAll(events.limit(100))
    append_batch(batch3, sink, 3)
    _os.remove(_os.path.join(sink, "batch_0000000003", NROWS_SIDECAR))
    check()
    assert sink_row_count(sink) == 120
    # retention fires off the maintained count (120 >= 1.1 * 50)
    assert apply_retention(spark, sink, max_rows=50, ts_col="ts")
    check()
    assert sink_row_count(sink) == 50


def test_streaming_verified_neardup_equals_batch(spark, tmp_path):
    """Precision-mode ingest dedup: the corpus replayed in doc_id
    order through the verified mode (with store compaction
    mid-stream) must equal the batch statement — a doc drops only when
    a smaller doc_id shares a band bucket AND exact shingle-Jaccard
    clears the threshold. Verified must keep at least as many docs as
    the aggressive band-blocking rule (collisions only nominate), and
    both stores must have folded."""
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        sink_snapshot,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_neardup_keep,
        batch_verified_neardup_keep,
        bucket_store_path,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "verified",
        read_replay_stream(spark, replay, docs.schema),
        sink,
        ckpt,
        compact_every=2,
    )
    q.awaitTermination(300)

    expected = _checksum_docs(batch_verified_neardup_keep(docs))
    got = _checksum_docs(read_sink(spark, sink))
    assert got == expected
    # the micro-batch is read once: the reported input is the replay
    assert sum(p["numInputRows"] for p in q.recentProgress) == docs.count()
    n_all = docs.count()
    n_aggressive = batch_neardup_keep(docs).count()
    assert expected[0] < n_all  # the verified rule still bites
    assert expected[0] >= n_aggressive  # precision: never drops more
    for store in (bucket_store_path(sink), shingle_store_path(sink)):
        assert sink_snapshot(store).current_version() is not None
        assert len(_batch_dirs(store)) < 5


def test_verified_batch_replay_idempotent(spark, tmp_path):
    """Replaying a verified batch under its own id must not verify
    against its own first attempt (both store reads exclude the
    current id) nor duplicate output; a later batch of exact copies
    verifies at jaccard 1.0 and lands zero docs."""
    from etl_wikipedia_updates_spark.streaming.neardup import (
        verified_ingest_batch,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
    sink = str(tmp_path / "sink")

    verified_ingest_batch(docs, sink, 0)
    first = read_sink(spark, sink).count()
    assert 0 < first <= 100
    verified_ingest_batch(docs, sink, 0)  # at-least-once replay
    assert read_sink(spark, sink).count() == first

    copies = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    verified_ingest_batch(copies, sink, 1)  # exact dups: jaccard 1.0
    assert read_sink(spark, sink).count() == first


def test_streaming_verified_embedding_equals_batch(spark, tmp_path):
    """Embedding precision-mode ingest: the embeddings table replayed
    in vec_id order through the embedding-verified mode
    (with store compaction mid-stream) must equal the batch statement
    — a vector drops only when a smaller vec_id shares a sign-bucket
    band AND exact cosine clears the threshold. Verified keeps at
    least as many vectors as the aggressive band-blocking rule, and
    both stores fold."""
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        sink_snapshot,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_embedding_neardup_keep,
        batch_verified_embedding_keep,
        bucket_store_path,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    replay = str(tmp_path / "replay")
    write_replay_splits(emb, replay, 5, "vec_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "embedding-verified",
        read_replay_stream(spark, replay, emb.schema),
        sink,
        ckpt,
        compact_every=2,
    )
    q.awaitTermination(300)

    def cks(df):
        row = df.agg(
            F.count("*").alias("n"), F.sum("vec_id").alias("s")
        ).first()
        return row["n"], row["s"]

    expected = cks(batch_verified_embedding_keep(emb))
    got = cks(read_sink(spark, sink))
    assert got == expected
    # the micro-batch is read once: the reported input is the replay
    assert sum(p["numInputRows"] for p in q.recentProgress) == emb.count()
    n_aggressive = batch_embedding_neardup_keep(emb).count()
    assert expected[0] >= n_aggressive  # precision: never drops more
    for store in (bucket_store_path(sink), vector_store_path(sink)):
        assert sink_snapshot(store).current_version() is not None
        assert len(_batch_dirs(store)) < 5


def test_verified_embedding_replay_idempotent(spark, tmp_path):
    """Replaying an embedding-verified batch under its own id must not
    verify against its own first attempt nor duplicate output; a later
    batch of exact vector copies verifies at cosine 1.0 and lands zero
    rows."""
    from etl_wikipedia_updates_spark.streaming.neardup import (
        verified_embedding_ingest_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    sink = str(tmp_path / "sink")

    verified_embedding_ingest_batch(emb, sink, 0)
    first = read_sink(spark, sink).count()
    assert 0 < first <= 100
    verified_embedding_ingest_batch(emb, sink, 0)  # at-least-once replay
    assert read_sink(spark, sink).count() == first

    copies = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    verified_embedding_ingest_batch(copies, sink, 1)  # cosine 1.0 dups
    assert read_sink(spark, sink).count() == first


def test_verified_modes_raise_without_payload_store(spark, tmp_path):
    """A sink first populated by a NON-verified mode has bucket rows
    with no shingle/vector payloads; continuing in a verified mode
    must raise instead of silently passing near-dups of unverifiable
    docs (the verify inner join would drop those candidate pairs)."""
    from etl_wikipedia_updates_spark.streaming.neardup import (
        _ingest_dedup_batch,
        dedup_ingest_batch,
        embedding_band_rows,
        verified_embedding_ingest_batch,
        verified_ingest_batch,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    sink = str(tmp_path / "sink_doc")
    dedup_ingest_batch(docs, sink, 0)  # unverified: no shingle store
    with pytest.raises(RuntimeError, match="_shingle_store"):
        verified_ingest_batch(
            docs.withColumn("doc_id", F.col("doc_id") + 10000), sink, 1
        )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    sink2 = str(tmp_path / "sink_emb")
    _ingest_dedup_batch(emb, sink2, 0, embedding_band_rows, "vec_id")
    with pytest.raises(RuntimeError, match="_vector_store"):
        verified_embedding_ingest_batch(
            emb.withColumn("vec_id", F.col("vec_id") + 10000), sink2, 1
        )


def test_shingle_store_sketch_bounded(spark, tmp_path):
    """The verified-mode shingle store holds bottom-k SKETCHES, not
    full shingle sets: per-doc state is capped at SHINGLE_SKETCH_K ids
    no matter how long the doc (sub-linear store growth vs corpus
    tokens — the store would otherwise be a large fraction of the
    corpus at scale), and exact duplicates of long docs still verify
    at sketch-Jaccard 1.0 and drop."""
    from etl_wikipedia_updates_spark.streaming.neardup import (
        SHINGLE_SKETCH_K,
        doc_shingle_tid_arrays,
        batch_verified_neardup_keep,
        verified_ingest_batch,
    )

    # 40 docs of ~1200 UNIQUE tokens each (>> K distinct shingles),
    # plus 5 exact duplicates under new ids
    base = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("xx").alias("lang"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(1200)),
                lambda i: F.concat(
                    F.lit("w"), (F.col("doc_id") * 1200 + i).cast("string")
                ),
            ),
            " ",
        ).alias("text"),
    )
    dups = base.limit(5).withColumn("doc_id", F.col("doc_id") + 1000)
    docs = base.unionByName(dups)

    sizes = doc_shingle_tid_arrays(docs).select(
        F.size("toks").alias("n")
    ).agg(F.max("n").alias("mx"), F.min("n").alias("mn")).first()
    assert sizes["mx"] == SHINGLE_SKETCH_K  # capped despite ~1198 shingles
    assert sizes["mn"] == SHINGLE_SKETCH_K

    kept = batch_verified_neardup_keep(docs)
    assert kept.count() == 40  # the 5 long-doc duplicates still drop

    # the persisted store rows carry the capped arrays too
    sink = str(tmp_path / "sink")
    verified_ingest_batch(docs, sink, 0)
    stored = spark.read.parquet(
        shingle_store_path(sink) + "/batch_0000000000"
    )
    mx = stored.agg(F.max(F.size("toks")).alias("m")).first()["m"]
    assert mx == SHINGLE_SKETCH_K


def test_compact_sink_noop_when_nothing_to_fold(
    spark, events, tmp_path, monkeypatch
):
    """An idle maintenance pass — no unfolded committed batch dirs and
    the current version already at/under target_files — must be a
    no-op (no full-table rewrite, no version burned, no walk of the
    version's parquet footers), and a new committed append re-arms
    the fold."""
    from etl_wikipedia_updates_spark.streaming import ingest
    from etl_wikipedia_updates_spark.streaming.ingest import (
        append_batch,
        compact_sink,
        sink_snapshot,
    )

    def no_footer_walk(root):
        raise AssertionError(f"idle pass walked the footers of {root}")

    sink = str(tmp_path / "sink")
    append_batch(events.limit(50), sink, 0)
    s1 = compact_sink(spark, sink, target_files=2)
    snap = sink_snapshot(sink)
    v1 = snap.current_version()

    with monkeypatch.context() as m:
        m.setattr(ingest, "dir_row_count", no_footer_walk)
        s2 = compact_sink(spark, sink, target_files=2)  # idle pass
    assert snap.current_version() == v1  # no version burned
    assert s2["files_after"] == s2["files_before"]
    assert s2["rows"] == s1["rows"] == 50

    second = events.limit(80).exceptAll(events.limit(50))
    append_batch(second, sink, 1)
    s3 = compact_sink(spark, sink, target_files=2)  # re-armed
    assert snap.current_version() == v1 + 1
    assert s3["rows"] == 80


def test_verified_guard_tolerates_lagging_payload_compaction(
    spark, tmp_path
):
    """A crash between the two in-lockstep store compactions leaves
    the payload store's folded_through watermark behind the bucket
    store's while every payload id is still on disk unfolded — that
    is healthy coverage and the next verified batch must proceed, not
    raise."""
    from etl_wikipedia_updates_spark.streaming.ingest import compact_store
    from etl_wikipedia_updates_spark.streaming.neardup import (
        bucket_store_path,
        verified_ingest_batch,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    sink = str(tmp_path / "sink")
    b0 = docs.filter(F.col("doc_id") < 30)
    b1 = docs.filter(F.col("doc_id") >= 30)
    verified_ingest_batch(b0, sink, 0)
    verified_ingest_batch(b1, sink, 1)
    # simulate the crash window: bucket store folds, shingle store
    # never gets its turn
    assert compact_store(spark, bucket_store_path(sink), below=2) is not None
    # next batch verifies fine against the mixed folded/unfolded state
    b2 = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
    verified_ingest_batch(b2, sink, 2)  # exact dups of batch-0 docs
    # the copies verified against the folded buckets + unfolded
    # shingles and every one dropped
    assert (
        read_sink(spark, sink).filter(F.col("doc_id") >= 100000).count()
        == 0
    )


def test_streaming_decontam_equals_batch_and_quarantines(spark, tmp_path):
    """Ingest-time benchmark decontamination: the corpus replayed
    through the decontam mode must equal batch_decontam_keep (the
    operator is stateless per doc, so equality holds under any
    batching), the quarantine table must carry exactly the dropped
    docs' verdicts, sink + quarantine must partition the corpus, and
    benchmark docs streaming through must NOT be vetoed by their own
    shingles (self-pair exclusion)."""
    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_decontam_keep,
        contam_store_path,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        sink_snapshot,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "decontam",
        read_replay_stream(spark, replay, docs.schema),
        sink,
        ckpt,
        bench_docs=bench,
        compact_every=2,
    )
    q.awaitTermination(300)

    kept = read_sink(spark, sink)
    expected = batch_decontam_keep(docs, bench)
    assert _checksum_docs(kept) == _checksum_docs(expected)
    # the micro-batch is read once: the reported input is the replay
    assert sum(p["numInputRows"] for p in q.recentProgress) == docs.count()

    quarantine = read_sink(spark, contam_store_path(sink))
    n_all, n_kept = docs.count(), kept.count()
    assert quarantine.count() == n_all - n_kept > 0  # rule bites
    # quarantine ids == exactly the dropped ids
    dropped_ids = {r["doc_id"] for r in quarantine.select("doc_id").collect()}
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert dropped_ids.isdisjoint(kept_ids)
    assert len(dropped_ids | kept_ids) == n_all
    # verdicts are real matches against a DIFFERENT benchmark doc
    assert quarantine.filter(
        (F.col("shared") < 3) | (F.col("doc_id") == F.col("bench_doc"))
    ).count() == 0
    # benchmark docs themselves survived (self-pairs excluded) unless
    # they overlap ANOTHER bench doc
    n_bench = bench.count()
    n_bench_kept = kept.filter(
        F.col("source") == CONTAM_BENCH_SOURCE
    ).count()
    assert n_bench_kept >= n_bench - quarantine.join(
        bench.select("doc_id"), "doc_id", "left_semi"
    ).count()
    # the quarantine store folded mid-stream
    assert sink_snapshot(contam_store_path(sink)).current_version() is not None
    assert len(_batch_dirs(contam_store_path(sink))) < 5


def test_decontam_bench_cache_released_on_termination(spark, tmp_path):
    """The benchmark shingle frame is persisted once per stream; its
    cache entry must be RELEASED when the stream terminates — before
    the r10 fix it outlived the query and leaked across restarted
    curation streams in the same session (each restart stacking
    another corpus-lifetime cache entry)."""
    import time

    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 3, "doc_id")

    base = n_cached()
    q = start_ingest(
        "decontam",
        read_replay_stream(spark, replay, docs.schema),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
        bench_docs=bench,
    )
    q.awaitTermination(300)
    # the listener fires on the streaming event thread — poll briefly
    deadline = time.time() + 30
    while n_cached() > base and time.time() < deadline:
        time.sleep(0.2)
    assert n_cached() <= base, "bench shingle cache leaked past stream end"


def test_bench_shingle_cap_drops_boilerplate(spark):
    """A shingle present in more than ``cap`` benchmark docs is
    boilerplate and must not nominate matches."""
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_decontam_keep,
    )

    # every bench doc shares the same 5-token boilerplate run; each
    # train doc contains ONLY that run -> with cap=1 nothing matches,
    # with a high cap everything does
    bench = spark.createDataFrame(
        [(i, "xx", "common run of five tokens plus unique%d filler" % i)
         for i in range(10)],
        "doc_id long, lang string, text string",
    )
    train = spark.createDataFrame(
        [(100 + i, "xx", "common run of five tokens plus") for i in range(4)],
        "doc_id long, lang string, text string",
    )
    from etl_wikipedia_updates_spark.streaming import decontam as DC

    kept_high = batch_decontam_keep(train, bench)
    assert kept_high.count() == 0  # boilerplate matches under big cap
    sh_capped = DC.bench_shingles(bench, cap=1)
    drops = decontam_verdicts(train, sh_capped)
    assert drops.count() == 0  # capped: boilerplate can't nominate


def test_streaming_full_curation_equals_batch(spark, tmp_path):
    """The one-pass curation ingest (quality gate -> benchmark veto ->
    near-dup dedup) replayed in doc_id order must equal the composed
    batch statement, quarantine its contaminated docs, and keep
    strictly fewer docs than any single stage alone."""
    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        contam_store_path,
        ingest_with_full_curation,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_quality_neardup_keep,
        bucket_store_path,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import sink_snapshot

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema),
        bench,
        sink,
        ckpt,
        compact_every=2,
    )
    q.awaitTermination(300)

    expected = batch_full_curation_keep(docs, bench)
    assert _checksum_docs(read_sink(spark, sink)) == _checksum_docs(expected)
    # curation with the extra veto keeps no more than quality+dedup
    n_full = expected.count()
    assert 0 < n_full <= batch_quality_neardup_keep(docs).count()
    # quarantine holds the vetoed docs; both stores folded mid-stream
    assert read_sink(spark, sink, ).count() == n_full
    assert read_sink(spark, contam_store_path(sink)).count() > 0
    for store in (contam_store_path(sink), bucket_store_path(sink)):
        assert sink_snapshot(store).current_version() is not None
    _assert_curation_stores(spark, sink, docs, bench, "shingles")


def test_full_curation_stream_calls_patched_body(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The perfbench tracer contract: the tracer wraps
    decontam.full_curation_ingest_batch by module attribute, so a
    stream started through ingest_with_full_curation must call what
    that attribute holds when it runs, not a function captured at
    import."""
    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.streaming import decontam

    docs = load_table(spark, sf_smoke, "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    body = decontam.full_curation_ingest_batch
    batch_ids = []

    def traced(batch_df, bench_sh, sink_path, batch_id, **opts):
        batch_ids.append(batch_id)
        body(batch_df, bench_sh, sink_path, batch_id, **opts)

    monkeypatch.setattr(decontam, "full_curation_ingest_batch", traced)
    q = decontam.ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema), bench, sink, ckpt
    )
    q.awaitTermination(300)

    assert batch_ids == [0, 1]
    assert _checksum_docs(read_sink(spark, sink)) == _checksum_docs(
        decontam.batch_full_curation_keep(docs, bench)
    )


def _reference_verdicts(docs, bench, mode):
    """(doc_id, bench_doc, shared) veto verdicts, stated independently
    of the trigger body: match rows per (doc, bench doc) pair, self
    pairs dropped, threshold, then each doc's strongest match by a
    ranked window (ties to the smallest bench_doc)."""
    from etl_wikipedia_updates_spark.operators import text as T
    from etl_wikipedia_updates_spark.stages import (
        CONTAM_MIN_SHARED,
        _span_occurrences,
    )
    from etl_wikipedia_updates_spark.streaming.decontam import (
        bench_shingles,
        bench_spans,
    )

    if mode == "shingles":
        rows = T.doc_shingles(docs).join(
            bench_shingles(bench), ["lang", "term"]
        )
        min_shared = CONTAM_MIN_SHARED
    else:
        rows = _span_occurrences(docs).join(bench_spans(bench), "h")
        min_shared = 1
    counts = (
        rows.filter(F.col("doc_id") != F.col("bench_doc"))
        .groupBy("doc_id", "bench_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("shared").desc(), F.col("bench_doc")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "bench_doc", "shared")
    )


def _assert_curation_stores(spark, sink, docs, bench, mode):
    """The full-curation stores, row for row: the quarantine holds the
    veto verdicts over the quality-kept docs, and the bucket store the
    band rows of the clean docs (kept and not vetoed)."""
    from etl_wikipedia_updates_spark.stages import quality_keep
    from etl_wikipedia_updates_spark.streaming.decontam import (
        contam_store_path,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        bucket_store_path,
        doc_band_rows,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    kept = quality_keep(docs)
    verdicts = _reference_verdicts(kept, bench, mode)
    clean = kept.join(verdicts.select("doc_id"), "doc_id", "left_anti")
    assert rows(read_sink(spark, contam_store_path(sink))) == rows(verdicts)
    assert rows(read_sink(spark, bucket_store_path(sink))) == rows(
        doc_band_rows(clean).select("doc_id", "lang", "band", "band_key")
    )


def test_decontam_external_bench_id_collision_not_bypassed(spark):
    """With an EXTERNAL benchmark (its own id universe),
    exclude_self=False must veto a corpus doc whose doc_id happens to
    collide with the matching benchmark doc's id — the self-pair
    exclusion is only valid for the in-table id-shared slice, where
    it must still keep the benchmark's own rows."""
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_decontam_keep,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame(
        [(7, "xx", text)], "doc_id long, lang string, text string"
    )
    corpus = spark.createDataFrame(
        [(7, "xx", text), (8, "xx", "totally unrelated words here now")],
        "doc_id long, lang string, text string",
    )
    # external semantics: id 7 is a coincidence, the copy must drop
    kept_ext = batch_decontam_keep(corpus, bench, exclude_self=False)
    assert {r["doc_id"] for r in kept_ext.collect()} == {8}
    # in-table semantics: row 7 IS the benchmark row; keep it
    kept_sub = batch_decontam_keep(corpus, bench, exclude_self=True)
    assert {r["doc_id"] for r in kept_sub.collect()} == {7, 8}


def test_curation_checkpoint_resume_equals_batch(spark, tmp_path):
    """S5 for the composed curation ingest: killed after the first
    progress and resumed from the same checkpoint with availableNow,
    the sink must still equal the batch statement — the composed
    handler (quality gate, quarantine append, dedup store append)
    is replay-safe end-to-end, not just its parts."""
    import time

    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        ingest_with_full_curation,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q1 = ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema),
        bench,
        sink,
        ckpt,
        available_now=False,
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p for p in q1.recentProgress if p["numInputRows"] > 0):
            break
        time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(60)

    q2 = ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema),
        bench,
        sink,
        ckpt,
        available_now=True,
    )
    q2.awaitTermination(300)
    assert _checksum_docs(read_sink(spark, sink)) == _checksum_docs(
        batch_full_curation_keep(docs, bench)
    )


def test_rollup_replay_after_compaction_idempotent(spark, events, tmp_path):
    """At-least-once replay safety for the rollup: a batch whose
    partials were already folded by compact_rollup re-appends its dir
    (foreachBatch replay after a crash before the checkpoint commit);
    the dir's id sits at or below folded_through, so rollup_view must
    NOT count it beside the fold that already absorbed it. Also pins
    the committed-only read: a partial dir stripped of _SUCCESS (caught
    mid-overwrite) is invisible to the view."""
    import os as _os

    from etl_wikipedia_updates_spark.streaming.ingest import (
        compact_rollup,
        rollup_partials,
        rollup_view,
    )

    rollup = str(tmp_path / "rollup")
    b0 = events.limit(40)
    b1 = events.limit(100).exceptAll(b0)

    def normalize(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["n"], round(r["sum_value"], 4))
            for r in df.collect()
        )

    rollup_partials(b0, rollup, 0)
    rollup_partials(b1, rollup, 1)
    expected = normalize(rollup_view(spark, rollup))
    compact_rollup(spark, rollup)
    assert normalize(rollup_view(spark, rollup)) == expected
    # replay of batch 1 AFTER its partials were folded: id <= marker,
    # so the view is unchanged (the old whole-root swap doubled it)
    rollup_partials(b1, rollup, 1)
    assert normalize(rollup_view(spark, rollup)) == expected
    # a second maintenance pass with nothing new to fold: no-op, no
    # extra version burned, view still stable
    from etl_wikipedia_updates_spark.streaming.ingest import sink_snapshot

    v_before = sink_snapshot(rollup).current_version()
    compact_rollup(spark, rollup)
    assert sink_snapshot(rollup).current_version() == v_before
    assert normalize(rollup_view(spark, rollup)) == expected
    # a genuinely new batch stays visible above the fold marker...
    b2 = events.limit(150).exceptAll(events.limit(100))
    rollup_partials(b2, rollup, 2)
    full = normalize(rollup_view(spark, rollup))
    assert full != expected
    # ...but not while caught mid-overwrite (no _SUCCESS marker)
    marker = _os.path.join(rollup, "batch_0000000002", "_SUCCESS")
    _os.rename(marker, marker + ".held")
    assert normalize(rollup_view(spark, rollup)) == expected
    _os.rename(marker + ".held", marker)
    assert normalize(rollup_view(spark, rollup)) == full


def test_embedding_band_rows_rejects_wrong_dim(spark):
    """A vector whose length differs from the configured hyperplane
    dim would get NULL dot products, sign bit 0 on every plane, and
    band_key 0 in every band — the whole batch silently collapsing to
    one survivor. The guard raises instead."""
    from etl_wikipedia_updates_spark.streaming.neardup import (
        embedding_band_rows,
    )

    ok = spark.createDataFrame(
        [(1, [float(i) for i in range(64)])],
        "vec_id long, embedding array<float>",
    )
    assert embedding_band_rows(ok).count() == 4  # one row per band
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    # collect (not count): a bare count prunes band_key and with it the
    # guard — real consumers always evaluate band_key (joins/groupBy)
    with pytest.raises(Exception, match="expected 64-dim embedding"):
        embedding_band_rows(bad).collect()


def test_streaming_curation_with_pii_redaction(spark, tmp_path):
    """redact_pii=True: the streamed curated sink equals the batch
    statement with the same flag AND ships no raw PII — every
    email/IP/phone is its class tag and n_chars reflects the REDACTED
    text (redaction is stage 0, so every downstream signal sees the
    text a release would ship)."""
    from etl_wikipedia_updates_spark.stages import PII_EMAIL
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        ingest_with_full_curation,
    )

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    some = base.filter(F.col("doc_id") < 40).collect()
    rows = [
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in some
    ]
    # PII-bearing docs over otherwise-unique text (one email each —
    # low enough repetition to clear the quality gate)
    t1 = " ".join(f"alpha{i} beta{i * 3}" for i in range(25))
    t2 = " ".join(f"gamma{i} delta{i * 7}" for i in range(25))
    rows.append((5001, t1 + " reach alice@example.com today", "en", "srcP", 0))
    rows.append(
        (5003, "server 10.1.2.3 dial +49 301234567 " + t2, "en", "srcP", 0)
    )
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long"))
    bench = base.filter(F.col("doc_id") > 10_000)  # empty: isolate redaction

    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 4, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema),
        bench,
        sink,
        ckpt,
        redact_pii=True,
    )
    q.awaitTermination(300)

    out = read_sink(spark, sink)
    expected = batch_full_curation_keep(docs, bench, redact_pii=True)
    assert _checksum_docs(out) == _checksum_docs(expected)
    # no raw PII anywhere in the sink
    leaked = out.filter(
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0))) > 0
    )
    assert leaked.count() == 0
    tagged = {
        r["doc_id"]: r for r in out.filter(F.col("doc_id") >= 5001).collect()
    }
    assert "<EMAIL>" in tagged[5001]["text"]
    assert "<IP>" in tagged[5003]["text"]
    assert "<PHONE>" in tagged[5003]["text"]
    # n_chars follows the redacted text, not the raw input
    assert all(r["n_chars"] == len(r["text"]) for r in tagged.values())
    # without the flag the raw texts flow through untouched
    raw = batch_full_curation_keep(docs, bench).filter(F.col("doc_id") == 5001)
    assert "alice@example.com" in raw.first()["text"]


def test_streaming_temperature_mix_equals_batch(spark, tmp_path):
    """Temperature mixing at ingest (r10 verdict item): the curation
    stream applies a STREAM-STATIC (source, rate_ppm) model — fit once
    from the declared static corpus, never from the unbounded stream —
    and the doc_id-order replay must equal the composed batch
    statement. The mix filters the SINK only: mix-dropped docs still
    enter the bucket store, so the dedup-before-mix order of the
    release pipeline is preserved (a near-dup of a mix-dropped doc
    cannot sneak into the sink)."""
    from etl_wikipedia_updates_spark.stages import (
        CONTAM_BENCH_SOURCE,
        static_temp_rates,
        temp_membership,
    )
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        ingest_with_full_curation,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        bucket_store_path,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    rates = static_temp_rates(docs.select("source", "n_chars"))
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema),
        bench,
        sink,
        ckpt,
        compact_every=2,
        temp_rates=rates,
    )
    q.awaitTermination(300)

    expected = batch_full_curation_keep(docs, bench, temp_rates=rates)
    got = read_sink(spark, sink)
    assert _checksum_docs(got) == _checksum_docs(expected)

    # the mix composes as a pure membership filter on the un-mixed
    # output (the shared temp_keep_cond rule — same expression the
    # release's temperature law uses), and it strictly downsamples
    unmixed = batch_full_curation_keep(docs, bench)
    assert _checksum_docs(expected) == _checksum_docs(
        temp_membership(unmixed, rates)
    )
    n_mixed, n_unmixed = expected.count(), unmixed.count()
    assert 0 < n_mixed < n_unmixed

    # dedup shadowing: every un-mixed survivor's bands are in the
    # bucket store, INCLUDING the mix-dropped ones
    store_ids = {
        r["doc_id"]
        for r in read_sink(spark, bucket_store_path(sink))
        .select("doc_id")
        .distinct()
        .collect()
    }
    dropped = {
        r["doc_id"]
        for r in unmixed.join(
            expected.select("doc_id"), "doc_id", "left_anti"
        ).collect()
    }
    assert dropped and dropped <= store_ids


def test_temp_membership_unseen_source_fails_loudly(spark):
    """A doc whose source is absent from the static temperature model
    must ERROR, not silently vanish (review finding): an inner join
    would lose 100% of a new crawl source with no signal."""
    import pytest

    from etl_wikipedia_updates_spark.stages import temp_membership

    docs = spark.createDataFrame(
        [(1, "known", 10), (2, "brand_new", 10)],
        "doc_id long, source string, n_chars long",
    )
    rates = spark.createDataFrame(
        [("known", 1_000_000)], "source string, rate_ppm long"
    )
    with pytest.raises(Exception, match="absent from the static"):
        temp_membership(docs, rates).collect()
    # covered sources pass through untouched
    ok = temp_membership(docs.filter(F.col("source") == "known"), rates)
    assert [r["doc_id"] for r in ok.collect()] == [1]


def test_static_temp_rates_is_materialized(spark):
    """The stream-static fit must carry NO lineage back to the static
    corpus (review finding): a lazy plan would re-run the full static
    scan+aggregation inside every foreachBatch broadcast."""
    from etl_wikipedia_updates_spark.stages import static_temp_rates

    docs = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 400)],
        "doc_id long, source string, n_chars long",
    )
    rates = static_temp_rates(docs.select("source", "n_chars"))
    plan = rates._jdf.queryExecution().analyzed().toString()
    assert "Aggregate" not in plan, plan  # local rows, not the fit plan
    got = {r["source"]: r["rate_ppm"] for r in rates.collect()}
    assert got == {"a": 1_000_000, "b": 500_000}


def test_streaming_span_decontam_equals_batch_and_audit(spark, tmp_path):
    """SPAN mode (r16): the corpus replayed through
    the decontam mode with decontam_mode='spans' must equal
    batch_decontam_keep(decontam_mode='spans') under multi-batch replay, and
    the dropped TRAIN ids must be exactly the docs the registered
    span_decontam audit counts as contaminated (contam_doc > 0) — the
    stream, the batch rule, and the batch audit are three statements
    of one contract."""
    from etl_wikipedia_updates_spark.plans.northstar import span_decontam
    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_decontam_keep,
        contam_store_path,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 4, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "decontam",
        read_replay_stream(spark, replay, docs.schema),
        sink,
        ckpt,
        bench_docs=bench,
        decontam_mode="spans",
    )
    q.awaitTermination(300)

    kept = read_sink(spark, sink)
    expected = batch_decontam_keep(docs, bench, decontam_mode="spans")
    assert _checksum_docs(kept) == _checksum_docs(expected)

    # dropped TRAIN ids == the registered audit's contaminated docs
    quarantine = read_sink(spark, contam_store_path(sink))
    dropped_train = {
        r["doc_id"]
        for r in quarantine.join(
            docs.filter(F.col("source") != CONTAM_BENCH_SOURCE).select(
                "doc_id"
            ),
            "doc_id",
            "left_semi",
        ).collect()
    }
    audit = span_decontam(spark, sf).collect()
    assert sum(r["contam_docs"] for r in audit) == len(dropped_train)
    assert sum(r["contam_checksum"] for r in audit) == sum(dropped_train)
    assert dropped_train  # the rule bites on this corpus
    # span verdicts need only ONE exact span (no min-shared threshold)
    assert quarantine.filter(F.col("shared") < 1).count() == 0


def test_decontam_mode_rejects_unknown(spark):
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_decontam_keep,
    )

    docs = spark.createDataFrame(
        [(1, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with pytest.raises(ValueError, match="unknown decontam mode"):
        batch_decontam_keep(docs, docs, decontam_mode="hashes")


def test_streaming_full_curation_span_mode_equals_batch(spark, tmp_path):
    """The one-pass curation with the SPAN veto (r16,
    decontam_mode='spans'): streamed sink == the composed batch
    statement under doc_id-order replay, the quarantine carries
    span-rule verdicts (>= 1 exact span — no min-shared threshold),
    and the two modes genuinely differ on this corpus (different veto
    sets), so the dial is doing something."""
    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        contam_store_path,
        ingest_with_full_curation,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 4, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = ingest_with_full_curation(
        read_replay_stream(spark, replay, docs.schema),
        bench,
        sink,
        ckpt,
        decontam_mode="spans",
    )
    q.awaitTermination(300)

    expected = batch_full_curation_keep(docs, bench, decontam_mode="spans")
    assert _checksum_docs(read_sink(spark, sink)) == _checksum_docs(expected)
    quarantine = read_sink(spark, contam_store_path(sink))
    assert quarantine.filter(F.col("shared") < 1).count() == 0
    span_vetoed = {r["doc_id"] for r in quarantine.select("doc_id").collect()}
    assert span_vetoed  # the span veto bites on this corpus
    _assert_curation_stores(spark, sink, docs, bench, "spans")
    # and picks a different keep-set than the shingle rule — the dial
    # is doing something
    shingle_kept = batch_full_curation_keep(docs, bench)
    assert _checksum_docs(shingle_kept) != _checksum_docs(expected)


def test_span_neardup_stream_equals_batch_and_shadows(spark, tmp_path):
    """Span-mode ingest (r17, the sixth dedup-ingest variant): a doc
    lands iff none of its SPAN_W-token spans was seen from an earlier
    doc. Streamed in doc_id order over 5 batches == the batch rule
    (batch_span_keep, shared batch_neardup_drops engine); a replay
    over the same checkpoint changes nothing; a DROPPED doc's spans
    still shadow later arrivals (first-arriver rule); and the rule
    composes with the incremental story: the sink's span set drives
    span_store_audit-style probes the way the batch side's store
    does."""
    from etl_wikipedia_updates_spark.sources.replay import (
        read_replay_stream,
        write_replay_splits,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_span_keep,
    )

    def blk(name):
        return " ".join(f"{name}t{i}" for i in range(8))

    rows = [
        # 0 owns A+B; 1 copies the A+B span -> dropped; 2 copies a
        # span of the DROPPED doc 1's unique tail (C2+D2) -> must
        # still drop (shadowing); 3 clean; 4 dups doc 3's span.
        (0, "en", "wiki", " ".join([blk("A"), blk("B")])),
        (1, "en", "wiki", " ".join([blk("A"), blk("B"), blk("C2"), blk("D2")])),
        (2, "en", "web", " ".join([blk("C2"), blk("D2"), blk("E2"), blk("F2")])),
        (3, "en", "web", " ".join([blk("G"), blk("H")])),
        (4, "en", "web", " ".join([blk("G"), blk("H"), blk("Z")])),
        (5, "en", "web", " ".join([blk("U"), blk("V")])),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    )
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    q = start_ingest(
        "span",
        read_replay_stream(spark, replay, docs.schema), sink, ckpt
    )
    q.awaitTermination(300)

    kept_stream = sorted(
        r["doc_id"] for r in read_sink(spark, sink).collect()
    )
    kept_batch = sorted(
        r["doc_id"] for r in batch_span_keep(docs).collect()
    )
    assert kept_stream == kept_batch == [0, 3, 5]  # 2 shadowed by 1

    # replay idempotence
    q2 = start_ingest(
        "span",
        read_replay_stream(spark, replay, docs.schema), sink, ckpt
    )
    q2.awaitTermination(300)
    assert sorted(
        r["doc_id"] for r in read_sink(spark, sink).collect()
    ) == [0, 3, 5]


def test_span_ingest_seeded_from_release_store(spark, tmp_path):
    """The full recrawl composition (r17): a prior release publishes
    its span-hash store; a NEW crawl's span-mode ingest is SEEDED from
    it, so docs verbatim-overlapping the prior release never land —
    and the kept set equals the incremental contract: a new doc
    survives iff span_audit_vs_prior flags none of its spans
    (dup_prior or dup_new against earlier arrivals)."""
    import pytest

    from etl_wikipedia_updates_spark.release import publish_span_store
    from etl_wikipedia_updates_spark.sources.replay import (
        read_replay_stream,
        write_replay_splits,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        seed_span_store_from,
    )

    def blk(name):
        return " ".join(f"{name}t{i}" for i in range(8))

    prior = spark.createDataFrame(
        [
            (0, "en", "wiki", " ".join([blk("A"), blk("B")])),
            (1, "en", "web", " ".join([blk("E"), blk("F")])),
        ],
        ["doc_id", "lang", "source", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, "en", "wiki", " ".join([blk("A"), blk("B"), blk("X")])),
            (101, "en", "web", " ".join([blk("Y"), blk("Z")])),
            (102, "en", "web", " ".join([blk("Y"), blk("Z"), blk("W")])),
            (103, "en", "web", " ".join([blk("U"), blk("V")])),
        ],
        ["doc_id", "lang", "source", "text"],
    )
    store_root = str(tmp_path / "release_span_store")
    publish_span_store(spark, prior, store_root, source_desc="prior release")

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    n = seed_span_store_from(spark, sink, store_root)
    assert n > 0
    # double-seed from the SAME root is idempotent (r18: the
    # crash-recovery path — returns the seeded count, no new
    # version); a different root still refuses, pinned in
    # test_seed_marker_crash_recovery
    assert seed_span_store_from(spark, sink, store_root) == n

    replay = str(tmp_path / "replay")
    write_replay_splits(new, replay, 3, "doc_id")
    q = start_ingest(
        "span",
        read_replay_stream(spark, replay, new.schema), sink, ckpt
    )
    q.awaitTermination(300)
    kept = sorted(r["doc_id"] for r in read_sink(spark, sink).collect())
    # 100 vetoed by the prior release's A+B span; 102 by earlier 101
    assert kept == [101, 103]


def test_seeded_span_ingest_resumes_cleanly(spark, tmp_path):
    """r17 review: re-running the seeded command must RESUME (skip the
    seed when the store is already seeded from the same root), not
    crash — the checkpointed-resume pattern every other mode supports.
    Pinned at the library level: the seed refuses a seeded store, and
    the CLI path detects the matching seeded_from meta."""
    from etl_wikipedia_updates_spark.release import publish_span_store
    from etl_wikipedia_updates_spark.streaming.ingest import sink_snapshot
    from etl_wikipedia_updates_spark.streaming.neardup import (
        bucket_store_path,
        seed_span_store_from,
    )

    import os

    from etl_wikipedia_updates_spark.streaming.neardup import (
        doc_span_rows,
        seeded_from,
    )
    from etl_wikipedia_updates_spark.streaming.ingest import (
        append_batch,
        compact_store,
    )

    prior = spark.createDataFrame(
        [(0, "en", "wiki", " ".join(f"w{i}" for i in range(20)))],
        ["doc_id", "lang", "source", "text"],
    )
    store_root = str(tmp_path / "rel_store")
    publish_span_store(spark, prior, store_root)
    sink = str(tmp_path / "sink")
    seed_span_store_from(spark, sink, store_root)
    snap = sink_snapshot(bucket_store_path(sink))
    v = snap.current_version()
    assert snap.meta_for(v)["seeded_from"].startswith(store_root)
    assert snap.meta_for(v)["folded_through"] == -1
    marker = seeded_from(sink)
    assert marker["store_root"] == os.path.normpath(
        os.path.abspath(store_root)
    )

    # the durable marker SURVIVES store compaction, which republishes
    # the snapshot meta without seeded_from (r17 review: the resume
    # check must not depend on snapshot meta)
    batch = spark.createDataFrame(
        [(5, "en", "web", " ".join(f"x{i}" for i in range(20)))],
        ["doc_id", "lang", "source", "text"],
    )
    append_batch(doc_span_rows(batch), bucket_store_path(sink), 0)
    append_batch(doc_span_rows(batch), bucket_store_path(sink), 1)
    assert compact_store(spark, bucket_store_path(sink), below=1) is not None
    snap2 = sink_snapshot(bucket_store_path(sink))
    assert "seeded_from" not in snap2.meta_for(snap2.current_version())
    assert seeded_from(sink) == marker  # sidecar unaffected


def test_seed_marker_crash_recovery(spark, tmp_path):
    """r17 advice: a crash between the seed publish and the sidecar
    write used to leave a stuck store (marker missing -> CLI resume
    check misses -> seed_span_store_from refuses 'already has state'
    forever). Now re-seeding a store whose ONLY state is a seed
    snapshot from the SAME root rewrites the marker and returns
    idempotently; any other prior state still refuses, with a
    recovery hint in the message."""
    import os

    import pytest

    from etl_wikipedia_updates_spark.release import publish_span_store
    from etl_wikipedia_updates_spark.streaming.ingest import append_batch
    from etl_wikipedia_updates_spark.streaming.neardup import (
        bucket_store_path,
        doc_span_rows,
        seed_marker_path,
        seed_span_store_from,
        seeded_from,
    )

    prior = spark.createDataFrame(
        [(0, "en", "wiki", " ".join(f"w{i}" for i in range(20)))],
        ["doc_id", "lang", "source", "text"],
    )
    store_root = str(tmp_path / "rel_store")
    publish_span_store(spark, prior, store_root)
    sink = str(tmp_path / "sink")
    n1 = seed_span_store_from(spark, sink, store_root)
    marker = seeded_from(sink)

    # simulate the crash window: seed snapshot landed, sidecar didn't
    os.remove(seed_marker_path(sink))
    assert seeded_from(sink) is None
    n2 = seed_span_store_from(spark, sink, store_root)  # recovers
    assert n2 == n1
    assert seeded_from(sink) == marker

    # a DIFFERENT source store still refuses (not a recovery case) ...
    other_root = str(tmp_path / "other_store")
    publish_span_store(spark, prior, other_root)
    with pytest.raises(RuntimeError, match="To recover"):
        seed_span_store_from(spark, sink, other_root)
    # ... and so does a store with ingest batches on top of the seed
    batch = spark.createDataFrame(
        [(5, "en", "web", " ".join(f"x{i}" for i in range(20)))],
        ["doc_id", "lang", "source", "text"],
    )
    append_batch(doc_span_rows(batch), bucket_store_path(sink), 0)
    os.remove(seed_marker_path(sink))
    with pytest.raises(RuntimeError, match="already has state"):
        seed_span_store_from(spark, sink, store_root)


def test_seed_marker_recovery_refuses_version_mismatch(spark, tmp_path):
    """r18 review: the crash-recovery path must not silently return an
    OLD seed when the caller resolves to a NEWER store version. Store
    seeds a sink at v1, then advances to v2 (--merge); with the marker
    lost, re-seeding (which resolves to current=v2) must refuse — only
    an explicit version=1 request recovers the v1 seed."""
    import os

    import pytest

    from etl_wikipedia_updates_spark.release import publish_span_store
    from etl_wikipedia_updates_spark.streaming.neardup import (
        seed_marker_path,
        seed_span_store_from,
        seeded_from,
    )

    prior = spark.createDataFrame(
        [(0, "en", "wiki", " ".join(f"w{i}" for i in range(20)))],
        ["doc_id", "lang", "source", "text"],
    )
    extra = spark.createDataFrame(
        [(1, "en", "web", " ".join(f"x{i}" for i in range(20)))],
        ["doc_id", "lang", "source", "text"],
    )
    store_root = str(tmp_path / "rel_store")
    publish_span_store(spark, prior, store_root)
    sink = str(tmp_path / "sink")
    n1 = seed_span_store_from(spark, sink, store_root)  # seeded from v1
    publish_span_store(spark, extra, store_root, merge_prior=True)  # v2

    os.remove(seed_marker_path(sink))  # the crash window
    with pytest.raises(RuntimeError, match="already has state"):
        seed_span_store_from(spark, sink, store_root)  # resolves to v2
    assert seeded_from(sink) is None  # refusal wrote no marker
    # the explicit matching version DOES recover
    assert seed_span_store_from(spark, sink, store_root, version=1) == n1
    assert seeded_from(sink)["version"] == 1
