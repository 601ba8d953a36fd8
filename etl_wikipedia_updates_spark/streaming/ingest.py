"""Streaming ingest building blocks (S1-S5).

Maps the reference's imperative loop onto Structured Streaming:

| reference                                  | here                           |
|--------------------------------------------|--------------------------------|
| commit every 2s (R12, pipeline.py:26-40)   | trigger(processingTime=...) or |
|                                            | availableNow for bounded replay|
| INSERT per row (R11, pipeline.py:132-177)  | foreachBatch parquet append    |
| rotation (R14, pipeline.py:41-51)          | retention inside foreachBatch  |
| UNIQUE-dedup (R10, pipeline.py:216)        | dropDuplicatesWithinWatermark  |
| resume via since (R2, pipeline.py:74-76)   | checkpointLocation             |

Sink layout (a minimal Delta: append log + snapshot checkpoints):

    sink_path/
      batch_0000000042/   per-trigger appends (idempotent by batch id)
      _snapshot/          SnapshotTable: v{N}/ dirs + _current.json

Appends only ever ADD batch dirs. Retention/compaction — the rewriting
maintenance ops — publish the rewritten table as the next snapshot
version whose metadata records ``folded_through``: the highest batch id
folded in. Readers resolve the manifest once and read that version's
immutable files plus batch dirs with id > folded_through (read_view,
the one reader of this layout for the sink, the rollup and the side
stores), so there is NO instant at which the sink is unreadable,
partial, or doubled — the streaming upgrade of the reference's WAL
1-writer/N-readers contract (/root/reference/pipeline.py:198). Batch
dirs already folded into the PREVIOUS version too are deleted one
maintenance cycle late, and versions are vacuumed with keep_last=2 —
both one-publish grace horizons for in-flight readers, same contract
as Delta's VACUUM retention.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_wikipedia_updates_spark.streaming.snapshot import (
    SnapshotTable,
    dir_row_count,
)

# Reference fires cleanup at >= 1.1x the cap (pipeline.py:44).
RETENTION_SLACK = 1.1

NROWS_SIDECAR = "_nrows.json"  # _-prefixed: invisible to Spark readers


def append_batch(batch_df: DataFrame, sink_path: str, batch_id: int) -> None:
    """R11: micro-batch append, idempotent under replay — each batch
    overwrites its own subdirectory keyed by batch_id, so a batch
    retried after a crash/restart (at-least-once foreachBatch) lands in
    the same place instead of duplicating. This is the parquet version
    of the reference's commit-after-insert-or-ignore recovery
    (pipeline.py:36-40,173-174).

    After the write commits, the batch's exact row count (from the
    just-written parquet footers — no extra Spark job) is recorded in
    a ``_nrows.json`` sidecar inside the batch dir, so maintained
    counts (sink_row_count) never re-scan data. A crash between write
    and sidecar leaves a committed dir without one; readers fall back
    to the same footer sum."""
    target = os.path.join(sink_path, f"batch_{batch_id:010d}")
    batch_df.write.mode("overwrite").parquet(target)
    with open(os.path.join(target, NROWS_SIDECAR), "w") as fh:
        json.dump({"n": dir_row_count(target)}, fh)


def start_batches(
    stream: DataFrame, handle, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Start ``handle(batch_df, batch_id)`` as the stream's checkpointed
    foreachBatch body; ``available_now`` drains the input and stops."""
    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_dir_rows(path: str) -> int:
    """Row count of one committed batch dir: the append-time sidecar,
    else the parquet-footer sum (sidecar lost to the crash window
    between write and sidecar)."""
    try:
        with open(os.path.join(path, NROWS_SIDECAR)) as fh:
            return int(json.load(fh)["n"])
    except (FileNotFoundError, json.JSONDecodeError, KeyError, ValueError):
        return dir_row_count(path)


def sink_row_count(sink_path: str) -> int:
    """Exact row count of the sink's current composite view WITHOUT a
    Spark job: the snapshot version's published ``n_rows`` plus each
    unfolded committed batch dir's append-time sidecar. O(unfolded
    batch dirs) tiny-file reads — and the compaction cadence bounds
    that number — vs the full-scan count() per trigger this replaces;
    at a 2 s trigger cadence over a 100 TB sink the difference is the
    retention check being free vs being the dominant per-trigger cost.
    Same visibility contract as read_sink (committed-only; raises
    before the first commit, and on a missing sink path rather than
    reporting 0 — a silent zero would make retention no-op forever on
    a typo'd path)."""
    if not os.path.isdir(sink_path):
        raise FileNotFoundError(f"no such sink: {sink_path}")
    snap, v, _folded, newer = view_parts(sink_path)
    if v is None and not newer:
        return dir_row_count(_whole_tree(sink_path))  # foreign sink
    base = 0 if v is None else int(snap.meta_for(v)["n_rows"])
    return base + sum(_batch_dir_rows(p) for _b, p in newer)


SNAPSHOT_DIRNAME = "_snapshot"


def sink_snapshot(sink_path: str) -> SnapshotTable:
    """The sink's snapshot store (``_``-prefixed: invisible to any
    Spark file listing of the sink tree)."""
    return SnapshotTable(os.path.join(sink_path, SNAPSHOT_DIRNAME))


def _batch_dirs(sink_path: str) -> list[tuple[int, str]]:
    """(batch_id, path) for every live per-trigger append dir, sorted."""
    out: list[tuple[int, str]] = []
    try:
        names = os.listdir(sink_path)
    except FileNotFoundError:
        return out
    for d in names:
        full = os.path.join(sink_path, d)
        if d.startswith("batch_") and os.path.isdir(full):
            try:
                out.append((int(d.split("_", 1)[1]), full))
            except ValueError:
                continue
    return sorted(out)


def _committed_batch_dirs(sink_path: str) -> list[tuple[int, str]]:
    """Batch dirs whose write JOB has committed — Spark leaves the
    ``_SUCCESS`` marker at job commit, and ``append_batch``'s
    mode("overwrite") deletes it first, so an in-flight append
    (including an idempotent replay overwrite) has no marker. Only
    committed dirs may be read by the composite view or folded by
    maintenance: folding a dir mid-write would record its batch id as
    folded while having read only part of its rows."""
    return [
        (b, p)
        for b, p in _batch_dirs(sink_path)
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]


ViewParts = tuple[SnapshotTable, int | None, int, list[tuple[int, str]]]


def view_parts(
    path: str, version: int | None = None, below: int | None = None
) -> ViewParts:
    """THE resolution of a per-batch table's composite view — (snapshot
    store, resolved version, folded_through, unfolded committed (id,
    path) batch dirs, with ``below`` only ids < below). Shared by
    read_view / sink_row_count / _view_file_count and the folds, so the
    version pointer, fold marker, and batch-dir filter can never
    disagree between the readers and the maintenance paths.

    ``below`` (exclusive) is a store read's replay guard: a batch
    retried under its own id must not collide with its first attempt's
    rows, folded or not. A version folded through ``below`` or beyond
    cannot give that view, so it raises."""
    snap = sink_snapshot(path)
    v = snap.current_version() if version is None else version
    folded = (
        -1 if v is None else int(snap.meta_for(v).get("folded_through", -1))
    )
    if below is not None and folded >= below:
        # Only possible through an external compaction run with an
        # explicit too-high ``below`` while the stream was in flight;
        # reading on would let a replayed batch collide with itself
        # and silently drop every row.
        raise RuntimeError(
            f"store {path} folded through {folded} but "
            f"batch {below} may replay; compact only below the "
            "in-flight batch id"
        )
    newer = [
        (b, p)
        for b, p in _committed_batch_dirs(path)
        if b > folded and (below is None or b < below)
    ]
    return snap, v, folded, newer


def _whole_tree(path: str) -> str:
    """``path`` itself, for a table with no snapshot and no committed
    batch dir: a parquet dir written by something else, read as one
    whole tree. Batch dirs with NONE committed mean the first append is
    mid-write; recursing then would read the in-flight dir's partial
    part-files — rows that reappear once its _SUCCESS lands, or that a
    fold would record under folded_through=-1 and double. Fail like an
    unpublished snapshot does; the caller retries after the commit."""
    if _batch_dirs(path):
        raise FileNotFoundError(
            f"{path}: no committed batch yet (first append "
            "in flight); retry after its _SUCCESS lands"
        )
    return path


def read_view(
    spark: SparkSession,
    path: str,
    below: int | None = None,
    version: int | None = None,
    schema: str | None = None,
) -> tuple[DataFrame | None, ViewParts]:
    """The composite view of a per-batch table — the sink, the rollup
    or a side store — and the view_parts it was read from, so a fold
    records exactly what it read: the current (or a pinned) snapshot
    version's immutable files plus the COMMITTED batch appends above
    its ``folded_through`` marker (only ids < ``below`` when given).

    Before the first publish the table is pure appends and reads the
    committed batch dirs, under ``schema`` when given (append-only
    needs no manifest: every committed state is complete). With nothing
    committed, a ``below`` read (a store before its first qualifying
    batch) is None and any other read takes _whole_tree."""
    parts = view_parts(path, version, below)
    snap, v, _folded, newer = parts
    paths = [p for _, p in newer]
    if v is not None:
        view = snap.read(spark, v)
        if paths:
            # explicit schema: skips re-inference and keeps a 0-row
            # batch dir (a committed empty batch has only _SUCCESS)
            # from failing the read
            view = view.unionByName(
                spark.read.schema(view.schema).parquet(*paths)
            )
    elif paths:
        reader = spark.read.schema(schema) if schema else spark.read
        view = reader.parquet(*paths)
    elif below is not None:
        view = None
    else:
        view = spark.read.option("recursiveFileLookup", "true").parquet(
            _whole_tree(path)
        )
    return view, parts


def read_sink(
    spark: SparkSession, sink_path: str, version: int | None = None
) -> DataFrame:
    """The sink's current (or a pinned) consistent view (read_view);
    FileNotFoundError while the first append is still in flight."""
    return read_view(spark, sink_path, version=version)[0]


def _view_file_count(sink_path: str, parts: ViewParts) -> int:
    """Parquet files the resolved view reads (version dir + unfolded
    committed batch dirs; the whole tree of a foreign dir)."""
    snap, v, _folded, newer = parts
    roots = [p for _, p in newer]
    if v is not None:
        roots.append(snap.version_path(v))
    return sum(
        1
        for root in roots or [_whole_tree(sink_path)]
        for _r, _d, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _publish_rewrite(
    spark: SparkSession, sink_path: str, transform, below: int | None = None
) -> int:
    """Publish ``transform(current view)`` as the sink's next snapshot
    version — the shared core of compaction and retention.

    ``below`` (exclusive) caps which committed batch dirs are folded —
    the knob a caller uses when batches >= some id may still be
    REPLAYED (foreachBatch at-least-once): a replayed batch must never
    find its own output already folded into the snapshot, so the
    neardup bucket-store compaction folds only ids strictly below the
    in-flight batch. Dirs at or above ``below`` stay unfolded and
    remain visible through the composite view.

    The committed-batch-dir list is resolved ONCE (read_view) and the
    fold reads EXACTLY those explicit paths — never a recursive listing
    of the sink tree, which Spark would take at a later instant than
    the dir list, so a batch committing in between would be read into
    the version while staying above ``folded_through`` and be counted
    twice forever. ``folded_through`` = the highest batch id actually
    read, so appends racing this rewrite (not yet listed, or not yet
    ``_SUCCESS``-committed) land after the marker and stay visible in
    the composite view. Cleanup keeps one publish of grace for
    in-flight readers: batch dirs are deleted only once the PREVIOUS
    version had already folded them, and versions are vacuumed
    keep_last=2."""
    view, (snap, _v, prev_folded, newer) = read_view(spark, sink_path, below)
    folded_through = max([b for b, _ in newer], default=prev_folded)
    version = snap.publish(
        transform(view), meta={"folded_through": folded_through}
    )
    for b, p in _batch_dirs(sink_path):
        if b <= prev_folded:
            shutil.rmtree(p, ignore_errors=True)
    snap.vacuum(keep_last=2)
    return version


def compact_sink(
    spark: SparkSession, sink_path: str, target_files: int
) -> dict:
    """Small-file compaction for the per-batch append sink.

    A 2-second trigger cadence (the reference's commit interval,
    pipeline.py:26-27) writes ~43k batch directories per day; parquet
    footers and task scheduling then dominate every downstream scan.
    Compaction folds the snapshot + accumulated batch dirs into
    ``target_files`` files published as the next snapshot version
    (coalesce, not repartition: merge without a shuffle), so a reader
    resolves either the old version or the new one — never a
    half-written or vanished sink. At 100 TB this runs per-partition
    (compact yesterday's date partition after it closes), so each
    rewrite is O(one partition) — with Delta/Iceberg it is OPTIMIZE /
    rewrite_data_files.

    Returns {"files_before": .., "files_after": .., "rows": ..}.
    A pass with nothing to do — no unfolded committed batch dirs AND
    the current version already at or under ``target_files`` — is a
    NO-OP returning the current version's stats: a scheduled
    maintenance loop must not pay a full-table rewrite (nor burn a
    version number) per idle cycle.
    """
    parts = view_parts(sink_path)
    snap, v, _folded, newer = parts
    before = _view_file_count(sink_path, parts)
    if v is not None and not newer and before <= target_files:
        return {
            "files_before": before,
            "files_after": before,
            "rows": int(snap.meta_for(v)["n_rows"]),
        }
    version = _publish_rewrite(
        spark, sink_path, lambda view: view.coalesce(target_files)
    )
    return {
        "files_before": before,
        "files_after": _view_file_count(sink_path, view_parts(sink_path)),
        "rows": int(snap.meta_for(version)["n_rows"]),
    }


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_files: int = 4,
    below: int | None = None,
) -> dict | None:
    """Fold one accumulating per-batch store (bucket or shingle) into a
    snapshot version — the same SnapshotTable fold the data sink uses
    (``_publish_rewrite``), so the store's file count stops growing
    with batch count. Without this a store gains one directory per
    trigger forever and the per-batch collision join pays an
    ever-growing file-listing + footer cost.

    ``below`` (exclusive) bounds which batch ids are folded. The
    default folds everything EXCEPT the newest committed batch — a
    one-batch grace horizon, because with at-least-once foreachBatch
    the newest appended batch may be replayed if the checkpoint commit
    did not land, and a replayed batch must never find its own rows
    already folded (``view_parts`` raises on that invariant). The
    in-handler call sites pass ``below=batch_id`` for the same reason.

    Returns {"version": N, "folded_dirs": n} or None when there was
    nothing new to fold (no pointless full-store rewrite)."""
    _snap, _v, _folded, newer = view_parts(store_path)
    if below is None:
        # newest UNFOLDED committed id; when everything committed is
        # already folded the max is over an empty set and foldable
        # below comes out empty either way
        below = max((b for b, _ in newer), default=-1)
    foldable = [b for b, _ in newer if b < below]
    if not foldable:
        return None
    version = _publish_rewrite(
        spark,
        store_path,
        lambda view: view.coalesce(target_files),
        below=below,
    )
    return {"version": version, "folded_dirs": len(foldable)}


def apply_retention(
    spark: SparkSession, sink_path: str, max_rows: int, ts_col: str
) -> bool:
    """R14: keep the newest ``max_rows`` by event time once the sink
    exceeds slack x cap, published as the next snapshot version (see
    module docstring). The cap check reads the MAINTAINED count
    (version meta + per-batch sidecars, sink_row_count) — per-trigger
    cost is a few tiny file reads, not a count() scan of the sink.
    Returns True when a rewrite happened."""
    total = sink_row_count(sink_path)
    if total < RETENTION_SLACK * max_rows:
        return False
    _publish_rewrite(
        spark,
        sink_path,
        lambda view: view.orderBy(F.col(ts_col).desc()).limit(max_rows),
    )
    return True


def ingest_with_retention(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    max_rows: int | None = None,
    ts_col: str = "ts",
    available_now: bool = True,
) -> StreamingQuery:
    """S1/S4/S5: replayed stream -> foreachBatch(append [+ retention])
    with checkpoint-based exactly-once resume."""
    spark = stream.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, sink_path, batch_id)
        if max_rows is not None:
            apply_retention(spark, sink_path, max_rows, ts_col)

    return start_batches(stream, handle, checkpoint, available_now)


def rollup_partials(
    batch_df: DataFrame,
    rollup_path: str,
    batch_id: int,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> None:
    """Hypertable-style incremental rollup, per micro-batch.

    Reduce the batch to (day, key) PARTIAL aggregates and append them
    keyed by batch_id (idempotent under at-least-once replay, same as
    append_batch). Readers merge partials (rollup_view); compact_rollup
    folds them down periodically. The partials are count + decimal sum,
    which combine associatively, so partial-merge-partial gives exactly
    the batch answer in any order. Appending O(distinct keys in batch)
    rows per trigger beats read-modify-write of the whole rollup — the
    only shape that holds up when the rollup spans years x keys and the
    trigger fires every 2 s (the reference's commit cadence, R12).
    """
    partial = batch_df.groupBy(
        F.to_date(F.col(ts_col)).alias("day"), F.col(key_col)
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
    )
    partial.write.mode("overwrite").parquet(
        os.path.join(rollup_path, f"batch_{batch_id:010d}")
    )


def _rollup_fold(view: DataFrame, key_col: str) -> DataFrame:
    """Merge partials into one partial per (day, key). The merged frame
    is itself a valid partial (counts and decimal sums re-aggregate),
    and the cast pins ``sum_value`` at rollup_partials' decimal(28,4)
    so repeated folds keep ONE schema instead of widening toward the
    38-digit cap and tearing the composite union apart."""
    return view.groupBy("day", key_col).agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").cast("decimal(28,4)").alias("sum_value"),
    )


def rollup_view(
    spark: SparkSession, rollup_path: str, key_col: str = "event_type"
) -> DataFrame:
    """Merge the rollup partials into the current (day, key) totals.

    Reads through the sink composite view (snapshot version + COMMITTED
    unfolded batch dirs), not a recursive listing: rollup_partials'
    mode("overwrite") deletes ``_SUCCESS`` first, so a recursive read
    racing an in-flight trigger (or a replay overwrite) would see torn
    part-files or a transient undercount — exactly the hazard read_sink
    exists to refuse."""
    return _rollup_fold(read_sink(spark, rollup_path), key_col).withColumn(
        "sum_value", F.col("sum_value").cast("double")
    )


def compact_rollup(
    spark: SparkSession, rollup_path: str, key_col: str = "event_type"
) -> None:
    """Fold accumulated partials down to one row per (day, key),
    published as the rollup's next snapshot version via the same
    _publish_rewrite discipline as compact_sink. That buys the rollup
    what the data sink already had: at-least-once replay idempotence
    (a replayed batch dir's id is <= ``folded_through``, so the
    composite view never counts it beside the fold that already
    absorbed it) and append-while-compacting safety (the fold reads an
    explicit committed-dir list resolved once; a batch landing after
    that stays above the marker and remains visible). At 100 TB
    this runs per closed day-partition, like compact_sink. A pass with
    nothing new to fold is a no-op (no version burned per idle
    maintenance cycle)."""
    _snap, v, _folded, newer = view_parts(rollup_path)
    if v is not None and not newer:
        return
    _publish_rewrite(
        spark, rollup_path, lambda view: _rollup_fold(view, key_col)
    )


def ingest_with_rollup(
    stream: DataFrame,
    sink_path: str,
    rollup_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    available_now: bool = True,
) -> StreamingQuery:
    """Ingest + maintain the incremental rollup in the same trigger:
    every micro-batch appends its rows (R11) and its rollup partials
    atomically-enough for the idempotent-overwrite recovery both writes
    share."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, sink_path, batch_id)
        rollup_partials(batch_df, rollup_path, batch_id, ts_col, key_col)

    return start_batches(stream, handle, checkpoint, available_now)


def streaming_dedup(
    stream: DataFrame, keys: list[str], ts_col: str, watermark_delay: str
) -> DataFrame:
    """S3 / R10: bounded-state streaming dedup. The reference's UNIQUE
    constraint is unbounded-state dedup; the watermark declares the
    horizon after which a late duplicate could slip through (SURVEY
    §1.4) — the price of bounded state at scale."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    window_size: str,
    watermark_delay: str,
) -> DataFrame:
    """S2 / D5: watermarked tumbling-window aggregate — the event-time
    version of the dashboard's hand-rolled velocity poll
    (/root/reference/dashboard.py:47-49). Late rows beyond the watermark
    are dropped."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_size).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def session_counts(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    watermark_delay: str,
    key_col: str = "user_id",
) -> DataFrame:
    """S2 (session variant) / Q21's streaming form: native
    ``session_window`` gap sessionization. State per open session,
    closed (emitted) once the watermark passes session end + gap —
    bounded state at any scale, same sessions as the batch lag-gap
    formulation."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def sink_metrics(spark: SparkSession, sink_path: str, ts_col: str) -> dict:
    """D1-D4, D7: row count, newest/oldest event time, storage bytes —
    the dashboard's gauges (/root/reference/dashboard.py:37-75) from
    cheap sink aggregates + a filesystem walk."""
    sink = read_sink(spark, sink_path)
    agg = sink.agg(
        F.count("*").alias("n"),
        F.max(ts_col).alias("max_ts"),
        F.min(ts_col).alias("min_ts"),
    ).first()
    size = 0
    for root, _dirs, files in os.walk(sink_path):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return {
        "rows": agg["n"],
        "max_ts": agg["max_ts"],
        "min_ts": agg["min_ts"],
        "bytes": size,
    }


def metrics_delta(prev: dict, cur: dict) -> dict:
    """D6: current - previous for every numeric gauge — the dashboard's
    'sparkline' deltas (/root/reference/dashboard.py:56,63,70) over two
    sink_metrics() polls. Non-numeric gauges pass through as None."""
    out = {}
    for k, v in cur.items():
        p = prev.get(k)
        out[k] = (v - p) if isinstance(v, (int, float)) and isinstance(p, (int, float)) else None
    return out


def progress_velocity(query: StreamingQuery) -> float | None:
    """D5: events/minute from the engine's own progress telemetry
    (lastProgress.inputRowsPerSecond), replacing the reference's
    delta-polling math."""
    p = query.lastProgress
    if not p:
        return None
    rps = p.get("inputRowsPerSecond")
    return None if rps is None else rps * 60.0
