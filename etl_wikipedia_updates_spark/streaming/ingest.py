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
immutable files plus batch dirs with id > folded_through, so there is
NO instant at which the sink is unreadable, partial, or doubled — the
guarantee the previous rename-swap publish could not give (its
microsecond between-renames window surfaced as transient
path-not-found), and the streaming upgrade of the reference's WAL
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
    else the parquet-footer sum (sidecar lost to a crash window, or a
    dir written before sidecars existed)."""
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
    snap, v, _folded, newer = _view_parts(sink_path)
    if v is None and not newer:
        if _batch_dirs(sink_path):
            raise FileNotFoundError(
                f"{sink_path}: no committed batch yet (first append "
                "in flight); retry after its _SUCCESS lands"
            )
        return dir_row_count(sink_path)  # foreign sink: footer walk
    total = 0
    if v is not None:
        meta = snap.meta_for(v)
        total += (
            int(meta["n_rows"])
            if "n_rows" in meta
            else dir_row_count(snap.version_path(v))
        )
    return total + sum(_batch_dir_rows(p) for _b, p in newer)


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


def _view_parts(
    sink_path: str, version: int | None = None
) -> tuple[SnapshotTable, int | None, int, list[tuple[int, str]]]:
    """THE resolution of the sink's composite view — (snapshot store,
    resolved version, folded_through, unfolded committed (id, path)
    batch dirs). Shared by read_sink / _view_file_count /
    _publish_rewrite so the version pointer, fold marker, and
    batch-dir filter can never disagree between the reader and the
    maintenance paths."""
    snap = sink_snapshot(sink_path)
    v = snap.current_version() if version is None else version
    if v is None:
        return snap, None, -1, _committed_batch_dirs(sink_path)
    folded = int(snap.meta_for(v).get("folded_through", -1))
    newer = [(b, p) for b, p in _committed_batch_dirs(sink_path) if b > folded]
    return snap, v, folded, newer


def read_sink(
    spark: SparkSession, sink_path: str, version: int | None = None
) -> DataFrame:
    """The sink's current (or a pinned) consistent view: the snapshot
    version's immutable files plus COMMITTED batch appends newer than
    its ``folded_through`` marker. Before the first maintenance publish
    the sink is pure appends and reads the committed batch dirs
    (append-only needs no manifest: every committed state is
    complete)."""
    snap, v, _folded, newer = _view_parts(sink_path, version)
    paths = [p for _, p in newer]
    if v is None:
        if paths:
            return spark.read.parquet(*paths)
        if _batch_dirs(sink_path):
            # Batch dirs exist but NONE has committed yet (the first
            # append is mid-write). The committed view is empty and we
            # have no schema to synthesize an empty frame with — and
            # falling back to a recursive listing here would read the
            # in-flight dir's partial part-files, rows that reappear
            # once its _SUCCESS lands. Fail like an unpublished
            # snapshot does; the reader retries after the commit.
            raise FileNotFoundError(
                f"{sink_path}: no committed batch yet (first append "
                "in flight); retry after its _SUCCESS lands"
            )
        # no batch_* dirs at all (a sink written by something else):
        # fall back to the whole tree
        return spark.read.option("recursiveFileLookup", "true").parquet(sink_path)
    base = snap.read(spark, v)
    if not paths:
        return base
    # explicit schema: skips re-inference and keeps a 0-row batch dir
    # (a committed empty batch has only _SUCCESS) from failing the read
    return base.unionByName(spark.read.schema(base.schema).parquet(*paths))


def _hidden_sibling(path: str, tag: str) -> str:
    """A ``._``-prefixed sibling of ``path`` — Spark's file index skips
    names starting with ``.`` or ``_``, so in-flight rewrite state named
    this way is INVISIBLE to any concurrent reader of the enclosing
    tree (recursiveFileLookup, glob, or partition discovery alike)."""
    parent, base = os.path.split(path.rstrip("/"))
    return os.path.join(parent, f"._{tag}_{base}")


def _recover_swap(live_dir: str) -> None:
    """Heal a swap interrupted between its two renames.

    Crash states and their recovery (old = the hidden step-aside dir):
    - live missing + old present  -> rename old back to live (the
      pre-rewrite dataset; complete by construction).
    - live present + old present  -> the swap finished but the final
      cleanup didn't: delete the stale old dir.
    Idempotent; called at the top of every rewrite entry point, so the
    next maintenance run self-heals a crashed predecessor."""
    old = _hidden_sibling(live_dir, "old")
    if os.path.exists(old):
        if not os.path.exists(live_dir):
            os.rename(old, live_dir)
        else:
            shutil.rmtree(old, ignore_errors=True)


def _view_file_count(sink_path: str) -> int:
    """Parquet files the CURRENT consistent view reads (version dir +
    unfolded committed batch dirs; the committed batch dirs — or the
    whole tree when there are none — before the first publish)."""
    snap, v, _folded, newer = _view_parts(sink_path)
    if v is None:
        roots = [p for _, p in newer] or [sink_path]
    else:
        roots = [snap.version_path(v)] + [p for _, p in newer]
    return sum(
        1
        for root in roots
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

    The committed-batch-dir list is resolved ONCE (_view_parts) and the
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
    snap, prev_v, prev_folded, newer = _view_parts(sink_path)
    if below is not None:
        newer = [(b, p) for b, p in newer if b < below]
    folded_through = max([b for b, _ in newer], default=prev_folded)
    paths = [p for _, p in newer]
    if prev_v is None:
        if paths:
            view = spark.read.parquet(*paths)
        elif _batch_dirs(sink_path):
            # Same pre-first-commit hole as read_sink: recursing here
            # would fold the in-flight dir's partial part-files into
            # the version while recording folded_through=-1, so the
            # batch's rows would double once its _SUCCESS lands.
            # Abort; maintenance retries after the first commit.
            raise FileNotFoundError(
                f"{sink_path}: nothing committed to fold yet (first "
                "append in flight); retry after its _SUCCESS lands"
            )
        else:
            view = spark.read.option("recursiveFileLookup", "true").parquet(
                sink_path
            )
    else:
        view = snap.read(spark, prev_v)
        if paths:
            view = view.unionByName(
                spark.read.schema(view.schema).parquet(*paths)
            )
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
    _recover_swap(sink_path)  # heal a pre-snapshot-era crashed swap
    snap, v, _folded, newer = _view_parts(sink_path)
    before = _view_file_count(sink_path)
    if v is not None and not newer and before <= target_files:
        # same pre-n_rows-metadata fallback as sink_row_count: a
        # version published before row counts existed must no-op,
        # not crash the maintenance loop
        rows = int(
            snap.meta_for(v).get(
                "n_rows", dir_row_count(snap.version_path(v))
            )
        )
        return {
            "files_before": before,
            "files_after": before,
            "rows": rows,
        }
    version = _publish_rewrite(
        spark, sink_path, lambda view: view.coalesce(target_files)
    )
    rows = int(sink_snapshot(sink_path).meta_for(version)["n_rows"])
    return {
        "files_before": before,
        "files_after": _view_file_count(sink_path),
        "rows": rows,
    }


def apply_retention(
    spark: SparkSession, sink_path: str, max_rows: int, ts_col: str
) -> bool:
    """R14: keep the newest ``max_rows`` by event time once the sink
    exceeds slack x cap, published as the next snapshot version (see
    module docstring). The cap check reads the MAINTAINED count
    (version meta + per-batch sidecars, sink_row_count) — per-trigger
    cost is a few tiny file reads, not a count() scan of the sink.
    Returns True when a rewrite happened."""
    _recover_swap(sink_path)  # heal a pre-snapshot-era crashed swap
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
    that stays above the marker and remains visible). The previous
    whole-root swap had neither — a replay after compaction doubled
    that batch's (day, key) totals forever, and a concurrent append
    between read and swap was rmtree'd with the old root. At 100 TB
    this runs per closed day-partition, like compact_sink. A pass with
    nothing new to fold is a no-op (no version burned per idle
    maintenance cycle)."""
    _recover_swap(rollup_path)  # heal a pre-snapshot-era crashed swap
    _snap, v, _folded, newer = _view_parts(rollup_path)
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
