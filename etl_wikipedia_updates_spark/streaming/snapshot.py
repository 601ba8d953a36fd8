"""Snapshot-isolated table publish on a plain filesystem.

Every rewriting publish — sink, rollup and store folds in
``ingest.py``, releases, shards and packs — goes through this module.
A reader must never find a rewritten table missing, partial or
doubled. Table formats (Delta/Iceberg) guarantee that with a manifest
pointer; this module is the minimal filesystem version of the same
idea — what the SCALE.md "declared 100 TB path" prose promises, as
working code:

- Every publish writes a COMPLETE dataset into a fresh immutable
  version directory ``v{N}/`` (never mutated after creation).
- ``_current.json`` names the live version. It is replaced by writing
  a temp file and ``os.rename`` — atomic on POSIX — so every reader
  observes either the old manifest or the new one, never a missing or
  partial pointer. There is NO instant at which the table is
  unreadable.
- Readers resolve the manifest, then read that version's files. A
  reader holding version N keeps a consistent snapshot even while
  version N+1 publishes and after it becomes current (old versions are
  only removed by an explicit ``vacuum`` with a keep horizon — same
  contract as Delta's VACUUM).

At 100 TB the mechanism is unchanged: object stores give atomic
put-if-absent/rename-equivalent on the single small manifest object,
and version dirs are just prefixes. The reference has no analog (its
SQLite file is a single-writer embedded DB); this is the piece a
shared-filesystem deployment of R11-R14 needs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_current.json"  # _-prefixed: invisible to Spark's file lists


def dir_row_count(root: str) -> int:
    """Exact row count of every parquet file under ``root`` from the
    files' FOOTER metadata — driver-side I/O of a few KB per file, no
    Spark job, no data pages read. Mirrors Spark's reader visibility:
    ``_``/``.``-prefixed files and directories are skipped, so hidden
    state (manifests, in-flight rewrites) never counts. A missing root
    raises rather than reading as 0 — a silent zero turns a typo'd or
    vacuumed path into a wrong count downstream (a retention check
    that never fires, an append delta equal to the whole table)."""
    if not os.path.isdir(root):
        raise FileNotFoundError(f"no such directory to count: {root}")
    total = 0
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                total += _pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
    return total


def check_keep_last(keep_last: int) -> None:
    """A vacuum horizon keeps at least the live version. Writers that
    publish and then vacuum call this before any job, so a bad value
    fails before a version is published, not after."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1 (the live version), got {keep_last}")


class SnapshotTable:
    """Versioned parquet table with an atomic manifest pointer."""

    def __init__(self, root: str):
        # No filesystem mutation here: read paths (read_sink,
        # sink_row_count) construct this object too, and a pure read
        # must not plant a _snapshot/ dir inside a sink it doesn't own
        # (or fail outright on a read-only mount). The root is created
        # lazily by the first publish; every read-side method already
        # tolerates a missing root (current_version -> None).
        self.root = root

    # --- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def current_version(self) -> int | None:
        try:
            with open(self._manifest_path()) as fh:
                return int(json.load(fh)["version"])
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, KeyError, ValueError) as exc:
            # publish fsyncs the manifest before the rename, so a torn
            # pointer should be impossible; if one appears anyway
            # (manual edit, filesystem bug), fail LOUDLY rather than
            # silently restarting version numbering at 1 — the version
            # dirs are intact and an operator can restore the pointer.
            raise RuntimeError(
                f"corrupt snapshot manifest {self._manifest_path()}: "
                f"{exc}; restore it to point at the newest complete "
                "version directory"
            ) from exc

    def version_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    META = "_meta.json"  # per-version metadata, inside the version dir

    # --- write side -------------------------------------------------------
    def publish(
        self,
        df: DataFrame,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Write ``df`` as the next version and atomically point the
        manifest at it. The data write happens entirely BEFORE the
        pointer moves, so a crash mid-write leaves an orphan version
        dir (reclaimed by ``vacuum(reclaim_orphans=True)``) and an
        untouched live table.

        Concurrency: a version number is CLAIMED by ``os.mkdir`` —
        atomic on POSIX — so two concurrent publishers can never write
        into the same directory (the loser's mkdir fails and it claims
        the next number; both datasets publish completely and the
        pointer is last-writer-wins, each state consistent). The claim
        only holds if the claimed dir EXISTS for the whole write, so
        the data lands with ``mode("append")`` — the dir is empty by
        construction, so append == the full dataset. ``overwrite``
        would delete the claim dir before rewriting it (Spark
        overwrite = delete path + write), and during that window a
        rival's mkdir on the same number would succeed, landing two
        writers in one directory. No existing dir is ever deleted
        here — a crash orphan cannot be told apart from an in-flight
        writer."""
        os.makedirs(self.root, exist_ok=True)  # first write creates the store
        version = self.current_version() or 0
        while True:
            version += 1
            vdir = self.version_path(version)
            try:
                os.mkdir(vdir)  # atomic claim; skips orphans/in-flight
                break
            except FileExistsError:
                continue
        # partition_by: hive-style layout INSIDE the immutable version
        # dir (v{N}/split=train/...). Readers prune on the partition
        # column; the version/manifest mechanics are unchanged because
        # the unit of atomicity is the pointer, not the layout.
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        # Every version records its own exact row count (footer sums of
        # the files just written — no extra Spark job), so consumers
        # like retention's cap check read one json instead of running a
        # count() over the data per trigger.
        # n_bytes (r18): on-disk footprint of the version's data files
        # — the one growth axis n_rows misses for artifacts that are
        # multi-TB by design at 100 TB (the span store: 8 bytes/span
        # per row, but parquet encoding decides the real footprint).
        n_bytes = 0
        for dirpath, dirs, files in os.walk(vdir):
            # prune hidden dirs exactly like dir_row_count: a crashed
            # task's _temporary/ or .spark-staging-* debris must not
            # inflate the footprint n_rows ignores (r18 review)
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if not f.startswith(("_", ".")):
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        meta = {
            **(meta or {}),
            "n_rows": dir_row_count(vdir),
            "n_bytes": n_bytes,
        }
        # Written INSIDE the immutable version dir (``_``-prefixed:
        # invisible to Spark's file listing), before the pointer
        # moves — so a version and its metadata are always published
        # together and a pinned reader of version N resolves N's own
        # metadata regardless of later publishes.
        with open(os.path.join(vdir, self.META), "w") as fh:
            json.dump(meta, fh)
            fh.flush()
            os.fsync(fh.fileno())
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": version, "published_at": time.time()}, fh)
            fh.flush()
            os.fsync(fh.fileno())  # durable BEFORE the rename: no torn pointer
        os.rename(tmp, self._manifest_path())  # atomic pointer move
        return version

    # --- read side --------------------------------------------------------
    def _version_dirs(self) -> list[tuple[int, str]]:
        """Every v{N} dir on disk as (version, dirname), ascending —
        published AND orphans. The single parser both the read side
        (versions) and the delete side (vacuum) share, so they can
        never disagree about what counts as a version dir. vacuum
        removes by the LISTED name, so a non-canonical spelling like
        'v01' is still reclaimed (r18 review)."""
        out = []
        for name in os.listdir(self.root):
            if not name.startswith("v"):
                continue
            try:
                out.append((int(name[1:]), name))
            except ValueError:
                continue
        return sorted(out)

    def versions(self) -> list[int]:
        """The PUBLISHED version numbers still readable, ascending:
        canonically named dirs at or below the manifest pointer that
        carry their _meta.json (written before the pointer ever moved
        past them). Excluded on purpose: orphans above the pointer
        (in-flight/crashed publishes), sub-pointer crash orphans that
        never published (claimed dir, no meta — r18 review), and
        non-canonical dir spellings read()/meta_for() cannot resolve."""
        current = self.current_version()
        if current is None:
            return []
        return [
            v
            for v, name in self._version_dirs()
            if v <= current
            and name == f"v{v}"
            and os.path.exists(
                os.path.join(self.version_path(v), self.META)
            )
        ]

    def meta_for(self, version: int) -> dict:
        """The metadata dict published with ``version`` ({} if none)."""
        try:
            with open(os.path.join(self.version_path(version), self.META)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the current (or a pinned) snapshot. The returned plan is
        bound to that version's immutable files — publishes after this
        call never change what it reads (snapshot isolation; Delta's
        versionAsOf is the same contract)."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no published version under {self.root}")
        return spark.read.parquet(self.version_path(v))

    # --- maintenance ------------------------------------------------------
    def vacuum(self, keep_last: int = 2, reclaim_orphans: bool = False) -> list[int]:
        """Delete version dirs older than the newest ``keep_last``
        (must be >= 1: the live version is never removable). The grace
        window is what lets in-flight readers of recent snapshots
        finish — mirrors Delta's retention-horizon VACUUM.
        ``reclaim_orphans=True`` additionally removes version dirs
        ABOVE the current pointer — crashed publishes that never moved
        the manifest. Only safe when no publisher is running (an
        explicit operator action, hence opt-in). Returns the removed
        version numbers."""
        check_keep_last(keep_last)
        current = self.current_version()
        if current is None:
            return []
        removed = []
        for v, name in self._version_dirs():
            if v <= current - keep_last or (reclaim_orphans and v > current):
                shutil.rmtree(
                    os.path.join(self.root, name), ignore_errors=True
                )
                removed.append(v)
        return sorted(removed)
