"""The engine's one driver-side memo: plans, table handles, fitted
models and Column trees, shared by every consumer in a session (a plan
rebuild costs 0.05-0.35 s of py4j/analysis, a table re-read ~70 ms,
a fit runs Spark jobs).

Entries are keyed by (applicationId, entry key, input fingerprint).
The values wrap py4j handles that die with their SparkContext, and one
live session at a time is the process model, so every insert purges
other sessions' entries. The entry key names the ``sf_dir`` or table
path the value was built from; the fingerprint, (relative path, size,
mtime_ns) of every file under it, is re-read on each lookup (~0.3 ms
for 10 tables). A table rewritten mid-session thus rebuilds, and
replaces, every entry built from it, where a stale fit gated on the
data (the q26 packed-key id-bounds probe) would serve the old answer.
Entries with no inputs (Column trees) have an empty fingerprint.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from pathlib import Path
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# (applicationId, entry key) -> (input fingerprint, value)
_MEMO: dict[tuple[str, Hashable], tuple[tuple, object]] = {}


def fingerprint(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative path, size, mtime_ns) of every file under ``path``, in
    a fixed order; empty for a path not on the local file system."""
    root = Path(path)
    files = [root] if root.is_file() else sorted(root.rglob("*"))
    stats = [(str(f.relative_to(root)), f.stat()) for f in files if f.is_file()]
    return tuple((rel, st.st_size, st.st_mtime_ns) for rel, st in stats)


def memo(
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], T],
    inputs: str | None = None,
) -> T:
    """The value memoized under ``key`` for this session, calling
    ``build()`` on a miss or when a file under ``inputs`` (the sf_dir
    or table path the value is built from, None for none) changed."""
    app = spark.sparkContext.applicationId
    entry = (app, (key, inputs))
    fp = fingerprint(inputs) if inputs is not None else ()
    hit = _MEMO.get(entry)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    for stale in [k for k in _MEMO if k[0] != app]:
        del _MEMO[stale]
    _MEMO[entry] = (fp, value)
    return value
