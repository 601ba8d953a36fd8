"""SparkSession factory.

Determinism knobs come first (they gate duckdb-oracle hash matching):
UTC session timezone, ANSI off (we want permissive casts like the
reference's lenient ingest), Arrow on for the Pandas-UDF surface.

Performance knobs are sized for the local[32] test harness but chosen so
the same code scales: AQE handles runtime re-planning (partition
coalescing, skew joins) on a real cluster exactly as it does locally;
``spark.sql.shuffle.partitions`` is only the *initial* shuffle
parallelism — with AQE coalescing enabled the effective partition count
adapts to data volume, so a 1000-executor deployment overrides one conf
value rather than any code.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

def driver_memory(phys_bytes: int | None) -> str:
    """Default driver heap: half of the host's ``phys_bytes`` (None:
    unknown), capped at 16g. Past the host's memory a heavy query is
    killed by the kernel with no message; at half, it fails with a Java
    OutOfMemoryError and the Python workers and the OS keep room."""
    cap_mb = 16 * 1024
    return f"{min(phys_bytes // 2 >> 20, cap_mb) if phys_bytes else cap_mb}m"


def _phys_bytes() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return None


def _int_env(name: str, default: int) -> int:
    """Integer env knob with a loud, named failure mode: a malformed
    value warns (naming the variable and the bad value) and falls back
    to ``default`` rather than killing session construction with an
    opaque int() traceback."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        warnings.warn(
            f"{name}={raw!r} is not an integer; falling back to "
            f"{default}",
            stacklevel=3,
        )
        return default


def get_spark(
    app_name: str = "etl_wikipedia_updates_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters are overridable for tests/bench; defaults fit local[N].
    """
    cpus = _int_env("SPARK_GRAFT_CPUS", 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- determinism (oracle hash-matching) ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # --- adaptive execution: the main scale lever (runtime
        # re-planning, skew-join splitting) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: initial parallelism ~= cores locally; AQE
        # coalesces small partitions, so this is safe at every SF ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # --- Python <-> JVM transfer is Arrow-batched, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): the numeric pandas_udf
        # surfaces (q28, grouped_agg_udf) pay per-batch Python
        # round-trip overhead, and 6x fewer boundaries measured ~15%
        # faster on q28 at sf0.1 (min-of-3, same session). Memory per
        # in-flight batch stays a few MB for numeric columns; a
        # deployment with very wide string rows would size this down.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # dim tables (region/nation/supplier/...) should always broadcast;
        # 64MB covers every dim at sf0.1 while staying executor-safe
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Only effective when this call creates the JVM; a pre-existing
        # session (e.g. pytest reuse) keeps its original heap. On a real
        # cluster this is submit-time conf (spark-submit --driver-memory).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(_phys_bytes()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.ansi.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) — read as long, converted
        # to microsecond timestamps in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
