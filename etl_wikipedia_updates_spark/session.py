"""SparkSession factory.

Determinism knobs come first (they gate duckdb-oracle hash matching):
UTC session timezone, ANSI off (we want permissive casts like the
reference's lenient ingest), Arrow on for the Pandas-UDF surface.

Performance knobs are sized for the host (``local[N]``, N the CPUs this
process may run on) but chosen so the same code scales: AQE handles
runtime re-planning (partition coalescing, skew joins) on a real
cluster exactly as it does locally; ``spark.sql.shuffle.partitions`` is
only the *initial* shuffle parallelism — with AQE coalescing enabled
the effective partition count adapts to data volume, so a 1000-executor
deployment overrides one conf value rather than any code.

A start that launches the driver JVM maps a class-data archive of
Spark's classes, or records one on the first start for this JDK and
Spark install (``jvm_archive``): the cold JVM is most of a start's
time, and a restarted ingest pays it before its first event lands.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from etl_wikipedia_updates_spark import jvm_archive
from etl_wikipedia_updates_spark.tables import REQUIRED_CONF


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
    """Positive integer env knob with a loud, named failure mode: a
    malformed or below-1 value warns (naming the variable and the bad
    value) and falls back to ``default`` rather than killing session
    construction with an opaque int() traceback."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        warnings.warn(
            f"{name}={raw!r} is not a positive integer; falling back to "
            f"{default}",
            stacklevel=3,
        )
        return default
    return value


def local_cpus() -> int:
    """Task slots for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, else
    the CPUs this process may run on (its affinity mask, so a container
    limited to a cpuset counts its share, not the machine's)."""
    return _int_env("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "etl_wikipedia_updates_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters are overridable for tests/bench; defaults fit local[N].
    A ``spark.driver.defaultJavaOptions`` in ``extra_conf`` is kept, with
    the class-data archive's options after it.
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- determinism (oracle hash-matching): UTC, ANSI off, parquet
        # rebase and nanos-as-long reads; one dict shared with the
        # foreign-session guard in tables ---
        .config(map=REQUIRED_CONF)
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark = jvm_archive.launch(
            builder,
            (extra_conf or {}).get(jvm_archive.JAVA_OPTIONS, ""),
            jvm_archive.plan(_find_spark_home(), os.environ),
        )
    else:  # the driver JVM is running already
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
