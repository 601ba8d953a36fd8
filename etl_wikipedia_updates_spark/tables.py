"""Parquet table catalog over a test-data scale-factor directory.

The driver materializes ``region nation customer supplier part orders
lineitem events documents embeddings`` as one parquet file each under
``/root/testdata/sf*/`` (TESTDATA.md). At 100 TB these would be
multi-file partitioned datasets; ``spark.read.parquet`` handles both
shapes identically, and every declared query reads through this catalog
so the storage layout is swappable in one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.caches import memo

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any realistic SF.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Correctness-critical session confs. The engine's own factory
# (session.get_spark) applies this dict at build time; the guard below
# re-applies it for FOREIGN sessions — the driver's correctness gate calls
# __spark_entry__.queries() with a SparkSession we didn't build. Without
# nanosAsLong the events.parquet read fails outright (TIMESTAMP(NANOS));
# a non-UTC session timezone flips every timestamp-string output. The
# set is guarded (only when the value differs), so the engine's own
# sessions are never redundantly mutated.
REQUIRED_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # Spark 4 defaults ANSI ON; the engine's declared semantics are the
    # reference's lenient-ingest casts, and several expressions rely on
    # permissive out-of-range behavior.
    "spark.sql.ansi.enabled": "false",
}


def _ensure_required_conf(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONF.items():
        try:
            current = spark.conf.get(k)
        except Exception:
            current = None
        if current != v:
            spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_required_conf(spark)
    # One DataFrame per table per session, shared by every query
    # builder: re-running spark.read.parquet costs ~70ms of parquet
    # footer/schema resolution per call (measured; ~6s across the full
    # bench). Data is still read per job; only the plan is memoized.
    path = table_path(sf_dir, name)
    return memo(spark, ("table", name), lambda: _read_table(spark, path, name), path)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    # events.parquet stores ts as Parquet TIMESTAMP(NANOS). Readers differ
    # by Spark version: older readers reject it unless
    # spark.sql.legacy.parquet.nanosAsLong makes nanos arrive as long
    # (then we floor-convert to microsecond timestamps — floor, not
    # truncate-toward-zero, so pre-epoch nanos match DuckDB; ts - pmod is
    # exactly divisible by 1000, so integer div is a true floor). Newer
    # readers (4.1.x) read NANOS natively as timestamp_ntz, which we cast
    # to the session (UTC, _ensure_required_conf) timestamp so every
    # downstream plan sees one ts type regardless of reader version.
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        if ts_type.get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
            )
        elif ts_type.get("ts") == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


SPREAD_PARTITIONS = 16


def spread(df: DataFrame, partitions: int = SPREAD_PARTITIONS) -> DataFrame:
    """Give an under-partitioned input compute parallelism.

    The driver's tables are single-row-group parquet files, so a scan
    yields ONE partition and everything up to the first shuffle —
    shingle explodes, per-pair zip_with folds, distance projections —
    runs on one core (measured: cosine_neardup 1.0s -> 0.33s with the
    input spread across 16). The repartition shuffles only the tiny
    input table. Guarded: sources that already arrive well-partitioned
    (any real deployment; 100 TB inputs carry thousands of partitions)
    pass through untouched, so this never adds a shuffle at scale.
    """
    if df.rdd.getNumPartitions() >= partitions:
        return df
    return df.repartition(partitions)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL-form queries).

    Returns the DataFrames keyed by name.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
