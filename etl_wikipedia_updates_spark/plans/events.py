"""Semi-structured + event-time queries Q17-Q22 (SURVEY.md §2.3).

These exercise the ``events`` table (JSON props, microsecond event
times) plus ``embeddings`` (array columns): the capability surface the
reference touches via its JSON parse (R4, /root/reference/pipeline.py:88-102),
raw-payload column (R21, pipeline.py:160), and the dashboard's hand-rolled
velocity window (D5, /root/reference/dashboard.py:47-49) — re-expressed as
declarative Spark with DuckDB oracles.

Determinism conventions: every output has a total ORDER BY; timestamps
are emitted as UTC strings via ``ts_str``; float aggregates go through
exact decimal sums (``functions.deterministic``); session/window math is
done in integer microseconds (``unix_micros`` / ``epoch_us``) so both
engines compute on identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.functions.deterministic import (
    det_round,
    money_sum,
    sql_det_round,
    sql_money_sum,
    sql_ts_str,
    ts_str,
)
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery
from etl_wikipedia_updates_spark.stages import total_order
from etl_wikipedia_updates_spark.tables import load_table

# Fixed vocabulary of the synthetic events table (FIXTURES.md §B).
EVENT_TYPES: tuple[str, ...] = ("click", "error", "purchase", "signup", "view")

TS_FMT_SQL = "%Y-%m-%d %H:%M:%S"


# --- Q17: JSON extraction ---------------------------------------------------
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object stays inside codegen — no Python JSON parsing.
    At 100 TB you'd parse once with from_json into a struct column and
    store typed; this query covers the ad-hoc-extraction path."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .transform(total_order, "event_type")
    )


Q17_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- Q18: array ops ---------------------------------------------------------
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array access is a JVM-side expression over the parquet list column;
    the vec_id predicate pushes down so only 10 rows are materialized."""
    emb = load_table(spark, sf_dir, "embeddings")
    # det_round, not F.round: Spark ROUND(double) rounds the shortest
    # decimal print while DuckDB ROUND rounds the binary value — they
    # disagree near half boundaries, the exact divergence det_round
    # exists to absorb (every other rounded double output uses it)
    return (
        emb.filter(F.col("vec_id") < 10)
        .select(
            "vec_id",
            F.size("embedding").cast("bigint").alias("n_dims"),
            det_round(F.element_at("embedding", 1).cast("double"), 4).alias(
                "e0"
            ),
            det_round(
                F.element_at("embedding", -1).cast("double"), 4
            ).alias("e_last"),
        )
        .transform(total_order, "vec_id")
    )


Q18_SQL = f"""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       {sql_det_round("CAST(embedding[1] AS DOUBLE)", 4)} AS e0,
       {sql_det_round("CAST(embedding[-1] AS DOUBLE)", 4)} AS e_last
FROM embeddings
WHERE vec_id < 10
ORDER BY vec_id
"""


# --- Q19: conditional-agg pivot ---------------------------------------------
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable PIVOT: one conditional count per known category. A single
    shuffle on user_id; the when() branches are evaluated map-side so
    partial aggregation still applies (unlike a generic pivot over an
    unknown vocabulary, which needs a distinct pass first)."""
    events = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return events.groupBy("user_id").agg(*aggs).transform(total_order, "user_id")


Q19_SQL = (
    "SELECT user_id, "
    + ", ".join(
        f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY user_id ORDER BY user_id"
)


# --- Q20: tumbling + sliding event-time windows ------------------------------
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming windowed aggregate (S2). F.window is
    epoch-aligned, matching DuckDB time_bucket; the sliding variant emits
    each row into width/slide = 2 windows before aggregating."""
    events = load_table(spark, sf_dir, "events")

    def windowed(win_col, kind: str) -> DataFrame:
        return (
            events.groupBy(win_col.alias("w"))
            .agg(
                F.count("*").alias("n"),
                money_sum(F.col("value")).alias("sum_value"),
            )
            .select(
                F.lit(kind).alias("kind"),
                ts_str(F.col("w.start")).alias("window_start"),
                "n",
                "sum_value",
            )
        )

    tumble = windowed(F.window("ts", "1 hour"), "tumble_1h")
    slide = windowed(F.window("ts", "1 hour", "30 minutes"), "slide_1h_30m")
    return tumble.unionByName(slide).transform(total_order, "kind", "window_start")


Q20_SQL = f"""
WITH tumble AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, value FROM events
),
slide AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS ws, value FROM events
)
SELECT 'tumble_1h' AS kind, {sql_ts_str('ws')} AS window_start,
       COUNT(*) AS n, {sql_money_sum('value')} AS sum_value
FROM tumble GROUP BY ws
UNION ALL
SELECT 'slide_1h_30m' AS kind, {sql_ts_str('ws')} AS window_start,
       COUNT(*) AS n, {sql_money_sum('value')} AS sum_value
FROM slide GROUP BY ws
ORDER BY kind, window_start
"""


# --- Q21: gap-based sessionization -------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic lag-gap + running-sum sessionization, all in integer
    microseconds so both engines agree exactly. Two window passes and
    two aggregations, every one partitioned by user_id — a single
    shuffle on user_id serves the whole plan at any scale. Streaming
    form is session_window(ts, '30 minutes') (S2)."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tu = F.unix_micros(F.col("ts"))
    gapped = events.select(
        "user_id",
        "event_id",
        tu.alias("tu"),
        F.lag(tu).over(w).alias("prev_tu"),
    )
    is_new = F.when(
        F.col("prev_tu").isNull()
        | ((F.col("tu") - F.col("prev_tu")) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    sessions = (
        gapped.select(
            "user_id",
            "event_id",
            "tu",
            F.sum(is_new)
            .over(
                W.partitionBy("user_id")
                .orderBy("tu", "event_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(
            (F.max("tu") - F.min("tu")).alias("len_us"),
            F.count("*").alias("n_events"),
        )
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            det_round(
                F.sum("len_us").cast("double") / F.count("*") / 1_000_000, 3
            ).alias("avg_session_sec"),
        )
        .transform(total_order, "user_id")
    )


Q21_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS tu,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tu
  FROM events
),
s AS (
  SELECT user_id, event_id, tu,
         SUM(CASE WHEN prev_tu IS NULL OR tu - prev_tu > {SESSION_GAP_US} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tu, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
),
sess AS (
  SELECT user_id, sid, MAX(tu) - MIN(tu) AS len_us, COUNT(*) AS n_events
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       (floor((CAST(SUM(len_us) AS DOUBLE) / COUNT(*) / 1000000) * 1000.0 + 0.5) / 1000.0) AS avg_session_sec
FROM sess
GROUP BY user_id
ORDER BY user_id
"""


# --- Q22: as-of join ----------------------------------------------------------
# Declared fixture mapping (events live in 2024, orders in 1995-2001, so a
# direct as-of would degenerate to max(o_orderdate)): rescale event time
# into the orders epoch — t' = 1995-01-01 + 80x(ts - 2024-01-01) — and key
# events.user_id against o_custkey % 150 (user_id spans 0-149). Integer
# second arithmetic on both engines.
ASOF_KEY_MOD = 150
ASOF_SCALE = 80
EPOCH_1995 = 788918400  # 1995-01-01 00:00:00 UTC
EPOCH_2024 = 1704067200  # 2024-01-01 00:00:00 UTC


def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union+running-max emulation: tag both sides,
    sort each key's timeline once, and carry the latest order time
    forward with a running MAX window. One shuffle on the key, no
    non-equi join, no per-row probe — this is the 100 TB-safe shape
    (a BNLJ range join would be quadratic per key). DuckDB oracle uses
    its native ASOF LEFT JOIN.

    Emulates the reference's resume lookup semantics (most recent state
    at-or-before a point in time, /root/reference/pipeline.py:226-227)
    generalized to per-key."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    e_t = F.timestamp_seconds(
        F.lit(EPOCH_1995)
        + (F.unix_timestamp(F.col("ts")) - F.lit(EPOCH_2024)) * ASOF_SCALE
    )
    e_side = events.select(
        F.col("user_id").alias("k"),
        e_t.alias("t"),
        F.lit(0).alias("is_order"),
        "event_id",
    )
    o_side = orders.select(
        (F.col("o_custkey") % ASOF_KEY_MOD).alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
    )
    both = e_side.unionByName(o_side)
    # Orders sort before events at the same instant (is_order desc) so an
    # order exactly at t matches the event at t (ASOF's <= semantics).
    w = (
        W.partitionBy("k")
        .orderBy("t", F.col("is_order").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = both.select(
        "k",
        "t",
        "is_order",
        "event_id",
        F.max(F.when(F.col("is_order") == 1, F.col("t"))).over(w).alias("o_t"),
    )
    return (
        matched.filter(F.col("is_order") == 0)
        .select(
            "event_id",
            "k",
            ts_str(F.col("t")).alias("event_time"),
            ts_str(F.col("o_t")).alias("matched_order_date"),
        )
        .transform(total_order, "event_id")
    )


Q22_SQL = f"""
WITH e AS (
  SELECT event_id, user_id AS k,
         make_timestamp(({EPOCH_1995} + ((epoch_us(ts) // 1000000) - {EPOCH_2024}) * {ASOF_SCALE}) * 1000000) AS t
  FROM events
),
o AS (
  SELECT o_custkey % {ASOF_KEY_MOD} AS k, o_orderdate AS t FROM orders
)
SELECT e.event_id, e.k,
       {sql_ts_str('e.t')} AS event_time,
       {sql_ts_str('o.t')} AS matched_order_date
FROM e ASOF LEFT JOIN o ON e.k = o.k AND e.t >= o.t
ORDER BY e.event_id
"""


EVENTS_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery("q17", q17, Q17_SQL, "JSON extraction"),
    DeclaredQuery("q18", q18, Q18_SQL, "array ops"),
    DeclaredQuery("q19", q19, Q19_SQL, "conditional-agg pivot"),
    DeclaredQuery("q20", q20, Q20_SQL, "tumbling/sliding window agg"),
    DeclaredQuery("q21", q21, Q21_SQL, "gap sessionization"),
    DeclaredQuery("q22", q22, Q22_SQL, "as-of join (union+running-max)"),
]
