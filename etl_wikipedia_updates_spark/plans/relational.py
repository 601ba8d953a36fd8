"""Relational core: declared queries Q1-Q16 (SURVEY.md §2.3).

Each query is a DataFrame-API plan — Catalyst handles predicate pushdown,
column pruning, join selection (broadcast for dims), partial aggregation
and top-k (`TakeOrderedAndProject`) with no manual scheduling. Scale
notes per query where the 100 TB plan differs from the obvious one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.functions.deterministic import (
    dec_sum,
    det_round,
    money_avg,
    money_sum,
    sql_det_round,
    sql_money_avg,
    sql_money_sum,
    ts_str,
)
from etl_wikipedia_updates_spark.operators.quantiles import (
    exact_quantiles_refined,
)
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery
from etl_wikipedia_updates_spark.stages import total_order
from etl_wikipedia_updates_spark.tables import load_table


# --- Q1: scan + projection + sort + limit -------------------------------
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection reaches the parquet scan (ReadSchema is 3 columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


Q1_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
ORDER BY l_orderkey, l_linenumber
LIMIT 100
"""


# --- Q2: filtered scan (predicate pushdown) ------------------------------
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both predicates push to the parquet reader (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1994-01-01", "1994-12-31")
            & (F.col("l_discount") > 0.05)
        )
        .agg(
            F.count("*").alias("n_rows"),
            money_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


Q2_SQL = f"""
SELECT COUNT(*) AS n_rows,
       {sql_money_sum('l_extendedprice')} AS sum_price
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01 00:00:00' AND TIMESTAMP '1994-12-31 00:00:00'
  AND l_discount > 0.05
"""


# --- Q3: pricing summary (TPC-H Q1 shape) --------------------------------
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with map-side partial agg; group cardinality is tiny
    so the shuffle moves only |groups|x|partitions| rows at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price, scale=6).alias("sum_disc_price"),
            money_avg(F.col("l_quantity")).alias("avg_qty"),
            money_avg(F.col("l_extendedprice")).alias("avg_price"),
            det_round(dec_sum(F.col("l_discount")) / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(total_order, "l_returnflag", "l_linestatus")
    )


Q3_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_money_sum('l_quantity')}       AS sum_qty,
       {sql_money_sum('l_extendedprice')}  AS sum_base_price,
       {sql_money_sum('l_extendedprice * (1 - l_discount)', scale=6)} AS sum_disc_price,
       {sql_money_avg('l_quantity')}      AS avg_qty,
       {sql_money_avg('l_extendedprice')} AS avg_price,
       {sql_det_round("(CAST(SUM(CAST(floor((l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(*)", 4)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- Q4: inner equi-join --------------------------------------------------
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer. customer is the small side → AQE picks a
    broadcast join at test SF; at 100 TB both sides shuffle on the key
    (sort-merge) and AQE handles skew splitting."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("sum_totalprice"),
        )
        .transform(total_order, "c_mktsegment")
    )


Q4_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {sql_money_sum('o_totalprice')} AS sum_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- Q5: 5-way star join (TPC-H Q5 shape) --------------------------------
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region/nation broadcast explicitly; customer⋈orders⋈lineitem are the
    big shuffles and share join keys so Catalyst/AQE reorders freely."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(revenue, scale=6).alias("revenue"))
        .transform(total_order, "n_name")
    )


Q5_SQL = f"""
SELECT n_name,
       {sql_money_sum('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
ORDER BY n_name
"""


# --- Q6: broadcast dim join ----------------------------------------------
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
        .transform(total_order, "r_name")
    )


Q6_SQL = """
SELECT r_name, COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


# --- Q7: semi / anti join --------------------------------------------------
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single pass: left-join customer to the distinct order keys, then a
    conditional count splits matched (semi) from unmatched (anti) — one
    scan of each table and one join instead of two of each."""
    customer = load_table(spark, sf_dir, "customer")
    order_keys = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    joined = customer.join(
        order_keys, customer.c_custkey == order_keys.o_custkey, "left"
    )
    return joined.agg(
        F.count(F.when(F.col("o_custkey").isNotNull(), 1)).alias(
            "customers_with_orders"
        ),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias(
            "customers_without_orders"
        ),
    )


Q7_SQL = """
SELECT
  (SELECT COUNT(*) FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS customers_with_orders,
  (SELECT COUNT(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS customers_without_orders
"""


# --- Q8: ranking window -----------------------------------------------------
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. Window shuffles once on o_custkey; at
    scale the rank filter prunes before any downstream join."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
        .transform(total_order, "o_custkey", "rn")
    )


Q8_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER w AS INT) AS rn,
         CAST(RANK()       OVER w AS INT) AS rnk,
         CAST(DENSE_RANK() OVER w AS INT) AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


# --- Q9: analytic window + frame -------------------------------------------
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + running sum. The running sum accumulates scaled longs
    (exact integer cents), so partial results are reproducible
    regardless of physical row batching."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = (
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        / 100.0
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        ts_str(F.col("o_orderdate")).alias("o_orderdate_s"),
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_totalprice"),
        det_round(running, 2).alias("running_total"),
    ).transform(total_order, "o_custkey", "o_orderdate_s", "o_orderkey")


Q9_SQL = f"""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s,
       o_totalprice,
       LAG(o_totalprice) OVER w AS prev_totalprice,
       {sql_det_round('''CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0''', 2)} AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderdate_s, o_orderkey
"""


# --- Q10: top-k --------------------------------------------------------------
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject: each partition
    keeps a 10-row heap, driver merges — no global sort at any SF."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q10_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


# --- Q11: set operations ------------------------------------------------------
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").cast("bigint").alias("nk")).distinct()
    s = supplier.select(F.col("s_nationkey").cast("bigint").alias("nk")).distinct()
    tagged = (
        c.union(s).distinct().select(F.lit("union").alias("op"), "nk")
        .union(c.intersect(s).select(F.lit("intersect").alias("op"), "nk"))
        .union(c.exceptAll(s).select(F.lit("except").alias("op"), "nk"))
    )
    return tagged.transform(total_order, "op", "nk")


Q11_SQL = """
WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk FROM customer),
     s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nk FROM supplier)
SELECT 'union' AS op, nk FROM (SELECT nk FROM c UNION SELECT nk FROM s)
UNION ALL
SELECT 'intersect' AS op, nk FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
UNION ALL
SELECT 'except' AS op, nk FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
ORDER BY op, nk
"""


# --- Q12: exact distinct -------------------------------------------------------
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct = expand+two-phase agg in Spark; at 100 TB prefer
    approx_count_distinct (bench-only) unless exactness is contractual.
    The two countDistincts scan different tables, so they are
    independent jobs at any scale; the crossJoin merges two 1-row
    aggregates (constant cost)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = orders.agg(F.countDistinct("o_custkey").alias("distinct_custkeys"))
    b = lineitem.agg(
        F.countDistinct("l_partkey", "l_suppkey").alias("distinct_part_supp")
    )
    return a.crossJoin(b)


Q12_SQL = """
SELECT
  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS distinct_custkeys,
  (SELECT COUNT(DISTINCT (l_partkey, l_suppkey)) FROM lineitem) AS distinct_part_supp
"""


# --- Q12 approx variant (bench-only; SURVEY §2.2 "approximate aggregates") ----
def q12_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap for q12: approx_count_distinct (HLL++) replaces
    the exact expand+dedup with a fixed-size sketch that merges
    map-side — one pass, constant memory per partition. Approximate
    results can't hash-match DuckDB (BASELINE.md excludes them), so this
    registers without an oracle: the driver records the weaker rows-only
    check, and the bench records its runtime."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = orders.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custkeys")
    )
    b = lineitem.agg(
        F.approx_count_distinct(F.struct("l_partkey", "l_suppkey")).alias(
            "approx_part_supp"
        )
    )
    return a.crossJoin(b)


# --- percentiles: exact discrete quantiles via rank selection -----------------
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of o_totalprice per priority as *discrete* quantiles:
    the value at rank ceil(q*n), computed with pure integer arithmetic
    (ceil(a*n/b) = (a*n + b - 1) div b) — no FP interpolation, so both
    engines select the identical row. One shuffle on the group key
    serves the ranking window, the count window, and the aggregation.

    Plan adjudication (r17, SCALE.md): the per-group sort runs on
    #groups tasks (5 here) — a parallelism ceiling, but a SPILLABLE
    one, and measured best at both sf0.1 (0.61s) and the 10x
    events/orders tier (0.76s vs DuckDB 0.21s; the gap is 3 stage
    floors + the 5-task sort). The tested alternative,
    percentile_disc's ObjectHashAggregate, is WORSE on both axes
    (0.80/0.87s): partial buffers serialize each split's full value
    multiset across the shuffle and the #groups merge buffers whole
    group multisets with no spill path (falsified r17 — don't retry).
    At 100 TB the exact variant's escape hatches are
    percentiles_approx (KLL sketch, fixed memory, single pass —
    registered alongside; 0.38s flat at 10x) or, when exactness is
    contractual, the approx-pivot two-pass refinement implemented in
    operators/quantiles.py (exact_quantiles_refined: full scan
    parallelism, pass-2 sorts only an O(n/accuracy) bracket per
    (group, quantile) — bit-identical to this query by
    tests/test_quantiles.py).

    NULL semantics (r19, per the r18 advice): NULL o_totalprice rows
    are excluded up front. Before r19 this plan counted NULL rows in n
    and ranked them while percentiles_refined excluded them, so the
    two registered exact-quantile plans only agreed on NULL-free data.
    Both plans (and both oracles) now filter NULLs by construction;
    TPC-H orders is NULL-free, so certified values are unchanged."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    wo = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = W.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def at_rank(num: int, den: int):
        target = F.expr(f"({num} * n + {den} - 1) div {den}")
        return F.max(F.when(F.col("rn") == target, F.col("o_totalprice")))

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n"),
            at_rank(1, 2).alias("p50"),
            at_rank(9, 10).alias("p90"),
            at_rank(99, 100).alias("p99"),
        )
        .transform(total_order, "o_orderpriority")
    )


# --- percentiles_refined: the exact quantile path WITHOUT the #groups sort ----
def percentiles_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact discrete quantiles as `percentiles` (value at
    rank ceil(q*n), long format) through operators.quantiles.
    exact_quantiles_refined — the approx-pivot two-pass plan that
    replaces the registered window plan's #groups-task sort ceiling
    with full scan parallelism: pass 1 sketches a bracket per
    (group, q) in one map-side-partial aggregate; pass 2 broadcasts
    the (groups x quantiles)-row bracket table onto the scan and sorts
    ONLY the O(n/accuracy) bracket rows. No full-data shuffle anywhere
    — the corpus-sized frame is never exchanged, only sketch partials
    and bracket rows. Results are EXACT (the bracket provably contains
    the target rank for any sketch wobble) and bit-identical to
    `percentiles` (pinned in tests/test_quantiles.py), so this is the
    registered 100 TB answer to that query's adjudicated weakness —
    exactness preserved, #groups ceiling gone.

    Sizing note (r18 advice): the pass-2 bracket is ~6n/accuracy rows
    per (group, q), so accuracy must scale ~n/rows_per_task to keep
    pass 2 task-sized. The registered accuracy=10_000 is sized for the
    bench tiers (n <= ~5e7: brackets of a few thousand rows); a 100 TB
    deployment (n ~ 1e12) raises it to ~n/rows_per_task, e.g. 1e7 for
    ~6e5-row brackets — the operator takes it as a parameter, nothing
    structural changes."""
    orders = load_table(spark, sf_dir, "orders")
    out = exact_quantiles_refined(
        orders,
        "o_orderpriority",
        "o_totalprice",
        [(1, 2), (9, 10), (99, 100)],
        accuracy=10_000,
    )
    return out.select(
        "o_orderpriority",
        F.col("q_num").cast("bigint").alias("q_num"),
        F.col("q_den").cast("bigint").alias("q_den"),
        "value",
    ).transform(total_order, "o_orderpriority", "q_num", "q_den")


PERCENTILES_REFINED_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
  WHERE o_totalprice IS NOT NULL
),
targets(q_num, q_den) AS (VALUES (1, 2), (9, 10), (99, 100))
SELECT r.o_orderpriority,
       CAST(t.q_num AS BIGINT) AS q_num,
       CAST(t.q_den AS BIGINT) AS q_den,
       MAX(CASE WHEN rn = (t.q_num * n + t.q_den - 1) // t.q_den
                THEN o_totalprice END) AS value
FROM ranked r CROSS JOIN targets t
GROUP BY r.o_orderpriority, t.q_num, t.q_den
ORDER BY o_orderpriority, q_num, q_den
"""


# --- percentiles_approx (bench-only; the 100 TB quantile path) ----------------
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale swap the exact-percentiles docstring points at:
    percentile_approx (KLL-style sketch) — single pass, fixed sketch
    memory per partition, sketches merge map-side, no ranking window and
    no per-group sort. Approximate, so (like q12_approx) it registers
    without an oracle: the driver records the rows-only check and the
    bench records its runtime next to the exact variant's."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.percentile_approx(
                "o_totalprice", [0.5, 0.9, 0.99], 10_000
            ).alias("p"),
        )
        .select(
            "o_orderpriority",
            "n",
            F.element_at("p", 1).alias("p50"),
            F.element_at("p", 2).alias("p90"),
            F.element_at("p", 3).alias("p99"),
        )
        .transform(total_order, "o_orderpriority")
    )


PERCENTILES_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
  WHERE o_totalprice IS NOT NULL
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = (1 * n + 1) // 2 THEN o_totalprice END) AS p50,
       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN o_totalprice END) AS p90,
       MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN o_totalprice END) AS p99
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q13: rollup + grouping markers --------------------------------------------
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup = grouping-sets expansion before the agg; subtotal NULLs are
    coalesced to '(all)' so cross-engine NULL ordering can't bite."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
            "n",
            "g_priority",
            "g_status",
        )
        .transform(total_order, "o_orderpriority", "o_orderstatus")
    )


Q13_SQL = """
SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
       COALESCE(o_orderstatus, '(all)')   AS o_orderstatus,
       COUNT(*) AS n,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(GROUPING(o_orderstatus)   AS BIGINT) AS g_status
FROM orders
GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority, o_orderstatus
"""


# --- Q14: string kitchen-sink ----------------------------------------------------
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%widget%"))
        .select(
            "p_partkey",
            F.upper(F.col("p_name")).alias("up_name"),
            F.substring(F.col("p_type"), 1, 4).alias("type4"),
            F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
            F.regexp_extract(F.col("p_name"), "^([a-z]+) ", 1).alias("first_word"),
            F.length(F.col("p_name")).cast("bigint").alias("name_len"),
        )
        .transform(total_order, "p_partkey")
    )


Q14_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS up_name,
       SUBSTRING(p_type, 1, 4) AS type4,
       CONCAT_WS('/', p_brand, p_type) AS brand_type,
       COALESCE(regexp_extract(p_name, '^([a-z]+) ', 1), '') AS first_word,
       CAST(LENGTH(p_name) AS BIGINT) AS name_len
FROM part
WHERE p_name LIKE '%widget%'
ORDER BY p_partkey
"""


# --- Q15: date/time functions ------------------------------------------------------
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.month("o_orderdate").cast("bigint").alias("m"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")))
            .cast("bigint")
            .alias("min_dd"),
            F.max(F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")))
            .cast("bigint")
            .alias("max_dd"),
            ts_str(F.min(F.date_trunc("month", F.col("o_orderdate")))).alias(
                "month_start"
            ),
        )
        .transform(total_order, "y", "m")
    )


Q15_SQL = """
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
       CAST(MONTH(o_orderdate) AS BIGINT) AS m,
       COUNT(*) AS n,
       CAST(MIN(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS min_dd,
       CAST(MAX(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS max_dd,
       strftime(MIN(date_trunc('month', o_orderdate)), '%Y-%m-%d %H:%M:%S') AS month_start
FROM orders
GROUP BY 1, 2
ORDER BY y, m
"""


# --- Q16: math / conditional --------------------------------------------------------
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        orders.select(
            bucket.alias("bucket"),
            F.abs(F.col("o_totalprice") - 100000).alias("dist"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            money_sum(F.col("dist")).alias("sum_dist"),
        )
        .transform(total_order, "bucket")
    )


Q16_SQL = f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n,
       {sql_money_sum('ABS(o_totalprice - 100000)')} AS sum_dist
FROM orders
GROUP BY 1
ORDER BY bucket
"""


RELATIONAL_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery("q1", q1, Q1_SQL, "scan+project+sort+limit"),
    DeclaredQuery("q2", q2, Q2_SQL, "filtered scan, pushdown"),
    DeclaredQuery("q3", q3, Q3_SQL, "pricing summary (TPC-H Q1 shape)"),
    DeclaredQuery("q4", q4, Q4_SQL, "inner equi-join"),
    DeclaredQuery("q5", q5, Q5_SQL, "5-way star join"),
    DeclaredQuery("q6", q6, Q6_SQL, "broadcast dim join"),
    DeclaredQuery("q7", q7, Q7_SQL, "semi/anti join"),
    DeclaredQuery("q8", q8, Q8_SQL, "ranking window"),
    DeclaredQuery("q9", q9, Q9_SQL, "analytic window + frame"),
    DeclaredQuery("q10", q10, Q10_SQL, "top-k"),
    DeclaredQuery("q11", q11, Q11_SQL, "set operations"),
    DeclaredQuery("q12", q12, Q12_SQL, "exact distinct"),
    DeclaredQuery(
        "q12_approx", q12_approx, None, "approx distinct (HLL++, bench-only)"
    ),
    DeclaredQuery(
        "percentiles_approx",
        percentiles_approx,
        None,
        "approx quantile sketch (bench-only)",
    ),
    DeclaredQuery(
        "percentiles", percentiles, PERCENTILES_SQL, "exact discrete quantiles"
    ),
    DeclaredQuery(
        "percentiles_refined",
        percentiles_refined,
        PERCENTILES_REFINED_SQL,
        "exact quantiles, approx-pivot two-pass (no #groups sort ceiling)",
    ),
    DeclaredQuery("q13", q13, Q13_SQL, "rollup + grouping markers"),
    DeclaredQuery("q14", q14, Q14_SQL, "string functions"),
    DeclaredQuery("q15", q15, Q15_SQL, "date/time functions"),
    DeclaredQuery("q16", q16, Q16_SQL, "math/conditional bucketing"),
]
