"""Analytics-engine queries: TPC-H-style joins and aggregates, window
functions, event and behavioral analytics, market-basket mining and
revenue-distribution diagnostics.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table


# Headline analytics queries, declared as DataFrame plans.
#
# These exercise the query-engine surface (scan+pushdown, multi-join,
# agg, window, sessionization) on the TPC-H-ish test tables. Every
# computed column is aliased to match the DuckDB oracle SQL; double
# aggregates are rounded to 2 decimals on both sides so the
# order-insensitive value hash is immune to FP summation order.
#
# Scale notes: only the fixed-cardinality dims (region=5, nation=25)
# carry an explicit broadcast hint. customer/supplier/part grow
# linearly with SF, so their join strategy is left to AQE: broadcast
# while under the threshold, shuffle-hash with skew-splitting beyond
# it — the plan that still works when lineitem is 100 TB. Filters are
# plain column predicates so they reach the parquet scan as
# PushedFilters.


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary on lineitem.

    Reference parity: the terms-agg+metrics shape of
    Bootstrap.java:196-219 generalized to multi-metric group-by.
    """
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                    AS sum_qty,
       round(sum(l_extendedprice), 2)                               AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2)                                    AS avg_qty,
       round(avg(l_extendedprice), 2)                               AS avg_price,
       round(avg(l_discount), 4)                                    AS avg_disc,
       count(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + deterministic top-10."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        # customer grows ~linearly with SF: no forced broadcast — AQE
        # broadcasts it while it fits and shuffle-joins beyond that.
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                 "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, orderdate, o_orderpriority
ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join; all dimension sides broadcast."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        li.join(orders.filter(
                    (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                    & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))),
                F.col("l_orderkey") == F.col("o_orderkey"))
        # customer/supplier scale with SF: leave the strategy to AQE
        # (broadcast while small, shuffle-hash beyond the threshold).
        # Only the fixed-size dims (nation 25, region 5) are forced.
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp,
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style selective scan; every predicate is pushdown-able."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by retail price per brand via window rank.

    Deterministic tie-break on p_partkey keeps both engines aligned.
    """
    part = load_table(spark, "part", sf_dir)
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name",
                F.round("p_retailprice", 2).alias("retailprice"), "rk")
        .orderBy("p_brand", "rk")
    )


TOPK_ORACLE = """
SELECT p_brand, p_partkey, p_name,
       round(p_retailprice, 2) AS retailprice, rk
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part
)
WHERE rk <= 3
ORDER BY p_brand, rk
"""


SESSION_GAP_SECONDS = 1800.0


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize the event stream: a >30-min silence starts a new
    session. Returns per-user session counts plus totals.

    Single shuffle on user_id serves both the lag window and the final
    group-by (same key ⇒ Catalyst reuses the exchange).
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    return (
        ev.withColumn("new_session",
                      F.when(gap > SESSION_GAP_SECONDS, 1).otherwise(0))
        .groupBy("user_id")
        .agg((F.sum("new_session") + 1).alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


SESSIONIZE_ORACLE = """
SELECT user_id,
       CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
       count(*)                             AS n_events
FROM (
  SELECT user_id, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
GROUP BY user_id
ORDER BY user_id
"""


# Argmin-per-group, (anti/semi) EXISTS joins, rollup, running windows,
# exact percentiles, as-of join, and a bucketed range join.
#
# Each generalizes a query family the reference's ES DSL surface implies
# (top-hits per bucket, filtered counts, date math over event streams)
# into full engine capabilities. All joins leave SF-scaled tables to
# AQE; only fixed-size dims are broadcast. As-of and range joins are
# expressed with the shuffle-friendly union-window / bucket-join
# patterns rather than inequality joins, so they survive 100 TB inputs.


def q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 flavor: per size-15 part, the supplier with the lowest
    average unit price (argmin via agg -> window rank, tie-break on
    suppkey)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    sized = part.filter(F.col("p_size") == 15)
    # pre-filter the fact rows to qualifying parts (broadcast semi
    # join) BEFORE the heavy aggregation: the selective part filter
    # can't be pushed through the groupBy by the optimizer, so without
    # this the agg shuffles ~50x more groups than can ever survive
    li_sized = li.join(F.broadcast(sized.select("p_partkey")),
                       F.col("l_partkey") == F.col("p_partkey"),
                       "left_semi")
    unit = (li_sized.groupBy("l_partkey", "l_suppkey")
            .agg(F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4)
                 .alias("avg_unit")))
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("avg_unit"), F.asc("l_suppkey"))
    return (unit.join(sized, F.col("l_partkey") == F.col("p_partkey"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("p_partkey"), F.col("p_name"),
                    F.col("l_suppkey").alias("best_suppkey"),
                    F.col("avg_unit").alias("best_price"))
            .orderBy("p_partkey"))


Q2_ORACLE = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         round(avg(l_extendedprice / l_quantity), 4) AS avg_unit
  FROM lineitem GROUP BY l_partkey, l_suppkey),
ranked AS (
  SELECT p_partkey, p_name, l_suppkey, avg_unit,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY avg_unit ASC, l_suppkey ASC) AS rk
  FROM unit JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15)
SELECT p_partkey, p_name, l_suppkey AS best_suppkey,
       avg_unit AS best_price
FROM ranked WHERE rk = 1 ORDER BY p_partkey
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 flavor: orders in a quarter having at least one
    lineitem shipped after the order date (EXISTS -> left-semi join
    with a non-equi residual), counted per priority."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    q = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    return (q.join(li,
                   (F.col("o_orderkey") == F.col("l_orderkey"))
                   & (F.col("l_shipdate") > F.col("o_orderdate")),
                   "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 flavor: top-20 customers by revenue lost to returns
    in 1996H2. customer joins by AQE choice; nation broadcast."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20))


Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(l_returnflag, l_linestatus):
    leaf rows + per-flag subtotals + grand total in one pass (Spark
    expands the grouping sets map-side; a single shuffle)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_revenue"),
                 F.count(F.lit(1)).alias("n_rows")))


ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of event value per
    event type — Spark's percentile() and DuckDB's quantile_cont use
    the same linear-interpolation definition. At 100 TB swap in
    percentile_approx (t-digest) — same plan shape, bounded memory."""
    ev = load_table(spark, "events", sf_dir)
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (ev.groupBy("event_type")
            .agg(pct.alias("pcts"), F.count(F.lit(1)).alias("n"))
            .select("event_type",
                    F.round(F.col("pcts")[0], 4).alias("p50"),
                    F.round(F.col("pcts")[1], 4).alias("p90"),
                    F.round(F.col("pcts")[2], 4).alias("p99"),
                    "n")
            .orderBy("event_type"))


PERCENTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4)  AS p50,
       round(quantile_cont(value, 0.9), 4)  AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregates over the purchase stream: cumulative
    spend, 3-event moving average, event index. One shuffle on
    user_id serves all three window functions."""
    ev = load_table(spark, "events", sf_dir)
    pur = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (pur.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .alias("running_spend"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4)
        .alias("moving_avg3"),
        F.row_number().over(w).alias("purchase_idx"))
        .orderBy("event_id"))


WINDOW_RUNNING_ORACLE = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_spend,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
         AS moving_avg3,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS purchase_idx
FROM events WHERE event_type = 'purchase'
ORDER BY event_id
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks the value of the latest click
    by the same user at-or-before the purchase time.

    Spark has no ASOF JOIN; the scalable expression is the
    union-then-window pattern: tag both streams, one shuffle on
    user_id, last(click_value, ignoreNulls) over the time-ordered
    frame. No inequality join, no per-key explosion.
    """
    ev = load_table(spark, "events", sf_dir)
    both = (ev.filter(F.col("event_type").isin("click", "purchase"))
            .select("event_id", "user_id", "ts", "value",
                    F.when(F.col("event_type") == "click", 0).otherwise(1)
                    .alias("kind"),
                    F.when(F.col("event_type") == "click", F.col("value"))
                    .alias("click_value")))
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("kind"), F.asc("event_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (both.withColumn(
        "last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id",
                F.col("value").alias("purchase_value"),
                "last_click_value")
        .orderBy("event_id"))


ASOF_ORACLE = """
WITH u AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
         CASE WHEN event_type = 'click' THEN value END AS click_value
  FROM events WHERE event_type IN ('click', 'purchase')),
w AS (
  SELECT *, last_value(click_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_click_value
  FROM u)
SELECT event_id, user_id, value AS purchase_value, last_click_value
FROM w WHERE kind = 1 ORDER BY event_id
"""


RANGE_WINDOW_SECONDS = 3600


def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks by the same user within the hour before each
    purchase.

    A naive inequality join is O(N*M) per user; the scale pattern is
    time-bucketing: each click lands in ONE floor(ts/1h) bucket, each
    purchase probes its own and the previous bucket (covering the 1 h
    look-back), so the join is a plain equi-join on (user, bucket)
    with a residual time filter — shuffle-partitionable and
    skew-splittable like any other equi-join.
    """
    ev = load_table(spark, "events", sf_dir)
    sec = F.col("ts").cast("double")
    bucket = F.floor(sec / RANGE_WINDOW_SECONDS)
    clk = (ev.filter(F.col("event_type") == "click")
           .select("user_id", sec.alias("c_sec"), bucket.alias("bucket")))
    pur = (ev.filter(F.col("event_type") == "purchase")
           .select("event_id", "user_id", sec.alias("p_sec"),
                   F.explode(F.array(bucket - 1, bucket)).alias("bucket")))
    return (pur.join(clk, ["user_id", "bucket"])
            .filter((F.col("c_sec") <= F.col("p_sec"))
                    & (F.col("c_sec") >= F.col("p_sec") - RANGE_WINDOW_SECONDS))
            .groupBy("event_id")
            .agg(F.count(F.lit(1)).alias("n_clicks_1h"))
            .orderBy("event_id"))


RANGE_JOIN_ORACLE = f"""
SELECT p.event_id, count(*) AS n_clicks_1h
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch(c.ts) <= epoch(p.ts)
 AND epoch(c.ts) >= epoch(p.ts) - {RANGE_WINDOW_SECONDS}
GROUP BY p.event_id ORDER BY p.event_id
"""


# Multi-fact nation trade, conditional-aggregate ratios, argmax via
# scalar aggregate, HAVING-on- aggregate joins, disjunctive multi-table
# predicates, and scalar- subquery + anti-join composition.
#
# These are TPC-H Q7/Q14/Q15/Q18/Q19/Q22 flavors adapted to the test
# schema (no partsupp/shipmode/phone columns). Scale posture: the
# fact-fact joins (lineitem-orders) shuffle on their keys under AQE;
# nation is broadcast; scalar aggregates are computed once and
# broadcast-cross-joined rather than re-evaluated per row.


def _rev():
    """Extended-price revenue term (built lazily: Column construction
    needs an active session in classic mode)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


TRADE_NATIONS = ("NATION_1", "NATION_2")


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 flavor: shipped revenue between two nations (either
    direction) by ship year. The nation-pair filter is applied to
    supplier/customer BEFORE the fact joins, so the big
    lineitem-orders join only carries rows that can survive; nation is
    broadcast, the rest is left to AQE."""
    n1, n2 = TRADE_NATIONS
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    supp = (load_table(spark, "supplier", sf_dir)
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .filter(F.col("n_name").isin(*TRADE_NATIONS))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (load_table(spark, "customer", sf_dir)
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .filter(F.col("n_name").isin(*TRADE_NATIONS))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year"))


Q7_ORACLE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND sn.n_name IN ('{TRADE_NATIONS[0]}', '{TRADE_NATIONS[1]}')
  AND cn.n_name IN ('{TRADE_NATIONS[0]}', '{TRADE_NATIONS[1]}')
  AND sn.n_name <> cn.n_name
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: share of March-1996 shipped revenue from
    PROMO-type parts — a conditional aggregate (sum-if over a join),
    one output row. The month filter reaches the lineitem scan."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    month = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (month.join(part, F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round(100.0 * F.sum(promo) / F.sum(_rev()), 4)
                 .alias("promo_pct"),
                 F.round(F.sum(_rev()), 2).alias("total_revenue")))


Q14_ORACLE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 flavor: the supplier(s) with maximum 1996Q1 shipped
    revenue. The scalar max is a one-row aggregate of the already-
    collapsed (supplier-cardinality) rows, broadcast back via
    crossJoin — no single-partition window anywhere; both sides of
    the crossJoin grow from the same pushed-down selective scan."""
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    rev = (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(_rev()), 2).alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (broadcast_scalars(rev, mx)
            .filter(F.col("total_revenue") == F.col("mx"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


LARGE_ORDER_QTY = 200.0


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 flavor: orders whose total quantity exceeds a
    threshold (HAVING on an aggregate), joined back to customer. The
    heavy groupBy runs on (orderkey) before any join, so the join
    input is already collapsed to order granularity."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
           .filter(F.col("sum_qty") > LARGE_ORDER_QTY))
    return (big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey",
                    F.col("o_totalprice"), "sum_qty")
            .orderBy(F.desc("sum_qty"), F.asc("o_orderkey")))


Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum_qty > {LARGE_ORDER_QTY}) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey ASC
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 flavor: revenue under an OR of brand/size/quantity
    conjunctions spanning both join sides. Catalyst factors the
    common join key and pushes the per-side residuals (brand IN (...)
    reaches the part scan); the disjunction itself evaluates post-join
    in whole-stage codegen."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    q, s, b = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((b == "Brand#13") & s.between(1, 10) & q.between(1, 20))
        | ((b == "Brand#22") & s.between(11, 25) & q.between(10, 30))
        | ((b == "Brand#25") & s.between(26, 50) & q.between(20, 40)))
    return (li.join(part, F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.round(F.sum(_rev()), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


Q19_ORACLE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 11 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 26 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: per nation, customers with above-average
    positive balance and no orders at all. The global average is a
    one-row aggregate attached as an uncorrelated scalar subquery
    (computed once); the no-orders test is a left-anti join."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    avg_bal = (cust.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    return (broadcast_scalars(cust, avg_bal)
            .filter(F.col("c_acctbal") > F.col("avg_bal"))
            .join(orders, F.col("c_custkey") == F.col("o_custkey"),
                  "left_anti")
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
            .orderBy("nationkey"))


Q22_ORACLE = """
SELECT c_nationkey AS nationkey, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY nationkey ORDER BY nationkey
"""


MKT_REGION = "ASIA"
MKT_NATION = "NATION_3"
MKT_PTYPE = "ECONOMY"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 flavor: NATION_3's share of ECONOMY-part revenue sold
    to ASIA customers, by ship year — a conditional-aggregate ratio
    on top of a 6-table join. The part-type and region filters reach
    their scans before the fact joins; nation/region broadcast."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    part = load_table(spark, "part", sf_dir)
    asia_cust = (load_table(spark, "customer", sf_dir)
                 .join(F.broadcast(nation),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                 .join(F.broadcast(region.filter(F.col("r_name") == MKT_REGION)),
                       F.col("n_regionkey") == F.col("r_regionkey"))
                 .select("c_custkey"))
    supp_nat = (load_table(spark, "supplier", sf_dir)
                .join(F.broadcast(nation.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"))),
                    F.col("s_nationkey") == F.col("sn_key"))
                .select("s_suppkey", "supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == MKT_PTYPE)
                            .select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == MKT_NATION, rev)
                  .otherwise(F.lit(0.0))) / F.sum(rev), 4)
            .alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"))
        .orderBy("l_year"))


Q8_ORACLE = f"""
SELECT CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(CASE WHEN sn.n_name = '{MKT_NATION}'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = '{MKT_PTYPE}' AND r_name = '{MKT_REGION}'
GROUP BY l_year ORDER BY l_year
"""


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping_id to tag
    subtotal levels — all 2^k grouping sets expand map-side, one
    shuffle (same execution shape as rollup_agg)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().alias("gid"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n_rows")))


CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: customers ordering in both 1996 halves vs
    only H1. Both set ops hash-shuffle on the full row (here a single
    key column) — same cost model as a groupBy on the key."""
    orders = load_table(spark, "orders", sf_dir)

    def custs(lo: str, hi: str):
        return (orders.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp")))
            .select("o_custkey"))

    h1 = custs("1996-01-01", "1996-07-01")
    h2 = custs("1996-07-01", "1997-01-01")
    both = h1.intersect(h2).select(
        F.col("o_custkey"), F.lit("both_halves").alias("cohort"))
    only_h1 = h1.subtract(h2).select(
        F.col("o_custkey"), F.lit("h1_only").alias("cohort"))
    return (both.unionByName(only_h1)
            .groupBy("cohort")
            .agg(F.count(F.lit(1)).alias("n_cust"))
            .orderBy("cohort"))


SET_OPS_ORACLE = """
WITH h1 AS (SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'),
h2 AS (SELECT o_custkey FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-07-01'
         AND o_orderdate <  TIMESTAMP '1997-01-01'),
u AS (
  SELECT o_custkey, 'both_halves' AS cohort
  FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
  UNION ALL
  SELECT o_custkey, 'h1_only' AS cohort
  FROM (SELECT DISTINCT o_custkey FROM h1
        EXCEPT SELECT o_custkey FROM h2))
SELECT cohort, count(*) AS n_cust FROM u
GROUP BY cohort ORDER BY cohort
"""


def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics (orders above their customer's
    own average) decorrelated into a per-key window average — one
    shuffle on custkey instead of a per-row subquery."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey")
    return (orders
            .withColumn("cust_avg", F.avg("o_totalprice").over(w))
            .filter(F.col("o_totalprice") > F.col("cust_avg"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.avg(F.col("o_totalprice") - F.col("cust_avg")),
                         2).alias("avg_excess"))
            .orderBy("o_orderpriority"))


ABOVE_AVG_ORACLE = """
WITH w AS (
  SELECT o_orderpriority, o_totalprice,
         avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders)
SELECT o_orderpriority, count(*) AS n_orders,
       round(avg(o_totalprice - cust_avg), 2) AS avg_excess
FROM w WHERE o_totalprice > cust_avg
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


NTILE_RANGE_PARTS = 32  # set ~cluster width (e.g. 2-3x cores) at scale


def ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile segmentation of order value with EXACT ntile(10)
    semantics, computed without a single-partition window. The total
    order (o_totalprice, o_orderkey) is range-partitioned; the global
    0-based rank of each row is its per-partition ``row_number`` plus
    a prefix-sum offset of the earlier partitions' counts (P scalar
    values on the driver, never data-scale). The SQL-standard ntile
    bucket formula then maps rank -> decile: with n rows, q = n//10,
    r = n%10, the first r buckets hold q+1 rows. Output is
    row-identical to ``ntile(10) OVER (ORDER BY ...)`` — the oracle
    still uses ntile — but every stage here is parallel: the range
    exchange, the per-partition sort, and the final decile groupBy."""
    orders = load_table(spark, "orders", sf_dir)
    sort_cols = [F.asc("o_totalprice"), F.asc("o_orderkey")]
    part = cache.checkpoint(  # materialize once: counts + rank pass
        orders.select("o_orderkey", "o_totalprice")
        .repartitionByRange(NTILE_RANGE_PARTS, *sort_cols)
        .withColumn("pid", F.spark_partition_id()))
    counts = {row["pid"]: row["n"]
              for row in part.groupBy("pid")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(counts.values())
    q, r = divmod(n, 10)
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "pid int, off bigint"))
    lw = Window.partitionBy("pid").orderBy(*sort_cols)
    big = r * (q + 1)  # rows in the r oversized leading buckets
    ranked = (part.join(off_df, "pid")
              .withColumn("rank0",
                          F.col("off") + F.row_number().over(lw) - 1))
    decile = (F.when(F.col("rank0") < big,
                     F.floor(F.col("rank0") / (q + 1)) + 1)
              # else-branch denominator: q==0 makes it unreachable
              # (big == n), but keep the expression division-safe
              .otherwise(r + F.floor((F.col("rank0") - big)
                                     / max(q, 1)) + 1))
    return (ranked
            .withColumn("decile", decile.cast("int"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi"),
                 F.round(F.sum("o_totalprice"), 2).alias("volume"))
            .orderBy("decile"))


NTILE_ORACLE = """
WITH d AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
           AS decile
  FROM orders)
SELECT decile, count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(sum(o_totalprice), 2) AS volume
FROM d GROUP BY decile ORDER BY decile
"""


# The remaining TPC-H query shapes (Q9/Q11/Q12/Q13/Q16/Q17/Q20/Q21
# flavors) adapted to the test schema (no partsupp/shipmode/commitdate
# columns — each query keeps the original's *plan shape* and swaps in
# available columns).
#
# Reference parity: the reference tool's query surface is ES search +
# terms aggregation (Bootstrap.java:196-219); these queries generalize
# that to the full relational surface a warehouse replacement needs.
#
# Scale posture notes per query in the docstrings; common themes:
# dimension sides broadcast, correlated subqueries decorrelated to
# window/aggregate joins, NOT-IN rewritten to anti joins, scalar
# aggregates computed once and broadcast — never per-row subqueries.


# ---------------------------------------------------------------- Q9

Q9_NAME_TOKEN = "red"
Q9_COST_RATE = 0.6  # stand-in for ps_supplycost (no partsupp table)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 flavor: profit by supplier nation and order year for
    parts whose name contains a token. Cost is modeled as
    rate * p_retailprice * l_quantity (no partsupp in the test schema).
    The LIKE filter prunes part BEFORE the fact join (broadcast), the
    lineitem-orders join shuffles on orderkey under AQE, and
    supplier->nation is a broadcast chain."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    part = (load_table(spark, "part", sf_dir)
            .filter(F.col("p_name").contains(Q9_NAME_TOKEN))
            .select("p_partkey", "p_retailprice"))
    profit = _rev() - Q9_COST_RATE * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
        .orderBy("nation", F.desc("o_year")))


Q9_ORACLE = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - {Q9_COST_RATE} * p_retailprice * l_quantity), 2) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{Q9_NAME_TOKEN}%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


# --------------------------------------------------------------- Q11

Q11_NATION = "NATION_1"
Q11_FACTOR = 1.5  # "important" = value above FACTOR x mean part value


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 flavor: parts whose revenue from one nation's
    suppliers exceeds FACTOR x the mean per-part value — a grouped
    aggregate compared against a scalar aggregate OVER THE SAME
    grouped result. The per-part frame is built once; the scalar is a
    one-row agg of it, broadcast-cross-joined (Catalyst reuses the
    exchange rather than recomputing the group-by)."""
    li = load_table(spark, "lineitem", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    supp = (load_table(spark, "supplier", sf_dir)
            .join(F.broadcast(nation.filter(F.col("n_name") == Q11_NATION)),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    # part-cardinality; materialize once so the scalar threshold
    # doesn't re-run the whole lineitem scan + aggregate
    pv = cache.checkpoint(
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"),
                "left_semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_rev()).alias("raw_value")))
    thresh = pv.agg((Q11_FACTOR * F.avg("raw_value")).alias("thresh"))
    return (broadcast_scalars(pv, thresh)
            .filter(F.col("raw_value") > F.col("thresh"))
            .select("partkey", F.round("raw_value", 2).alias("value"))
            .orderBy(F.desc("value"), "partkey"))


Q11_ORACLE = f"""
WITH pv AS (
  SELECT l_partkey AS partkey,
         sum(l_extendedprice * (1 - l_discount)) AS raw_value
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      WHERE n_name = '{Q11_NATION}')
  GROUP BY partkey)
SELECT partkey, round(raw_value, 2) AS value
FROM pv
WHERE raw_value > (SELECT {Q11_FACTOR} * avg(raw_value) FROM pv)
ORDER BY value DESC, partkey
"""


# --------------------------------------------------------------- Q12


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 flavor: per line status, how many 1996-shipped lines
    belong to critical-priority orders vs not — conditional counts
    (sum-of-CASE) over a fact-fact join. The date filter reaches the
    lineitem scan; the join shuffles on orderkey; counting is
    map-side partial."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
        .join(orders.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(F.sum(F.when(crit, 1).otherwise(0)).alias("high_count"),
             F.sum(F.when(crit, 0).otherwise(1)).alias("low_count"))
        .orderBy("linestatus"))


Q12_ORACLE = """
SELECT l_linestatus AS linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY linestatus ORDER BY linestatus
"""


# --------------------------------------------------------------- Q13


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 flavor: distribution of customers by how many
    non-urgent orders they placed — a LEFT OUTER join with a join-side
    residual predicate, then two aggregation levels (per-customer
    count, then histogram of counts). Zero-order customers must
    survive as c_count=0, which is why the filter lives in the join
    condition, not a WHERE."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    per_cust = (cust.join(
        orders.select("o_orderkey", "o_custkey", "o_orderpriority"),
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------- Q16

Q16_EXCLUDED_TYPE = "ECONOMY"
Q16_SIZES = (1, 9, 14, 19, 23, 36, 45, 49)


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 flavor: how many distinct suppliers shipped each
    (brand, size) of non-excluded parts, excluding suppliers in
    arrears — lineitem stands in for partsupp as the part-supplier
    relation. NOT IN (subquery) is rewritten as a broadcast anti join
    (safe here: s_suppkey is non-null); countDistinct shuffles on the
    group key with partial distinct aggregation map-side."""
    li = load_table(spark, "lineitem", sf_dir)
    part = (load_table(spark, "part", sf_dir)
            .filter((F.col("p_type") != Q16_EXCLUDED_TYPE)
                    & F.col("p_size").isin(*Q16_SIZES))
            .select("p_partkey", "p_brand", "p_size"))
    bad_supp = (load_table(spark, "supplier", sf_dir)
                .filter(F.col("s_acctbal") < 0.0)
                .select("s_suppkey"))
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size"))


Q16_ORACLE = f"""
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> '{Q16_EXCLUDED_TYPE}'
  AND p_size IN ({", ".join(str(s) for s in Q16_SIZES)})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


# --------------------------------------------------------------- Q17

Q17_BRAND = "Brand#13"


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 flavor: average yearly revenue lost if small-quantity
    orders (below 20% of that part's mean order quantity) for one
    brand went unfilled. The correlated per-part AVG subquery is
    decorrelated into a window average over the brand-filtered join
    output (every lineitem row of a part carries the same brand, so
    filtering first is semantics-preserving and keeps the window
    input small)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = (load_table(spark, "part", sf_dir)
            .filter(F.col("p_brand") == Q17_BRAND)
            .select("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_lines")))


Q17_ORACLE = f"""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = '{Q17_BRAND}'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


# --------------------------------------------------------------- Q20

Q20_NAME_PREFIX = "hot"
Q20_NATION = "NATION_2"
Q20_MIN_QTY = 100.0


def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 flavor: suppliers in one nation who shipped a bulk
    quantity of a name-prefixed part family during 1996 — the
    original's nested IN-chain (part -> partsupp -> supplier)
    expressed as a HAVING aggregate feeding a left-semi join.
    Everything left of the semi join is supplier-cardinality."""
    li = load_table(spark, "lineitem", sf_dir)
    part = (load_table(spark, "part", sf_dir)
            .filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
            .select("p_partkey"))
    nation = load_table(spark, "nation", sf_dir)
    bulk = (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"),
              "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > Q20_MIN_QTY))
    return (load_table(spark, "supplier", sf_dir)
            .join(F.broadcast(nation.filter(F.col("n_name") == Q20_NATION)),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(bulk, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_suppkey", "s_name")
            .orderBy("s_suppkey"))


Q20_ORACLE = f"""
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{Q20_NATION}'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > {Q20_MIN_QTY})
ORDER BY s_suppkey
"""


# --------------------------------------------------------------- Q21

Q21_LATE_DAYS = 60
Q21_TOPN = 20


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 flavor: suppliers who were the SOLE late shipper on a
    finished multi-supplier order ("late" = shipped > N days after
    order date; the schema has no commit/receipt dates). The
    original's EXISTS (another supplier) + NOT EXISTS (another late
    supplier) pair collapses into per-order aggregates — and the two
    COUNT(DISTINCT)s run as a TWO-LEVEL aggregate (per (order,
    supplier) flags first, then per order) instead of Catalyst's
    EXPAND plan, which would triple the shuffled rows."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = (load_table(spark, "orders", sf_dir)
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    supp = load_table(spark, "supplier", sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAYS")
    per_pair = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late_any")))
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"),
             F.sum(F.col("late_any").cast("long")).alias("n_late_supp"),
             F.max(F.when(F.col("late_any"), F.col("l_suppkey")))
             .alias("late_supp")))
    return (per_order
            .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
            .groupBy("late_supp")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(supp.select("s_suppkey", "s_name")),
                  F.col("late_supp") == F.col("s_suppkey"))
            .select("s_name", "numwait")
            .orderBy(F.desc("numwait"), "s_name")
            .limit(Q21_TOPN))


Q21_ORACLE = f"""
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
         max(CASE WHEN late THEN l_suppkey END) AS late_supp
  FROM li GROUP BY l_orderkey)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {Q21_TOPN}
"""


# ------------------------------------------------- grouping sets


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (a la carte subtotals, unlike ROLLUP's
    prefix chain or CUBE's full lattice): per-(flag,status) detail,
    per-flag subtotal, and grand total in one pass — all sets expand
    map-side, one shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    return (li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows")))


GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), ())
"""


# ------------------------------------------------------ unpivot


def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (unpivot/melt) of lineitem measures, then
    per-(flag, measure) averages — the inverse of pivot. The unpivot
    is a zero-shuffle map-side expand (each row emits one row per
    measure); only the final aggregate shuffles."""
    li = load_table(spark, "lineitem", sf_dir)
    return (li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure", "val")
        .groupBy("l_returnflag", "measure")
        .agg(F.round(F.avg("val"), 4).alias("avg_val"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag", "measure"))


UNPIVOT_ORACLE = """
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
  FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
SELECT l_returnflag, measure,
       round(avg(val), 4) AS avg_val, count(*) AS n
FROM long GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
"""


# ------------------------------------------------- window functions


def window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one frame: rank /
    dense_rank / percent_rank / cume_dist plus lag over customers by
    balance within market segment. One shuffle on the partition key;
    all functions share the single sorted pass."""
    cust = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (cust
            .withColumn("rnk", F.rank().over(w))
            .withColumn("drnk", F.dense_rank().over(w))
            .withColumn("prnk", F.round(F.percent_rank().over(w), 4))
            .withColumn("cdist", F.round(F.cume_dist().over(w), 4))
            .withColumn("gap_above", F.round(
                F.lag("c_acctbal", 1).over(w) - F.col("c_acctbal"), 2))
            .filter(F.col("rnk") <= 10)
            .select("c_mktsegment", "c_custkey",
                    F.round("c_acctbal", 2).alias("acctbal"),
                    "rnk", "drnk", "prnk", "cdist", "gap_above")
            .orderBy("c_mktsegment", "rnk"))


WINDOW_RANKS_ORACLE = """
SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal,
       rnk, drnk, prnk, cdist, gap_above
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         CAST(rank() OVER w AS INT) AS rnk,
         CAST(dense_rank() OVER w AS INT) AS drnk,
         round(percent_rank() OVER w, 4) AS prnk,
         round(cume_dist() OVER w, 4) AS cdist,
         round(lag(c_acctbal, 1) OVER w - c_acctbal, 2) AS gap_above
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey ASC))
WHERE rnk <= 10
ORDER BY c_mktsegment, rnk
"""


def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: Pearson correlation and
    sample covariance of quantity vs extended price, sample stddev,
    and the exact median — all single-pass built-in aggregates (the
    median swaps to percentile_approx's t-digest at 100 TB)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.corr("l_quantity", "l_extendedprice"), 4)
                 .alias("qty_price_corr"),
                 F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
                 .alias("qty_price_covar"),
                 F.round(F.stddev_samp("l_extendedprice"), 2)
                 .alias("price_stddev"),
                 F.round(F.expr("percentile(l_quantity, 0.5)"), 2)
                 .alias("qty_median"))
            .orderBy("l_returnflag"))


CORR_STATS_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2)
         AS qty_price_covar,
       round(stddev_samp(l_extendedprice), 2) AS price_stddev,
       round(quantile_cont(l_quantity, 0.5), 2) AS qty_median
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------- forward fill


def forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series imputation: treat error readings as missing and
    forward-fill each user's value from their last good event —
    last(ignorenulls) over an unbounded-preceding window, one shuffle
    on the entity key, one sorted pass."""
    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("event_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    good = F.when(F.col("event_type") != "error", F.col("value"))
    return (ev.withColumn("filled",
                          F.round(F.last(good, ignorenulls=True).over(w), 2))
            .select("event_id", "user_id", "event_type",
                    F.round("value", 2).alias("value"), "filled")
            .orderBy("event_id"))


FORWARD_FILL_ORACLE = """
SELECT event_id, user_id, event_type, round(value, 2) AS value,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             2) AS filled
FROM events
ORDER BY event_id
"""


# ------------------------------------------------- SQL front end


def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end: register the table as a view and run the
    EXACT ANSI text the DuckDB oracle runs (TPC-H Q1) through
    spark.sql — dialect-neutral SQL is portable across both engines
    verbatim, and Catalyst plans it identically to the DataFrame
    build of q1_pricing_summary."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView(
        "lineitem")
    return spark.sql(Q1_ORACLE)


def _sql_interface_oracle() -> str:
    return Q1_ORACLE


SQL_INTERFACE_ORACLE = _sql_interface_oracle()


# ---------------------------------------- rolling time-range window

ROLL_HOURS = 48
_ROLL_US = ROLL_HOURS * 3600 * 1_000_000


def rolling_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 48-hour event features via a time-RANGE
    window frame — the standard time-series feature-engineering op
    (fraud velocity, engagement momentum). RANGE (not ROWS) frames
    are value-bounded: every event sees exactly the trailing 48h of
    its user's activity regardless of event density. Frame ordering
    is integer MICROSECONDS on both engines (unix_micros here,
    epoch_us in the oracle) so sub-second timestamps bound the frame
    identically. One shuffle on user_id; the frame scan is linear
    per partition (Spark keeps a sliding frame for RANGE windows).
    """
    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts")))
         .rangeBetween(-_ROLL_US, 0))
    return (ev.select(
                "event_id", "user_id",
                F.count(F.lit(1)).over(w).alias("roll_cnt"),
                F.round(F.sum("value").over(w), 2).alias("roll_sum"))
            .orderBy("event_id"))


ROLLING_WINDOW_ORACLE = f"""
SELECT event_id, user_id,
       count(*) OVER w AS roll_cnt,
       round(sum(value) OVER w, 2) AS roll_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_ROLL_US} PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# Event-sequence analytics over the events table — Markov transition
# counts and first-touch attribution. Both shuffle once on user_id
# (keyed windows, never a global sort) and carry exact DuckDB oracles.


TRANSITIONS_TOP = 20


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type transition counts (the first-order Markov
    matrix of user behavior): per user, order events by time and
    count (event_type -> next event_type) pairs. One shuffle on
    user_id for the lead() window — per-user partitions, bounded by
    a user's event history, never a global sort — then a keyed count
    and a TakeOrderedAndProject top-k."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev
             .withColumn("next_type", F.lead("event_type").over(w))
             .filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count(F.lit(1)).alias("n")))
    return (pairs.orderBy(F.desc("n"), F.asc("from_type"),
                          F.asc("to_type"))
            .limit(TRANSITIONS_TOP))


EVENT_TRANSITIONS_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       count(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY n DESC, from_type ASC, to_type ASC
LIMIT {TRANSITIONS_TOP}
"""


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's lifetime value rolls up
    to the event type of their FIRST event (ts, event_id order).
    Two keyed aggregations on user_id — the first-event pick via a
    per-user window, the value total via groupBy — joined at user
    cardinality, then a tiny per-type rollup."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (ev.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("user_id", F.col("event_type").alias("first_type")))
    totals = (ev.groupBy("user_id")
              .agg(F.sum("value").alias("ltv")))
    return (first.join(totals, "user_id")
            .groupBy("first_type")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum("ltv"), 2).alias("total_value"))
            .orderBy("first_type"))


FIRST_TOUCH_ORACLE = """
WITH first AS (
  SELECT user_id, event_type AS first_type
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events)
  WHERE rn = 1),
totals AS (
  SELECT user_id, sum(value) AS ltv FROM events GROUP BY user_id)
SELECT first_type, count(*) AS n_users,
       round(sum(ltv), 2) AS total_value
FROM first JOIN totals USING (user_id)
GROUP BY first_type ORDER BY first_type
"""


def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per return flag — the
    weighted quantile neither engine has built in: sort within each
    (bounded-cardinality) group, running weight vs half the group
    total, first row crossing the half-line wins. The windows are
    group-partitioned (parallel across groups) and the group totals
    ride the same window — no second scan, no global sort."""
    li = load_table(spark, "lineitem", sf_dir)
    w = Window.partitionBy("l_returnflag").orderBy(
        F.asc("l_extendedprice"), F.asc("l_orderkey"),
        F.asc("l_linenumber"))
    wall = Window.partitionBy("l_returnflag")
    x = (li.select("l_returnflag", "l_extendedprice", "l_quantity",
                   "l_orderkey", "l_linenumber")
         .withColumn("cw", F.sum("l_quantity").over(
             w.rowsBetween(Window.unboundedPreceding, 0)))
         .withColumn("tw", F.sum("l_quantity").over(wall)))
    return (x.filter(F.col("cw") >= F.col("tw") / 2)
            .groupBy("l_returnflag")
            .agg(F.round(F.min("l_extendedprice"), 2)
                 .alias("weighted_median_price"),
                 F.round(F.min_by(
                     F.col("cw") / F.col("tw"),
                     F.struct("l_extendedprice", "l_orderkey",
                              "l_linenumber")), 4)
                 .alias("crossing_frac"))
            .orderBy("l_returnflag"))


WEIGHTED_MEDIAN_ORACLE = """
WITH x AS (
  SELECT l_returnflag, l_extendedprice,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw,
         l_orderkey, l_linenumber
  FROM lineitem),
r AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
  FROM x WHERE cw >= tw / 2)
SELECT l_returnflag,
       round(l_extendedprice, 2) AS weighted_median_price,
       round(cw / tw, 4) AS crossing_frac
FROM r WHERE rn = 1 ORDER BY l_returnflag
"""


TOP_PATHS = 15
PATH_LEN = 5


def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the first 5 event types of each (user, day)
    session joined into a path string, counted corpus-wide. The
    per-session ordering happens ARRAY-SIDE (array_sort of
    (ts, event_id, type) structs inside one groupBy — bounded by a
    session's length, no window), then one keyed count and a
    TakeOrderedAndProject top-k."""
    ev = load_table(spark, "events", sf_dir)
    sess = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
            .agg(F.expr(
                "array_join(transform(slice(array_sort("
                "collect_list(struct(ts, event_id, event_type))), "
                f"1, {PATH_LEN}), s -> s.event_type), '>')")
                .alias("path")))
    return (sess.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("path"))
            .limit(TOP_PATHS))


TOP_PATHS_ORACLE = f"""
WITH sess AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:{PATH_LEN}],
           '>') AS path
  FROM events GROUP BY user_id, day)
SELECT path, count(*) AS n FROM sess
GROUP BY path ORDER BY n DESC, path ASC LIMIT {TOP_PATHS}
"""


PSI_BIN = 50.0
PSI_NBINS = 10
PSI_SPLIT = "2024-01-08 00:00:00"


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the event-value
    distribution of week 1 vs the rest of the month over fixed-width
    bins, Laplace-smoothed so empty bins stay finite. Two conditional
    counts in ONE grouped pass (no second scan); totals attach as a
    scalar subquery. psi_i = (p_i - q_i) * ln(p_i / q_i); sum > 0.2 is
    the conventional 'drifted' alarm."""
    ev = load_table(spark, "events", sf_dir)
    split = F.lit(PSI_SPLIT).cast("timestamp")
    b = (ev.withColumn(
        "bucket",
        F.least(F.floor(F.col("value") / PSI_BIN),
                F.lit(PSI_NBINS - 1)).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.when(F.col("ts") < split, 1)).alias("n_a"),
             F.count(F.when(F.col("ts") >= split, 1)).alias("n_b")))
    totals = b.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    p = (F.col("n_a") + 1) / (F.col("t_a") + PSI_NBINS)
    q = (F.col("n_b") + 1) / (F.col("t_b") + PSI_NBINS)
    return (broadcast_scalars(b, totals)
            .select("bucket", "n_a", "n_b",
                    F.round((p - q) * F.log(p / q), 6).alias("psi"))
            .orderBy("bucket"))


DRIFT_PSI_ORACLE = f"""
WITH b AS (
  SELECT least(CAST(floor(value / {PSI_BIN}) AS INT),
               {PSI_NBINS - 1}) AS bucket,
         count(*) FILTER (ts < TIMESTAMP '{PSI_SPLIT}') AS n_a,
         count(*) FILTER (ts >= TIMESTAMP '{PSI_SPLIT}') AS n_b
  FROM events GROUP BY 1),
t AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM b)
SELECT bucket, n_a, n_b,
       round(((n_a + 1) / CAST(t_a + {PSI_NBINS} AS DOUBLE)
              - (n_b + 1) / CAST(t_b + {PSI_NBINS} AS DOUBLE))
             * ln(((n_a + 1) / CAST(t_a + {PSI_NBINS} AS DOUBLE))
                  / ((n_b + 1) / CAST(t_b + {PSI_NBINS} AS DOUBLE))),
             6) AS psi
FROM b, t ORDER BY bucket
"""


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (TWAP): each observation
    holds from its timestamp until the user's next event, so the
    mean weights by holding duration instead of sample count — the
    standard for irregularly-sampled series. One keyed lead window
    (partitioned by user, never global); microsecond-exact
    durations on both engines; single-event users have no holding
    interval and drop out."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = (ev.withColumn("next_us", F.unix_micros(F.lead("ts").over(w)))
         .withColumn("dt", F.col("next_us") - F.unix_micros("ts"))
         .filter(F.col("dt").isNotNull()))
    return (x.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.round(F.sum(F.col("value") * F.col("dt"))
                         / F.sum("dt"), 4).alias("twap"))
            .orderBy("user_id"))


TIME_WEIGHTED_AVG_ORACLE = """
WITH x AS (
  SELECT user_id, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM events)
SELECT user_id, count(*) AS n_intervals,
       round(sum(value * dt) / sum(dt), 4) AS twap
FROM x WHERE dt IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars of purchase values: open/close via
    min_by/max_by over the (ts, event_id) order — one grouped pass,
    no window, no second scan (the classic candlestick rollup)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.filter(F.col("event_type") == "purchase")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.expr("min_by(value, struct(ts, event_id))")
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.expr("max_by(value, struct(ts, event_id))")
                 .alias("close"),
                 F.count(F.lit(1)).alias("n_trades"))
            .orderBy("day"))


OHLC_DAILY_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT CAST(ts AS DATE) AS day, value,
         row_number() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM p),
agg AS (
  SELECT CAST(ts AS DATE) AS day, max(value) AS high,
         min(value) AS low, count(*) AS n_trades
  FROM p GROUP BY 1)
SELECT a.day,
       o.value AS open, a.high, a.low, c.value AS close, a.n_trades
FROM agg a
JOIN r o ON o.day = a.day AND o.rn_a = 1
JOIN r c ON c.day = a.day AND c.rn_d = 1
ORDER BY a.day
"""


def linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of an irregular series: purchase values
    are the knowns; every other event gets the time-proportional
    blend of its surrounding knowns (forward_fill's two-sided twin —
    the standard gap-fill for sensor/price series). Two keyed
    ignore-nulls windows per direction, both partitioned by user;
    boundary rows fall back to the single available side."""
    ev = load_table(spark, "events", sf_dir)
    is_known = F.col("event_type") == "purchase"
    x = (ev.withColumn("kv", F.when(is_known, F.col("value")))
         .withColumn("kt", F.when(is_known, F.unix_micros("ts"))))
    wb = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(0, Window.unboundedFollowing))
    x = (x.withColumn("pv", F.last("kv", ignorenulls=True).over(wb))
         .withColumn("pt", F.last("kt", ignorenulls=True).over(wb))
         .withColumn("nv", F.first("kv", ignorenulls=True).over(wf))
         .withColumn("nt", F.first("kt", ignorenulls=True).over(wf)))
    t = F.unix_micros("ts")
    interp = (F.when(F.col("pv").isNotNull() & F.col("nv").isNotNull()
                     & (F.col("nt") > F.col("pt")),
                     F.col("pv") + (F.col("nv") - F.col("pv"))
                     * (t - F.col("pt"))
                     / (F.col("nt") - F.col("pt")))
              .when(F.col("pv").isNotNull(), F.col("pv"))
              .otherwise(F.col("nv")))
    return (x.filter(~is_known)
            .select("event_id", "user_id",
                    F.round(interp, 4).alias("interp"))
            .filter(F.col("interp").isNotNull())
            .orderBy("event_id"))


LINEAR_INTERPOLATE_ORACLE = """
WITH x AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN value END AS kv,
         CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS kt
  FROM events),
w AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(kv IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(kt IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(kv IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(kt IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM x)
SELECT event_id, user_id,
       round(CASE
         WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt
           THEN pv + (nv - pv) * (epoch_us(ts) - pt) / (nt - pt)
         WHEN pv IS NOT NULL THEN pv
         ELSE nv END, 4) AS interp
FROM w WHERE event_type != 'purchase'
  AND (pv IS NOT NULL OR nv IS NOT NULL)
ORDER BY event_id
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    event vs the corpus max date), frequency, and monetary total,
    each scored 1-5 against quintile boundaries computed over the
    user frame and attached as scalar subqueries. Monetary sums are
    rounded BEFORE the boundary comparison so engine fold-order ulps
    cannot flip a user across a quintile edge. Output: segment-cell
    counts."""
    ev = load_table(spark, "events", sf_dir)
    per = (ev.groupBy("user_id")
           .agg(F.max(F.to_date("ts")).alias("last_day"),
                F.count(F.lit(1)).alias("freq"),
                F.round(F.sum("value"), 2).alias("money")))
    per = broadcast_scalars(per, per.agg(F.max("last_day").alias("d0")))
    per = per.withColumn("rec", F.datediff(F.col("d0"), F.col("last_day")))
    bounds = per.agg(*[
        F.expr(f"percentile({c}, array(0.2D, 0.4D, 0.6D, 0.8D))")
        .alias(f"b_{c}") for c in ("rec", "freq", "money")])
    per = broadcast_scalars(per, bounds)

    def score(c, invert):
        s = F.lit(1)
        for i in range(4):
            hit = (F.col(c) < F.col(f"b_{c}")[i]) if invert \
                else (F.col(c) > F.col(f"b_{c}")[i])
            s = s + hit.cast("int")
        return s

    scored = per.select(
        score("rec", invert=True).alias("r_score"),   # lower = better
        score("freq", invert=False).alias("f_score"),
        score("money", invert=False).alias("m_score"))
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("r_score", "f_score", "m_score"))


RFM_SEGMENTATION_ORACLE = """
WITH per AS (
  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
         count(*) AS freq, round(sum(value), 2) AS money
  FROM events GROUP BY user_id),
d0 AS (SELECT max(last_day) AS d0 FROM per),
r AS (SELECT user_id, date_diff('day', last_day, d0) AS rec,
             freq, money FROM per, d0),
b AS (SELECT
  quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS b_rec,
  quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS b_freq,
  quantile_cont(money, [0.2, 0.4, 0.6, 0.8]) AS b_money FROM r),
s AS (
  SELECT 1 + CAST(rec < b_rec[1] AS INT) + CAST(rec < b_rec[2] AS INT)
           + CAST(rec < b_rec[3] AS INT) + CAST(rec < b_rec[4] AS INT)
           AS r_score,
         1 + CAST(freq > b_freq[1] AS INT) + CAST(freq > b_freq[2] AS INT)
           + CAST(freq > b_freq[3] AS INT) + CAST(freq > b_freq[4] AS INT)
           AS f_score,
         1 + CAST(money > b_money[1] AS INT)
           + CAST(money > b_money[2] AS INT)
           + CAST(money > b_money[3] AS INT)
           + CAST(money > b_money[4] AS INT) AS m_score
  FROM r, b)
SELECT r_score, f_score, m_score, count(*) AS n_users
FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase conversion latency: per user, minutes from
    their FIRST view to the first purchase at-or-after it, reduced
    to corpus percentiles — two user-keyed aggregates and a
    user-cardinality join, never a global sort."""
    ev = load_table(spark, "events", sf_dir)
    v0 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("v0")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .join(v0, "user_id")
            .filter(F.col("ts") >= F.col("v0"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("p0"), F.min("v0").alias("v0")))
    delta = ((F.unix_micros("p0") - F.unix_micros("v0"))
             / F.lit(60_000_000.0))
    return (conv.select(delta.alias("mins"))
            .agg(F.count(F.lit(1)).alias("n_converted"),
                 F.round(F.expr("percentile(mins, 0.5D)"), 2)
                 .alias("p50_minutes"),
                 F.round(F.expr("percentile(mins, 0.9D)"), 2)
                 .alias("p90_minutes"),
                 F.round(F.avg("mins"), 2).alias("mean_minutes")))


TIME_TO_CONVERT_ORACLE = """
WITH v0 AS (
  SELECT user_id, min(ts) AS v0 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT e.user_id, min(e.ts) AS p0, min(v0.v0) AS v0
  FROM events e JOIN v0 ON v0.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v0.v0
  GROUP BY e.user_id),
d AS (SELECT (epoch_us(p0) - epoch_us(v0)) / 60000000.0 AS mins
      FROM conv)
SELECT count(*) AS n_converted,
       round(quantile_cont(mins, 0.5), 2) AS p50_minutes,
       round(quantile_cont(mins, 0.9), 2) AS p90_minutes,
       round(avg(mins), 2) AS mean_minutes
FROM d
"""


# Market-basket association mining.
#
# Orders are baskets, parts are items: pair support / confidence /
# lift over lineitem. Round 13: the pair expansion is no longer a
# basket-key self-join — baskets are bounded (~4-7 items), so each
# basket's C(k,2) pairs, its k items and one basket marker explode
# from a single collect_set pass, and ONE grouped count yields the
# pair table, the item-frequency table and the basket total together
# (guide §1.2: the before-plan scanned lineitem four times — twice
# for the self-join, twice for item frequencies — plus a fifth pass
# for the scalar). Counts aggregate with map-side partials, and ratio
# metrics are emitted as SINGLE divisions of exact int64 products so
# both engines produce bit-identical doubles (no rounding step to
# disagree on).


BASKET_MIN_PAIR = 2     # min pair support (absolute baskets)
BASKET_TOPK = 20

# Per basket emit: one (NULL, NULL) marker row, one (item, NULL) row
# per distinct item, and one (a, b) row per a < b pair of distinct
# items (collect_set dedups; sort_array fixes a < b). A single
# groupBy(item_a, item_b) then carries three aggregates at once:
#   (NULL, NULL) count  = number of baskets,
#   (x, NULL)   counts  = baskets containing x  (item frequency),
#   (a, b)      counts  = baskets containing both (pair support).
_BASKET_ROWS = """
    concat(
      array(named_struct('a', CAST(NULL AS BIGINT),
                         'b', CAST(NULL AS BIGINT))),
      transform(items, x -> named_struct(
          'a', x, 'b', CAST(NULL AS BIGINT))),
      flatten(transform(items, (x, i) ->
          transform(slice(items, i + 2, size(items)),
                    y -> named_struct('a', x, 'b', y)))))
"""


def _basket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared one-pass basket model: (item_a, item_b, cnt) with
    the NULL-keyed marker/item rows described above. The result is
    the aggregated model table (distinct items + distinct
    co-occurring pairs + 1 row), bounded far below the corpus —
    checkpointed so the scalar collect, the frequency lookups and
    the pair branch all read it without re-running the scan."""
    baskets = (load_table(spark, "lineitem", sf_dir)
               .groupBy(F.col("l_orderkey").alias("okey"))
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("items")))
    counts = (baskets.select(F.explode(F.expr(_BASKET_ROWS)).alias("r"))
              .groupBy(F.col("r.a").alias("item_a"),
                       F.col("r.b").alias("item_b"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    # EAGER: one plan reads the model through four subtrees (the
    # basket-count subquery, both frequency lookups, the pair table)
    return cache.checkpoint(counts)


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchase pairs by lift. Plan: ONE lineitem scan ->
    per-basket distinct-item sets -> marker/item/pair explode -> one
    grouped count (map-side partials); the scalar basket count, the
    two item-frequency lookups and the pair table all read the
    checkpointed count model, and the frequency joins are plain
    equi-joins on the bounded model (AQE broadcasts them).
    Lift/confidence/support are single int64-product divisions —
    cross-engine bit-identical, unrounded."""
    counts = _basket_counts(spark, sf_dir)
    n_baskets = (counts.filter(F.col("item_a").isNull())
                 .select(F.col("cnt").alias("n")))
    items = (counts
             .filter(F.col("item_a").isNotNull()
                     & F.col("item_b").isNull())
             .select(F.col("item_a").alias("item"),
                     F.col("cnt").alias("item_cnt")))
    pairs = (counts.filter(F.col("item_b").isNotNull())
             .select("item_a", "item_b",
                     F.col("cnt").alias("pair_cnt"))
             .filter(F.col("pair_cnt") >= BASKET_MIN_PAIR))
    enriched = broadcast_scalars(
        pairs
        .join(items.select(F.col("item").alias("item_a"),
                           F.col("item_cnt").alias("cnt_a")),
              "item_a")
        .join(items.select(F.col("item").alias("item_b"),
                           F.col("item_cnt").alias("cnt_b")),
              "item_b"),
        n_baskets)
    support = F.col("pair_cnt").cast("double") / F.col("n")
    confidence = F.col("pair_cnt").cast("double") / F.col("cnt_a")
    lift = ((F.col("pair_cnt") * F.col("n")).cast("double")
            / (F.col("cnt_a") * F.col("cnt_b")))
    return (enriched.select(
        "item_a", "item_b", "pair_cnt", "cnt_a", "cnt_b",
        support.alias("support"), confidence.alias("confidence"),
        lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("item_a"), F.asc("item_b"))
        .limit(BASKET_TOPK))


BASKET_LIFT_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
  FROM lineitem),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM li),
items AS (
  SELECT item, CAST(count(*) AS BIGINT) AS item_cnt
  FROM li GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS pair_cnt
  FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {BASKET_MIN_PAIR})
SELECT p.item_a, p.item_b, p.pair_cnt,
       ia.item_cnt AS cnt_a, ib.item_cnt AS cnt_b,
       CAST(p.pair_cnt AS DOUBLE) / n.n AS support,
       CAST(p.pair_cnt AS DOUBLE) / ia.item_cnt AS confidence,
       CAST(p.pair_cnt * n.n AS DOUBLE)
         / (ia.item_cnt * ib.item_cnt) AS lift
FROM pairs p
JOIN items ia ON ia.item = p.item_a
JOIN items ib ON ib.item = p.item_b
CROSS JOIN n
ORDER BY lift DESC, item_a ASC, item_b ASC
LIMIT {BASKET_TOPK}
"""

FIS_MIN_SUPPORT = 8
FIS_TOPK = 15


def dsl_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.4 `frequent_item_sets` agg (bounded to set sizes 1-2 —
    the pairwise tier basket_lift prices; larger sets grow from
    frequent pairs by the apriori property and reuse the same
    bounded per-basket expansion). Emits each frequent set with its
    absolute support and support ratio; the ratio is one exact
    int64 division (unrounded, bit-identical). Rides the same
    one-pass basket count model as basket_lift (singles = the
    item-frequency rows, pairs = the pair rows, the total = the
    marker row)."""
    counts = _basket_counts(spark, sf_dir)
    n_baskets = (counts.filter(F.col("item_a").isNull())
                 .select(F.col("cnt").alias("n")))
    singles = (counts
               .filter(F.col("item_a").isNotNull()
                       & F.col("item_b").isNull())
               .select(F.col("item_a").cast("string").alias("items"),
                       F.lit(1).alias("set_size"),
                       F.col("cnt").alias("support")))
    pairs = (counts.filter(F.col("item_b").isNotNull())
             .select(F.concat_ws(",", "item_a", "item_b")
                     .alias("items"),
                     F.lit(2).alias("set_size"),
                     F.col("cnt").alias("support")))
    sets = broadcast_scalars(
        singles.unionAll(pairs)
        .filter(F.col("support") >= FIS_MIN_SUPPORT), n_baskets)
    return (sets.select(
        "items", "set_size", "support",
        (F.col("support").cast("double") / F.col("n"))
        .alias("support_ratio"))
        .orderBy(F.desc("support"), F.asc("set_size"), F.asc("items"))
        .limit(FIS_TOPK))


DSL_FREQUENT_ITEM_SETS_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
  FROM lineitem),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM li),
singles AS (
  SELECT CAST(item AS VARCHAR) AS items, 1 AS set_size,
         CAST(count(*) AS BIGINT) AS support
  FROM li GROUP BY item),
pairs AS (
  SELECT concat_ws(',', a.item, b.item) AS items, 2 AS set_size,
         CAST(count(*) AS BIGINT) AS support
  FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
  GROUP BY a.item, b.item),
sets AS (
  SELECT * FROM singles UNION ALL SELECT * FROM pairs)
SELECT items, set_size, support,
       CAST(support AS DOUBLE) / n.n AS support_ratio
FROM sets CROSS JOIN n
WHERE support >= {FIS_MIN_SUPPORT}
ORDER BY support DESC, set_size ASC, items ASC
LIMIT {FIS_TOPK}
"""


# Revenue-distribution diagnostics.
#
# - ``benford_digits``: leading-digit distribution of order totals vs
#   Benford's law with per-digit chi-square contributions — the
#   classic anomaly/fraud screen over financial facts.
# - ``pareto_cumshare``: revenue concentration by customer decile
#   (the 80/20 audit). Deciles are assigned by comparing against the
#   nine exact revenue percentiles — computed once and attached as a
#   scalar subquery — NOT by a global sort/ntile over the customer
#   frame, so the plan stays scale-safe (a billion customers shuffle
#   once for the per-customer aggregate and once for the 10-bucket
#   groupBy; nothing orders the full frame).
# - ``yoy_growth``: year-over-year revenue growth via a self-join of
#   the bounded per-year aggregate on year = year+1 (no window, no
#   unpartitioned sort; the joined frames are year-cardinality).


# ------------------------------------------------------ benford_digits

# Benford expected frequencies, one shared literal table for both
# engines (log10 drift cannot enter cross-engine)
_BENFORD = {d: round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)}


def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading digit of o_totalprice vs Benford's law: observed count
    and frequency per digit, expected frequency, and the chi-square
    contribution (obs-exp)^2/exp. The digit is pure arithmetic
    (value / 10^floor(log10 value)) — no string casts in the hot
    path; one 9-bucket groupBy; the corpus total attaches as a
    scalar subquery."""
    o = load_table(spark, "orders", sf_dir)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0),
                F.floor(F.log10("o_totalprice")))).cast("int")
    per = (o.filter(F.col("o_totalprice") > 0)
           .groupBy(digit.alias("digit"))
           .agg(F.count(F.lit(1)).alias("n")))
    tot = per.agg(F.sum("n").alias("total"))
    exp_freq = F.element_at(
        F.array(*[F.lit(_BENFORD[d]) for d in range(1, 10)]),
        F.col("digit"))
    exp_n = F.col("total") * exp_freq
    return (broadcast_scalars(per, tot)
            .select("digit", "n",
                    F.round(F.col("n") / F.col("total"), 6)
                    .alias("obs_freq"),
                    exp_freq.alias("benford_freq"),
                    F.round((F.col("n") - exp_n)
                            * (F.col("n") - exp_n) / exp_n, 4)
                    .alias("chi2_term"))
            .orderBy("digit"))


def _benford_oracle() -> str:
    case = " ".join(f"WHEN {d} THEN {_BENFORD[d]!r}"
                    for d in range(1, 10))
    return f"""
WITH per AS (
  SELECT CAST(floor(o_totalprice
              / power(10.0, floor(log10(o_totalprice)))) AS INT)
           AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
tot AS (SELECT sum(n) AS total FROM per)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / total, 6) AS obs_freq,
       CAST(CASE digit {case} END AS DOUBLE) AS benford_freq,
       round((n - total * (CASE digit {case} END))
             * (n - total * (CASE digit {case} END))
             / (total * (CASE digit {case} END)), 4) AS chi2_term
FROM per, tot ORDER BY digit
"""


# ---------------------------------------------------- pareto_cumshare

_PCTS = [round(0.1 * i, 1) for i in range(1, 10)]  # 0.1 .. 0.9


def pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile: per-customer revenue
    -> decile assignment against the nine EXACT percentiles (attached
    as a scalar subquery, strict '>' so ties stay in the lower
    decile) -> per-decile customer count, revenue, share, and the cumulative
    share from the TOP decile down (the Pareto curve: cum_share at
    decile 9 = the top-10%% share). The cumulative window runs over
    the bounded 10-row decile frame only."""
    o = load_table(spark, "orders", sf_dir)
    rev = (o.groupBy("o_custkey")
           .agg(F.sum("o_totalprice").alias("rev")))
    qs = rev.agg(F.expr(
        f"percentile(rev, array({', '.join(map(str, _PCTS))}))")
        .alias("qs"), F.sum("rev").alias("total_rev"))
    with_q = broadcast_scalars(rev, qs)
    decile = None
    for i in range(9):
        hit = (F.col("rev") > F.element_at("qs", i + 1)).cast("int")
        decile = hit if decile is None else decile + hit
    per = (with_q
           .select(decile.alias("decile"), "rev", "total_rev")
           .groupBy("decile", "total_rev")
           .agg(F.count(F.lit(1)).alias("n_cust"),
                F.sum("rev").alias("drev")))
    w = (Window.orderBy(F.desc("decile"))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (per.select(
        "decile", "n_cust",
        F.round("drev", 2).alias("revenue"),
        F.round(F.col("drev") / F.col("total_rev"), 6).alias("share"),
        F.round(F.sum(F.col("drev") / F.col("total_rev")).over(w), 6)
        .alias("cum_share_from_top"))
        .orderBy(F.desc("decile")))


PARETO_ORACLE = f"""
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS rev
  FROM orders GROUP BY o_custkey),
qs AS (
  SELECT quantile_cont(rev, [{', '.join(map(str, _PCTS))}]) AS q,
         sum(rev) AS total_rev
  FROM rev),
assigned AS (
  SELECT CAST((rev > q[1]) AS INT) + CAST((rev > q[2]) AS INT)
         + CAST((rev > q[3]) AS INT) + CAST((rev > q[4]) AS INT)
         + CAST((rev > q[5]) AS INT) + CAST((rev > q[6]) AS INT)
         + CAST((rev > q[7]) AS INT) + CAST((rev > q[8]) AS INT)
         + CAST((rev > q[9]) AS INT) AS decile,
         rev, total_rev
  FROM rev, qs),
per AS (
  SELECT decile, total_rev, count(*) AS n_cust, sum(rev) AS drev
  FROM assigned GROUP BY decile, total_rev)
SELECT decile, CAST(n_cust AS BIGINT) AS n_cust,
       round(drev, 2) AS revenue,
       round(drev / total_rev, 6) AS share,
       round(sum(drev / total_rev) OVER (ORDER BY decile DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS cum_share_from_top
FROM per ORDER BY decile DESC
"""


# -------------------------------------------------------- yoy_growth

def yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue: per-year totals (rounded once, so the
    growth ratio divides identical doubles on both engines), joined
    to the previous year on yr = yr+1 — two year-cardinality frames,
    AQE broadcasts, no window over anything unbounded."""
    o = load_table(spark, "orders", sf_dir)
    per = (o.groupBy(F.year("o_orderdate").alias("yr"))
           .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders")))
    prev = per.select(F.col("yr").alias("pyr"),
                      F.col("revenue").alias("prev_revenue"))
    return (per.join(prev, per.yr == prev.pyr + 1, "left")
            .select("yr", "revenue", "n_orders",
                    F.round(100.0 * (F.col("revenue")
                                     - F.col("prev_revenue"))
                            / F.col("prev_revenue"), 2)
                    .alias("yoy_pct"))
            .orderBy("yr"))


YOY_ORACLE = """
WITH per AS (
  SELECT year(o_orderdate) AS yr,
         round(sum(o_totalprice), 2) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT a.yr, a.revenue, CAST(a.n_orders AS BIGINT) AS n_orders,
       round(100.0 * (a.revenue - b.revenue) / b.revenue, 2)
         AS yoy_pct
FROM per a LEFT JOIN per b ON a.yr = b.yr + 1
ORDER BY a.yr
"""


# ------------------------------------------------ dq_referential_audit

def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse data-quality audit — the checks an ETL gate runs on
    every load: FK orphan counts across the star schema (anti-join
    per edge), domain violations (negative qty/price), and the
    order-total reconciliation |o_totalprice - sum(line net)| > 1
    cent. Each check is one keyed anti-join or one grouped pass; the
    output is a fixed 6-row report (one per check), so everything
    after the scans is bounded. On this synthetic corpus the FK
    edges are clean and the totals deliberately do NOT reconcile —
    the audit's job is to REPORT that, not assume it."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    p = load_table(spark, "part", sf_dir)

    def check(name: str, viol: DataFrame, total: DataFrame) -> DataFrame:
        v = viol.agg(F.count(F.lit(1)).alias("n_violations"))
        t = total.agg(F.count(F.lit(1)).alias("n_total"))
        return (broadcast_scalars(v, t)
                .select(F.lit(name).alias("check_name"),
                        F.col("n_violations"),
                        F.col("n_total"),
                        F.round(F.col("n_violations")
                                / F.col("n_total"), 6).alias("rate")))

    li_orphan = li.join(o.select("o_orderkey"),
                        li.l_orderkey == o.o_orderkey, "left_anti")
    o_orphan = o.join(c.select("c_custkey"),
                      o.o_custkey == c.c_custkey, "left_anti")
    lp_orphan = li.join(p.select("p_partkey"),
                        li.l_partkey == p.p_partkey, "left_anti")
    neg_qty = li.filter((F.col("l_quantity") <= 0)
                        | (F.col("l_extendedprice") <= 0))
    bad_disc = li.filter((F.col("l_discount") < 0)
                         | (F.col("l_discount") > 1))
    net = F.round(F.sum(F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))), 2)
    recon = (li.groupBy("l_orderkey").agg(net.alias("net"))
             .join(o.select("o_orderkey", "o_totalprice"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .filter(F.abs(F.col("o_totalprice") - F.col("net"))
                     > 0.01))
    out = check("lineitem_order_orphans", li_orphan, li)
    for name, viol, tot in [
            ("order_customer_orphans", o_orphan, o),
            ("lineitem_part_orphans", lp_orphan, li),
            ("nonpositive_qty_or_price", neg_qty, li),
            ("discount_out_of_range", bad_disc, li),
            ("order_total_mismatch", recon, o)]:
        out = out.unionByName(check(name, viol, tot))
    return out.orderBy("check_name")


DQ_AUDIT_ORACLE = """
WITH net AS (
  SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)
                   * (1 + l_tax)), 2) AS net
  FROM lineitem GROUP BY l_orderkey)
SELECT check_name, n_violations, n_total,
       round(n_violations / CAST(n_total AS DOUBLE), 6) AS rate
FROM (
  SELECT 'lineitem_order_orphans' AS check_name,
         CAST((SELECT count(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
              AS BIGINT) AS n_violations,
         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_total
  UNION ALL
  SELECT 'order_customer_orphans',
         CAST((SELECT count(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey))
              AS BIGINT),
         CAST((SELECT count(*) FROM orders) AS BIGINT)
  UNION ALL
  SELECT 'lineitem_part_orphans',
         CAST((SELECT count(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p
                                 WHERE p.p_partkey = l.l_partkey))
              AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'nonpositive_qty_or_price',
         CAST((SELECT count(*) FROM lineitem
               WHERE l_quantity <= 0 OR l_extendedprice <= 0)
              AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'discount_out_of_range',
         CAST((SELECT count(*) FROM lineitem
               WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem) AS BIGINT)
  UNION ALL
  SELECT 'order_total_mismatch',
         CAST((SELECT count(*) FROM orders o JOIN net
               ON net.l_orderkey = o.o_orderkey
               WHERE abs(o.o_totalprice - net.net) > 0.01) AS BIGINT),
         CAST((SELECT count(*) FROM orders) AS BIGINT)
) t
ORDER BY check_name
"""


# ------------------------------------------------- skew_key_report

def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the report you run BEFORE choosing
    a salting factor (the skew_salted_* operators are the cure; this
    is the diagnosis): per candidate join key, the key cardinality,
    max/avg/p99 rows per key, and the skew factor max/avg. One
    grouped count per key column (the same shuffle the join itself
    would do) then a scalar agg of the key-cardinality counts."""
    li = load_table(spark, "lineitem", sf_dir)
    ev = load_table(spark, "events", sf_dir)

    def report(df: DataFrame, table: str, key: str) -> DataFrame:
        counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
        return (counts.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_rows"),
            F.round(F.avg("n"), 4).alias("avg_rows"),
            F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_rows"),
            F.round(F.max("n") / F.avg("n"), 4).alias("skew_factor"))
            .select(F.lit(f"{table}.{key}").alias("join_key"), "*"))

    return (report(li, "lineitem", "l_orderkey")
            .unionByName(report(ev, "events", "user_id"))
            .orderBy("join_key"))


SKEW_KEY_REPORT_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem.l_orderkey' AS join_key,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_rows,
         round(avg(n), 4) AS avg_rows,
         round(quantile_cont(n, 0.99), 4) AS p99_rows,
         round(max(n) / avg(n), 4) AS skew_factor
  FROM (SELECT l_orderkey, count(*) AS n FROM lineitem
        GROUP BY l_orderkey)
  UNION ALL
  SELECT 'events.user_id',
         CAST(count(*) AS BIGINT), CAST(max(n) AS BIGINT),
         round(avg(n), 4), round(quantile_cont(n, 0.99), 4),
         round(max(n) / avg(n), 4)
  FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
) t ORDER BY join_key
"""


# -------------------------------------------- hourly_seasonality

def hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile (dow x hour heatmap of event
    volume and purchase revenue) — the capacity-planning /
    anomaly-baseline view every ops dashboard opens with. One
    grouped pass to a fixed 7x24-bucket frame. Convention pinned
    cross-engine: dow 0 = Sunday (Spark dayofweek()-1 == DuckDB
    dayofweek())."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy((F.dayofweek("ts") - 1).alias("dow"),
                       F.hour("ts").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.when(
                     F.col("event_type") == "purchase",
                     F.col("value")).otherwise(0.0)), 2)
                 .alias("purchase_revenue"))
            .orderBy("dow", "hour"))


HOURLY_SEASONALITY_ORACLE = """
SELECT dayofweek(ts) AS dow,
       CAST(hour(ts) AS INT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CASE WHEN event_type = 'purchase' THEN value
                      ELSE 0.0 END), 2) AS purchase_revenue
FROM events
GROUP BY dow, hour ORDER BY dow, hour
"""


# ------------------------------------------------------ funnel_stages

FUNNEL = ("view", "click", "purchase")


def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked
    AFTER their first view, then purchased AFTER that first qualifying
    click.

    ONE scan and ONE shuffle: per user, collect the first view time
    plus the (per-user-bounded) click/purchase timestamp lists, then
    resolve the stage chain with array filter + array_min — no
    per-stage re-scan or join. If per-user event counts were
    unbounded, the staged aggregate-join formulation would replace
    the collect_list."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "ts")
    per_user = (ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == FUNNEL[0],
                     F.col("ts"))).alias("t_view"),
        F.collect_list(F.when(F.col("event_type") == FUNNEL[1],
                              F.col("ts"))).alias("clicks"),
        F.collect_list(F.when(F.col("event_type") == FUNNEL[2],
                              F.col("ts"))).alias("purchases")))
    staged = (per_user
              .withColumn("t_click", F.expr(
                  "array_min(filter(clicks, c -> c > t_view))"))
              .withColumn("t_purchase", F.expr(
                  "array_min(filter(purchases, p -> p > t_click))")))
    return staged.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"))


FUNNEL_ORACLE = f"""
WITH v AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = '{FUNNEL[0]}' GROUP BY 1),
c AS (SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = '{FUNNEL[1]}' GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = '{FUNNEL[2]}' GROUP BY 1)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase
"""


# --------------------------------------------------- cohort_retention

RETENTION_MAX_WEEKS = 4


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention by first-seen cohort: each user's cohort is
    the day of their first event; activity weeks are day-offsets / 7
    from that anchor. The first-seen anchor is USER-cardinality, so it
    joins back onto events with a plain equi-join (both sides already
    key on user_id; AQE broadcasts only if runtime stats allow —
    billions of users at 100x must shuffle, not broadcast); the
    distinct-user count shuffles on the (cohort, week) pair."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    week = F.floor(F.datediff(F.col("d"), F.col("first_d")) / 7)
    return (ev.join(first, "user_id")
            .withColumn("week_offset", week.cast("int"))
            .filter(F.col("week_offset") < RETENTION_MAX_WEEKS)
            .groupBy(F.date_format("first_d", "yyyy-MM-dd")
                     .alias("cohort_day"), "week_offset")
            .agg(F.countDistinct("user_id").alias("n_users"))
            .orderBy("cohort_day", "week_offset"))


RETENTION_ORACLE = f"""
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT user_id, min(d) AS first_d FROM ev GROUP BY 1)
SELECT strftime(first_d, '%Y-%m-%d') AS cohort_day,
       CAST(floor(date_diff('day', first_d, d) / 7.0) AS INT)
         AS week_offset,
       count(DISTINCT ev.user_id) AS n_users
FROM ev JOIN f ON ev.user_id = f.user_id
WHERE floor(date_diff('day', first_d, d) / 7.0) < {RETENTION_MAX_WEEKS}
GROUP BY cohort_day, week_offset
ORDER BY cohort_day, week_offset
"""


# ------------------------------------------------------ peak_concurrency

CONCURRENCY_TTL_MIN = 5


def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of concurrently-active events per day, EXACT,
    where each event is active for a 5-minute TTL — the classic
    +1/-1 interval sweep, made distributed: a naive sweep needs one
    global running sum over every delta (single-partition at scale),
    so instead each MINUTE bucket computes its within-minute max
    prefix in parallel (window partitioned by minute), and only the
    bounded minute frame (cardinality = wall-clock span, not data
    size) takes a serial cumulative pass. peak(day) = max over its
    minutes of (running count before the minute + within-minute max
    prefix) — identical to the flat sweep's answer."""
    ev = load_table(spark, "events", sf_dir)
    return peak_concurrency_frame(ev)


def peak_concurrency_frame(ev: DataFrame) -> DataFrame:
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        (F.col("ts") + F.expr(f"INTERVAL {CONCURRENCY_TTL_MIN} MINUTES"))
        .alias("t"),
        F.lit(-1).alias("delta"))
    d = (starts.unionByName(ends)
         .withColumn("m", F.date_trunc("minute", F.col("t"))))
    # ends sort before starts at the same instant (delta -1 < +1):
    # an interval [t, t+ttl) is not concurrent with one starting at
    # its exact end
    wmin = (Window.partitionBy("m").orderBy("t", "delta")
            .rowsBetween(Window.unboundedPreceding, 0))
    per_row = d.withColumn("pfx", F.sum("delta").over(wmin))
    per_min = (per_row.groupBy("m")
               .agg(F.sum("delta").alias("tot"),
                    F.max("pfx").alias("maxpfx")))
    wcum = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    g = (per_min
         .withColumn("before",
                     F.coalesce(F.sum("tot").over(wcum),
                                F.lit(0).cast("long")))
         .withColumn("peak_at", F.col("before") + F.col("maxpfx")))
    return (g.groupBy(F.date_format(F.date_trunc("day", "m"),
                                    "yyyy-MM-dd").alias("day"))
            .agg(F.max("peak_at").alias("peak"))
            .orderBy("day"))


PEAK_CONCURRENCY_ORACLE = f"""
WITH d AS (
  SELECT ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT ts + INTERVAL {CONCURRENCY_TTL_MIN} MINUTE, -1 FROM events),
r AS (
  SELECT t, sum(delta) OVER (ORDER BY t, delta
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM d)
SELECT strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
       CAST(max(c) AS BIGINT) AS peak
FROM r GROUP BY 1 ORDER BY 1
"""


def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile (rank) normalization of document length —
    the score-calibration step before mixing quality signals across
    sources with different scales: qn = percent_rank within source,
    uniform on [0,1] per source by construction. One partitioned
    window (source-keyed — parallel across sources); output sampled
    to the deciles of one source plus global calibration stats would
    be data-scale, so the query returns the per-source uniformity
    check: mean and variance of the normalized score (~0.5 and
    ~1/12)."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.asc("n_chars"), F.asc("doc_id"))
    qn = (docs.select("source",
                      F.percent_rank().over(w).alias("qn")))
    return (qn.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("qn"), 4).alias("mean_qn"),
                 F.round(F.var_pop("qn"), 4).alias("var_qn"))
            .orderBy("source"))


QUANTILE_NORMALIZE_ORACLE = """
WITH qn AS (
  SELECT source,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY n_chars ASC, doc_id ASC) AS qn
  FROM documents)
SELECT source, count(*) AS n,
       round(avg(qn), 4) AS mean_qn,
       round(var_pop(qn), 4) AS var_qn
FROM qn GROUP BY source ORDER BY source
"""


QUERIES = {
    "sessionize": sessionize,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "topk_per_group": topk_per_group,
    "q2_cheapest_supplier": q2_cheapest_supplier,
    "q4_order_priority": q4_order_priority,
    "q10_returned_items": q10_returned_items,
    "rollup_agg": rollup_agg,
    "percentiles_exact": percentiles_exact,
    "window_running": window_running,
    "asof_join": asof_join,
    "range_join_bucketed": range_join_bucketed,
    "q7_nation_trade": q7_nation_trade,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive": q19_disjunctive,
    "q22_idle_customers": q22_idle_customers,
    "q8_market_share": q8_market_share,
    "cube_agg": cube_agg,
    "set_ops": set_ops,
    "above_avg_orders": above_avg_orders,
    "ntile_deciles": ntile_deciles,
    "sql_interface": sql_interface,
    "rolling_window_features": rolling_window_features,
    "forward_fill": forward_fill,
    "window_ranks": window_ranks,
    "corr_stats": corr_stats,
    "grouping_sets_agg": grouping_sets_agg,
    "unpivot_melt": unpivot_melt,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q12_priority_lines": q12_priority_lines,
    "q13_customer_distribution": q13_customer_distribution,
    "q16_supplier_variety": q16_supplier_variety,
    "q17_small_quantity": q17_small_quantity,
    "q20_bulk_suppliers": q20_bulk_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "event_transitions": event_transitions,
    "first_touch_attribution": first_touch_attribution,
    "weighted_median": weighted_median,
    "top_paths": top_paths,
    "drift_psi": drift_psi,
    "time_weighted_avg": time_weighted_avg,
    "ohlc_daily": ohlc_daily,
    "linear_interpolate": linear_interpolate,
    "rfm_segmentation": rfm_segmentation,
    "time_to_convert": time_to_convert,
    "basket_lift": basket_lift,
    "dsl_frequent_item_sets": dsl_frequent_item_sets,
    "benford_digits": benford_digits,
    "pareto_cumshare": pareto_cumshare,
    "yoy_growth": yoy_growth,
    "dq_referential_audit": dq_referential_audit,
    "skew_key_report": skew_key_report,
    "hourly_seasonality": hourly_seasonality,
    "funnel_stages": funnel_stages,
    "cohort_retention": cohort_retention,
    "peak_concurrency": peak_concurrency,
    "quantile_normalize": quantile_normalize,
}


ORACLES = {
    "sessionize": SESSIONIZE_ORACLE,
    "q1_pricing_summary": Q1_ORACLE,
    "q3_shipping_priority": Q3_ORACLE,
    "q5_local_supplier": Q5_ORACLE,
    "q6_forecast_revenue": Q6_ORACLE,
    "topk_per_group": TOPK_ORACLE,
    "q2_cheapest_supplier": Q2_ORACLE,
    "q4_order_priority": Q4_ORACLE,
    "q10_returned_items": Q10_ORACLE,
    "rollup_agg": ROLLUP_ORACLE,
    "percentiles_exact": PERCENTILES_ORACLE,
    "window_running": WINDOW_RUNNING_ORACLE,
    "asof_join": ASOF_ORACLE,
    "range_join_bucketed": RANGE_JOIN_ORACLE,
    "q7_nation_trade": Q7_ORACLE,
    "q14_promo_revenue": Q14_ORACLE,
    "q15_top_supplier": Q15_ORACLE,
    "q18_large_orders": Q18_ORACLE,
    "q19_disjunctive": Q19_ORACLE,
    "q22_idle_customers": Q22_ORACLE,
    "q8_market_share": Q8_ORACLE,
    "cube_agg": CUBE_ORACLE,
    "set_ops": SET_OPS_ORACLE,
    "above_avg_orders": ABOVE_AVG_ORACLE,
    "ntile_deciles": NTILE_ORACLE,
    "sql_interface": SQL_INTERFACE_ORACLE,
    "rolling_window_features": ROLLING_WINDOW_ORACLE,
    "forward_fill": FORWARD_FILL_ORACLE,
    "window_ranks": WINDOW_RANKS_ORACLE,
    "corr_stats": CORR_STATS_ORACLE,
    "grouping_sets_agg": GROUPING_SETS_ORACLE,
    "unpivot_melt": UNPIVOT_ORACLE,
    "q9_product_profit": Q9_ORACLE,
    "q11_important_parts": Q11_ORACLE,
    "q12_priority_lines": Q12_ORACLE,
    "q13_customer_distribution": Q13_ORACLE,
    "q16_supplier_variety": Q16_ORACLE,
    "q17_small_quantity": Q17_ORACLE,
    "q20_bulk_suppliers": Q20_ORACLE,
    "q21_waiting_suppliers": Q21_ORACLE,
    "event_transitions": EVENT_TRANSITIONS_ORACLE,
    "first_touch_attribution": FIRST_TOUCH_ORACLE,
    "weighted_median": WEIGHTED_MEDIAN_ORACLE,
    "top_paths": TOP_PATHS_ORACLE,
    "drift_psi": DRIFT_PSI_ORACLE,
    "time_weighted_avg": TIME_WEIGHTED_AVG_ORACLE,
    "ohlc_daily": OHLC_DAILY_ORACLE,
    "linear_interpolate": LINEAR_INTERPOLATE_ORACLE,
    "rfm_segmentation": RFM_SEGMENTATION_ORACLE,
    "time_to_convert": TIME_TO_CONVERT_ORACLE,
    "basket_lift": BASKET_LIFT_ORACLE,
    "dsl_frequent_item_sets": DSL_FREQUENT_ITEM_SETS_ORACLE,
    "benford_digits": _benford_oracle(),
    "pareto_cumshare": PARETO_ORACLE,
    "yoy_growth": YOY_ORACLE,
    "dq_referential_audit": DQ_AUDIT_ORACLE,
    "skew_key_report": SKEW_KEY_REPORT_ORACLE,
    "hourly_seasonality": HOURLY_SEASONALITY_ORACLE,
    "funnel_stages": FUNNEL_ORACLE,
    "cohort_retention": RETENTION_ORACLE,
    "peak_concurrency": PEAK_CONCURRENCY_ORACLE,
    "quantile_normalize": QUANTILE_NORMALIZE_ORACLE,
}
