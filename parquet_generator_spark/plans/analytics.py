"""Headline analytics queries, declared as DataFrame plans.

These exercise the query-engine surface (scan+pushdown, multi-join,
agg, window, sessionization) on the TPC-H-ish test tables. Every
computed column is aliased to match the DuckDB oracle SQL; double
aggregates are rounded to 2 decimals on both sides so the
order-insensitive value hash is immune to FP summation order.

Scale notes: only the fixed-cardinality dims (region=5, nation=25)
carry an explicit broadcast hint. customer/supplier/part grow
linearly with SF, so their join strategy is left to AQE: broadcast
while under the threshold, shuffle-hash with skew-splitting beyond
it — the plan that still works when lineitem is 100 TB. Filters are
plain column predicates so they reach the parquet scan as
PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table


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

QUERIES = {
    "sessionize": sessionize,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "topk_per_group": topk_per_group,
}

ORACLES = {
    "sessionize": SESSIONIZE_ORACLE,
    "q1_pricing_summary": Q1_ORACLE,
    "q3_shipping_priority": Q3_ORACLE,
    "q5_local_supplier": Q5_ORACLE,
    "q6_forecast_revenue": Q6_ORACLE,
    "topk_per_group": TOPK_ORACLE,
}
