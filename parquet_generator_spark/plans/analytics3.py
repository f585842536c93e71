"""Third wave of analytics-engine queries: multi-fact nation trade,
conditional-aggregate ratios, argmax via scalar aggregate, HAVING-on-
aggregate joins, disjunctive multi-table predicates, and scalar-
subquery + anti-join composition.

These are TPC-H Q7/Q14/Q15/Q18/Q19/Q22 flavors adapted to the test
schema (no partsupp/shipmode/phone columns). Scale posture: the
fact-fact joins (lineitem-orders) shuffle on their keys under AQE;
nation is broadcast; scalar aggregates are computed once and
broadcast-cross-joined rather than re-evaluated per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

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


QUERIES = {
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
}

ORACLES = {
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
}
