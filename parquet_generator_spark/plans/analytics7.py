"""Analytics wave 7: revenue-distribution diagnostics.

- ``benford_digits``: leading-digit distribution of order totals vs
  Benford's law with per-digit chi-square contributions — the
  classic anomaly/fraud screen over financial facts.
- ``pareto_cumshare``: revenue concentration by customer decile
  (the 80/20 audit). Deciles are assigned by comparing against the
  nine exact revenue percentiles — computed once and attached as a
  scalar subquery — NOT by a global sort/ntile over the customer
  frame, so the plan stays scale-safe (a billion customers shuffle
  once for the per-customer aggregate and once for the 10-bucket
  groupBy; nothing orders the full frame).
- ``yoy_growth``: year-over-year revenue growth via a self-join of
  the bounded per-year aggregate on year = year+1 (no window, no
  unpartitioned sort; the joined frames are year-cardinality).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


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


# ---------------------------------------------- incremental_agg_merge

_IVM_CUTOFF = "2024-01-20"


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a (day, event_type) revenue
    aggregate: the SNAPSHOT partition (ts < cutoff) and the DELTA
    batch (ts >= cutoff) each aggregate to mergeable partial state
    (count, sum) and the view updates by RE-AGGREGATING the union of
    partials — the algebra Catalyst's map-side combine uses, spelled
    out as the warehouse IVM pattern (never re-scan the snapshot's
    raw rows). The oracle recomputes the view from raw data, so the
    merge is proven equivalent to full recomputation."""
    ev = load_table(spark, "events", sf_dir)
    day = F.date_format(F.date_trunc("day", F.col("ts")),
                        "yyyy-MM-dd HH:mm:ss").alias("day")

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy(day, "event_type")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("value").alias("vsum")))

    cut = F.lit(_IVM_CUTOFF).cast("timestamp")
    snap = partial(ev.filter(F.col("ts") < cut))
    delta = partial(ev.filter(F.col("ts") >= cut))
    return (snap.unionByName(delta)
            .groupBy("day", "event_type")
            .agg(F.sum("cnt").alias("n"),
                 F.round(F.sum("vsum"), 2).alias("revenue"))
            .orderBy("day", "event_type"))


IVM_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS revenue
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


QUERIES.update({
    "benford_digits": benford_digits,
    "pareto_cumshare": pareto_cumshare,
    "yoy_growth": yoy_growth,
    "dq_referential_audit": dq_referential_audit,
    "incremental_agg_merge": incremental_agg_merge,
})
ORACLES.update({
    "benford_digits": _benford_oracle(),
    "pareto_cumshare": PARETO_ORACLE,
    "yoy_growth": YOY_ORACLE,
    "dq_referential_audit": DQ_AUDIT_ORACLE,
    "incremental_agg_merge": IVM_ORACLE,
})


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


QUERIES.update({"skew_key_report": skew_key_report})
ORACLES.update({"skew_key_report": SKEW_KEY_REPORT_ORACLE})


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


QUERIES.update({"hourly_seasonality": hourly_seasonality})
ORACLES.update({"hourly_seasonality": HOURLY_SEASONALITY_ORACLE})
