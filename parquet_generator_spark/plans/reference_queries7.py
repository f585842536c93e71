"""ES-DSL sixth tranche: the statistical metric aggs — `boxplot`,
`median_absolute_deviation`, `string_stats`, `t_test` (unpaired
Welch), and `matrix_stats` — the analyst-facing tail of the ES agg
surface.

Scale posture: every query is one or two grouped/scalar aggregate
passes (partial-aggregate-first); the exact medians/quantiles here
are the oracle-checkable form — at 100 TB the documented swap is
percentile_approx (t-digest), same as percentiles_exact /
approx_sketches. No windows, no self-joins; the MAD two-pass joins
on group keys (group-cardinality, broadcastable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def dsl_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `boxplot` agg per event_type bucket: min / q1 / q2 / q3 /
    max of value. ES computes the quartiles with a t-digest; this is
    the exact interpolated form both engines reproduce bit-equal
    after rounding (the documented approx swap at corpus scale)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(F.col("event_type").alias("key"))
            .agg(F.round(F.min("value"), 4).alias("v_min"),
                 F.expr("percentile(value, array(0.25, 0.5, 0.75))")
                 .alias("q"),
                 F.round(F.max("value"), 4).alias("v_max"),
                 F.count(F.lit(1)).alias("doc_count"))
            .select("key", "doc_count", "v_min",
                    F.round(F.col("q")[0], 4).alias("q1"),
                    F.round(F.col("q")[1], 4).alias("q2"),
                    F.round(F.col("q")[2], 4).alias("q3"),
                    "v_max")
            .orderBy("key"))


DSL_BOXPLOT_ORACLE = """
SELECT event_type AS key, count(*) AS doc_count,
       round(min(value), 4) AS v_min,
       round(quantile_cont(value, 0.25), 4) AS q1,
       round(quantile_cont(value, 0.5), 4) AS q2,
       round(quantile_cont(value, 0.75), 4) AS q3,
       round(max(value), 4) AS v_max
FROM events GROUP BY key ORDER BY key
"""


def dsl_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `median_absolute_deviation` agg per event_type: exact
    median(|x - median(x)|) — two grouped passes joined on the
    bucket key (group-cardinality join, broadcast side)."""
    ev = load_table(spark, "events", sf_dir)
    med = (ev.groupBy("event_type")
           .agg(F.expr("percentile(value, 0.5)").alias("med")))
    return (ev.join(F.broadcast(med), "event_type")
            .groupBy(F.col("event_type").alias("key"))
            .agg(F.round(F.expr("percentile(abs(value - med), 0.5)"),
                         4).alias("mad"),
                 F.round(F.min("med"), 4).alias("median"))
            .orderBy("key"))


DSL_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type)
SELECT e.event_type AS key,
       round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad,
       round(min(m.med), 4) AS median
FROM events e JOIN med m USING (event_type)
GROUP BY key ORDER BY key
"""


def dsl_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `string_stats` (with show_distribution's entropy) over the
    analyzed event_type field: count, min/max/avg length in one
    scalar aggregate, and the Shannon entropy of the corpus-wide
    CHARACTER distribution from one (char)-keyed aggregation over a
    sequence explode (no UDF; the total char count enters as a scalar
    subquery — no global window)."""
    from parquet_generator_spark.operators import cache
    from parquet_generator_spark.operators.util import broadcast_scalars
    ev = load_table(spark, "events", sf_dir)
    lens = ev.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.min(F.length("event_type")).alias("min_length"),
        F.max(F.length("event_type")).alias("max_length"),
        F.round(F.avg(F.length("event_type")), 4).alias("avg_length"))
    # the char-distribution model is alphabet-bounded after the
    # groupBy — checkpoint it so the total subquery and the entropy
    # aggregate share ONE explode pass (round 14: un-barriered, the
    # explode+groupBy lineage re-ran for the entropy branch). Lazy:
    # the first consumer is the full-scan sum aggregate.
    chars = cache.checkpoint(
        ev.select(F.explode(F.expr(
            "transform(sequence(1, length(event_type)), "
            "i -> substring(event_type, i, 1))")).alias("ch"))
        .groupBy("ch").agg(F.count(F.lit(1)).alias("n")), eager=False)
    total = F.col("total")
    ent = broadcast_scalars(
        chars, chars.agg(F.sum("n").cast("double").alias("total"))
    ).agg(F.round(-F.sum((F.col("n") / total)
                         * F.log2(F.col("n") / total)), 4)
          .alias("entropy"))
    return broadcast_scalars(lens, ent)


DSL_STRING_STATS_ORACLE = """
WITH chars AS (
  -- per-row generator (unnest of a list-range), so the distribution
  -- is never truncated however long event_type grows
  SELECT substr(event_type, CAST(i AS INT) + 1, 1) AS ch, count(*) AS n
  FROM (SELECT event_type, unnest(range(length(event_type))) AS i
        FROM events)
  GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM chars)
SELECT (SELECT count(*) FROM events) AS doc_count,
       (SELECT min(length(event_type)) FROM events) AS min_length,
       (SELECT max(length(event_type)) FROM events) AS max_length,
       (SELECT round(avg(length(event_type)), 4) FROM events)
         AS avg_length,
       round(-sum((n / t) * log2(n / t)), 4) AS entropy
FROM chars, tot
"""


T_A, T_B = "purchase", "click"


def dsl_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `t_test` agg (unpaired, heteroscedastic — Welch's t) on
    value between two event-type populations: one conditional-
    aggregate scan, the t statistic assembled from the six scalar
    moments."""
    ev = load_table(spark, "events", sf_dir)
    a = F.when(F.col("event_type") == T_A, F.col("value"))
    b = F.when(F.col("event_type") == T_B, F.col("value"))
    agg = ev.agg(
        F.count(a).alias("n1"), F.avg(a).alias("m1"),
        F.var_samp(a).alias("v1"),
        F.count(b).alias("n2"), F.avg(b).alias("m2"),
        F.var_samp(b).alias("v2"))
    t = ((F.col("m1") - F.col("m2"))
         / F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")))
    return agg.select(
        "n1", "n2",
        F.round("m1", 4).alias("mean_a"),
        F.round("m2", 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"))


DSL_T_TEST_ORACLE = f"""
WITH s AS (
  SELECT count(*) FILTER (event_type = '{T_A}') AS n1,
         avg(value) FILTER (event_type = '{T_A}') AS m1,
         var_samp(value) FILTER (event_type = '{T_A}') AS v1,
         count(*) FILTER (event_type = '{T_B}') AS n2,
         avg(value) FILTER (event_type = '{T_B}') AS m2,
         var_samp(value) FILTER (event_type = '{T_B}') AS v2
  FROM events)
SELECT n1, n2, round(m1, 4) AS mean_a, round(m2, 4) AS mean_b,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat
FROM s
"""


def dsl_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `matrix_stats` over [l_quantity, l_extendedprice]: per-field
    count/mean/variance plus the cross-field covariance and
    correlation, one aggregate pass. (ES also reports skewness/
    kurtosis; omitted — their population-vs-sample conventions
    differ between engines, and the oracle gate hashes values.)"""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("mean_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
        .alias("covariance"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
        .alias("correlation"))


DSL_MATRIX_STATS_ORACLE = """
SELECT count(*) AS n,
       round(avg(l_quantity), 4) AS mean_qty,
       round(var_samp(l_quantity), 4) AS var_qty,
       round(avg(l_extendedprice), 2) AS mean_price,
       round(var_samp(l_extendedprice), 2) AS var_price,
       round(covar_samp(l_quantity, l_extendedprice), 2)
         AS covariance,
       round(corr(l_quantity, l_extendedprice), 6) AS correlation
FROM lineitem
"""

QUERIES.update({
    "dsl_boxplot": dsl_boxplot,
    "dsl_mad": dsl_mad,
    "dsl_string_stats": dsl_string_stats,
    "dsl_t_test": dsl_t_test,
    "dsl_matrix_stats": dsl_matrix_stats,
})
ORACLES.update({
    "dsl_boxplot": DSL_BOXPLOT_ORACLE,
    "dsl_mad": DSL_MAD_ORACLE,
    "dsl_string_stats": DSL_STRING_STATS_ORACLE,
    "dsl_t_test": DSL_T_TEST_ORACLE,
    "dsl_matrix_stats": DSL_MATRIX_STATS_ORACLE,
})
