"""ES DSL aggregations: bucket, metric and pipeline aggregations, geo
grids and TSDS counter aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.esdsl import search
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.plans.esdsl_queries import (
    GEOHASH_PRECISION,
    LAT_D,
    LAT_S,
    LON_D,
    LON_S,
    NESTED_Q,
    _GH_ALPHABET,
    _haversine_sql,
    _nested_parents,
)
from parquet_generator_spark.plans.spec import dsl_searches
from parquet_generator_spark.sources.catalog import load_table


DSL_DATE_HISTOGRAM_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS key,
       count(*) AS doc_count,
       round(avg(value), 4) AS avg_value
FROM events WHERE event_type = 'purchase'
GROUP BY key ORDER BY key ASC
"""


DSL_STATS_ORACLE = """
SELECT count(value)          AS count,
       round(min(value), 4)  AS min,
       round(max(value), 4)  AS max,
       round(avg(value), 4)  AS avg,
       round(sum(value), 4)  AS sum
FROM events
"""


DSL_COMPOSITE_ORACLE = """
SELECT user_id AS key, count(*) AS doc_count,
       round(avg(value), 4) AS avg_value,
       round(sum(value), 4) AS sum_value
FROM events
WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-08'
GROUP BY key ORDER BY doc_count DESC, key ASC
LIMIT 5
"""


# Nested bool trees, sibling metric aggregations, filter/filters/range
# bucket aggs, percentiles, and top_hits — the full shape of search
# bodies the reference's interactive loop could issue beyond its own
# match_phrase + terms agg (Bootstrap.java:196-219,
# EsParquetWriter.java:69).
#
# All translate to single-pass declarative plans: sibling metrics are
# one aggregate, overlapping buckets explode map-side (one shuffle),
# top_hits is a broadcast bucket join + one window.


DSL_MULTI_METRIC_ORACLE = """
SELECT max(value) AS max_value,
       round(sum(value), 4) AS total_value,
       count(DISTINCT user_id) AS n_users,
       count(event_id) AS n_events
FROM events WHERE event_type = 'purchase'
"""


DSL_FILTER_AGG_ORACLE = """
SELECT count(*) AS doc_count,
       round(avg(value), 4) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events WHERE event_type = 'purchase' AND value >= 100.0
"""


DSL_FILTERS_BUCKETS_ORACLE = """
SELECT CASE WHEN value < 50.0 THEN 'low'
            WHEN value < 150.0 THEN 'mid' ELSE 'high' END AS key,
       count(*) AS doc_count,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY key ORDER BY key
"""


DSL_RANGE_AGG_ORACLE = """
SELECT CASE WHEN value < 50.0 THEN 'low'
            WHEN value < 150.0 THEN 'mid' ELSE 'high' END AS key,
       count(*) AS doc_count,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY key ORDER BY key
"""


DSL_PERCENTILES_ORACLE = """
SELECT round(quantile_cont(value, 0.5), 4)  AS latency_p50,
       round(quantile_cont(value, 0.9), 4)  AS latency_p90,
       round(quantile_cont(value, 0.99), 4) AS latency_p99
FROM events WHERE event_type = 'view'
"""


DSL_TOP_HITS_ORACLE = """
WITH b AS (
  SELECT event_type AS key, count(*) AS doc_count
  FROM events GROUP BY key
  ORDER BY doc_count DESC, key ASC LIMIT 10),
h AS (
  SELECT event_type AS key, event_id, user_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id ASC) AS hit_rank
  FROM events)
SELECT b.key AS key, b.doc_count, h.hit_rank, h.event_id, h.user_id,
       h.value
FROM b JOIN h ON b.key = h.key
WHERE h.hit_rank <= 3
ORDER BY b.key, h.hit_rank
"""


DSL_TERMS_NESTED_ORACLE = """
WITH pairs AS (
  SELECT event_type AS key, user_id AS sub_key,
         count(*) AS sub_doc_count
  FROM events GROUP BY key, sub_key),
outer_b AS (
  SELECT key, CAST(sum(sub_doc_count) AS BIGINT) AS doc_count
  FROM pairs GROUP BY key
  ORDER BY doc_count DESC, key ASC LIMIT 10),
ranked AS (
  SELECT p.key, o.doc_count, p.sub_key, p.sub_doc_count,
         row_number() OVER (PARTITION BY p.key
                            ORDER BY p.sub_doc_count DESC,
                                     p.sub_key ASC) AS sub_rank
  FROM pairs p JOIN outer_b o ON p.key = o.key)
SELECT key, doc_count, sub_key, sub_doc_count, sub_rank
FROM ranked WHERE sub_rank <= 3
ORDER BY doc_count DESC, key ASC, sub_rank
"""


DSL_COMPOSITE_PAGED_ORACLE = """
SELECT event_type AS etype, user_id AS uid, count(*) AS doc_count,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY etype, uid
HAVING etype > 'click' OR (etype = 'click' AND uid > 5)
ORDER BY etype ASC, uid ASC
LIMIT 8
"""


DSL_SIGNIFICANT_TERMS_ORACLE = """
WITH per_key AS (
  SELECT event_type AS key,
         count(*) FILTER (WHERE value >= 150.0) AS doc_count,
         count(*) AS bg_count
  FROM events GROUP BY key),
t AS (SELECT sum(doc_count) AS fg_total, sum(bg_count) AS bg_total
      FROM per_key)
SELECT key, doc_count, bg_count,
       round((doc_count * 1.0 / fg_total)
             / (bg_count * 1.0 / bg_total), 4) AS score
FROM per_key, t WHERE doc_count > 0
ORDER BY score DESC, key ASC LIMIT 10
"""


# ES-DSL pipeline aggregations: second-pass computations over the
# bucket frame (derivative, cumulative_sum, moving average,
# bucket_script/bucket_selector, bucket_sort, and sibling *_bucket
# reductions).
#
# Generalizes the reference's aggregation usage (terms agg,
# Bootstrap.java:196-219) to the pipeline-agg family of the ES DSL.
# Scale posture: every pipeline op runs AFTER the grouped aggregate, on
# bucket-cardinality rows (days/bins — bounded, not data-scale), as a
# single-partition window. The corpus-sized work is the one shuffle the
# parent aggregation already does.


_DAY_KEY = "strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')"


DSL_DERIVATIVE_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key,
         count(*) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT key, doc_count, revenue,
       round(revenue - lag(revenue) OVER (ORDER BY key), 4) AS rev_deriv,
       round(sum(revenue) OVER (ORDER BY key
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS rev_cumsum
FROM b ORDER BY key
"""


DSL_MOVING_AVG_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key, count(*) AS doc_count
  FROM events WHERE event_type = 'click'
  GROUP BY key)
SELECT key, doc_count,
       round(avg(doc_count) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS vol_ma7
FROM b ORDER BY key
"""


BUSY_DAY_MIN_DOCS = 8


DSL_BUCKET_SCRIPT_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key,
         count(*) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT key, doc_count, revenue,
       round(revenue / doc_count, 4) AS aov
FROM b WHERE doc_count >= {BUSY_DAY_MIN_DOCS}
ORDER BY key
"""


TOP_DAYS = 5


DSL_BUCKET_SORT_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key,
         count(*) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT key, doc_count, revenue
FROM b ORDER BY revenue DESC, key LIMIT {TOP_DAYS}
"""


DSL_AVG_BUCKET_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key, round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT round(avg(revenue), 4) AS mean_daily_rev,
       max(revenue) AS peak_daily_rev,
       min(revenue) AS low_daily_rev,
       round(sum(revenue), 4) AS total_rev
FROM b
"""


DSL_ZEROFILL_ORACLE = f"""
WITH f AS (SELECT * FROM events
           WHERE event_type = 'purchase' AND value > 150),
b AS (
  SELECT {_DAY_KEY} AS key, count(*) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM f GROUP BY key),
axis AS (
  SELECT strftime(unnest(generate_series(
           date_trunc('day', min(ts)), date_trunc('day', max(ts)),
           INTERVAL 1 DAY)), '%Y-%m-%d %H:%M:%S') AS key
  FROM f)
SELECT axis.key, coalesce(b.doc_count, 0) AS doc_count, b.revenue
FROM axis LEFT JOIN b ON axis.key = b.key
ORDER BY axis.key
"""


HIST_INTERVAL = 50


DSL_HISTOGRAM_ORACLE = f"""
SELECT floor(value / {HIST_INTERVAL}) * {HIST_INTERVAL} AS key,
       count(*) AS doc_count, round(avg(value), 4) AS avg_value
FROM events WHERE event_type = 'purchase'
GROUP BY key ORDER BY key ASC
"""


DSL_TERMS_ORDER_ORACLE = """
SELECT event_type AS key, count(*) AS doc_count,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY key
ORDER BY avg_value DESC, key ASC
LIMIT 3
"""


DSL_GLOBAL_ORACLE = """
SELECT (SELECT round(avg(value), 4) FROM events
        WHERE event_type = 'purchase') AS purch_avg,
       (SELECT count(*) FROM events) AS all_docs_doc_count,
       (SELECT round(avg(value), 4) FROM events) AS all_docs_avg_value
"""


DSL_DATE_RANGE_ORACLE = """
WITH f AS (SELECT * FROM events WHERE event_type = 'purchase'),
b AS (
  SELECT 'wk1' AS key, count(*) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM f WHERE ts < TIMESTAMP '2024-01-08'
  UNION ALL
  SELECT 'wk2', count(*), round(sum(value), 4)
  FROM f WHERE ts >= TIMESTAMP '2024-01-08'
    AND ts < TIMESTAMP '2024-01-15'
  UNION ALL
  SELECT 'rest', count(*), round(sum(value), 4)
  FROM f WHERE ts >= TIMESTAMP '2024-01-15')
SELECT key, doc_count, revenue FROM b
WHERE doc_count > 0 ORDER BY key
"""


DSL_EXTENDED_STATS_ORACLE = """
SELECT count(value) AS count,
       round(min(value), 4) AS min,
       round(max(value), 4) AS max,
       round(avg(value), 4) AS avg,
       round(sum(value), 4) AS sum,
       round(sum(value * value), 4) AS sum_of_squares,
       round(var_pop(value), 4) AS variance,
       round(stddev_pop(value), 4) AS std_deviation
FROM events WHERE event_type = 'view'
"""


DSL_PERCENTILE_RANKS_ORACLE = """
SELECT round(100.0 * avg(CASE WHEN value <= 50 THEN 1.0 ELSE 0.0 END), 4)
         AS vr_p50,
       round(100.0 * avg(CASE WHEN value <= 150 THEN 1.0 ELSE 0.0 END), 4)
         AS vr_p150,
       round(100.0 * avg(CASE WHEN value <= 300 THEN 1.0 ELSE 0.0 END), 4)
         AS vr_p300
FROM events WHERE event_type = 'view'
"""


HIGH_VALUE = 300.0


DSL_MISSING_ORACLE = f"""
SELECT count(*) AS doc_count,
       round(avg(value), 4) AS avg_small
FROM events
WHERE event_type = 'purchase' AND value <= {HIGH_VALUE}
"""


# weighted_avg / top_metrics metrics, rare_terms / adjacency_matrix
# buckets, and the serial_diff / stats_bucket / cumulative_cardinality
# pipeline family.
#
# Generalizes the reference's aggregation usage (terms agg,
# Bootstrap.java:196-219) to the remaining commonly-used ES agg kinds.
# Scale posture: every new kind is one grouped pass over the filtered
# scan (weighted_avg/top_metrics fold into the same aggregate;
# rare_terms filters post-agg on key-cardinality rows; adjacency_matrix
# is a constant-factor map-side explode; cumulative_cardinality is a
# value-keyed shuffle plus a bucket-cardinality window — no per-bucket
# distinct-set state, no second scan).


DSL_WEIGHTED_AVG_ORACLE = """
SELECT round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
         AS wavg_price
FROM lineitem WHERE l_returnflag = 'R'
"""


DSL_TOP_METRICS_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
counts AS (
  SELECT event_type, count(*) AS doc_count FROM events GROUP BY 1)
SELECT c.event_type AS key, c.doc_count, r.value AS last_value
FROM counts c JOIN ranked r ON r.event_type = c.event_type AND r.rn = 1
ORDER BY c.doc_count DESC, key ASC LIMIT 10
"""


DSL_RARE_TERMS_ORACLE = """
SELECT concat(user_id, ':', strftime(ts, '%Y-%m-%d')) AS key,
       count(*) AS doc_count,
       round(sum(value), 4) AS spend
FROM events WHERE event_type = 'purchase'
GROUP BY 1 HAVING count(*) <= 1
ORDER BY doc_count ASC, key ASC
"""


DSL_SERIAL_DIFF_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key,
         count(*) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT key, doc_count, revenue,
       round(revenue - lag(revenue, 7) OVER (ORDER BY key), 4) AS wow
FROM b ORDER BY key
"""


DSL_STATS_BUCKET_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key, round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT count(revenue) AS day_stats_count,
       round(min(revenue), 4) AS day_stats_min,
       round(max(revenue), 4) AS day_stats_max,
       round(avg(revenue), 4) AS day_stats_avg,
       round(sum(revenue), 4) AS day_stats_sum
FROM b
"""


DSL_CUMULATIVE_CARDINALITY_ORACLE = f"""
WITH f AS (SELECT * FROM events WHERE event_type = 'purchase'),
b AS (
  SELECT {_DAY_KEY} AS key, count(*) AS doc_count
  FROM f GROUP BY key),
firsts AS (
  SELECT user_id, min({_DAY_KEY}) AS key FROM f GROUP BY user_id),
news AS (SELECT key, count(*) AS n FROM firsts GROUP BY key)
SELECT b.key, b.doc_count,
       CAST(sum(coalesce(n, 0)) OVER (ORDER BY b.key
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS users_seen
FROM b LEFT JOIN news ON b.key = news.key
ORDER BY b.key
"""


DSL_ADJACENCY_ORACLE = """
WITH e AS (
  SELECT value,
         value >= 300 AS big,
         event_type = 'purchase' AS purchase,
         dayofweek(ts) IN (0, 6) AS weekend
  FROM events),
b AS (
  SELECT 'big' AS key, count(*) AS doc_count,
         round(avg(value), 4) AS avg_value FROM e WHERE big
  UNION ALL
  SELECT 'big&purchase', count(*), round(avg(value), 4)
  FROM e WHERE big AND purchase
  UNION ALL
  SELECT 'big&weekend', count(*), round(avg(value), 4)
  FROM e WHERE big AND weekend
  UNION ALL
  SELECT 'purchase', count(*), round(avg(value), 4) FROM e WHERE purchase
  UNION ALL
  SELECT 'purchase&weekend', count(*), round(avg(value), 4)
  FROM e WHERE purchase AND weekend
  UNION ALL
  SELECT 'weekend', count(*), round(avg(value), 4) FROM e WHERE weekend)
SELECT key, doc_count, avg_value FROM b
WHERE doc_count > 0 ORDER BY key
"""


DSL_MULTI_TERMS_ORACLE = """
SELECT concat(lang, '|', source) AS key,
       count(*) AS doc_count,
       round(avg(n_chars), 4) AS avg_len
FROM documents GROUP BY lang, source
ORDER BY doc_count DESC, key ASC LIMIT 15
"""


AUTO_HIST_TARGET = 10


def _auto_hist_oracle(target: int) -> str:
    units = [("minute", 60), ("hour", 3600), ("day", 86400),
             ("week", 604800)]
    n_cols = ", ".join(
        f"CAST(epoch(date_trunc('{u}', hi)) - "
        f"epoch(date_trunc('{u}', lo)) AS BIGINT) // {s} + 1 AS n_{u}"
        for u, s in units)
    hist = "\n  UNION ALL ".join(
        f"SELECT '{u}' AS u, "
        f"strftime(date_trunc('{u}', ts), '%Y-%m-%d %H:%M:%S') AS key, "
        f"count(*) AS doc_count, round(sum(value), 4) AS revenue "
        f"FROM f GROUP BY 2"
        for u in ("minute", "hour", "day", "week", "month", "year"))
    return f"""
WITH f AS (SELECT * FROM events WHERE event_type = 'purchase'),
b AS (SELECT min(ts) AS lo, max(ts) AS hi FROM f),
n AS (SELECT {n_cols},
  (year(hi) * 12 + month(hi)) - (year(lo) * 12 + month(lo)) + 1
    AS n_month,
  year(hi) - year(lo) + 1 AS n_year FROM b),
sel AS (SELECT CASE
  WHEN n_minute <= {target} THEN 'minute'
  WHEN n_hour <= {target} THEN 'hour'
  WHEN n_day <= {target} THEN 'day'
  WHEN n_week <= {target} THEN 'week'
  WHEN n_month <= {target} THEN 'month'
  ELSE 'year' END AS unit FROM n),
h AS (
  {hist})
SELECT key, doc_count, revenue, u AS interval_unit
FROM h JOIN sel ON h.u = sel.unit ORDER BY key
"""


DSL_AUTO_DATE_HISTOGRAM_ORACLE = _auto_hist_oracle(AUTO_HIST_TARGET)


DSL_TERMS_INCLUDE_ORACLE = """
SELECT source AS key, count(*) AS doc_count
FROM documents
WHERE regexp_full_match(source, 'src1[0-9]')
  AND NOT regexp_full_match(source, 'src12')
GROUP BY source ORDER BY doc_count DESC, key ASC LIMIT 20
"""


def _sig_text_oracle() -> str:
    from parquet_generator_spark.operators.text import toks_duck
    return f"""
WITH tok AS (
  SELECT lang = 'en' AS fg,
         unnest(list_distinct({toks_duck('text')})) AS key
  FROM documents),
per_key AS (
  SELECT key, count(*) FILTER (fg) AS doc_count,
         count(*) AS bg_count
  FROM tok GROUP BY key),
t AS (SELECT sum(doc_count) AS fg_total, sum(bg_count) AS bg_total
      FROM per_key)
SELECT key, doc_count, bg_count,
       round((doc_count / CAST(fg_total AS DOUBLE))
             / (bg_count / CAST(bg_total AS DOUBLE)), 4) AS score
FROM per_key, t WHERE doc_count > 0
ORDER BY score DESC, key ASC LIMIT 10
"""


DSL_SIGNIFICANT_TEXT_ORACLE = _sig_text_oracle()


DSL_HISTOGRAM_ZEROFILL_ORACLE = """
WITH f AS (SELECT * FROM events
           WHERE user_id = 7 AND event_type = 'purchase'),
b AS (SELECT floor(value / 50) * 50 AS key, count(*) AS doc_count
      FROM f GROUP BY 1),
bounds AS (SELECT CAST(floor(min(value) / 50) AS BIGINT) AS lo,
                  CAST(floor(max(value) / 50) AS BIGINT) AS hi FROM f),
axis AS (SELECT i * CAST(50.0 AS DOUBLE) AS key
         FROM bounds, unnest(range(lo, hi + 1)) AS t(i))
SELECT axis.key, coalesce(b.doc_count, 0) AS doc_count
FROM axis LEFT JOIN b ON b.key = axis.key
ORDER BY axis.key
"""


def dsl_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nested` agg under the nested query: explode the kept parents'
    ``items`` (explode-on-demand — only after the parent filter) and
    run the ES terms + avg sub-agg shape over the elements."""
    parents = search(_nested_parents(spark, sf_dir),
                     {"query": NESTED_Q})
    ex = parents.select(F.explode("items").alias("it"))
    return (ex.groupBy(F.col("it.event_type").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg("it.value"), 2).alias("avg_value"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


DSL_NESTED_AGG_ORACLE = """
WITH p AS (
  SELECT user_id, CAST(ts AS DATE) AS day
  FROM events GROUP BY 1, 2
  HAVING bool_or(event_type = 'purchase' AND value >= 90.0))
SELECT e.event_type AS key, count(*) AS doc_count,
       round(avg(e.value), 2) AS avg_value
FROM events e JOIN p ON e.user_id = p.user_id
                    AND CAST(e.ts AS DATE) = p.day
GROUP BY 1 ORDER BY doc_count DESC, key ASC
"""


# The statistical metric aggs — `boxplot`, `median_absolute_deviation`,
# `string_stats`, `t_test` (unpaired Welch), and `matrix_stats` — the
# analyst-facing tail of the ES agg surface.
#
# Scale posture: every query is one or two grouped/scalar aggregate
# passes (partial-aggregate-first); the exact medians/quantiles here
# are the oracle-checkable form — at 100 TB the documented swap is
# percentile_approx (t-digest), same as percentiles_exact /
# approx_sketches. No windows, no self-joins; the MAD two-pass joins
# on group keys (group-cardinality, broadcastable).


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


# The remaining pipeline/bucket features a real Kibana workload hits —
# sibling `percentiles_bucket`, the `normalize` (rescale_0_1) pipeline
# agg, the `sampler` agg (metrics over a bounded sample), `filters` with
# `other_bucket`, and `date_histogram` with a calendar `offset`.
#
# Scale posture: pipeline aggs operate over the BUCKET frame (bounded
# by the calendar span, never data-cardinality); the sampler's sample
# is TakeOrderedAndProject (per-partition top-k + k-row driver merge);
# bucket min/max scalars attach as scalar subqueries, no global windows.


def _daily(ev: DataFrame) -> DataFrame:
    return (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.sum("value"), 2).alias("revenue")))


def dsl_percentiles_bucket(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Sibling `percentiles_bucket` pipeline agg: exact p25/p50/p75
    of the daily doc-count bucket series — one grouped pass builds
    the (calendar-bounded) series, one scalar aggregate reduces it.
    The integer series keeps the interpolated quartiles on the
    dyadic-rational grid, so both engines agree bit-for-bit (a
    2-decimal metric lands interpolation midpoints on half-cent
    round boundaries where engine fp differs)."""
    ev = load_table(spark, "events", sf_dir)
    return (_daily(ev)
            .agg(F.expr("percentile(doc_count, "
                        "array(0.25, 0.5, 0.75))").alias("q"),
                 F.count(F.lit(1)).alias("n_buckets"))
            .select("n_buckets",
                    F.round(F.col("q")[0], 2).alias("p25"),
                    F.round(F.col("q")[1], 2).alias("p50"),
                    F.round(F.col("q")[2], 2).alias("p75")))


DSL_PERCENTILES_BUCKET_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
  FROM events GROUP BY day)
SELECT count(*) AS n_buckets,
       round(quantile_cont(doc_count, 0.25), 2) AS p25,
       round(quantile_cont(doc_count, 0.5), 2) AS p50,
       round(quantile_cont(doc_count, 0.75), 2) AS p75
FROM daily
"""


def dsl_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`normalize` pipeline agg (ES 7.9+, method rescale_0_1): each
    daily bucket's revenue rescaled to [0, 1] over the series. The
    series min/max are a one-row scalar aggregate attached as a
    scalar subquery — no global window over the bucket frame."""
    ev = load_table(spark, "events", sf_dir)
    daily = _daily(ev)
    mm = daily.agg(F.min("revenue").alias("_mn"),
                   F.max("revenue").alias("_mx"))
    out = broadcast_scalars(daily, mm)
    scaled = F.when(
        F.col("_mx") > F.col("_mn"),
        (F.col("revenue") - F.col("_mn"))
        / (F.col("_mx") - F.col("_mn"))).otherwise(0.0)
    return (out.select(
        F.date_format("day", "yyyy-MM-dd HH:mm:ss").alias("key"),
        "doc_count", "revenue",
        F.round(scaled, 4).alias("revenue_0_1"))
        .orderBy("key"))


DSL_NORMALIZE_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count,
         round(sum(value), 2) AS revenue
  FROM events GROUP BY day),
mm AS (SELECT min(revenue) AS mn, max(revenue) AS mx FROM daily)
SELECT strftime(d.day, '%Y-%m-%d %H:%M:%S') AS key, d.doc_count,
       d.revenue,
       round(CASE WHEN m.mx > m.mn
                  THEN (d.revenue - m.mn) / (m.mx - m.mn)
                  ELSE 0.0 END, 4) AS revenue_0_1
FROM daily d, mm m ORDER BY key
"""


SAMPLER_SIZE = 200


def dsl_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sampler` agg: metrics over a bounded SAMPLE of the matching
    docs. Documented adaptation: ES samples the top-scoring docs per
    shard (non-deterministic across refreshes); here the sample is
    the md5-ranked first SAMPLER_SIZE — deterministic and
    engine-reproducible (the stratified_sample convention), taken
    via TakeOrderedAndProject, never a global sort."""
    ev = load_table(spark, "events", sf_dir)
    sample = (ev.select("event_id", "value",
                        F.md5(F.col("event_id").cast("string"))
                        .alias("rk"))
              .orderBy("rk")
              .limit(SAMPLER_SIZE))
    return sample.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.max("value"), 4).alias("max_value"))


DSL_SAMPLER_ORACLE = f"""
WITH sample AS (
  SELECT event_id, value
  FROM events
  ORDER BY md5(CAST(event_id AS VARCHAR))
  LIMIT {SAMPLER_SIZE})
SELECT count(*) AS doc_count,
       round(avg(value), 4) AS avg_value,
       round(max(value), 4) AS max_value
FROM sample
"""


def dsl_filters_other_bucket(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """`filters` agg with `other_bucket: true`: named buckets plus
    the ES `_other_` catch-all for docs matching none of them — one
    conditional-key grouped pass (the named filters here partition
    on event_type, so each doc lands in exactly one bucket)."""
    ev = load_table(spark, "events", sf_dir)
    key = (F.when(F.col("event_type") == "purchase", "purchases")
           .when(F.col("event_type") == "click", "clicks")
           .otherwise("_other_"))
    return (ev.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg("value"), 4).alias("avg_value"))
            .orderBy("key"))


DSL_FILTERS_OTHER_ORACLE = """
SELECT CASE WHEN event_type = 'purchase' THEN 'purchases'
            WHEN event_type = 'click' THEN 'clicks'
            ELSE '_other_' END AS key,
       count(*) AS doc_count,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY key ORDER BY key
"""


HIST_OFFSET_HOURS = 6


def dsl_date_histogram_offset(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """`date_histogram` with `offset: "+6h"`: buckets start at 06:00
    instead of midnight (the log-rotation / business-day alignment
    use). Bucket key = trunc(ts - 6h, day) + 6h — still a pure
    projection, pushdown unaffected."""
    ev = load_table(spark, "events", sf_dir)
    shifted = F.date_trunc(
        "day", F.col("ts") - F.expr(f"INTERVAL {HIST_OFFSET_HOURS} HOURS"))
    key = F.date_format(
        shifted + F.expr(f"INTERVAL {HIST_OFFSET_HOURS} HOURS"),
        "yyyy-MM-dd HH:mm:ss")
    return (ev.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("key"))


DSL_DATE_HISTOGRAM_OFFSET_ORACLE = f"""
SELECT strftime(date_trunc('day', ts - INTERVAL {HIST_OFFSET_HOURS} HOURS)
                + INTERVAL {HIST_OFFSET_HOURS} HOURS,
                '%Y-%m-%d %H:%M:%S') AS key,
       count(*) AS doc_count
FROM events GROUP BY key ORDER BY key
"""


TILE_ZOOM = 5


def _tile_exprs(lat: str, lon: str) -> tuple[str, str]:
    n = 1 << TILE_ZOOM
    x = f"CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)"
    y = (f"CAST(floor((1.0 - ln(tan(radians({lat})) + "
         f"1.0 / cos(radians({lat}))) / pi()) / 2.0 * {n}) AS BIGINT)")
    return x, y


def dsl_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geotile_grid` agg at zoom 5: events bucketed into slippy-map
    (Web Mercator z/x/y) tiles via the standard tile formula — pure
    per-row floor/log arithmetic identical on both engines, then one
    grouped pass with the ES bucket ordering."""
    ev = load_table(spark, "events", sf_dir)
    x, y = _tile_exprs(LAT_S, LON_S)
    key = F.concat_ws("/", F.lit(TILE_ZOOM), F.expr(x), F.expr(y))
    return (ev.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


def _geotile_oracle() -> str:
    x, y = _tile_exprs(LAT_D, LON_D)
    return f"""
SELECT concat({TILE_ZOOM}, '/', {x}, '/', {y}) AS key,
       count(*) AS doc_count
FROM events GROUP BY key ORDER BY doc_count DESC, key ASC
"""


# 5 bits per char; lon takes the even bit positions (MSB first), so
# with an even total the axes split the bits equally
_GH_BITS = 5 * GEOHASH_PRECISION
_GH_LON_BITS = (_GH_BITS + 1) // 2
_GH_LAT_BITS = _GH_BITS // 2


def _bit(x: str, i: int) -> str:
    """Engine-neutral bit extraction (works verbatim in Spark SQL and
    DuckDB): integer values up to 2^20 stay exact in the double
    floor-division."""
    return f"(CAST(floor({x} / {1 << i}.0) AS BIGINT) % 2)"


def geohash_cell_exprs(lat: str, lon: str) -> tuple[str, str]:
    """Integer cell indices along each axis at the target bit depth.
    Clamped to 2^bits - 1: lat=90 / lon=180 would otherwise index
    2^bits, whose low bits are all zero — encoding the north pole as
    the south pole (the bisection encoder keeps the boundary in the
    last cell)."""
    ix = (f"CAST(least(floor((({lon}) + 180.0) / 360.0 "
          f"* {1 << _GH_LON_BITS}), {(1 << _GH_LON_BITS) - 1}) "
          f"AS BIGINT)")
    iy = (f"CAST(least(floor((({lat}) + 90.0) / 180.0 "
          f"* {1 << _GH_LAT_BITS}), {(1 << _GH_LAT_BITS) - 1}) "
          f"AS BIGINT)")
    return ix, iy


def geohash_expr(ix: str, iy: str) -> str:
    """Base-32 geohash from the two cell indices: interleave bits
    lon-first (the geohash spec), then map each 5-bit group onto the
    geohash alphabet — pure floor/div/mod SQL text shared verbatim by
    both engines."""
    chars = []
    for c in range(GEOHASH_PRECISION):
        terms = []
        for j in range(5):
            k = 5 * c + j
            if k % 2 == 0:
                src, idx = ix, _GH_LON_BITS - 1 - k // 2
            else:
                src, idx = iy, _GH_LAT_BITS - 1 - (k - 1) // 2
            terms.append(f"{_bit(src, idx)} * {1 << (4 - j)}")
        v = " + ".join(terms)
        chars.append(f"substr('{_GH_ALPHABET}', "
                     f"CAST(({v}) AS INT) + 1, 1)")
    return "concat(" + ", ".join(chars) + ")"


def dsl_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geohash_grid` agg at precision 4 with a `geo_centroid`
    sub-agg: events bucketed by the base-32 geohash of their
    (runtime-field) coordinates, each bucket reporting doc_count and
    the centroid of its points — one grouped pass, bucketing is pure
    per-row bit arithmetic."""
    ev = load_table(spark, "events", sf_dir)
    ix, iy = geohash_cell_exprs("lat", "lon")
    # cast: Spark parses the 45.0/0.1 literals as DECIMAL, DuckDB as
    # DOUBLE — the centroid avg must agree in type
    pts = (ev.select(F.expr(LAT_S).cast("double").alias("lat"),
                     F.expr(LON_S).cast("double").alias("lon"))
           .withColumn("gh", F.expr(geohash_expr(ix, iy))))
    return (pts.groupBy(F.col("gh").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg("lat"), 4).alias("centroid_lat"),
                 F.round(F.avg("lon"), 4).alias("centroid_lon"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


def _geohash_oracle() -> str:
    ix, iy = geohash_cell_exprs("lat", "lon")
    return f"""
WITH pts AS (SELECT {LAT_D} AS lat, {LON_D} AS lon FROM events)
SELECT {geohash_expr(ix, iy)} AS key,
       count(*) AS doc_count,
       round(avg(lat), 4) AS centroid_lat,
       round(avg(lon), 4) AS centroid_lon
FROM pts GROUP BY key ORDER BY doc_count DESC, key ASC
"""


def dsl_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone `geo_centroid` metric agg per terms bucket: the
    centroid of each event_type's points (the ES bucket+metric
    shape; geohash_grid carries the gridded variant). One grouped
    pass over per-row runtime-field coordinates."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.select(F.col("event_type").alias("key"),
                      F.expr(LAT_S).cast("double").alias("lat"),
                      F.expr(LON_S).cast("double").alias("lon"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg("lat"), 4).alias("centroid_lat"),
                 F.round(F.avg("lon"), 4).alias("centroid_lon"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


def _geo_centroid_oracle() -> str:
    return f"""
SELECT event_type AS key, count(*) AS doc_count,
       round(avg({LAT_D}), 4) AS centroid_lat,
       round(avg({LON_D}), 4) AS centroid_lon
FROM events
GROUP BY key ORDER BY doc_count DESC, key ASC
"""


# The `suggest` API (term suggester) and friends.
#
# The reference feeds an ES index whose users get did-you-mean
# suggestions and highlighted hits for free; these keys re-express
# those read-side features Spark-first. The term suggester is a
# corpus-vocabulary problem, not a per-row one: build (term, doc_freq)
# once (one grouped pass), then candidate-match the bounded input
# terms against it — a broadcast of the TINY input side onto the
# first-letter equi-key, with the edit-distance bound as a post-join
# filter, so the vocab (millions of terms on a real corpus) never
# moves except through one groupBy shuffle.


# -------------------------------------------- dsl_diversified_sampler

DIV_MAX_PER_VALUE = 2      # ES max_docs_per_value
DIV_SHARD_SIZE = 500       # ES shard_size


def dsl_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `diversified_sampler` agg: cap docs per diversity value
    (user_id, max_docs_per_value=2), take the top shard_size docs,
    run sub-aggs over the sample. ES picks by score/index order; the
    deterministic stand-in orders by event_id both for the per-value
    cap and the sample cut. Plan: the per-value cap is a window
    PARTITIONED by user_id (parallel across users), the sample cut
    is TakeOrderedAndProject on the capped frame, and the sub-aggs
    run on a <=shard_size bounded frame — nothing global except the
    bounded top-k."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    capped = (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= DIV_MAX_PER_VALUE))
    samp = capped.orderBy("event_id").limit(DIV_SHARD_SIZE)
    return samp.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.countDistinct("event_type").alias("n_types"))


DSL_DIVERSIFIED_SAMPLER_ORACLE = f"""
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY event_id) AS rn
  FROM events),
samp AS (
  SELECT * FROM ranked WHERE rn <= {DIV_MAX_PER_VALUE}
  ORDER BY event_id LIMIT {DIV_SHARD_SIZE})
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(value), 4) AS avg_value,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM samp
"""


# ----------------------------------------------------- dsl_rate


DSL_RATE_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS key,
       count(*) AS doc_count,
       count(*) / 24.0 AS events_per_hour,
       round(sum(value), 4) / 24.0 AS value_per_hour
FROM events WHERE event_type = 'click'
GROUP BY key ORDER BY key ASC
"""


# ----------------------------------------------------- dsl_geo_bounds

def dsl_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geo_bounds` metric agg per terms bucket: the smallest box
    enclosing each event_type's points — top_left = (max lat, min
    lon), bottom_right = (min lat, max lon). min/max are exact
    (no float accumulation), one grouped pass over the runtime-field
    coordinates (dsl_geo_centroid's sibling)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.select(F.col("event_type").alias("key"),
                      F.expr(LAT_S).cast("double").alias("lat"),
                      F.expr(LON_S).cast("double").alias("lon"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.max("lat"), 4).alias("top_left_lat"),
                 F.round(F.min("lon"), 4).alias("top_left_lon"),
                 F.round(F.min("lat"), 4).alias("bottom_right_lat"),
                 F.round(F.max("lon"), 4).alias("bottom_right_lon"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


def _geo_bounds_oracle() -> str:
    # CAST to DOUBLE: DuckDB's min/max PRESERVE the literal-decimal
    # type of the runtime field (avg would coerce to double), and a
    # Decimal result bypasses the float canonicalization
    return f"""
SELECT event_type AS key, count(*) AS doc_count,
       round(max(CAST({LAT_D} AS DOUBLE)), 4) AS top_left_lat,
       round(min(CAST({LON_D} AS DOUBLE)), 4) AS top_left_lon,
       round(min(CAST({LAT_D} AS DOUBLE)), 4) AS bottom_right_lat,
       round(max(CAST({LON_D} AS DOUBLE)), 4) AS bottom_right_lon
FROM events
GROUP BY key ORDER BY doc_count DESC, key ASC
"""


# ------------------------------------------------ dsl_reverse_nested

def dsl_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`reverse_nested` agg: inside a nested terms agg over array
    elements, jump back to PARENT scope — per element key, the
    element count AND the number of distinct parent docs containing
    such an element. Same (user, day) nested carrier as dsl_nested;
    one explode + one grouped pass with a distinct-parent count."""
    parents = _nested_parents(spark, sf_dir)
    ex = parents.select(
        F.concat_ws("|", "user_id", F.col("day").cast("string"))
        .alias("parent_id"),
        F.explode("items").alias("it"))
    return (ex.groupBy(F.col("it.event_type").alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.countDistinct("parent_id")
                 .alias("parent_doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key")))


DSL_REVERSE_NESTED_ORACLE = """
SELECT event_type AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(count(DISTINCT concat_ws('|', user_id,
                  CAST(CAST(ts AS DATE) AS VARCHAR)))
            AS BIGINT) AS parent_doc_count
FROM events
GROUP BY event_type
ORDER BY doc_count DESC, key ASC
"""


# ------------------------------------------------- dsl_children_agg

def dsl_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`children` agg (join-field families): bucket PARENT docs
    (orders, by priority) and aggregate their CHILD docs (lineitems)
    — parent count, child count, child metric. One equi-join on the
    family key + one grouped pass; at scale the join shuffles on
    orderkey (or stays co-located under bucketing), never a
    broadcast of either fact side."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    j = orders.select("o_orderkey", "o_orderpriority").join(
        li.select("l_orderkey", "l_discount"),
        orders.o_orderkey == li.l_orderkey)
    return (j.groupBy("o_orderpriority")
            .agg(F.countDistinct("o_orderkey").alias("parent_count"),
                 F.count(F.lit(1)).alias("child_count"),
                 F.round(F.avg("l_discount"), 4).alias("avg_discount"))
            .orderBy("o_orderpriority"))


DSL_CHILDREN_AGG_ORACLE = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS parent_count,
       CAST(count(*) AS BIGINT) AS child_count,
       round(avg(l_discount), 4) AS avg_discount
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ----------------------------------------------------- dsl_geo_line

GEO_LINE_SIZE = 5


def dsl_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geo_line` agg: per bucket, the track of the first N points
    in timestamp order (ES's sort+size contract, size capped like
    ES's default). The per-bucket cut is a PARTITIONED rank window
    (parallel across buckets, never global); the bounded survivors
    collect into a sort_array'd struct list so the join order is
    deterministic, then render as 'lat,lon' joined with ';' —
    identical doubles on both engines make identical shortest-
    roundtrip strings."""
    ev = load_table(spark, "events", sf_dir)
    pts = ev.select(
        F.col("event_type").alias("key"), "ts", "event_id",
        F.round(F.expr(LAT_S).cast("double"), 4).alias("lat"),
        F.round(F.expr(LON_S).cast("double"), 4).alias("lon"))
    w = Window.partitionBy("key").orderBy("ts", "event_id")
    first_n = (pts.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= GEO_LINE_SIZE))
    return (first_n.groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.array_join(F.expr(
                     "transform(array_sort(collect_list("
                     "struct(ts, event_id, lat, lon))), "
                     "p -> concat(cast(p.lat as string), ',', "
                     "cast(p.lon as string)))"), ";").alias("track"))
            .orderBy("key"))


def _geo_line_oracle() -> str:
    return f"""
WITH pts AS (
  SELECT event_type AS key, ts, event_id,
         round(CAST({LAT_D} AS DOUBLE), 4) AS lat,
         round(CAST({LON_D} AS DOUBLE), 4) AS lon,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT key, CAST(count(*) AS BIGINT) AS n_points,
       string_agg(concat(CAST(lat AS VARCHAR), ',',
                         CAST(lon AS VARCHAR)), ';'
                  ORDER BY ts, event_id) AS track
FROM pts WHERE rn <= {GEO_LINE_SIZE}
GROUP BY key ORDER BY key
"""


# ------------------------------------------ dsl_moving_percentiles


DSL_MOVING_PERCENTILES_ORACLE = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS key,
         count(*) AS doc_count
  FROM events WHERE event_type = 'view'
  GROUP BY key)
SELECT key, doc_count,
       round(quantile_cont(doc_count, 0.5) OVER (
         ORDER BY key ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS vol_p50,
       round(quantile_cont(doc_count, 0.9) OVER (
         ORDER BY key ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
         AS vol_p90
FROM b ORDER BY key
"""


# ---------------------------------------------------- dsl_change_point

def dsl_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`change_point` agg (ES 8.x) as a deterministic step-change
    detector: over the daily-volume bucket series, the split point
    maximizing |mean(before) - mean(after)| (the classic two-sample
    step statistic; ES's ML version adds p-values — DOCUMENTED
    DIVERGENCE: we emit the argmax split and step size). All
    second-pass arithmetic on the bucket-cardinality frame: prefix
    sums via the ordered bucket window, totals as a scalar subquery, one
    TakeOrdered(1) for the argmax."""
    ev = load_table(spark, "events", sf_dir)
    b = (ev.filter(F.col("event_type") == "purchase")
         .groupBy(F.date_format(F.date_trunc("day", "ts"),
                                "yyyy-MM-dd").alias("key"))
         .agg(F.count(F.lit(1)).alias("doc_count")))
    totals = b.agg(F.sum("doc_count").alias("total"),
                   F.count(F.lit(1)).alias("n_buckets"))
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    pre = (broadcast_scalars(b, totals)
           .withColumn("ps", F.sum("doc_count").over(w))
           .withColumn("pc", F.count(F.lit(1)).over(w))
           .filter(F.col("pc") < F.col("n_buckets")))
    mean_before = F.col("ps").cast("double") / F.col("pc")
    mean_after = ((F.col("total") - F.col("ps")).cast("double")
                  / (F.col("n_buckets") - F.col("pc")))
    step = F.round(mean_after - mean_before, 4)
    return (pre.select(F.col("key").alias("split_after"),
                       step.alias("step"),
                       F.abs(step).alias("score"))
            .orderBy(F.desc("score"), F.asc("split_after"))
            .limit(1))


DSL_CHANGE_POINT_ORACLE = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS key,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM events WHERE event_type = 'purchase'
  GROUP BY key),
t AS (SELECT CAST(sum(doc_count) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_buckets FROM b),
pre AS (
  SELECT key,
         sum(doc_count) OVER (ORDER BY key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
         count(*) OVER (ORDER BY key
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
         t.total, t.n_buckets
  FROM b CROSS JOIN t)
SELECT key AS split_after,
       round(CAST(total - ps AS DOUBLE) / (n_buckets - pc)
             - CAST(ps AS DOUBLE) / pc, 4) AS step,
       abs(round(CAST(total - ps AS DOUBLE) / (n_buckets - pc)
                 - CAST(ps AS DOUBLE) / pc, 4)) AS score
FROM pre WHERE pc < n_buckets
ORDER BY score DESC, split_after ASC LIMIT 1
"""


# ------------------------------------------------ dsl_categorize_text

def dsl_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `categorize_text` agg (log-template clustering): messages
    collapse into categories by masking the variable parts — ES's
    categorizer drops/masks numbers and groups on the remaining
    token sequence. The log-like message here is the event's
    type + raw props JSON; masking the numeric run makes every
    '{"k": <n>}' variant one category per event_type. One masked-key
    grouped pass; the per-category example is min(message)
    (deterministic stand-in for ES's first-seen exemplar)."""
    ev = load_table(spark, "events", sf_dir)
    msg = F.concat_ws(" ", "event_type", "props")
    category = F.regexp_replace(msg, "[0-9]+", "<num>")
    return (ev.select(category.alias("category"), msg.alias("msg"))
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.min("msg").alias("example"))
            .orderBy(F.desc("doc_count"), F.asc("category")))


DSL_CATEGORIZE_TEXT_ORACLE = """
SELECT regexp_replace(concat_ws(' ', event_type, props),
                      '[0-9]+', '<num>', 'g') AS category,
       CAST(count(*) AS BIGINT) AS doc_count,
       min(concat_ws(' ', event_type, props)) AS example
FROM events
GROUP BY category
ORDER BY doc_count DESC, category ASC
"""


# The ML-flavored pipeline aggs `bucket_correlation` and
# `bucket_count_ks_test` (both under `aggs/pipeline` in ES 8.x — the
# reference's alerting domain uses them to score whether an indicator
# correlates with, or distributionally shifts, the per-rule event counts
# that Bootstrap.java:196-219's terms agg produces).
#
# Both reduce a bounded terms-bucket frame (|event_type| keys) to ONE
# row. The bucket frame comes from a single map-side-combined groupBy;
# per-bucket metric sums use exact scaled-integer arithmetic (4-decimal
# doubles * 1e4 as BIGINT) so cross-engine float-sum order can't drift
# the inputs, and the final Pearson / KS statistic is one deterministic
# double expression over those exact ints. The KS ECDF is computed with
# an array fold over the sorted bucket list — no Window at all, so the
# package-wide "no unpartitioned Window" invariant holds even for this
# inherently ordered statistic.


# ----------------------------------------------- dsl_bucket_correlation

_PEARSON = ("(cast(n as double) * sxy - sx * sy) "
            "/ (sqrt(cast(n as double) * sxx - sx * sx) "
            "* sqrt(cast(n as double) * syy - sy * sy))")


def dsl_bucket_correlation(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """ES `bucket_correlation` pipeline agg (count_correlation
    function): Pearson correlation between the per-bucket doc_count
    of a terms agg on event_type and a per-bucket metric (sum of
    value). Buckets are exact (counts + scaled-int sums); the
    correlation is a single closed-form expression over the 6-ish
    bucket rows, evaluated identically in the oracle."""
    ev = load_table(spark, "events", sf_dir)
    buckets = (ev.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.sum(F.expr(
                        "cast(round(value * 10000) as bigint)"))
                    .alias("sv")))
    stats = buckets.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(cnt as double)")).alias("sx"),
        F.sum(F.expr("cast(sv as double)")).alias("sy"),
        F.sum(F.expr("cast(cnt as double) * cast(cnt as double)"))
        .alias("sxx"),
        F.sum(F.expr("cast(sv as double) * cast(sv as double)"))
        .alias("syy"),
        F.sum(F.expr("cast(cnt as double) * cast(sv as double)"))
        .alias("sxy"))
    return stats.select(
        F.col("n").alias("n_buckets"),
        F.expr(_PEARSON).alias("correlation"))


DSL_BUCKET_CORRELATION_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
           AS sv
  FROM events GROUP BY event_type),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cnt AS DOUBLE)) AS sx,
         sum(CAST(sv AS DOUBLE)) AS sy,
         sum(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)) AS sxx,
         sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) AS syy,
         sum(CAST(cnt AS DOUBLE) * CAST(sv AS DOUBLE)) AS sxy
  FROM b)
SELECT n AS n_buckets, {_PEARSON} AS correlation FROM s
"""


# --------------------------------------------- dsl_bucket_count_ks_test

def dsl_bucket_count_ks_test(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """ES `bucket_count_ks_test` pipeline agg, alternative
    "uniform": the Kolmogorov-Smirnov statistic between the
    empirical CDF of terms-bucket doc_counts (buckets in key order,
    ES's ks-test input convention) and the uniform CDF i/n. The
    ECDF is an array FOLD over the sorted bucket structs — cum
    count, bucket index, running max |ecdf - i/n| — so no Window
    touches the plan; one groupBy + one global 1-row aggregate."""
    ev = load_table(spark, "events", sf_dir)
    buckets = (ev.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("cnt")))
    one = buckets.agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("event_type").alias("k"),
            F.col("cnt").alias("cnt")))).alias("bk"),
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n"))
    ks = F.expr(
        "aggregate(bk, "
        "struct(cast(0 as bigint) as cum, cast(0 as bigint) as i, "
        "cast(0.0 as double) as best), "
        "(acc, x) -> struct(acc.cum + x.cnt, acc.i + 1, "
        "greatest(acc.best, abs(cast(acc.cum + x.cnt as double) "
        "/ cast(total as double) "
        "- cast(acc.i + 1 as double) / cast(n as double)))), "
        "acc -> acc.best)")
    return one.select(
        F.col("n").alias("n_buckets"),
        F.col("total").alias("total_docs"),
        ks.alias("ks_stat"))


DSL_BUCKET_KS_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type),
e AS (
  SELECT cnt,
         sum(cnt) OVER (ORDER BY event_type
                        ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (ORDER BY event_type) AS i,
         sum(cnt) OVER () AS total,
         count(*) OVER () AS n
  FROM b)
SELECT CAST(max(n) AS BIGINT) AS n_buckets,
       CAST(max(total) AS BIGINT) AS total_docs,
       max(abs(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
               - CAST(i AS DOUBLE) / CAST(n AS DOUBLE))) AS ks_stat
FROM e
"""


# ------------------------------------------ dsl_min_max_sum_bucket


DSL_MIN_MAX_SUM_BUCKET_ORACLE = f"""
WITH b AS (
  SELECT {_DAY_KEY} AS key, round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT min(revenue) AS worst_day,
       max(revenue) AS best_day,
       round(sum(revenue), 4) AS total
FROM b
"""


# --------------------------------------------- dsl_terms_partition

_TP_PARTITION, _TP_NUM = 3, 20
_TP_SIZE = 15


DSL_TERMS_PARTITION_ORACLE = f"""
SELECT user_id AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       round(sum(value), 4) AS spend
FROM events
WHERE event_type = 'purchase'
  AND CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
           AS BIGINT) % {_TP_NUM} = {_TP_PARTITION}
GROUP BY user_id
ORDER BY spend DESC, key ASC
LIMIT {_TP_SIZE}
"""


# ----------------------------------------- dsl_geo_distance_rings

_RING_EDGES = [150.0, 300.0]
_G_CLAT, _G_CLON = 49.0, 13.0


def _ring_key_sql(dist: str) -> str:
    """ES geo_distance ring keys ("*-150.0", "150.0-300.0",
    "300.0-*"), derived from _RING_EDGES so the configured edges ARE
    the executed edges."""
    out, lo = "", "*"
    for e in _RING_EDGES:
        out += f"WHEN ({dist}) < {e!r} THEN '{lo}-{e}' "
        lo = e
    return f"CASE {out}ELSE '{_RING_EDGES[-1]}-*' END"


def dsl_geo_distance_rings(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """``geo_distance`` AGG: ring buckets (<150 km, 150-300, 300+)
    around a center point over per-user planted coordinates, with
    ES's ring keys and a mean-distance metric per ring. Haversine is
    per-row arithmetic; one 3-bucket groupBy — the bucket count is
    fixed by the request, never by the data."""
    ev = load_table(spark, "events", sf_dir)
    users = ev.select("user_id").distinct()
    dist = _haversine_sql(LAT_S, LON_S, _G_CLAT, _G_CLON)
    return (users
            .select(F.expr(_ring_key_sql(dist)).alias("key"),
                    F.expr(dist).alias("d"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg("d"), 2).alias("avg_km"))
            .orderBy("key"))


def _geo_rings_oracle() -> str:
    dist = _haversine_sql(LAT_D, LON_D, _G_CLAT, _G_CLON)
    return f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
d AS (SELECT {_ring_key_sql(dist)} AS key, {dist} AS d FROM users)
SELECT key, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(d), 2) AS avg_km
FROM d GROUP BY key ORDER BY key
"""


# ---------------------------------------------------- dsl_composite_mixed


DSL_COMPOSITE_MIXED_ORACLE = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
         event_type AS etype,
         CAST(count(*) AS BIGINT) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM events GROUP BY day, etype)
SELECT day, etype, doc_count, revenue FROM b
WHERE day > '2024-01-10 00:00:00'
   OR (day = '2024-01-10 00:00:00' AND etype > 'purchase')
ORDER BY day, etype
LIMIT 12
"""


# ---------------------------------------------- dsl_terms_missing


DSL_TERMS_MISSING_ORACLE = """
SELECT coalesce(CASE WHEN value < 50 THEN NULL
                     ELSE event_type END, '(none)') AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       round(sum(value), 4) AS revenue
FROM events
GROUP BY key ORDER BY doc_count DESC, key ASC LIMIT 10
"""


# ------------------------------------------ dsl_date_histogram_tz

_TZ_OFFSET_H = 2   # "+02:00" — bucket midnights in local time


def dsl_date_histogram_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`date_histogram` with `time_zone: "+02:00"`: day buckets cut
    at LOCAL midnight (shift, truncate, shift back — the key stays a
    UTC instant, as ES returns epoch millis). Pure timestamp
    arithmetic on the scan column; same expression text on both
    engines so the boundary rows land identically."""
    ev = load_table(spark, "events", sf_dir)
    shifted = F.expr(
        f"date_trunc('day', ts + INTERVAL {_TZ_OFFSET_H} HOURS) "
        f"- INTERVAL {_TZ_OFFSET_H} HOURS")
    return (ev.filter(F.col("event_type") == "purchase")
            .groupBy(F.date_format(shifted, "yyyy-MM-dd HH:mm:ss")
                     .alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.sum("value"), 4).alias("revenue"))
            .orderBy("key"))


DSL_DATE_HISTOGRAM_TZ_ORACLE = f"""
SELECT strftime(date_trunc('day', ts + INTERVAL {_TZ_OFFSET_H} HOURS)
                - INTERVAL {_TZ_OFFSET_H} HOURS,
                '%Y-%m-%d %H:%M:%S') AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       round(sum(value), 4) AS revenue
FROM events WHERE event_type = 'purchase'
GROUP BY key ORDER BY key
"""


# ------------------------------------------------ dsl_moving_fn_max


DSL_MOVING_FN_MAX_ORACLE = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS key,
         CAST(count(*) AS BIGINT) AS doc_count,
         round(sum(value), 4) AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY key)
SELECT key, doc_count, revenue,
       round(max(revenue) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS peak7,
       round(stddev_pop(revenue) OVER (ORDER BY key
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS vol7
FROM b ORDER BY key
"""


# ------------------------------------------ dsl_terms_min_doc_count


DSL_TERMS_MIN_DOC_COUNT_ORACLE = """
SELECT user_id AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       round(sum(value), 4) AS spend
FROM events WHERE event_type = 'purchase'
GROUP BY user_id HAVING count(*) >= 5
ORDER BY doc_count DESC, key ASC LIMIT 15
"""


# TSDS counter semantics.
#
# ``dsl_counter_rate`` — ES 8.7+ time-series (TSDS) ``rate`` over a
# field mapped ``time_series_metric: counter``: a counter only climbs;
# a drop means the emitting process RESET, and the aggregation must
# reconstruct the true increase per bucket as
#
#     increase = delta             if delta >= 0
#              = current value     if delta <  0   (reset: climbed from 0)
#
# (the Prometheus/ES counter-rate rule). The plain ``rate`` agg
# (dsl_rate) treats values as deltas; this is the
# stateful sibling every observability pipeline actually needs.
#
# Spark-first shape: one window (lag over the series key, ordered by
# event time with an id tie-break), a CASE for the reset rule, one
# grouped pass per day bucket — no self-join, no driver state. The
# synthetic counter wraps modulo 1000 (cumulative per-user sum of a
# deterministic per-event weight), so resets occur organically and
# identically in both engines.
#
# Scale: the window partitions by user_id (series cardinality — the
# TSDS routing key), so state is per-series and the shuffle is the
# same one a TSDS index already does on _tsid.


_CTR_MOD = 1000


def dsl_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day counter rate with reset reconstruction: events,
    n_resets, total_increase, and increase per hour (rounded)."""
    ev = load_table(spark, "events", sf_dir)
    w_cum = (Window.partitionBy("user_id")
             .orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    ctr = ev.select(
        "user_id", "ts", "event_id",
        (F.sum(F.col("event_id") % 5 + 1).over(w_cum) % _CTR_MOD)
        .alias("ctr"))
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ctr.select(
        "ts", "ctr",
        (F.col("ctr") - F.lag("ctr").over(w_lag)).alias("delta"))
    inc = d.select(
        F.to_date("ts").alias("day"),
        F.when(F.col("delta").isNull(), F.lit(0).cast("long"))
        .when(F.col("delta") >= 0, F.col("delta"))
        .otherwise(F.col("ctr")).alias("inc"),
        (F.col("delta") < 0).cast("int").alias("is_reset"))
    return (inc.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("is_reset").alias("n_resets"),
                 F.sum("inc").alias("total_increase"),
                 F.round(F.sum("inc") / 24.0, 4)
                 .alias("increase_per_hour"))
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "n_events", "n_resets", "total_increase",
                    "increase_per_hour")
            .orderBy("day"))


DSL_COUNTER_RATE_ORACLE = f"""
WITH ctr AS (
  SELECT user_id, ts, event_id,
         sum(event_id % 5 + 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) % {_CTR_MOD} AS ctr
  FROM events),
d AS (
  SELECT ts, ctr,
         ctr - lag(ctr) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS delta
  FROM ctr),
inc AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN delta IS NULL THEN 0
              WHEN delta >= 0 THEN delta
              ELSE ctr END AS inc,
         CASE WHEN delta < 0 THEN 1 ELSE 0 END AS is_reset
  FROM d)
SELECT strftime(day, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       CAST(sum(is_reset) AS BIGINT) AS n_resets,
       CAST(sum(inc) AS BIGINT) AS total_increase,
       round(sum(inc) / 24.0, 4) AS increase_per_hour
FROM inc
GROUP BY day
ORDER BY day
"""


# ------------------------------------------------------ dsl_tsds_downsample

def dsl_tsds_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.5+ TSDS DOWNSAMPLING: roll the raw series up to 6h
    buckets keeping, per (series, bucket), the gauge's last value
    (by event time, id tie-break) plus min/max/sum/count — exactly
    the stats a downsampled TSDS index persists per dimension tuple.
    One window for the last-value pick + one grouped pass, both
    keyed on (series, bucket): the same shuffle key the TSDS index
    already routes on, so at 100 TB this is a co-partitioned rollup.
    Output is bucketed per event_type series (user-level rollups
    would be row-explosive in a report)."""
    ev = load_table(spark, "events", sf_dir)
    bucketed = ev.select(
        "event_type", "value", "ts", "event_id",
        F.date_format(
            F.timestamp_seconds(
                (F.unix_timestamp("ts") / 21600).cast("long") * 21600),
            "yyyy-MM-dd HH:mm:ss").alias("bucket"))
    w = (Window.partitionBy("event_type", "bucket")
         .orderBy(F.desc("ts"), F.desc("event_id")))
    last = (bucketed.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("event_type", "bucket",
                    F.round("value", 4).alias("last_value")))
    stats = (bucketed.groupBy("event_type", "bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.min("value"), 4).alias("min_value"),
                  F.round(F.max("value"), 4).alias("max_value"),
                  F.round(F.sum("value"), 4).alias("sum_value")))
    return (stats.join(last, ["event_type", "bucket"])
            .orderBy("event_type", "bucket"))


DSL_TSDS_DOWNSAMPLE_ORACLE = """
WITH b AS (
  SELECT event_type, value, ts, event_id,
         strftime(make_timestamp(
           CAST(floor(epoch(ts) / 21600) * 21600 * 1000000 AS BIGINT)),
           '%Y-%m-%d %H:%M:%S') AS bucket
  FROM events),
last AS (
  SELECT event_type, bucket, round(value, 4) AS last_value
  FROM (SELECT *, row_number() OVER (
          PARTITION BY event_type, bucket
          ORDER BY ts DESC, event_id DESC) AS rk FROM b)
  WHERE rk = 1),
stats AS (
  SELECT event_type, bucket, count(*) AS n,
         round(min(value), 4) AS min_value,
         round(max(value), 4) AS max_value,
         round(sum(value), 4) AS sum_value
  FROM b GROUP BY event_type, bucket)
SELECT s.event_type, s.bucket, s.n, s.min_value, s.max_value,
       s.sum_value, l.last_value
FROM stats s JOIN last l USING (event_type, bucket)
ORDER BY s.event_type, s.bucket
"""


# ------------------------------------------------- dsl_time_series

def dsl_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.7 TSDS ``time_series`` bucket agg: one bucket per _tsid
    (the dimension tuple — here (event_type, user group)), carrying
    the series' sub-aggs: doc count, value stats, time span. The
    grouping key IS the TSDS routing key, so at 100 TB this is the
    co-partitioned aggregation the index layout already paid for —
    one shuffle, no window."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.select(
        "event_type",
        (F.col("user_id") % 10).cast("int").alias("user_group"),
        "value", "ts")
        .groupBy("event_type", "user_group")
        .agg(F.count(F.lit(1)).alias("doc_count"),
             F.round(F.avg("value"), 4).alias("avg_value"),
             F.round(F.max("value"), 4).alias("max_value"),
             F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
             .alias("first_ts"),
             F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
             .alias("last_ts"))
        .orderBy("event_type", "user_group"))


DSL_TIME_SERIES_ORACLE = """
SELECT event_type,
       CAST(user_id % 10 AS INT) AS user_group,
       count(*) AS doc_count,
       round(avg(value), 4) AS avg_value,
       round(max(value), 4) AS max_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
GROUP BY event_type, user_group
ORDER BY event_type, user_group
"""


# ------------------------------------- dsl_variable_width_histogram

VWH_K = 6       # buckets
VWH_ITERS = 3   # assignment rounds (2 centroid updates + final)
VWH_QUANT = 6   # per-round centroid quantization (engine-parity grid)


def _vwh_case(cents: list[float]) -> str:
    """Lowest-index-wins nearest-centroid CASE over literal
    centroids (CASE order itself resolves ties, so each condition is
    plain <= against every other centroid)."""
    whens = []
    for i in range(len(cents)):
        conds = " AND ".join(
            f"abs(v - {cents[i]!r}) <= abs(v - {cents[j]!r})"
            for j in range(len(cents)) if j != i)
        whens.append(f"WHEN {conds} THEN {i}")
    return "CASE " + " ".join(whens[:-1]) + \
        f" ELSE {len(cents) - 1} END"


def dsl_variable_width_histogram(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """ES 8.x ``variable_width_histogram``: K buckets whose bounds
    adapt to the data (clusters, not fixed steps). ES's streaming
    collector is order-dependent and unreproducible; the engine
    keeps the agg's CONTRACT (K adaptive buckets with min/max/avg/
    count) deterministic via the kmeans posture: value-range init,
    VWH_ITERS rounds of 1-D Lloyd with centroids as PLAN LITERALS
    (one grouped pass + one K-row collect per round, quantized to
    the shared 1e-6 grid), assignment a nearest-centroid CASE — in
    codegen, no join, no window over the data.

    Scale: per round = one map + one K-group aggregate; driver
    traffic = K floats per round."""
    orders = load_table(spark, "orders", sf_dir)
    vals = orders.select(F.col("o_totalprice").alias("v"))
    # eager: the range seeds the centroid literals each round's CASE uses
    mm = vals.agg(F.min("v").alias("m"), F.max("v").alias("M")) \
        .collect()[0]
    m, mx = float(mm["m"]), float(mm["M"])
    cents = [round(m + ((2 * i + 1) * (mx - m)) / (2 * VWH_K),
                   VWH_QUANT) for i in range(VWH_K)]
    for _ in range(VWH_ITERS - 1):
        upd = (vals.withColumn("cid", F.expr(_vwh_case(cents)))
               .groupBy("cid")
               .agg(F.round(F.avg("v"), VWH_QUANT).alias("c"))
               .collect())
        got = {int(r["cid"]): float(r["c"]) for r in upd}
        cents = [got.get(i, cents[i]) for i in range(VWH_K)]
    return (vals.withColumn("cid", F.expr(_vwh_case(cents)))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.min("v"), 2).alias("min_price"),
                 F.round(F.max("v"), 2).alias("max_price"),
                 F.round(F.avg("v"), 4).alias("avg_price"))
            .select(F.col("cid").cast("int").alias("bucket"),
                    "doc_count", "min_price", "max_price",
                    "avg_price")
            .orderBy("bucket"))


def _vwh_oracle() -> str:
    idx = ", ".join(str(i) for i in range(VWH_K))
    sql = [f"""
WITH vals AS MATERIALIZED (
  SELECT o_orderkey AS id, o_totalprice AS v FROM orders),
st AS MATERIALIZED (SELECT min(v) AS lo, max(v) AS hi FROM vals),
c0 AS MATERIALIZED (
  SELECT i AS cid,
         round(lo + ((2 * i + 1) * (hi - lo)) / {2 * VWH_K}, {VWH_QUANT})
           AS c
  FROM st CROSS JOIN (SELECT unnest([{idx}]) AS i)),"""]
    prev = "c0"
    for r in range(1, VWH_ITERS):
        sql.append(f"""
d{r} AS (SELECT v.id, v.v, c.cid, abs(v.v - c.c) AS d
         FROM vals v CROSS JOIN {prev} c),
a{r} AS MATERIALIZED (
  SELECT id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY d, cid) AS rn FROM d{r})
  WHERE rn = 1),
u{r} AS (SELECT cid, round(avg(v), {VWH_QUANT}) AS c
         FROM a{r} GROUP BY cid),
c{r} AS MATERIALIZED (
  SELECT p.cid, coalesce(u.c, p.c) AS c
  FROM {prev} p LEFT JOIN u{r} u USING (cid)),""")
        prev = f"c{r}"
    sql.append(f"""
df AS (SELECT v.id, v.v, c.cid, abs(v.v - c.c) AS d
       FROM vals v CROSS JOIN {prev} c),
af AS (SELECT id, v, cid FROM (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY d, cid) AS rn FROM df)
  WHERE rn = 1)
SELECT CAST(cid AS INT) AS bucket, count(*) AS doc_count,
       round(min(v), 2) AS min_price, round(max(v), 2) AS max_price,
       round(avg(v), 4) AS avg_price
FROM af GROUP BY cid ORDER BY bucket""")
    return "\n".join(sql)


# derived columns that the bodies below aggregate on
def _big_amount(ev: DataFrame) -> DataFrame:
    return ev.withColumn(
        "big_amount",
        F.when(F.col("value") > HIGH_VALUE, F.col("value")))


def _user_day(ev: DataFrame) -> DataFrame:
    return ev.withColumn(
        "user_day",
        F.concat_ws(":", F.col("user_id"), F.to_date("ts")))


def _day_of_week(ev: DataFrame) -> DataFrame:
    return ev.withColumn("dow", F.dayofweek("ts"))  # 1=Sun .. 7=Sat


SEARCHES = {
    "dsl_date_histogram": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"avg_value": {"avg": {"field": "value"}}},
        }},
    }),
    "dsl_stats": ("events", {
        "query": {"match_all": {}},
        "aggs": {"value_stats": {"stats": {"field": "value"}}},
    }),
    # the reference's request shape: query + bucket agg + metric sub-aggs
    # (NewAggregationRequestGenerator, Bootstrap.java:204-212)
    "dsl_composite": ("events", {
        "query": {"bool": {
            "must": [{"term": {"event_type": "purchase"}}],
            "filter": [{"range": {"ts": {"gte": "2024-01-08"}}}],
        }},
        "aggs": {"by_user": {
            "terms": {"field": "user_id", "size": 5},
            "aggs": {"avg_value": {"avg": {"field": "value"}},
                     "sum_value": {"sum": {"field": "value"}}},
        }},
    }),
    # sibling metric aggs: one aggregate pass, one output row
    "dsl_multi_metric": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {
            "max_value": {"max": {"field": "value"}},
            "total_value": {"sum": {"field": "value"}},
            "n_users": {"cardinality": {"field": "user_id"}},
            "n_events": {"value_count": {"field": "event_id"}},
        },
    }),
    "dsl_filter_agg": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"big_purchases": {
            "filter": {"range": {"value": {"gte": 100.0}}},
            "aggs": {"avg_value": {"avg": {"field": "value"}},
                     "n_users": {"cardinality": {"field": "user_id"}}},
        }},
    }),
    "dsl_filters_buckets": ("events", {
        "query": {"match_all": {}},
        "aggs": {"tiers": {
            "filters": {"filters": {
                "low": {"range": {"value": {"lt": 50.0}}},
                "mid": {"range": {"value": {"gte": 50.0, "lt": 150.0}}},
                "high": {"range": {"value": {"gte": 150.0}}},
            }},
            "aggs": {"avg_value": {"avg": {"field": "value"}}},
        }},
    }),
    # ranges are from-inclusive, to-exclusive
    "dsl_range_agg": ("events", {
        "query": {"match_all": {}},
        "aggs": {"value_ranges": {
            "range": {"field": "value",
                      "ranges": [{"key": "low", "to": 50.0},
                                 {"key": "mid", "from": 50.0, "to": 150.0},
                                 {"key": "high", "from": 150.0}]},
            "aggs": {"n_users": {"cardinality": {"field": "user_id"}}},
        }},
    }),
    # exact interpolated; {"approx": true} swaps in percentile_approx for
    # the scale path
    "dsl_percentiles": ("events", {
        "query": {"term": {"event_type": "view"}},
        "aggs": {"latency": {
            "percentiles": {"field": "value", "percents": [50, 90, 99]},
        }},
    }),
    # the unique event_id totalizes the sort
    "dsl_top_hits": ("events", {
        "query": {"match_all": {}},
        "aggs": {"by_type": {
            "terms": {"field": "event_type", "size": 10},
            "aggs": {"latest": {"top_hits": {
                "size": 3,
                "sort": [{"ts": "desc"}, {"event_id": "asc"}],
                "_source": ["event_id", "user_id", "value"],
            }}},
        }},
    }),
    # two bucket levels from one grouped pass
    "dsl_terms_nested": ("events", {
        "query": {"match_all": {}},
        "aggs": {"by_type": {
            "terms": {"field": "event_type", "size": 10},
            "aggs": {"by_user": {"terms": {"field": "user_id",
                                           "size": 3}}},
        }},
    }),
    # ES's scale-path aggregation is exactly a keyed groupBy plus a
    # lexicographic keyset predicate for `after`
    "dsl_composite_paged": ("events", {
        "query": {"match_all": {}},
        "aggs": {"pages": {
            "composite": {
                "size": 8,
                "sources": [{"etype": {"terms": {"field": "event_type"}}},
                            {"uid": {"terms": {"field": "user_id"}}}],
                "after": {"etype": "click", "uid": 5},
            },
            "aggs": {"avg_value": {"avg": {"field": "value"}}},
        }},
    }),
    # foreground and background counts from ONE conditional-aggregate scan,
    # scored by rate lift
    "dsl_significant_terms": ("events", {
        "query": {"range": {"value": {"gte": 150.0}}},
        "aggs": {"hot_types": {
            "significant_terms": {"field": "event_type", "size": 10},
        }},
    }),
    "dsl_derivative": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {
                "revenue": {"sum": {"field": "value"}},
                "rev_deriv": {"derivative": {"buckets_path": "revenue"}},
                "rev_cumsum": {"cumulative_sum":
                               {"buckets_path": "revenue"}},
            },
        }},
    }),
    # the trailing window includes the current bucket
    "dsl_moving_avg": ("events", {
        "query": {"term": {"event_type": "click"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {
                "vol_ma7": {"moving_fn": {"buckets_path": "doc_count",
                                          "window": 7}},
            },
        }},
    }),
    "dsl_bucket_script_selector": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {
                "revenue": {"sum": {"field": "value"}},
                "aov": {"bucket_script":
                        {"expr": "revenue / doc_count"}},
                "busy": {"bucket_selector":
                         {"expr": f"doc_count >= {BUSY_DAY_MIN_DOCS}"}},
            },
        }},
    }),
    # ORDER BY metric LIMIT n over the post-agg bucket frame
    "dsl_bucket_sort": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {
                "revenue": {"sum": {"field": "value"}},
                "top": {"bucket_sort": {
                    "sort": [{"revenue": {"order": "desc"}}],
                    "size": TOP_DAYS}},
            },
        }},
    }),
    "dsl_avg_bucket": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"revenue": {"sum": {"field": "value"}}},
            },
            "mean_daily_rev": {"avg_bucket":
                               {"buckets_path": "per_day>revenue"}},
            "peak_daily_rev": {"max_bucket":
                               {"buckets_path": "per_day>revenue"}},
            "low_daily_rev": {"min_bucket":
                              {"buckets_path": "per_day>revenue"}},
            "total_rev": {"sum_bucket":
                          {"buckets_path": "per_day>revenue"}},
        },
    }),
    # ES emits EMPTY calendar buckets (doc_count 0, null metrics) for gaps;
    # the calendar axis comes from the data min/max (one scalar agg) and
    # broadcast-left-joins the real buckets
    "dsl_date_histogram_zerofill": ("events", {
        "query": {"bool": {"must": [
            {"term": {"event_type": "purchase"}},
            {"range": {"value": {"gt": 150}}},
        ]}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day",
                               "min_doc_count": 0},
            "aggs": {"revenue": {"sum": {"field": "value"}}},
        }},
    }),
    "dsl_histogram": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"by_value": {
            "histogram": {"field": "value", "interval": HIST_INTERVAL},
            "aggs": {"avg_value": {"avg": {"field": "value"}}},
        }},
    }),
    # ordering by a sub-metric sorts the post-agg bucket frame, no second
    # scan
    "dsl_terms_order_metric": ("events", {
        "query": {"match_all": {}},
        "aggs": {"by_type": {
            "terms": {"field": "event_type", "size": 3,
                      "order": {"avg_value": "desc"}},
            "aggs": {"avg_value": {"avg": {"field": "value"}}},
        }},
    }),
    # two one-row aggregates cross-joined, each a single pass
    "dsl_global_agg": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {
            "purch_avg": {"avg": {"field": "value"}},
            "all_docs": {"global": {},
                         "aggs": {"avg_value": {"avg":
                                                {"field": "value"}}}},
        },
    }),
    # from-inclusive, to-exclusive, possibly overlapping windows: the same
    # map-side bucket explode as `range`/`filters`, one shuffle
    "dsl_date_range_agg": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"periods": {
            "date_range": {"field": "ts", "ranges": [
                {"key": "wk1", "to": "2024-01-08"},
                {"key": "wk2", "from": "2024-01-08",
                 "to": "2024-01-15"},
                {"key": "rest", "from": "2024-01-15"},
            ]},
            "aggs": {"revenue": {"sum": {"field": "value"}}},
        }},
    }),
    # POPULATION variance/std-deviation (ES's convention)
    "dsl_extended_stats": ("events", {
        "query": {"term": {"event_type": "view"}},
        "aggs": {"v": {"extended_stats": {"field": "value"}}},
    }),
    # exact: the percentage of observations at or below each value
    "dsl_percentile_ranks": ("events", {
        "query": {"term": {"event_type": "view"}},
        "aggs": {"vr": {"percentile_ranks": {"field": "value",
                                             "values": [50, 150, 300]}}},
    }),
    "dsl_missing_agg": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"no_big": {
            "missing": {"field": "big_amount"},
            "aggs": {"avg_small": {"avg": {"field": "value"}}},
        }},
    }, _big_amount),
    "dsl_weighted_avg": ("lineitem", {
        "query": {"term": {"l_returnflag": "R"}},
        "aggs": {"wavg_price": {"weighted_avg": {
            "value": {"field": "l_extendedprice"},
            "weight": {"field": "l_quantity"},
        }}},
    }),
    # a single max_by folded into the terms groupBy (no per-bucket sort, no
    # window); ES breaks ties arbitrarily, `tie_break` pins the unique
    # event_id so both engines pick the same row
    "dsl_top_metrics": ("events", {
        "aggs": {"by_type": {
            "terms": {"field": "event_type", "size": 10},
            "aggs": {"last_value": {"top_metrics": {
                "metrics": {"field": "value"},
                "sort": {"ts": "desc"},
                "tie_break": "event_id",
            }}},
        }},
    }),
    # one groupBy; the rarity filter runs post-agg on key-cardinality rows
    "dsl_rare_terms": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"rare": {
            "rare_terms": {"field": "user_day", "max_doc_count": 1},
            "aggs": {"spend": {"sum": {"field": "value"}}},
        }},
    }, _user_day),
    # a lag window over the bounded day frame, after the one corpus-scale
    # grouped pass
    "dsl_serial_diff": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {
                "revenue": {"sum": {"field": "value"}},
                "wow": {"serial_diff": {"buckets_path": "revenue",
                                        "lag": 7}},
            },
        }},
    }),
    # one scalar agg of the day frame
    "dsl_stats_bucket": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"revenue": {"sum": {"field": "value"}}},
            },
            "day_stats": {"stats_bucket":
                          {"buckets_path": "per_day>revenue"}},
        },
    }),
    # EXACT via the first-occurrence trick: each user counts only at their
    # first day (one value-keyed shuffle), then a running sum over the
    # bounded day frame; no per-bucket HLL unions, no second scan
    "dsl_cumulative_cardinality": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"users_seen": {"cumulative_cardinality":
                                    {"field": "user_id"}}},
        }},
    }),
    # constant-factor map-side explode, one shuffle, empty intersections
    # omitted
    "dsl_adjacency_matrix": ("events", {
        "aggs": {"adj": {
            "adjacency_matrix": {"filters": {
                "big": {"range": {"value": {"gte": 300}}},
                "purchase": {"term": {"event_type": "purchase"}},
                "weekend": {"terms": {"dow": [1, 7]}},
            }},
            "aggs": {"avg_value": {"avg": {"field": "value"}}},
        }},
    }, _day_of_week),
    # one multi-column groupBy shuffle, '|'-joined key_as_string,
    # _count-desc order
    "dsl_multi_terms": ("documents", {
        "aggs": {"by_lang_src": {
            "multi_terms": {"terms": [{"field": "lang"},
                                      {"field": "source"}],
                            "size": 15},
            "aggs": {"avg_len": {"avg": {"field": "n_chars"}}},
        }},
    }),
    # the events table spans ~a month, so the finest interval keeping <= 10
    # buckets is 'week'; the unit is picked on a one-row scalar aggregate
    # whose span arithmetic the oracle mirrors verbatim
    "dsl_auto_date_histogram": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"auto": {
            "auto_date_histogram": {"field": "ts",
                                    "buckets": AUTO_HIST_TARGET},
            "aggs": {"revenue": {"sum": {"field": "value"}}},
        }},
    }),
    # include/exclude are whole-key regexes, run post-agg on
    # key-cardinality rows
    "dsl_terms_include": ("documents", {
        "aggs": {"srcs": {"terms": {
            "field": "source", "size": 20,
            "include": "src1[0-9]", "exclude": "src12",
        }}},
    }),
    # document-frequency lift over the distinct analyzed tokens (one explode
    # + one token shuffle)
    "dsl_significant_text": ("documents", {
        "query": {"term": {"lang": "en"}},
        "aggs": {"sig": {"significant_text": {"field": "text",
                                              "size": 10}}},
    }),
    # the bin axis comes from a one-row bounds aggregate (bounded by the
    # value range, not data volume)
    "dsl_histogram_zerofill": ("events", {
        "query": {"bool": {"must": [
            {"term": {"user_id": 7}},
            {"term": {"event_type": "purchase"}},
        ]}},
        "aggs": {"bins": {"histogram": {"field": "value",
                                        "interval": 50,
                                        "min_doc_count": 0}}},
    }),
    # the parent interval is named explicitly: the metric compiler is
    # context-free (esdsl._metric_cols)
    "dsl_rate": ("events", {
        "query": {"term": {"event_type": "click"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {
                "events_per_hour": {"rate": {
                    "unit": "hour", "parent_interval": "day"}},
                "value_per_hour": {"rate": {
                    "field": "value", "unit": "hour",
                    "parent_interval": "day"}},
            },
        }},
    }),
    # ES runs a t-digest over the window; exact percentiles here — the
    # window is bucket-cardinality (days)
    "dsl_moving_percentiles": ("events", {
        "query": {"term": {"event_type": "view"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"vol": {"moving_percentiles": {
                "buckets_path": "doc_count", "window": 7,
                "percents": [50, 90]}}},
        }},
    }),
    # one scalar agg of the bounded day frame computes all three siblings
    "dsl_min_max_sum_bucket": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"revenue": {"sum": {"field": "value"}}},
            },
            "worst_day": {"min_bucket":
                          {"buckets_path": "per_day>revenue"}},
            "best_day": {"max_bucket":
                         {"buckets_path": "per_day>revenue"}},
            "total": {"sum_bucket":
                      {"buckets_path": "per_day>revenue"}},
        },
    }),
    # the md5 partition filter runs on the RAW key before the groupBy, so a
    # page shuffles ~1/20 of the keys (ES's motive: one terms response over
    # billions of keys cannot materialize)
    "dsl_terms_partition": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"spenders": {
            "terms": {"field": "user_id", "size": _TP_SIZE,
                      "include": {"partition": _TP_PARTITION,
                                  "num_partitions": _TP_NUM},
                      "order": {"spend": "desc"}},
            "aggs": {"spend": {"sum": {"field": "value"}}},
        }},
    }),
    # the `after` cursor compiles to one lexicographic keyset predicate
    # evaluated BEFORE the bucket sort, so a page aggregates only the keys
    # past the cursor
    "dsl_composite_mixed": ("events", {"aggs": {"page": {"composite": {
        "size": 12,
        "sources": [
            {"day": {"date_histogram": {"field": "ts",
                                        "calendar_interval": "day"}}},
            {"etype": {"terms": {"field": "event_type"}}},
        ],
        "after": {"day": "2024-01-10 00:00:00", "etype": "purchase"},
    }, "aggs": {"revenue": {"sum": {"field": "value"}}}}}}),
    # without `missing` ES EXCLUDES null keys; the coalesce runs before the
    # groupBy, so the substitute bucket shuffles like any other key
    "dsl_terms_missing": ("events", {
        "runtime_mappings": {"maybe_type": {
            "expr": "CASE WHEN value < 50 THEN NULL "
                    "ELSE event_type END"}},
        "aggs": {"types": {
            "terms": {"field": "maybe_type", "size": 10,
                      "missing": "(none)"},
            "aggs": {"revenue": {"sum": {"field": "value"}}},
        }},
    }),
    # named MovingFunctions reducers over the bounded bucket frame only
    "dsl_moving_fn_max": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {
                "revenue": {"sum": {"field": "value"}},
                "peak7": {"moving_fn": {
                    "buckets_path": "revenue", "window": 7,
                    "script": "MovingFunctions.max(values)"}},
                "vol7": {"moving_fn": {
                    "buckets_path": "revenue", "window": 7,
                    "script": "MovingFunctions.stdDev(values)"}},
            }}},
    }),
    # sparse buckets are pruned BEFORE the bucket sort
    "dsl_terms_min_doc_count": ("events", {
        "query": {"term": {"event_type": "purchase"}},
        "aggs": {"buyers": {
            "terms": {"field": "user_id", "size": 15,
                      "min_doc_count": 5},
            "aggs": {"spend": {"sum": {"field": "value"}}},
        }},
    }),
}


QUERIES = {
    **dsl_searches(SEARCHES),
    "dsl_nested_agg": dsl_nested_agg,
    "dsl_boxplot": dsl_boxplot,
    "dsl_mad": dsl_mad,
    "dsl_string_stats": dsl_string_stats,
    "dsl_t_test": dsl_t_test,
    "dsl_matrix_stats": dsl_matrix_stats,
    "dsl_percentiles_bucket": dsl_percentiles_bucket,
    "dsl_normalize": dsl_normalize,
    "dsl_sampler": dsl_sampler,
    "dsl_filters_other_bucket": dsl_filters_other_bucket,
    "dsl_date_histogram_offset": dsl_date_histogram_offset,
    "dsl_geotile_grid": dsl_geotile_grid,
    "dsl_geohash_grid": dsl_geohash_grid,
    "dsl_geo_centroid": dsl_geo_centroid,
    "dsl_diversified_sampler": dsl_diversified_sampler,
    "dsl_categorize_text": dsl_categorize_text,
    "dsl_geo_bounds": dsl_geo_bounds,
    "dsl_reverse_nested": dsl_reverse_nested,
    "dsl_children_agg": dsl_children_agg,
    "dsl_geo_line": dsl_geo_line,
    "dsl_change_point": dsl_change_point,
    "dsl_bucket_correlation": dsl_bucket_correlation,
    "dsl_bucket_count_ks_test": dsl_bucket_count_ks_test,
    "dsl_geo_distance_rings": dsl_geo_distance_rings,
    "dsl_date_histogram_tz": dsl_date_histogram_tz,
    "dsl_counter_rate": dsl_counter_rate,
    "dsl_tsds_downsample": dsl_tsds_downsample,
    "dsl_time_series": dsl_time_series,
    "dsl_variable_width_histogram": dsl_variable_width_histogram,
}


ORACLES = {
    "dsl_date_histogram": DSL_DATE_HISTOGRAM_ORACLE,
    "dsl_stats": DSL_STATS_ORACLE,
    "dsl_composite": DSL_COMPOSITE_ORACLE,
    "dsl_terms_nested": DSL_TERMS_NESTED_ORACLE,
    "dsl_composite_paged": DSL_COMPOSITE_PAGED_ORACLE,
    "dsl_significant_terms": DSL_SIGNIFICANT_TERMS_ORACLE,
    "dsl_multi_metric": DSL_MULTI_METRIC_ORACLE,
    "dsl_filter_agg": DSL_FILTER_AGG_ORACLE,
    "dsl_filters_buckets": DSL_FILTERS_BUCKETS_ORACLE,
    "dsl_range_agg": DSL_RANGE_AGG_ORACLE,
    "dsl_percentiles": DSL_PERCENTILES_ORACLE,
    "dsl_top_hits": DSL_TOP_HITS_ORACLE,
    "dsl_missing_agg": DSL_MISSING_ORACLE,
    "dsl_extended_stats": DSL_EXTENDED_STATS_ORACLE,
    "dsl_percentile_ranks": DSL_PERCENTILE_RANKS_ORACLE,
    "dsl_date_range_agg": DSL_DATE_RANGE_ORACLE,
    "dsl_global_agg": DSL_GLOBAL_ORACLE,
    "dsl_derivative": DSL_DERIVATIVE_ORACLE,
    "dsl_date_histogram_zerofill": DSL_ZEROFILL_ORACLE,
    "dsl_histogram": DSL_HISTOGRAM_ORACLE,
    "dsl_terms_order_metric": DSL_TERMS_ORDER_ORACLE,
    "dsl_moving_avg": DSL_MOVING_AVG_ORACLE,
    "dsl_bucket_script_selector": DSL_BUCKET_SCRIPT_ORACLE,
    "dsl_bucket_sort": DSL_BUCKET_SORT_ORACLE,
    "dsl_avg_bucket": DSL_AVG_BUCKET_ORACLE,
    "dsl_weighted_avg": DSL_WEIGHTED_AVG_ORACLE,
    "dsl_top_metrics": DSL_TOP_METRICS_ORACLE,
    "dsl_rare_terms": DSL_RARE_TERMS_ORACLE,
    "dsl_serial_diff": DSL_SERIAL_DIFF_ORACLE,
    "dsl_stats_bucket": DSL_STATS_BUCKET_ORACLE,
    "dsl_cumulative_cardinality": DSL_CUMULATIVE_CARDINALITY_ORACLE,
    "dsl_adjacency_matrix": DSL_ADJACENCY_ORACLE,
    "dsl_multi_terms": DSL_MULTI_TERMS_ORACLE,
    "dsl_auto_date_histogram": DSL_AUTO_DATE_HISTOGRAM_ORACLE,
    "dsl_terms_include": DSL_TERMS_INCLUDE_ORACLE,
    "dsl_significant_text": DSL_SIGNIFICANT_TEXT_ORACLE,
    "dsl_histogram_zerofill": DSL_HISTOGRAM_ZEROFILL_ORACLE,
    "dsl_nested_agg": DSL_NESTED_AGG_ORACLE,
    "dsl_boxplot": DSL_BOXPLOT_ORACLE,
    "dsl_mad": DSL_MAD_ORACLE,
    "dsl_string_stats": DSL_STRING_STATS_ORACLE,
    "dsl_t_test": DSL_T_TEST_ORACLE,
    "dsl_matrix_stats": DSL_MATRIX_STATS_ORACLE,
    "dsl_percentiles_bucket": DSL_PERCENTILES_BUCKET_ORACLE,
    "dsl_normalize": DSL_NORMALIZE_ORACLE,
    "dsl_sampler": DSL_SAMPLER_ORACLE,
    "dsl_filters_other_bucket": DSL_FILTERS_OTHER_ORACLE,
    "dsl_date_histogram_offset": DSL_DATE_HISTOGRAM_OFFSET_ORACLE,
    "dsl_geotile_grid": _geotile_oracle(),
    "dsl_geohash_grid": _geohash_oracle(),
    "dsl_geo_centroid": _geo_centroid_oracle(),
    "dsl_diversified_sampler": DSL_DIVERSIFIED_SAMPLER_ORACLE,
    "dsl_categorize_text": DSL_CATEGORIZE_TEXT_ORACLE,
    "dsl_rate": DSL_RATE_ORACLE,
    "dsl_geo_bounds": _geo_bounds_oracle(),
    "dsl_reverse_nested": DSL_REVERSE_NESTED_ORACLE,
    "dsl_children_agg": DSL_CHILDREN_AGG_ORACLE,
    "dsl_geo_line": _geo_line_oracle(),
    "dsl_moving_percentiles": DSL_MOVING_PERCENTILES_ORACLE,
    "dsl_change_point": DSL_CHANGE_POINT_ORACLE,
    "dsl_bucket_correlation": DSL_BUCKET_CORRELATION_ORACLE,
    "dsl_bucket_count_ks_test": DSL_BUCKET_KS_ORACLE,
    "dsl_min_max_sum_bucket": DSL_MIN_MAX_SUM_BUCKET_ORACLE,
    "dsl_terms_partition": DSL_TERMS_PARTITION_ORACLE,
    "dsl_geo_distance_rings": _geo_rings_oracle(),
    "dsl_composite_mixed": DSL_COMPOSITE_MIXED_ORACLE,
    "dsl_terms_missing": DSL_TERMS_MISSING_ORACLE,
    "dsl_date_histogram_tz": DSL_DATE_HISTOGRAM_TZ_ORACLE,
    "dsl_moving_fn_max": DSL_MOVING_FN_MAX_ORACLE,
    "dsl_terms_min_doc_count": DSL_TERMS_MIN_DOC_COUNT_ORACLE,
    "dsl_counter_rate": DSL_COUNTER_RATE_ORACLE,
    "dsl_tsds_downsample": DSL_TSDS_DOWNSAMPLE_ORACLE,
    "dsl_time_series": DSL_TIME_SERIES_ORACLE,
    "dsl_variable_width_histogram": _vwh_oracle(),
}
