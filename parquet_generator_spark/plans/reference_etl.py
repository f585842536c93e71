"""Queries over the reference's ES-shaped export, plus batch pipeline
utilities.

The reference (``Bootstrap``) discovers dates with a terms
aggregation, scans one date range, filters on a phrase and decodes
JSON ``props``; those keys are here. So are the pipeline utilities
that ride on the same tables: an anti join, a deterministic
train/val/test split, a daily pivot, skew-salted aggregation and
join, and approximate sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.operators.esdsl import search
from parquet_generator_spark.operators.skew import salted_agg, salted_join
from parquet_generator_spark.sources.catalog import (
    load_events_between,
    load_table,
)


# Pipeline-utility queries: anti join, deterministic train/val/test
# splitting, pivot reshape, and multimodal frame-sampling — the
# remaining verbs a training-data pipeline leans on daily.


def anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO orders in 1997 (left-anti join — the
    complement of q4's semi join), counted per market segment."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    o97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    return (cust.join(o97, F.col("c_custkey") == F.col("o_custkey"),
                      "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_inactive"))
            .orderBy("c_mktsegment"))


ANTI_JOIN_ORACLE = """
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# deterministic hash split: md5 of the id -> bucket 0..99.
# Engine-portable (md5 is bit-identical everywhere, unlike each
# engine's private hash()), stable under repartitioning/reruns —
# the property a training/holdout split MUST have.
SPLIT_BUCKETS = (80, 90)  # <80 train, <90 val, else test


def _bucket_spark(id_col: str) -> F.Column:
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("bigint"),
        F.lit(100))


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment for every
    document by content-independent id hash; per-source split sizes.
    A narrow map + one count shuffle — no sampling RNG, so the split
    is reproducible across runs, engines, and cluster layouts."""
    docs = load_table(spark, "documents", sf_dir)
    b = _bucket_spark("doc_id")
    split = (F.when(b < SPLIT_BUCKETS[0], "train")
             .when(b < SPLIT_BUCKETS[1], "val")
             .otherwise("test"))
    return (docs.withColumn("split", split)
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("source", "split"))


TRAIN_TEST_SPLIT_ORACLE = f"""
SELECT source,
       CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {SPLIT_BUCKETS[0]} THEN 'train'
            WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {SPLIT_BUCKETS[1]} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n
FROM documents GROUP BY source, split ORDER BY source, split
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape: daily value totals pivoted to one column per event
    type (explicit category list keeps the schema static — an
    unpinned pivot would need an extra distinct pass and make the
    output schema data-dependent)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .pivot("event_type", list(EVENT_TYPES))
            .agg(F.round(F.sum("value"), 2))
            .orderBy("day"))


PIVOT_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       round(sum(value) FILTER (WHERE event_type = 'click'), 2)    AS click,
       round(sum(value) FILTER (WHERE event_type = 'error'), 2)    AS error,
       round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
       round(sum(value) FILTER (WHERE event_type = 'signup'), 2)   AS signup,
       round(sum(value) FILTER (WHERE event_type = 'view'), 2)     AS view
FROM events GROUP BY day ORDER BY day
"""


# Scale-path queries: explicit skew handling (salted agg/join,
# value-identical to the plain forms => plain-SQL oracles) and
# approximate sketches (HLL distinct counts, t-digest percentiles —
# approximate by design, so the driver records rows-only and the error
# bound vs the exact answer is asserted in tests/test_scale_ops.py).


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals via the two-stage salted aggregation;
    value-identical to a plain GROUP BY (the oracle)."""
    ev = load_table(spark, "events", sf_dir)
    return (salted_agg(ev, "event_type", salt_from="event_id",
                       aggs={"n": F.count(F.lit(1)),
                             "sum_value": F.sum("value")})
            .select("event_type", "n",
                    F.round("sum_value", 2).alias("sum_value"))
            .orderBy("event_type"))


SKEW_AGG_ORACLE = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⨝ orders through the salt-and-replicate join, then
    revenue per order priority; value-identical to the plain join."""
    li = load_table(spark, "lineitem", sf_dir).withColumnRenamed(
        "l_orderkey", "o_orderkey")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, key="o_orderkey",
                         salt_from="l_linenumber", n_salt=8)
    return (joined.groupBy("o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy("o_orderpriority"))


SKEW_JOIN_ORACLE = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


HLL_RSD = 0.02


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-based scale path: HLL++ distinct users and t-digest
    median per event type — constant memory per group at any scale.

    The sketch estimates themselves are engine-specific, so the
    OUTPUT is made deterministic and driver-hashable: each row
    carries the exact answers plus in-bound booleans — ``hll_ok``
    (|approx - exact| <= 3*rsd*exact, ~unfailable for a working
    HLL++ at rsd=0.02) and ``tdigest_ok`` (the approximate median
    lies inside the exact p45..p55 band; percentile_approx at
    accuracy 10000 has rank error <= n/10000, far tighter). The
    oracle computes the exact values and TRUE literals, so a sketch
    drifting out of bound flips a boolean and fails the hash — the
    sketch check is driver-visible without hashing the unstable
    estimate. Exact countDistinct/percentile here exist only to
    judge the sketches; at 100 TB you would ship the sketch columns
    alone."""
    ev = load_table(spark, "events", sf_dir)
    # countDistinct BESIDE buffer aggregates (percentile sketches)
    # forces an Expand that doubles the scan through the aggregation
    # (measured 5x slower at sf0.1), so the exact distinct runs as
    # its own two-stage groupBy (partial-aggregated, no Expand) and
    # re-joins on the group-cardinality key
    exact_users = (ev.groupBy("event_type", "user_id")
                   .agg(F.count(F.lit(1)).alias("_c"))
                   .groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("exact_users")))
    agg = (ev.groupBy("event_type")
           .agg(F.approx_count_distinct("user_id", rsd=HLL_RSD)
                .alias("approx_users"),
                F.percentile_approx("value", 0.5, 10000)
                .alias("approx_p50"),
                # one exact-percentile buffer per group, not three
                F.expr("percentile(value, array(0.45, 0.5, 0.55))")
                .alias("pct"),
                F.count(F.lit(1)).alias("n"))
           .join(exact_users, "event_type"))
    return (agg.select(
        "event_type", "n", "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users"))
         <= F.col("exact_users") * (3 * HLL_RSD)).alias("hll_ok"),
        F.round(F.col("pct")[1], 4).alias("exact_p50"),
        ((F.col("approx_p50") >= F.col("pct")[0])
         & (F.col("approx_p50") <= F.col("pct")[2])).alias("tdigest_ok"))
        .orderBy("event_type"))


APPROX_SKETCHES_ORACLE = """
SELECT event_type, count(*) AS n,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_ok,
       round(quantile_cont(value, 0.5), 4) AS exact_p50,
       TRUE AS tdigest_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


# Reference-parity and ES-DSL queries as (spark, sf_dir) callables,
# each paired with its DuckDB oracle SQL.
#
# These map SURVEY.md §2.1/§2.2 rows onto the test tables: the events
# table plays the role of the reference's ES event indices
# (`rule_name` -> `event_type`, dated indices -> the ts column),
# documents plays an analyzed-text index.


def terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's rule-discovery terms agg (Bootstrap.java:273)
    on event_type."""
    ev = load_table(spark, "events", sf_dir)
    return search(ev, {
        "query": {"match_all": {}},
        "aggs": {"rules": {"terms": {"field": "event_type", "size": 10}}},
    })


TERMS_AGG_ORACLE = """
SELECT event_type AS key, count(*) AS doc_count
FROM events GROUP BY event_type
ORDER BY doc_count DESC, key ASC
LIMIT 10
"""


def match_phrase_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase on analyzed text (EsParquetWriter.java:69)."""
    docs = load_table(spark, "documents", sf_dir)
    return (search(docs, {
        "query": {"match_phrase": {"text": {"query": "data query"}}},
    }).select("doc_id", "lang", "source").orderBy("doc_id"))


MATCH_PHRASE_ORACLE = r"""
SELECT doc_id, lang, source FROM documents
WHERE regexp_matches(lower(text),
                     '(^|[^a-z0-9])data[^a-z0-9]+query([^a-z0-9]|$)')
ORDER BY doc_id
"""


def date_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recent-N-days selection (Bootstrap.java:264) as a pruned date
    scan: daily doc counts for the last 7 days of the stream. The
    range predicate is pushed onto the raw nanos column (see
    load_events_between) so row-group stats prune the scan."""
    ev = load_events_between(spark, sf_dir, "2024-01-24", "2024-01-31")
    return (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("day"))


DATE_RANGE_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS doc_count
FROM events
WHERE ts >= TIMESTAMP '2024-01-24' AND ts < TIMESTAMP '2024-01-31'
GROUP BY day ORDER BY day
"""


def json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient JSON decode (ExtendedJsonDecoder parity) of the props
    column, then aggregate over the decoded field."""
    ev = load_table(spark, "events", sf_dir)
    rec = F.from_json(F.col("props"),
                      T.StructType([T.StructField("k", T.IntegerType())]))
    return (ev.withColumn("k", rec["k"])
            .groupBy((F.col("k") % 10).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 2).alias("avg_value"))
            .orderBy("bucket"))


JSON_DECODE_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS bucket,
       count(*) AS n,
       round(avg(value), 2) AS avg_value
FROM events GROUP BY bucket ORDER BY bucket
"""


def json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation: extract a field from the JSON
    props column (the reference's lenient-decode target) and
    aggregate it per event type — the extraction is a JVM-side JSON
    path, no UDF, evaluated inside the single grouped pass."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.round(F.avg("k"), 4).alias("avg_k"),
                 F.max("k").alias("max_k"),
                 F.count("k").alias("n_with_k"))
            .orderBy("event_type"))


JSON_PROPS_ORACLE = """
SELECT event_type,
       round(avg(k), 4) AS avg_k,
       max(k) AS max_k,
       count(k) AS n_with_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "anti_join_inactive": anti_join_inactive,
    "train_test_split": train_test_split,
    "pivot_daily_revenue": pivot_daily_revenue,
    "skew_salted_agg": skew_salted_agg,
    "skew_salted_join": skew_salted_join,
    "approx_sketches": approx_sketches,
    "terms_agg": terms_agg,
    "match_phrase_filter": match_phrase_filter,
    "date_range_scan": date_range_scan,
    "json_decode": json_decode,
    "json_props_agg": json_props_agg,
}


ORACLES = {
    "anti_join_inactive": ANTI_JOIN_ORACLE,
    "train_test_split": TRAIN_TEST_SPLIT_ORACLE,
    "pivot_daily_revenue": PIVOT_ORACLE,
    "skew_salted_agg": SKEW_AGG_ORACLE,
    "skew_salted_join": SKEW_JOIN_ORACLE,
    "approx_sketches": APPROX_SKETCHES_ORACLE,
    "terms_agg": TERMS_AGG_ORACLE,
    "match_phrase_filter": MATCH_PHRASE_ORACLE,
    "date_range_scan": DATE_RANGE_ORACLE,
    "json_decode": JSON_DECODE_ORACLE,
    "json_props_agg": JSON_PROPS_ORACLE,
}
