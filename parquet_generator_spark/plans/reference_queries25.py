"""ES|QL tranche two: the time-series panel shape, multivalue
expansion, and structured-log DISSECT — the three highest-frequency
real ES|QL pipelines the round-10 subset still refused.

All three ride the round-11 esql.py rework: commands are an ORDERED
list applied sequentially by both renderers (no hoisting — `SORT |
LIMIT | WHERE` filters the top-n), CONCAT renders NULL-propagating
in both engines, and a KEEP that drops a sort column projects it
through the oracle's LIMIT subquery.

Reference parity: ES|QL per the public ES 8.11+ grammar (the
reference repo's surface is an ETL tool with no query language; the
translation generalizes what its ES indices get queried WITH).

Scale notes:
- esql_pipeline_ts: the NOW() anchor resolves at PLAN time to a
  timestamp literal (plan_clock), so the range filter reaches the
  parquet scan (PushedFilters) and row-group pruning holds at any
  corpus size; the aggregation is one hash-agg keyed on
  date_trunc — partial map-side combine, no wide rows.
- esql_mv_expand: explode is a narrow map (no shuffle); the only
  shuffle is the token groupBy, and the top-k is
  TakeOrderedAndProject, never a full sort.
- esql_dissect: regexp_extract is pure codegen on the scanned
  column; the groupBy key is a small int — bounded agg state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark.operators.esdsl import plan_clock
from parquet_generator_spark.operators.esql import (
    esql_df,
    esql_duck_sql,
    parse_esql,
)
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

# same injected plan-time instant the dsl_date_math_now tranche
# uses: mid-day inside the events range, so the trailing-14-day
# window has both full days and a partial boundary day
NOW_ANCHOR = "2024-01-22 09:30:00"

ESQL_TS_QUERY = """
FROM events
| WHERE ts >= NOW() - 14 day AND value >= 1
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id),
        mx = MAX(value) BY day = BUCKET(ts, 1 day)
| WHERE n >= 5
| SORT day
| LIMIT 100
"""

ESQL_MV_QUERY = """
FROM documents
| EVAL toks = SPLIT(text, " ")
| MV_EXPAND toks
| WHERE LENGTH(toks) >= 3
| STATS n = COUNT(*), docs = COUNT_DISTINCT(doc_id) BY toks
| SORT n DESC, toks
| LIMIT 30
"""

# events.props is the driver's structured-log column: '{"k": <int>}'
ESQL_DISSECT_QUERY = (
    'FROM events '
    '| DISSECT props "{\\"k\\": %{kv}}" '
    '| EVAL k = TO_LONG(kv) '
    '| STATS n = COUNT(*), mxk = MAX(k) BY b = k % 10 '
    '| SORT b')


def esql_pipeline_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default Kibana ES|QL panel: NOW()-relative range filter +
    STATS ... BY BUCKET(ts, 1 day) + a post-aggregation WHERE
    (sequential semantics — it filters the aggregated relation).
    NOW() resolves under the injected plan clock to a literal that
    reaches the parquet scan."""
    with plan_clock(NOW_ANCHOR):
        plan = parse_esql(ESQL_TS_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def esql_mv_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT + MV_EXPAND + grouped count: the ES|QL token-frequency
    pipeline (explode == unnest in both engines; empty/NULL arrays
    drop, per the documented divergence note)."""
    plan = parse_esql(ESQL_MV_QUERY)
    docs = load_table(spark, plan.table, sf_dir)
    return esql_df(docs, plan)


def esql_dissect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISSECT over the structured-log props column -> typed EVAL ->
    grouped stats: the log-pipeline staple. The %{key} pattern
    compiles to ONE anchored regex valid in both Java regex and
    DuckDB's RE2; extraction is regexp_extract codegen on the
    scanned column."""
    plan = parse_esql(ESQL_DISSECT_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _ts_oracle() -> str:
    with plan_clock(NOW_ANCHOR):
        return esql_duck_sql(parse_esql(ESQL_TS_QUERY))


QUERIES.update({
    "esql_pipeline_ts": esql_pipeline_ts,
    "esql_mv_expand": esql_mv_expand,
    "esql_dissect": esql_dissect,
})
ORACLES.update({
    "esql_pipeline_ts": _ts_oracle(),
    "esql_mv_expand": esql_duck_sql(parse_esql(ESQL_MV_QUERY)),
    "esql_dissect": esql_duck_sql(parse_esql(ESQL_DISSECT_QUERY)),
})


# -------------------------------------- dsl_scripted_metric_loop

def dsl_scripted_metric_loop(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """``scripted_metric`` whose map_script is a bounded painless
    ``for`` loop over a doc ARRAY field — the remaining real-world
    scripted_metric shape the fold gate refused (VERDICT r10 #8).
    The loop bound is the array's own length, so it translates to
    ONE higher-order aggregate() fold per document (codegen, no
    unroll, no UDF); the per-doc value then rides the same partial
    aggregate as every other fold. Values quantized inside the loop
    (Math.floor(x*x*1000)) so the cross-row sum is an exact
    integer-valued double on both engines; the per-element CAST to
    DOUBLE pins float[] arithmetic to one promotion rule."""
    from parquet_generator_spark.operators.esdsl import search

    emb = load_table(spark, "embeddings", sf_dir)
    return search(emb, {
        "aggs": {"labels": {
            "terms": {"field": "label", "size": 20},
            "aggs": {"sq_millis": {"scripted_metric": {
                "init_script": "state.v = 0",
                "map_script":
                    "for (int i = 0; i < doc['embedding'].length; "
                    "i++) { state.v += Math.floor("
                    "doc['embedding'][i] * doc['embedding'][i] "
                    "* 1000) }",
                "combine_script":
                    "long p = 0; for (t in state.v) { p += t }"
                    " return p",
                "reduce_script":
                    "long p = 0; for (a in states) { p += a }"
                    " return p"}}},
        }},
    })


_SCRIPTED_LOOP_ORACLE = """
WITH t AS (
  SELECT label,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding,
               x -> floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                          * 1000))),
           (acc, x) -> acc + x) AS v
  FROM embeddings)
SELECT label AS key, CAST(count(*) AS BIGINT) AS doc_count,
       sum(v) AS sq_millis
FROM t GROUP BY label
ORDER BY doc_count DESC, key ASC LIMIT 20
"""

QUERIES.update({"dsl_scripted_metric_loop": dsl_scripted_metric_loop})
ORACLES.update({"dsl_scripted_metric_loop": _SCRIPTED_LOOP_ORACLE})


# ------------------------------------------------ esql_rename_drop

ESQL_RENAME_QUERY = (
    "FROM events "
    "| RENAME event_type AS etype, value AS v "
    '| WHERE STARTS_WITH(etype, "pu") AND v >= 50 '
    "| EVAL bucket = TO_LONG(FLOOR(v)) % 5, "
    'tag = COALESCE(etype, "none") '
    "| DROP props "
    "| STATS n = COUNT(*), hi = MAX(v) BY tag, bucket "
    "| SORT tag, bucket")


def esql_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL projection-management commands: RENAME (sequential —
    a renamed sort column keeps feeding later LIMITs under its new
    name), DROP (refused at parse time if it would remove an active
    sort column), plus the string/scalar function tranche
    (STARTS_WITH/ENDS_WITH per-engine, COALESCE/TRIM/SUBSTRING/
    FLOOR engine-neutral). FLOOR before TO_LONG keeps the
    double->BIGINT cast integer-exact in both engines (DuckDB
    rounds, Spark truncates — floor makes them agree)."""
    plan = parse_esql(ESQL_RENAME_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


QUERIES.update({"esql_rename_drop": esql_rename_drop})
ORACLES.update({
    "esql_rename_drop": esql_duck_sql(parse_esql(ESQL_RENAME_QUERY)),
})
