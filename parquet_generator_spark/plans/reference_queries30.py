"""Round-12 reference tranche: a bounded painless ``while`` loop in
``scripted_metric``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# -------------------------------------- dsl_scripted_metric_while

def dsl_scripted_metric_while(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """``scripted_metric`` round 12 painless widening: a bounded
    ``while`` loop map body (the imperative spelling of the r11 for
    fold — same one-aggregate() translation, no unroll, no UDF) and
    a MULTI-STATEMENT accumulation sibling (``state.s += ...;
    state.n += 1`` with a ``return`` reduce — the mean pattern) in
    the same terms bucket. Values quantized (Math.floor(x*x*1000))
    so cross-row sums are exact integers in both engines; unbounded
    while conditions stay loudly refused
    (operators/esdsl.py _MAP_WHILE_RE + fences)."""
    from parquet_generator_spark.operators.esdsl import search

    emb = load_table(spark, "embeddings", sf_dir)
    return search(emb, {
        "aggs": {"labels": {
            "terms": {"field": "label", "size": 20},
            "aggs": {
                "sq_millis": {"scripted_metric": {
                    "init_script": "state.v = 0",
                    "map_script":
                        "int i = 0; while (i < "
                        "doc['embedding'].length) { state.v += "
                        "Math.floor(doc['embedding'][i] * "
                        "doc['embedding'][i] * 1000); i++ }",
                    "combine_script":
                        "long p = 0; for (t in state.v) { p += t }"
                        " return p",
                    "reduce_script":
                        "long p = 0; for (a in states) { p += a }"
                        " return p"}},
                "mean_vec_bucket": {"scripted_metric": {
                    "init_script": "state.s = 0; state.n = 0",
                    "map_script":
                        "state.s += doc['vec_id'].value % 7; "
                        "state.n += 1",
                    "reduce_script":
                        "return state.s * 1.0 / state.n"}},
            }}},
    })


_SCRIPTED_WHILE_ORACLE = """
WITH t AS (
  SELECT label,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding,
               x -> floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                          * 1000))),
           (acc, x) -> acc + x) AS v,
         vec_id % 7 AS m
  FROM embeddings)
SELECT label AS key, CAST(count(*) AS BIGINT) AS doc_count,
       sum(v) AS sq_millis,
       CAST(sum(m) AS DOUBLE) * 1.0 / CAST(sum(1) AS DOUBLE)
         AS mean_vec_bucket
FROM t GROUP BY label
ORDER BY doc_count DESC, key ASC LIMIT 20
"""

QUERIES.update({"dsl_scripted_metric_while": dsl_scripted_metric_while})
ORACLES.update({"dsl_scripted_metric_while": _SCRIPTED_WHILE_ORACLE})
