"""ES-DSL twelfth tranche: IP/CIDR queries (`term`/`terms` with CIDR
masks, packed-integer `range` comparisons), the `ip_range` bucket
agg, the `intervals` query (ordered/unordered multi-term proximity
with a SHARED max_gaps budget), and >2-clause `span_near`. The reference's fixture schema is SIEM sign-in data with
client_ip / dev_address fields (office365_signin/schema.asvc), and
its whole domain is security alerting (the rule_name terms agg,
Bootstrap.java:196-219) — IP matching is the first query a real user
of that data writes.

The raw tables carry no IP column, so the query first attaches a
deterministic synthetic dotted-quad as a runtime field (the
dsl_runtime_field / geo-family precedent): md5-spread octets over
user_id, computed identically on both engines, so the predicates
exercise the real string->packed-int parse path while staying
oracle-reproducible.

Scale posture: every IP predicate is a narrow row-level expression
(split + integer arithmetic in whole-stage codegen — no UDF, no
join); the ip_range agg is one grouped pass over exploded bucket
labels plus a bounded literal join for zero-fill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.esdsl import (
    ip_num_sql,
    ip_prefix_agg,
    ip_prefix_agg_duck_sql,
    ip_range_agg,
    proximity_pred_sql,
    search,
    translate_query,
)
from parquet_generator_spark.operators.util import widen_if_narrow
from parquet_generator_spark.plans.reference_queries9 import (
    _h_duck,
    _h_spark,
)
from parquet_generator_spark.sources.catalog import load_table
from parquet_generator_spark.operators import cache as _cache

QUERIES: dict = {}
ORACLES: dict = {}


def _ip_expr(h, cast_str: str) -> str:
    """Dotted-quad runtime field: first octet cycles the three
    classic private blocks so CIDR masks select meaningful subsets;
    the rest md5-spread over the full byte range."""
    o1 = (f"(CASE WHEN ({h(1)}) % 3 = 0 THEN 10 "
          f"WHEN ({h(1)}) % 3 = 1 THEN 172 ELSE 192 END)")
    o2 = f"(({h(5)}) % 256)"
    o3 = f"(({h(9)}) % 256)"
    o4 = f"(({h(13)}) % 256)"
    c = cast_str
    return (f"concat({c.format(o1)}, '.', {c.format(o2)}, '.', "
            f"{c.format(o3)}, '.', {c.format(o4)})")


IP_S = _ip_expr(_h_spark, "cast({} as string)")
IP_D = _ip_expr(_h_duck, "CAST({} AS VARCHAR)")

def _ip_source(ev: DataFrame) -> DataFrame:
    """Synthesize the SIEM-shaped client_ip column ONCE, widened and
    materialized (localCheckpoint — the minhash-signature barrier
    pattern). Without the barrier Catalyst pushes the IP predicates
    below the widening exchange and RE-INLINES the md5+concat
    synthesis into every split/rlike use (~60 md5 evaluations per
    row in one scan task: measured 11s at sf0.1). A real corpus
    stores the ip string, so the checkpointed column IS the
    realistic scan shape; downstream packed-int predicates then
    cost one split chain per use over all cores."""
    return _cache.checkpoint(
        widen_if_narrow(ev)
        .select(F.expr(IP_S).alias("client_ip")))


IP_FILTER = {"bool": {
    "must": [{"range": {"client_ip": {"gte": "100.0.0.0"}}}],
    "must_not": [{"term": {"client_ip": "192.168.0.0/16"}}],
}}
IP_RANGES = [
    {"key": "b-172", "mask": "172.0.0.0/8"},
    {"key": "b-192", "mask": "192.0.0.0/8"},
    {"key": "empty", "mask": "8.0.0.0/8"},
    {"key": "mid", "from": "172.0.0.0", "to": "192.0.0.1"},
]


def dsl_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP surface end-to-end: a packed-int `range` (gte 100.0.0.0
    drops the 10.* block — dotted-STRING order would keep it), a
    CIDR `term` exclusion (192.168.0.0/16), then an `ip_range` agg
    with mask and from/to buckets — including one overlapping bucket
    (ES range aggs count a doc in every bucket it falls in) and one
    empty bucket (zero-filled, ES reports every configured bucket).
    """
    ev = load_table(spark, "events", sf_dir)
    src = _ip_source(ev)
    hits = src.filter(translate_query(IP_FILTER))
    return (ip_range_agg(hits, "client_ip", IP_RANGES)
            .orderBy("key"))


def _ip_range_oracle() -> str:
    num = ip_num_sql("client_ip", "duck")
    lo_192168 = (192 << 24) + (168 << 16)
    hi_192168 = lo_192168 + (1 << 16) - 1
    b172_lo, b172_hi = 172 << 24, (172 << 24) + (1 << 24) - 1
    b192_lo, b192_hi = 192 << 24, (192 << 24) + (1 << 24) - 1
    b8_lo, b8_hi = 8 << 24, (8 << 24) + (1 << 24) - 1
    mid_lo, mid_hi_excl = 172 << 24, (192 << 24) + 1
    return f"""
WITH src AS (SELECT {IP_D} AS client_ip FROM events),
f AS (
  SELECT {num} AS ipn FROM src
  WHERE {num} >= {100 << 24}
    AND NOT ({num} BETWEEN {lo_192168} AND {hi_192168}))
SELECT * FROM (
  SELECT 'b-172' AS key,
         (SELECT count(*) FROM f
          WHERE ipn BETWEEN {b172_lo} AND {b172_hi}) AS doc_count
  UNION ALL SELECT 'b-192',
         (SELECT count(*) FROM f
          WHERE ipn BETWEEN {b192_lo} AND {b192_hi})
  UNION ALL SELECT 'empty',
         (SELECT count(*) FROM f
          WHERE ipn BETWEEN {b8_lo} AND {b8_hi})
  UNION ALL SELECT 'mid',
         (SELECT count(*) FROM f
          WHERE ipn >= {mid_lo} AND ipn < {mid_hi_excl}))
ORDER BY key
"""


INTERVALS_TERMS = ["spark", "window", "agg"]
INTERVALS_GAPS = 4


def dsl_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`intervals` query: an ORDERED match of three terms with a
    SHARED max_gaps budget (the case no single regex expresses — a
    per-gap bound admits 2x the budget), plus an `any_of` alternative
    over an unordered pair. Compiles to nested array higher-order
    functions over token-position lists — whole-stage codegen, no
    UDF, no join. Faceted by lang."""
    docs = load_table(spark, "documents", sf_dir)
    return (search(docs, {
        "query": {"intervals": {"text": {"any_of": {"intervals": [
            {"match": {"query": " ".join(INTERVALS_TERMS),
                       "max_gaps": INTERVALS_GAPS, "ordered": True}},
            {"match": {"query": "vector stream",
                       "max_gaps": 1, "ordered": False}},
        ]}}}},
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 10}}},
    }))


def _intervals_oracle() -> str:
    p1 = proximity_pred_sql("text", INTERVALS_TERMS, INTERVALS_GAPS,
                            True, engine="duck")
    p2 = proximity_pred_sql("text", ["vector", "stream"], 1,
                            False, engine="duck")
    return f"""
SELECT lang AS key, count(*) AS doc_count
FROM documents
WHERE ({p1}) OR ({p2})
GROUP BY key ORDER BY doc_count DESC, key ASC
LIMIT 10
"""


SPAN3_TERMS = ["key", "sort", "merge"]
SPAN3_SLOP = 5


def dsl_span_near_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`span_near` with THREE clauses (the shape round 7 refused):
    total slop budget shared across both gaps, in_order=false, via
    the exact token-position chain. Faceted by source."""
    docs = load_table(spark, "documents", sf_dir)
    return (search(docs, {
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": t}}
                        for t in SPAN3_TERMS],
            "slop": SPAN3_SLOP, "in_order": False}},
        "aggs": {"by_source": {"terms": {"field": "source",
                                         "size": 25}}},
    }))


def _span3_oracle() -> str:
    p = proximity_pred_sql("text", SPAN3_TERMS, SPAN3_SLOP, False,
                           engine="duck")
    return f"""
SELECT source AS key, count(*) AS doc_count
FROM documents
WHERE {p}
GROUP BY key ORDER BY doc_count DESC, key ASC
LIMIT 25
"""


RESCORE_WINDOW = 40
RESCORE_K = 15
RESCORE_BODY = {
    "query": {"dis_max": {"queries": [
        {"match": {"text": {"query": "spark", "boost": 2.0}}},
        {"match": {"text": {"query": "vector", "boost": 1.5}}},
        {"match": {"text": {"query": "window", "boost": 1.0}}},
    ], "tie_breaker": 0.3}},
    "rescore": {
        "window_size": RESCORE_WINDOW,
        "query": {
            "rescore_query": {"match_phrase": {
                "text": {"query": "spark window", "boost": 3.0}}},
            "query_weight": 0.7,
            "rescore_query_weight": 1.2,
            "score_mode": "total",
        },
    },
    "size": RESCORE_K,
}


def dsl_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rescore` two-phase ranking: phase 1 ranks every dis_max match
    and keeps the top window_size via TakeOrderedAndProject (never a
    global sort); phase 2 re-scores ONLY that bounded window with a
    phrase query and combines 0.7*q + 1.2*r. The expensive scorer
    touches window_size rows regardless of corpus size — the whole
    point of rescore at 100 TB."""
    docs = load_table(spark, "documents", sf_dir)
    return search(docs, RESCORE_BODY)


def _rescore_oracle() -> str:
    from parquet_generator_spark.operators.esdsl import (
        _B_L,
        _B_R,
        phrase_regex,
    )

    def tok(t: str) -> str:
        return (f"CASE WHEN regexp_matches(lower(text), "
                f"'{_B_L}{t}{_B_R}') THEN 1 ELSE 0 END")

    phrase = phrase_regex("spark window")
    return f"""
WITH scored AS (
  SELECT doc_id,
         2.0 * {tok('spark')} AS s1,
         1.5 * {tok('vector')} AS s2,
         1.0 * {tok('window')} AS s3,
         CASE WHEN regexp_matches(lower(text), '{phrase}')
              THEN 3.0 ELSE 0.0 END AS r
  FROM documents),
phase1 AS (
  SELECT doc_id, r,
         round(greatest(s1, s2, s3)
               + 0.3 * (s1 + s2 + s3 - greatest(s1, s2, s3)), 4)
           AS first
  FROM scored
  WHERE s1 > 0 OR s2 > 0 OR s3 > 0
  ORDER BY first DESC, doc_id ASC
  LIMIT {RESCORE_WINDOW}),
phase2 AS (
  SELECT doc_id, round(0.7 * first + 1.2 * r, 4) AS score
  FROM phase1)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         AS rank,
       doc_id, score
FROM phase2 ORDER BY score DESC, doc_id
LIMIT {RESCORE_K}
"""


KNN_K = 10
KNN_CELLS = 32
KNN_PROBE = 8
# deterministic literal query vector (64-dim, same literal on both
# engines)
KNN_QV = [round(__import__("math").sin(0.7 * i + 0.3), 4)
          for i in range(64)]
KNN_FILTER = {"range": {"label": {"gte": 3}}}


def dsl_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.x `knn` search section: filtered vector search for one
    literal query vector, routed to the IVF index. The filter
    (label >= 3) applies BEFORE the probe (ES filtered-kNN: every hit
    satisfies it); the query's probe cells are computed at plan time
    on the driver, so the executed plan is pre-filter -> single-cell
    assignment (narrow map) -> cell IN probes -> cosine vs literal ->
    TakeOrderedAndProject. No join, no shuffle, no corpus broadcast."""
    emb = load_table(spark, "embeddings", sf_dir)
    return search(emb, {"knn": {
        "field": "embedding", "query_vector": KNN_QV, "k": KNN_K,
        "filter": KNN_FILTER,
        "n_cells": KNN_CELLS, "n_probe": KNN_PROBE,
    }})


def _knn_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        knn_literal_topk_duck_sql,
    )
    return knn_literal_topk_duck_sql(
        "embeddings", KNN_QV, KNN_K, KNN_CELLS, KNN_PROBE,
        pre_filter_sql="label >= 3")


# ----------------------------------------------------- dsl_ip_prefix

IP_PREFIX_LEN = 10
IP_PREFIX_MIN_DOCS = 5


def dsl_ip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.x ``ip_prefix`` agg over the same SIEM-shaped runtime IP
    field as dsl_ip_range: /10 networks of the events' client_ip,
    sparse networks pruned by min_doc_count. The grouping key is the
    packed-int network (pure arithmetic, no strings in the shuffle);
    the dotted-quad label is rendered on the final bounded bucket
    frame only."""
    ev = load_table(spark, "events", sf_dir)
    src = _ip_source(ev)
    return ip_prefix_agg(src, "client_ip", IP_PREFIX_LEN,
                         IP_PREFIX_MIN_DOCS)


def _ip_prefix_oracle() -> str:
    return ip_prefix_agg_duck_sql(
        f"(SELECT {IP_D} AS client_ip FROM events)", "client_ip",
        IP_PREFIX_LEN, IP_PREFIX_MIN_DOCS)


# ------------------------------------------------- dsl_scripted_metric

def dsl_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``scripted_metric`` agg (bounded painless subset): the ES
    reference's canonical fold shape — map emits a value per doc into
    ``state``, combine folds the shard, reduce folds the shards with
    the same operator. That associativity is exactly a Catalyst
    partial aggregate, so both scripted metrics below run in the SAME
    single grouped pass as the terms bucket (map-side combine + final
    merge; no UDF, no state object, no extra shuffle). Values are
    quantized to cents inside the script (Math.round(v*100)) so the
    sum is an exact integer-valued double on both engines."""
    ev = load_table(spark, "events", sf_dir)
    return search(ev, {
        "query": {"range": {"value": {"gte": 0.0}}},
        "aggs": {"types": {
            "terms": {"field": "event_type", "size": 20},
            "aggs": {
                "big_cents": {"scripted_metric": {
                    "init_script": "state.t = []",
                    "map_script":
                        "state.t.add(doc['value'].value >= 100.0"
                        " ? Math.round(doc.value.value * 100) : 0)",
                    "combine_script":
                        "long p = 0; for (t in state.t) { p += t }"
                        " return p",
                    "reduce_script":
                        "long p = 0; for (a in states) { p += a }"
                        " return p"}},
                "peak_cents": {"scripted_metric": {
                    "init_script": "state.m = 0",
                    "map_script":
                        "state.m = Math.max(state.m,"
                        " Math.round(doc.value.value * 100))",
                    "combine_script":
                        "long m = 0; for (s in state.m) m ="
                        " Math.max(m, s); return m",
                    "reduce_script":
                        "long m = 0; for (a in states) m ="
                        " Math.max(m, a); return m"}},
            }}},
    })


DSL_SCRIPTED_METRIC_ORACLE = """
SELECT event_type AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       sum(CASE WHEN value >= 100.0 THEN round(value * 100)
                ELSE 0 END) AS big_cents,
       max(round(value * 100)) AS peak_cents
FROM events WHERE value >= 0.0
GROUP BY event_type
ORDER BY doc_count DESC, key ASC LIMIT 20
"""


QUERIES.update({
    "dsl_ip_prefix": dsl_ip_prefix,
    "dsl_scripted_metric": dsl_scripted_metric,
    "dsl_ip_range": dsl_ip_range,
    "dsl_intervals": dsl_intervals,
    "dsl_span_near_multi": dsl_span_near_multi,
    "dsl_knn": dsl_knn,
    "dsl_rescore": dsl_rescore,
})
ORACLES.update({
    "dsl_ip_prefix": _ip_prefix_oracle(),
    "dsl_scripted_metric": DSL_SCRIPTED_METRIC_ORACLE,
    "dsl_rescore": _rescore_oracle(),
    "dsl_ip_range": _ip_range_oracle(),
    "dsl_intervals": _intervals_oracle(),
    "dsl_span_near_multi": _span3_oracle(),
    "dsl_knn": _knn_oracle(),
})
