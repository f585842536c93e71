"""ES DSL scoring and scripts: function and script score, rescoring,
kNN, RRF and retrievers, learning to rank, suggesters and highlight,
and painless ``scripted_metric``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators import text as tx
from parquet_generator_spark.operators.esdsl import (
    _B_L,
    _B_R,
    score_query,
    search,
    token_present_duck_sql,
    translate_query,
)
from parquet_generator_spark.operators.similarity import (
    cosine_to_literal,
    cosine_to_literal_duck_sql,
)
from parquet_generator_spark.sources.catalog import load_table


def dsl_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`function_score` + `field_value_factor`: rank long documents
    matching a range query by 1.5 * log1p(n_chars) — log1p is ES's
    COMMON logarithm modifier. Top-k via TakeOrderedAndProject (see
    function_score_search)."""
    from parquet_generator_spark.operators.esdsl import (
        function_score_search,
    )

    docs = load_table(spark, "documents", sf_dir)
    return function_score_search(docs, {
        "query": {"range": {"n_chars": {"gte": 200}}},
        "field_value_factor": {"field": "n_chars",
                               "modifier": "log1p", "factor": 1.5},
        "size": 15,
    })


DSL_FUNCTION_SCORE_ORACLE = """
WITH scored AS (
  SELECT doc_id, round(1.5 * log10(n_chars + 1.0), 4) AS score
  FROM documents WHERE n_chars >= 200),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 15
ORDER BY rank
"""


def dsl_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field `collapse`: the single longest English document per
    source (top hit per collapse-field group, ordered by the search
    sort), overall top-10 sources by that length."""
    from parquet_generator_spark.operators.esdsl import collapse_search

    docs = load_table(spark, "documents", sf_dir)
    return collapse_search(docs, {
        "query": {"term": {"lang": "en"}},
        "collapse": {"field": "source"},
        "sort": [{"n_chars": "desc"}],
        "size": 10,
    })


DSL_COLLAPSE_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents WHERE lang = 'en')
SELECT source, doc_id, n_chars FROM ranked WHERE rn = 1
ORDER BY n_chars DESC, doc_id ASC
LIMIT 10
"""


RANDOM_SEED = 7
RANDOM_K = 15


def dsl_random_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`function_score` with `random_score` (seed + field): ES's
    seeded random scoring IS deterministic — here the score is a
    seeded md5 hash of doc_id scaled to [0, 1), identical on both
    engines, over docs matching the inner query. The canonical
    reproducible-sample ranking; top-k via TakeOrderedAndProject."""
    docs = load_table(spark, "documents", sf_dir)
    score = (F.expr(
        f"cast(conv(substring(md5(concat('{RANDOM_SEED}:', "
        f"cast(doc_id as string))), 1, 8), 16, 10) AS BIGINT)")
        % 100000) / 100000.0
    matched = docs.filter(translate_query({"match": {"text": "table"}}))
    top = (matched.select("doc_id", F.round(score, 5).alias("score"))
           .orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(RANDOM_K))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "score").orderBy("rank"))


DSL_RANDOM_SCORE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         round((CAST(concat('0x', substr(md5(concat('{RANDOM_SEED}:',
                CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                % 100000) / 100000.0, 5) AS score
  FROM documents
  WHERE regexp_matches(lower(text), '{_B_L}table{_B_R}'))
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         AS rank,
       doc_id, score
FROM scored ORDER BY score DESC, doc_id
LIMIT {RANDOM_K}
"""


PINNED_IDS = [42, 7, 101]
PINNED_K = 12


def dsl_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pinned` query: the promoted ids rank first IN THE GIVEN
    ORDER, then the organic matches (here: match "spark", sorted by
    doc_id). Pin rank is one array_position against the literal pin
    list — a projection, not a join."""
    docs = load_table(spark, "documents", sf_dir)
    pin_rank = F.array_position(
        F.array(*[F.lit(i).cast("long") for i in PINNED_IDS]),
        F.col("doc_id"))
    organic = translate_query({"match": {"text": "spark"}})
    kept = (docs.withColumn("pin", pin_rank)
            .filter((F.col("pin") > 0) | organic))
    order = [(F.col("pin") > 0).desc(), F.col("pin").asc(),
             F.col("doc_id").asc()]
    top = kept.orderBy(*order).limit(PINNED_K)
    w = Window.orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id",
                    (F.col("pin") > 0).alias("pinned"))
            .orderBy("rank"))


DSL_PINNED_ORACLE = f"""
WITH kept AS (
  SELECT doc_id,
         list_position({PINNED_IDS}, doc_id) AS pin
  FROM documents
  WHERE list_position({PINNED_IDS}, doc_id) > 0
     OR regexp_matches(lower(text), '{_B_L}spark{_B_R}'))
SELECT CAST(row_number() OVER
            (ORDER BY (pin > 0) DESC, pin, doc_id) AS INT) AS rank,
       doc_id, pin > 0 AS pinned
FROM kept
ORDER BY (pin > 0) DESC, pin, doc_id
LIMIT {PINNED_K}
"""


# The modern ranking-function queries — `rank_feature` (saturation / log
# / sigmoid feature scoring), `script_score` (arbitrary expression
# scoring, the painless-script workhorse — here a SQL expression, the
# dsl_runtime_field precedent), and `distance_feature` (freshness boost:
# score decays with distance from a pivot date).
#
# Scale posture: all three are pure per-row arithmetic projections
# feeding a TakeOrderedAndProject top-k — no join, no shuffle beyond
# the top-k reduction, pushdown untouched. The exact formulas below
# are the ES-documented ones, reproduced bit-for-bit in DuckDB.


# ---------------------------------------------------- dsl_rank_feature

SAT_PIVOT = 300.0   # saturation pivot for n_chars
RANK_K = 15


def dsl_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rank_feature` with the `saturation` function over n_chars:
    score = x / (x + pivot) (the ES formula) — longer docs rank
    higher with diminishing returns. Scores rounded to 6 so both
    engines hash equal; top-k via TakeOrderedAndProject."""
    docs = load_table(spark, "documents", sf_dir)
    x = F.col("n_chars").cast("double")
    score = F.round(x / (x + F.lit(SAT_PIVOT)), 6)
    top = (docs.select("doc_id", score.alias("score"))
           .orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(RANK_K))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "score").orderBy("rank"))


DSL_RANK_FEATURE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         round(CAST(n_chars AS DOUBLE)
               / (CAST(n_chars AS DOUBLE) + {SAT_PIVOT}), 6) AS score
  FROM documents)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         AS rank,
       doc_id, score
FROM scored ORDER BY score DESC, doc_id
LIMIT {RANK_K}
"""


# ---------------------------------------------------- dsl_script_score

SCRIPT_K = 15


def dsl_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`script_score`: docs matching the inner query ranked by an
    arbitrary script — here the classic value-per-character composite
    `log(1 + value) * sqrt(user_id % 100)` as a SQL expression (the
    engine's painless stand-in, same as dsl_runtime_field). One
    projection + TakeOrderedAndProject."""
    ev = load_table(spark, "events", sf_dir)
    matched = ev.filter(translate_query(
        {"term": {"event_type": "purchase"}}))
    score = F.round(
        F.log(F.lit(1.0) + F.col("value"))
        * F.sqrt((F.col("user_id") % 100).cast("double")), 4)
    top = (matched.select("event_id", score.alias("score"))
           .orderBy(F.desc("score"), F.asc("event_id"))
           .limit(SCRIPT_K))
    w = Window.orderBy(F.desc("score"), F.asc("event_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "event_id", "score").orderBy("rank"))


DSL_SCRIPT_SCORE_ORACLE = f"""
WITH scored AS (
  SELECT event_id,
         round(ln(1.0 + value)
               * sqrt(CAST(user_id % 100 AS DOUBLE)), 4) AS score
  FROM events
  WHERE event_type = 'purchase')
SELECT CAST(row_number() OVER (ORDER BY score DESC, event_id) AS INT)
         AS rank,
       event_id, score
FROM scored ORDER BY score DESC, event_id
LIMIT {SCRIPT_K}
"""


# ------------------------------------------------ dsl_distance_feature

PIVOT_DATE = "2024-01-15"
PIVOT_DAYS = 7.0
DIST_K = 15


def dsl_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`distance_feature` on a date field: freshness boost
    score = pivot / (pivot + |origin - ts|) (the ES formula, pivot
    expressed in days; distances computed on whole epoch MICROSECONDS
    so both engines divide identical integers). Matching docs come from
    the inner query; top-k via TakeOrderedAndProject."""
    ev = load_table(spark, "events", sf_dir)
    matched = ev.filter(translate_query(
        {"term": {"event_type": "view"}}))
    dist_days = (F.abs(
        F.unix_micros(F.col("ts"))
        - F.unix_micros(F.lit(PIVOT_DATE).cast("timestamp")))
        .cast("double") / 86400.0e6)
    score = F.round(F.lit(PIVOT_DAYS) / (F.lit(PIVOT_DAYS) + dist_days),
                    6)
    top = (matched.select("event_id", score.alias("score"))
           .orderBy(F.desc("score"), F.asc("event_id"))
           .limit(DIST_K))
    w = Window.orderBy(F.desc("score"), F.asc("event_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "event_id", "score").orderBy("rank"))


DSL_DISTANCE_FEATURE_ORACLE = f"""
WITH scored AS (
  SELECT event_id,
         round({PIVOT_DAYS}
               / ({PIVOT_DAYS}
                  + CAST(abs(epoch_us(ts)
                             - epoch_us(TIMESTAMP
                                        '{PIVOT_DATE} 00:00:00'))
                         AS DOUBLE) / 86400.0e6), 6) AS score
  FROM events
  WHERE event_type = 'view')
SELECT CAST(row_number() OVER (ORDER BY score DESC, event_id) AS INT)
         AS rank,
       event_id, score
FROM scored ORDER BY score DESC, event_id
LIMIT {DIST_K}
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
    from parquet_generator_spark.operators.esdsl import phrase_regex

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


# ---------------------------------------------------- dsl_term_suggest

SUGGEST_INPUTS = ["colunm", "fitler", "streem", "windoe", "batsh",
                  "join"]
SUGGEST_MAX_EDITS = 2
SUGGEST_PREFIX_LEN = 1     # ES default: first char must match
SUGGEST_SIZE = 3
SUGGEST_MIN_WORD_LEN = 4


def dsl_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `suggest`/`term` suggester, string_distance=levenshtein:
    for each input term NOT present in the index (suggest_mode
    "missing" — 'join' exercises the suppression), the top-3
    vocabulary terms within max_edits=2 sharing the first character
    (prefix_length=1), ranked ES-style: edit distance, then document
    frequency, then term. Vocabulary = distinct-per-doc tokens >=
    min_word_length, counted in one grouped pass; inputs are a
    bounded literal frame broadcast onto the first-letter key."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (docs.select(F.explode(F.expr(
        f"array_distinct({tx.toks_spark('text')})")).alias("term"))
        .filter(F.length("term") >= SUGGEST_MIN_WORD_LEN)
        .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    inputs = spark.createDataFrame(
        [(t,) for t in SUGGEST_INPUTS], "input string")
    missing = F.broadcast(
        inputs.join(vocab, inputs.input == vocab.term, "left_anti"))
    dist = F.levenshtein("input", "term")
    cand = missing.join(
        vocab,
        (F.substring("input", 1, SUGGEST_PREFIX_LEN)
         == F.substring("term", 1, SUGGEST_PREFIX_LEN))
        & (dist <= SUGGEST_MAX_EDITS))
    w = (Window.partitionBy("input")
         .orderBy(dist.asc(), F.desc("freq"), F.asc("term")))
    return (cand
            .withColumn("distance", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= SUGGEST_SIZE)
            .select("input", "rank", F.col("term").alias("suggestion"),
                    "distance", "freq")
            .orderBy("input", "rank"))


def _term_suggest_oracle() -> str:
    vals = ", ".join(f"('{t}')" for t in SUGGEST_INPUTS)
    return f"""
WITH vocab AS (
  SELECT t AS term, count(*) AS freq FROM (
    SELECT unnest(list_distinct({tx.toks_duck('text')})) AS t
    FROM documents)
  WHERE length(t) >= {SUGGEST_MIN_WORD_LEN}
  GROUP BY t),
inputs(input) AS (VALUES {vals}),
missing AS (
  SELECT input FROM inputs
  WHERE input NOT IN (SELECT term FROM vocab)),
ranked AS (
  SELECT i.input, v.term,
         CAST(levenshtein(i.input, v.term) AS INT) AS distance,
         v.freq,
         CAST(row_number() OVER (
           PARTITION BY i.input
           ORDER BY levenshtein(i.input, v.term) ASC, v.freq DESC,
                    v.term ASC) AS INT) AS rank
  FROM missing i JOIN vocab v
    ON substring(i.input, 1, {SUGGEST_PREFIX_LEN})
       = substring(v.term, 1, {SUGGEST_PREFIX_LEN})
   AND levenshtein(i.input, v.term) <= {SUGGEST_MAX_EDITS})
SELECT input, rank, term AS suggestion, distance, freq
FROM ranked WHERE rank <= {SUGGEST_SIZE}
ORDER BY input, rank
"""


# ------------------------------------------------------ dsl_highlight

HL_TERM = "spark"
HL_FRAG_SIZE = 80          # ES fragment_size default is 100
HL_CONTEXT = 20            # chars of left context before the hit


def dsl_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `highlight`: for docs matching a term query, one fragment
    per doc anchored at the first occurrence (ES's plain highlighter
    with number_of_fragments=1), occurrences inside the fragment
    wrapped in <em> tags, plus the per-doc hit count. Pure narrow
    map — locate + substring + regexp_replace stay in codegen, no
    shuffle beyond the result sort. DIVERGENCE (documented): the
    fragment is a fixed char window [first_hit - 20, +80) rather
    than ES's sentence-boundary fragmenter."""
    docs = load_table(spark, "documents", sf_dir)
    pat = rf"\b{HL_TERM}\b"
    hits = docs.filter(F.col("text").rlike(pat))
    pos = F.locate(HL_TERM, "text")
    start = F.greatest(F.lit(1), pos - HL_CONTEXT)
    frag = F.expr(
        f"substring(text, CAST(greatest(1, locate('{HL_TERM}', text)"
        f" - {HL_CONTEXT}) AS INT), {HL_FRAG_SIZE})")
    return (hits.select(
        "doc_id",
        F.size(F.regexp_extract_all(
            "text", F.lit(pat), F.lit(0))).alias("n_hits"),
        start.alias("frag_start"),
        F.regexp_replace(
            frag, pat, f"<em>{HL_TERM}</em>").alias("fragment"))
        .orderBy("doc_id"))


def _highlight_oracle() -> str:
    return rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b{HL_TERM}\b')) AS INT)
         AS n_hits,
       CAST(greatest(1, strpos(text, '{HL_TERM}') - {HL_CONTEXT})
            AS INT) AS frag_start,
       regexp_replace(
         substring(text,
                   CAST(greatest(1, strpos(text, '{HL_TERM}')
                                 - {HL_CONTEXT}) AS INT),
                   {HL_FRAG_SIZE}),
         '\b{HL_TERM}\b', '<em>{HL_TERM}</em>', 'g') AS fragment
FROM documents
WHERE regexp_matches(text, '\b{HL_TERM}\b')
ORDER BY doc_id
"""


# ------------------------------------------- dsl_completion_suggest

COMP_PREFIXES = ["sp", "wi", "ba"]
COMP_SIZE = 3
COMP_MIN_LEN = 3


def dsl_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `completion` suggester: prefix -> top completions by
    weight (doc frequency stands in for the suggestion weight, ES's
    common setup). Same vocabulary pass as the term suggester; the
    bounded prefix frame broadcasts onto a startswith probe and a
    per-prefix rank window caps the output. At corpus scale the
    vocab shuffles once for the groupBy and the prefix probe is a
    broadcast nested-loop over a HANDFUL of prefixes — bounded by
    the suggest request, not the data."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (docs.select(F.explode(F.expr(
        f"array_distinct({tx.toks_spark('text')})")).alias("term"))
        .filter(F.length("term") >= COMP_MIN_LEN)
        .groupBy("term").agg(F.count(F.lit(1)).alias("weight")))
    prefixes = spark.createDataFrame(
        [(p,) for p in COMP_PREFIXES], "prefix string")
    # first-char equi key makes this a broadcast HASH join; the
    # startswith refinement rides along as the join filter
    cand = vocab.join(
        F.broadcast(prefixes),
        (F.substring("term", 1, 1) == F.substring("prefix", 1, 1))
        & F.col("term").startswith(F.col("prefix")))
    w = (Window.partitionBy("prefix")
         .orderBy(F.desc("weight"), F.asc("term")))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= COMP_SIZE)
            .select("prefix", "rank",
                    F.col("term").alias("completion"), "weight")
            .orderBy("prefix", "rank"))


def _completion_suggest_oracle() -> str:
    vals = ", ".join(f"('{p}')" for p in COMP_PREFIXES)
    return f"""
WITH vocab AS (
  SELECT t AS term, count(*) AS weight FROM (
    SELECT unnest(list_distinct({tx.toks_duck('text')})) AS t
    FROM documents)
  WHERE length(t) >= {COMP_MIN_LEN}
  GROUP BY t),
prefixes(prefix) AS (VALUES {vals}),
ranked AS (
  SELECT p.prefix, v.term, v.weight,
         CAST(row_number() OVER (
           PARTITION BY p.prefix
           ORDER BY v.weight DESC, v.term ASC) AS INT) AS rank
  FROM prefixes p JOIN vocab v ON starts_with(v.term, p.prefix))
SELECT prefix, rank, term AS completion, weight
FROM ranked WHERE rank <= {COMP_SIZE}
ORDER BY prefix, rank
"""


# ------------------------------------------------ dsl_phrase_suggest

# typo phrase whose slots each have SEVERAL candidates ("tab" ->
# table/the, "ar" -> agg/a), so the bigram model actually decides
# the ranking instead of a single survivor per slot
PHRASE_INPUT = ("tab", "kei", "ar")
PS_MAX_EDITS = 2
PS_CAND_K = 4
PS_TOPK = 3
PS_BACKOFF = 0.4                           # stupid-backoff discount


def dsl_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `phrase` suggester: whole-phrase did-you-mean. Candidate
    generation per slot (levenshtein <= PS_MAX_EDITS = 2, first char
    pinned, top-4 by unigram frequency via TakeOrderedAndProject —
    never a global window), then every combination scored under the corpus bigram
    model with stupid backoff: P(w|prev) = c12/c1 when the bigram
    exists, else 0.4 * cnt(w)/N. The combination frame is bounded by
    the request (<= 4^3 rows); the unigram/bigram models are grouped
    passes whose lookups stay keyed equi-joins. The score is one
    left-associated product of exact count ratios — bit-identical
    cross-engine, emitted unrounded."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(F.expr(tx.toks_spark("text")).alias("tk"))
    # the unigram and bigram models are the vocab-bounded aggregated
    # tables every downstream lookup reads: without a barrier the
    # THREE per-slot candidate collects, the token-total scalar and
    # the four model-lookup join branches each re-ran the corpus
    # tokenize+explode chain (eight scans in the before-plan; round
    # 13, guide §1.2) — checkpoint both models, and derive the token
    # total as sum(unigram counts) instead of a dedicated pass
    uni = cache.checkpoint(
        t.select(F.explode("tk").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")), eager=False)
    n_tok = uni.agg(F.sum("cnt").alias("n"))
    bg = (t.select(F.explode(F.expr(
        "CASE WHEN size(tk) >= 2 THEN "
        "transform(sequence(0, size(tk) - 2), "
        "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) "
        "ELSE array() END")).alias("b"))
        .select("b.w1", "b.w2"))
    # eager, not lazy: the final job reads the bigram model through
    # FOUR subtrees (m12/m23/l1/l2) — a lazy barrier would
    # double-compute under concurrent stage materialization
    model = cache.checkpoint(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    lefts = model.groupBy("w1").agg(F.sum("c12").alias("c1"))

    def cands(tok: str):
        # bounded collect (<= PS_CAND_K rows, a plan constant) — the
        # suggester materializes per-slot candidate sets exactly like
        # ES does, and literal combos keep every downstream model
        # lookup an equi-join (no nested-loop/cartesian in the plan)
        return [(r["w"], r["cnt"]) for r in
                uni.filter(
                    (F.substring("w", 1, 1) == tok[0])
                    & (F.levenshtein(F.lit(tok), F.col("w"))
                       <= PS_MAX_EDITS))
                .orderBy(F.desc("cnt"), F.asc("w"))
                .limit(PS_CAND_K).collect()]

    ca, cb, cc = (cands(t) for t in PHRASE_INPUT)
    combo_rows = [(a, na, b, nb, c, nc)
                  for a, na in ca for b, nb in cb for c, nc in cc]
    combos = spark.createDataFrame(
        combo_rows,
        "a string, cnt_a long, b string, cnt_b long, "
        "c string, cnt_c long")
    from parquet_generator_spark.operators.util import broadcast_scalars
    combos = broadcast_scalars(combos, n_tok)
    m12 = model.select(F.col("w1").alias("a"), F.col("w2").alias("b"),
                       F.col("c12").alias("c12_ab"))
    m23 = model.select(F.col("w1").alias("b"), F.col("w2").alias("c"),
                       F.col("c12").alias("c12_bc"))
    l1 = lefts.select(F.col("w1").alias("a"), F.col("c1").alias("c1_a"))
    l2 = lefts.select(F.col("w1").alias("b"), F.col("c1").alias("c1_b"))
    x = (combos.join(m12, ["a", "b"], "left")
         .join(l1, ["a"], "left")
         .join(m23, ["b", "c"], "left")
         .join(l2, ["b"], "left"))
    n = F.col("n").cast("double")
    s1 = F.col("cnt_a") / n
    s2 = (F.when(F.col("c12_ab").isNotNull(),
                 F.col("c12_ab") / F.col("c1_a"))
          .otherwise(F.lit(PS_BACKOFF) * F.col("cnt_b") / n))
    s3 = (F.when(F.col("c12_bc").isNotNull(),
                 F.col("c12_bc") / F.col("c1_b"))
          .otherwise(F.lit(PS_BACKOFF) * F.col("cnt_c") / n))
    return (x.select(
        F.concat_ws(" ", "a", "b", "c").alias("phrase"),
        (s1 * s2 * s3).alias("score"))
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(PS_TOPK))


def _phrase_suggest_oracle() -> str:
    toks = tx.toks_duck("text")

    def cand_cte(tok: str, name: str) -> str:
        return f"""{name} AS (
  SELECT w, cnt FROM uni
  WHERE substring(w, 1, 1) = '{tok[0]}'
    AND levenshtein('{tok}', w) <= {PS_MAX_EDITS}
  ORDER BY cnt DESC, w ASC LIMIT {PS_CAND_K})"""

    return f"""
WITH t AS (SELECT {toks} AS tk FROM documents),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
n_tok AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n FROM t),
bg AS (
  SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
  FROM t, unnest(range(0, len(tk) - 1)) AS a(i)
  WHERE len(tk) >= 2),
model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
lefts AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
          FROM model GROUP BY 1),
{cand_cte(PHRASE_INPUT[0], 'ca')},
{cand_cte(PHRASE_INPUT[1], 'cb')},
{cand_cte(PHRASE_INPUT[2], 'cc')},
x AS (
  SELECT ca.w AS a, ca.cnt AS cnt_a, cb.w AS b, cb.cnt AS cnt_b,
         cc.w AS c, cc.cnt AS cnt_c, n_tok.n,
         m12.c12 AS c12_ab, l1.c1 AS c1_a,
         m23.c12 AS c12_bc, l2.c1 AS c1_b
  FROM ca CROSS JOIN cb CROSS JOIN cc CROSS JOIN n_tok
  LEFT JOIN model m12 ON m12.w1 = ca.w AND m12.w2 = cb.w
  LEFT JOIN lefts l1 ON l1.w1 = ca.w
  LEFT JOIN model m23 ON m23.w1 = cb.w AND m23.w2 = cc.w
  LEFT JOIN lefts l2 ON l2.w1 = cb.w)
SELECT concat_ws(' ', a, b, c) AS phrase,
       (cnt_a / CAST(n AS DOUBLE))
       * (CASE WHEN c12_ab IS NOT NULL
               THEN CAST(c12_ab AS DOUBLE) / c1_a
               ELSE {PS_BACKOFF} * cnt_b / CAST(n AS DOUBLE) END)
       * (CASE WHEN c12_bc IS NOT NULL
               THEN CAST(c12_bc AS DOUBLE) / c1_b
               ELSE {PS_BACKOFF} * cnt_c / CAST(n AS DOUBLE) END)
         AS score
FROM x ORDER BY score DESC, phrase ASC LIMIT {PS_TOPK}
"""


# ------------------------------------------------- dsl_sort_script

SORT_SCRIPT = ("doc['value'].value >= 100.0"
               " ? doc.value.value : doc['value'].value * 0.5")
SORT_K = 15


def dsl_sort_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-based sort (`sort: {_script: ...}`): rank docs by a
    painless expression — the same bounded painless->SQL translator
    scripted_metric uses (doc refs, ternary, Math.*), compiled to a
    codegen expression so the sort key costs one narrow map and the
    top-k is TakeOrderedAndProject, never a global sort."""
    from parquet_generator_spark.operators.esdsl import (
        _painless_expr_sql,
    )

    ev = load_table(spark, "events", sf_dir)
    key = F.round(F.expr(_painless_expr_sql(SORT_SCRIPT)), 4)
    return (ev.select("event_id", key.alias("sort_key"))
            .orderBy(F.desc("sort_key"), F.asc("event_id"))
            .limit(SORT_K))


DSL_SORT_SCRIPT_ORACLE = f"""
SELECT event_id,
       round(CASE WHEN value >= 100.0 THEN value
             ELSE value * 0.5 END, 4) AS sort_key
FROM events ORDER BY sort_key DESC, event_id ASC LIMIT {SORT_K}
"""


# ---------------------------------------------------- dsl_sparse_vector

# ELSER-style query vector: token -> weight. Weights are exact
# decimals scaled x10 so the per-doc score is an exact integer sum
# (no float-sum-order hazard); the emitted score divides once.
_SPARSE_Q = {"spark": 20, "window": 15, "join": 10, "vector": 30}
_SPARSE_K = 15


def dsl_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `sparse_vector` query: rank documents by the dot product
    of a learned-sparse query vector (token -> weight) with the
    doc's term frequencies. Tokens outside the query vocabulary are
    dropped BEFORE the aggregate (the explode filters on a 4-token
    literal IN-list), the score accumulates as an exact scaled
    integer, and the top-k is orderBy+limit -> TakeOrdered."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term")) \
        .filter(F.col("term").isin(*_SPARSE_Q))
    wmap = F.create_map(*[
        x for t, w in sorted(_SPARSE_Q.items())
        for x in (F.lit(t), F.lit(w))])
    scored = (tok.groupBy("doc_id", "term")
              .agg(F.count(F.lit(1)).alias("tf"))
              .select("doc_id",
                      (wmap[F.col("term")] * F.col("tf"))
                      .alias("contrib"))
              .groupBy("doc_id")
              .agg((F.sum("contrib") / 10.0).alias("score")))
    return (scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(_SPARSE_K)
            .select("doc_id", "score"))


def _sparse_vector_oracle() -> str:
    cases = " ".join(f"WHEN '{t}' THEN {w}"
                     for t, w in sorted(_SPARSE_Q.items()))
    toks = ", ".join(f"'{t}'" for t in sorted(_SPARSE_Q))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({toks}) GROUP BY doc_id, term),
s AS (
  SELECT doc_id,
         CAST(sum((CASE term {cases} END) * tf) AS BIGINT)
           / CAST(10.0 AS DOUBLE) AS score
  FROM tf GROUP BY doc_id)
SELECT doc_id, score FROM s
ORDER BY score DESC, doc_id ASC LIMIT {_SPARSE_K}
"""


# -------------------------------------------------------- dsl_rank_eval

_RANK_REQUESTS = [("r1", "spark"), ("r2", "window"), ("r3", "vector")]
_RANK_K = 10
# rating: 1 when the doc is English (a deterministic editorial
# judgment independent of the ranking function, as rank_eval expects)
_IDCG = [0.0]
for _i in range(1, _RANK_K + 1):
    _IDCG.append(_IDCG[-1] + 1.0 / math.log2(_i + 1))
_IDCG_DUCK = "[" + ", ".join(f"{v!r}" for v in _IDCG) + "]"
_IDCG_SPARK = "array(" + ", ".join(f"{v!r}D" for v in _IDCG) + ")"


def dsl_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `rank_eval` API: for each literal request (a term query
    ranked by term frequency desc, doc_id asc), compute
    precision@k, MRR, and NDCG@k against binary ratings
    (lang = 'en'). Docs fan out over the literal request array by a
    projection explode (no join); ranks are windows PARTITIONED by
    request id; the ideal DCG comes from a shared precomputed
    literal table indexed by min(k, #relevant-matched)."""
    docs = load_table(spark, "documents", sf_dir)
    reqs = F.array(*[
        F.struct(F.lit(rid).alias("rid"), F.lit(t).alias("term"))
        for rid, t in _RANK_REQUESTS])
    hits = (docs.select(
        "doc_id", "lang", F.explode(reqs).alias("r"),
        F.split("text", " ").alias("toks"))
        .select("doc_id", "lang", F.col("r.rid").alias("rid"),
                F.expr("size(filter(toks, x -> x = r.term))")
                .alias("tf"))
        .filter(F.col("tf") > 0)
        .withColumn("rating",
                    F.when(F.col("lang") == "en", 1).otherwise(0)))
    w = Window.partitionBy("rid").orderBy(F.desc("tf"), F.asc("doc_id"))
    ranked = hits.withColumn("rank", F.row_number().over(w))
    idcg = F.expr(_IDCG_SPARK)
    return (ranked.groupBy("rid")
            .agg(F.count(F.lit(1)).alias("n_matched"),
                 F.sum("rating").alias("n_relevant"),
                 (F.sum(F.when(F.col("rank") <= _RANK_K,
                               F.col("rating")).otherwise(0))
                  / float(_RANK_K)).alias("precision_at_k"),
                 F.coalesce(
                     F.max(F.when(F.col("rating") == 1,
                                  1.0 / F.col("rank"))),
                     F.lit(0.0)).alias("mrr"),
                 F.sum(F.when(
                     F.col("rank") <= _RANK_K,
                     F.col("rating") / F.log2(F.col("rank") + 1))
                     .otherwise(0.0)).alias("dcg"))
            .withColumn("ndcg", F.when(
                F.col("n_relevant") > 0,
                F.col("dcg") / F.element_at(
                    idcg,
                    F.least(F.col("n_relevant").cast("int"),
                            F.lit(_RANK_K)) + 1))
                .otherwise(F.lit(0.0)))
            .select("rid", "n_matched", "n_relevant",
                    "precision_at_k", "mrr", "ndcg")
            .orderBy("rid"))


def _rank_eval_oracle() -> str:
    reqs = ", ".join(f"('{rid}', '{t}')" for rid, t in _RANK_REQUESTS)
    return f"""
WITH req(rid, term) AS (VALUES {reqs}),
hits AS (
  SELECT d.doc_id, r.rid,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS rating,
         CAST(length(list_filter(string_split(d.text, ' '),
                                 x -> x = r.term)) AS INT) AS tf
  FROM documents d CROSS JOIN req r),
m AS (SELECT * FROM hits WHERE tf > 0),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY rid ORDER BY tf DESC, doc_id ASC) AS rank
  FROM m),
agg AS (
  SELECT rid,
         CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(rating) AS BIGINT) AS n_relevant,
         sum(CASE WHEN rank <= {_RANK_K} THEN rating ELSE 0 END)
           / CAST({_RANK_K} AS DOUBLE) AS precision_at_k,
         coalesce(max(CASE WHEN rating = 1
                           THEN CAST(1.0 AS DOUBLE) / rank END),
                  CAST(0.0 AS DOUBLE)) AS mrr,
         sum(CASE WHEN rank <= {_RANK_K}
                  THEN rating / log2(rank + 1)
                  ELSE CAST(0.0 AS DOUBLE) END) AS dcg
  FROM ranked GROUP BY rid)
SELECT rid, n_matched, n_relevant, precision_at_k, mrr,
       CASE WHEN n_relevant > 0
            THEN dcg / ({_IDCG_DUCK}[least(n_relevant, {_RANK_K})
                                     + 1])
            ELSE CAST(0.0 AS DOUBLE) END AS ndcg
FROM agg ORDER BY rid
"""


# ---------------------------------------------------------- dsl_rrf

_RRF_TEXT_Q = {"dis_max": {"queries": [
    {"match": {"text": {"query": "join", "boost": 2.0}}},
    {"match": {"text": {"query": "hash", "boost": 1.5}}},
    {"match": {"text": {"query": "sort", "boost": 1.0}}},
], "tie_breaker": 0.3}}
_RRF_QV = [round(math.cos(0.9 * i + 0.7), 4) for i in range(64)]
_RRF_WINDOW = 40      # rank_window_size
_RRF_CONST = 60       # rank_constant k
_RRF_K = 12


def dsl_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.14 ``rrf`` retriever: fuse a lexical ranking (dis_max
    over documents) with a vector ranking (cosine vs a literal query
    vector over embeddings, joined on vec_id = doc_id) by reciprocal
    rank: score = sum over retrievers of 1/(rank_constant + rank),
    ranks only counted inside rank_window_size. Each leg is a
    bounded TakeOrderedAndProject; the fusion is a full-outer join
    of two <= window_size frames (AQE broadcasts both), so nothing
    data-scale is sorted or shuffled."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    t_top = (docs.filter(translate_query(_RRF_TEXT_Q))
             .select("doc_id",
                     F.round(score_query(_RRF_TEXT_Q), 4).alias("s"))
             .orderBy(F.desc("s"), F.asc("doc_id"))
             .limit(_RRF_WINDOW))
    tw = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    t_rank = (t_top.withColumn("text_rank", F.row_number().over(tw))
              .select(F.col("doc_id").alias("id"), "text_rank"))

    cos = cosine_to_literal("embedding", _RRF_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"), cos.alias("c"))
             .orderBy(F.desc("c"), F.asc("id"))
             .limit(_RRF_WINDOW))
    vw = Window.orderBy(F.desc("c"), F.asc("id"))
    v_rank = (v_top.withColumn("vec_rank", F.row_number().over(vw))
              .select("id", "vec_rank"))

    rrf = (F.coalesce(1.0 / (F.lit(_RRF_CONST)
                             + F.col("text_rank")), F.lit(0.0))
           + F.coalesce(1.0 / (F.lit(_RRF_CONST)
                               + F.col("vec_rank")), F.lit(0.0)))
    return (t_rank.join(v_rank, "id", "full_outer")
            .select("id", "text_rank", "vec_rank",
                    F.round(rrf, 6).alias("rrf_score"))
            .orderBy(F.desc("rrf_score"), F.asc("id"))
            .limit(_RRF_K))


def _rrf_oracle() -> str:
    def hit(t: str, w: float) -> str:
        return (f"{w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END)")

    s1, s2, s3 = hit("join", 2.0), hit("hash", 1.5), hit("sort", 1.0)
    cos_sql = cosine_to_literal_duck_sql(
        "CAST(embedding AS DOUBLE[])", _RRF_QV)
    return f"""
WITH t_top AS (
  SELECT doc_id AS id,
         round(greatest({s1}, {s2}, {s3})
               + 0.3 * ({s1} + {s2} + {s3}
                        - greatest({s1}, {s2}, {s3})), 4) AS s
  FROM documents
  WHERE {_tok_duck('text', 'join')} OR {_tok_duck('text', 'hash')}
     OR {_tok_duck('text', 'sort')}
  ORDER BY s DESC, id ASC LIMIT {_RRF_WINDOW}),
t_rank AS (
  SELECT id, CAST(row_number() OVER (ORDER BY s DESC, id) AS INT)
           AS text_rank
  FROM t_top),
v_top AS (
  SELECT vec_id AS id, {cos_sql} AS c
  FROM embeddings
  ORDER BY c DESC, id ASC LIMIT {_RRF_WINDOW}),
v_rank AS (
  SELECT id, CAST(row_number() OVER (ORDER BY c DESC, id) AS INT)
           AS vec_rank
  FROM v_top)
SELECT coalesce(t_rank.id, v_rank.id) AS id,
       text_rank, vec_rank,
       round(coalesce(1.0 / ({_RRF_CONST} + text_rank), 0.0)
             + coalesce(1.0 / ({_RRF_CONST} + vec_rank), 0.0), 6)
         AS rrf_score
FROM t_rank FULL OUTER JOIN v_rank ON t_rank.id = v_rank.id
ORDER BY rrf_score DESC, id ASC LIMIT {_RRF_K}
"""


# --------------------------------------------------- dsl_hybrid_score

_HY_TEXT_Q = {"dis_max": {"queries": [
    {"match": {"text": {"query": "scan", "boost": 2.0}}},
    {"match": {"text": {"query": "filter", "boost": 1.5}}},
    {"match": {"text": {"query": "batch", "boost": 1.0}}},
], "tie_breaker": 0.3}}
_HY_QV = [round(math.sin(1.3 * i + 0.2), 4) for i in range(64)]
_HY_WINDOW = 40
_HY_KNN_BOOST = 2.0
_HY_K = 12


def dsl_hybrid_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-RRF hybrid search (ES 8.4 `query` + `knn` in one body):
    additive score fusion — a doc's final score is its query score
    plus boost x cosine, each contribution present only when the doc
    is in that leg's top window (ES scores knn only for the
    num_candidates survivors). Same bounded two-leg skeleton as
    dsl_rrf, LINEAR fusion instead of rank fusion — the two APIs
    answer differently when score scales are comparable vs not."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    t_top = (docs.filter(translate_query(_HY_TEXT_Q))
             .select(F.col("doc_id").alias("id"),
                     F.round(score_query(_HY_TEXT_Q), 4).alias("qs"))
             .orderBy(F.desc("qs"), F.asc("id"))
             .limit(_HY_WINDOW))

    cos = cosine_to_literal("embedding", _HY_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"), cos.alias("vs"))
             .orderBy(F.desc("vs"), F.asc("id"))
             .limit(_HY_WINDOW))

    hybrid = (F.coalesce(F.col("qs"), F.lit(0.0))
              + F.lit(_HY_KNN_BOOST)
              * F.coalesce(F.col("vs"), F.lit(0.0)))
    return (t_top.join(v_top, "id", "full_outer")
            .select("id", "qs", "vs",
                    F.round(hybrid, 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(_HY_K))


def _hybrid_oracle() -> str:
    def hit(t: str, w: float) -> str:
        return (f"{w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END)")

    s1, s2, s3 = hit("scan", 2.0), hit("filter", 1.5), hit("batch", 1.0)
    cos_sql = cosine_to_literal_duck_sql(
        "CAST(embedding AS DOUBLE[])", _HY_QV)
    return f"""
WITH t_top AS (
  SELECT doc_id AS id,
         round(greatest({s1}, {s2}, {s3})
               + 0.3 * ({s1} + {s2} + {s3}
                        - greatest({s1}, {s2}, {s3})), 4) AS qs
  FROM documents
  WHERE {_tok_duck('text', 'scan')} OR {_tok_duck('text', 'filter')}
     OR {_tok_duck('text', 'batch')}
  ORDER BY qs DESC, id ASC LIMIT {_HY_WINDOW}),
v_top AS (
  SELECT vec_id AS id, {cos_sql} AS vs
  FROM embeddings
  ORDER BY vs DESC, id ASC LIMIT {_HY_WINDOW})
SELECT coalesce(t_top.id, v_top.id) AS id, qs, vs,
       round(coalesce(qs, 0.0) + {_HY_KNN_BOOST!r}
             * coalesce(vs, 0.0), 4) AS score
FROM t_top FULL OUTER JOIN v_top ON t_top.id = v_top.id
ORDER BY score DESC, id ASC LIMIT {_HY_K}
"""


# ------------------------------------------------------ dsl_rule_query

_QUERY_RULES = [
    {"rule_id": "promo-spark", "type": "pinned",
     "criteria": [{"type": "contains", "metadata": "user_query",
                   "values": ["spark"]}],
     "ids": [42, 7]},
    {"rule_id": "hide-legacy", "type": "exclude",
     "criteria": [{"type": "exact", "metadata": "user_lang",
                   "values": ["en"]}],
     "ids": [3, 11]},
    {"rule_id": "never-fires", "type": "pinned",
     "criteria": [{"type": "exact", "metadata": "user_query",
                   "values": ["tensor"]}],
     "ids": [999]},
]
_RULE_METADATA = {"user_query": "spark joins", "user_lang": "en"}
_RULE_K = 12


def _criteria_match(crit: dict, metadata: dict) -> bool:
    v = metadata.get(crit["metadata"])
    if v is None:
        return False
    if crit["type"] == "exact":
        return any(v == x for x in crit["values"])
    if crit["type"] == "contains":
        return any(x in v for x in crit["values"])
    if crit["type"] == "prefix":
        return any(v.startswith(x) for x in crit["values"])
    raise ValueError(f"unsupported rule criteria {crit['type']!r}")


def resolve_query_rules(rules: list[dict],
                        metadata: dict) -> tuple[list[int], list[int]]:
    """ES 8.10 query rules: rules whose criteria ALL match the
    request metadata activate; pinned ids promote in rule order,
    exclude ids drop. Resolution is pure driver-side logic on the
    (small, curated) ruleset — by the time Spark sees anything, the
    rules are two literal id lists."""
    pinned: list[int] = []
    excluded: list[int] = []
    for r in rules:
        if all(_criteria_match(c, metadata) for c in r["criteria"]):
            dest = pinned if r["type"] == "pinned" else excluded
            for i in r["ids"]:
                if i not in dest:
                    dest.append(i)
    return pinned, excluded


def dsl_rule_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rule_query` (ES 8.10 query rules): the curated-search layer —
    for this request's metadata the 'promo-spark' rule fires (pins
    42, 7), 'hide-legacy' fires (excludes 3, 11), 'never-fires'
    doesn't. Rules resolve on the driver at plan time; the executed
    plan is dsl_pinned's shape (array_position projection + bounded
    TakeOrdered) plus a NOT IN filter — no joins, nothing data-scale."""
    docs = load_table(spark, "documents", sf_dir)
    pinned, excluded = resolve_query_rules(_QUERY_RULES, _RULE_METADATA)
    pin_rank = F.array_position(
        F.array(*[F.lit(i).cast("long") for i in pinned]),
        F.col("doc_id"))
    organic = translate_query({"match": {"text": "spark"}})
    kept = (docs.withColumn("pin", pin_rank)
            .filter(((F.col("pin") > 0) | organic)
                    & ~F.col("doc_id").isin(excluded)))
    order = [(F.col("pin") > 0).desc(), F.col("pin").asc(),
             F.col("doc_id").asc()]
    top = kept.orderBy(*order).limit(_RULE_K)
    w = Window.orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id",
                    (F.col("pin") > 0).alias("pinned"))
            .orderBy("rank"))


def _rule_query_oracle() -> str:
    pinned, excluded = resolve_query_rules(_QUERY_RULES, _RULE_METADATA)
    exc = ", ".join(str(i) for i in excluded)
    return f"""
WITH kept AS (
  SELECT doc_id,
         list_position({pinned}, doc_id) AS pin
  FROM documents
  WHERE (list_position({pinned}, doc_id) > 0
         OR {_tok_duck('text', 'spark')})
    AND doc_id NOT IN ({exc}))
SELECT CAST(row_number() OVER
            (ORDER BY (pin > 0) DESC, pin, doc_id) AS INT) AS rank,
       doc_id, pin > 0 AS pinned
FROM kept
ORDER BY (pin > 0) DESC, pin, doc_id
LIMIT {_RULE_K}
"""


# Learned and composed ranking.
#
# - ``dsl_ltr_rescore`` — the Learning-to-Rank rescorer (ES 8.12):
#   phase 1 retrieves a bounded window by query score, phase 2
#   re-scores ONLY that window with a trained model over extracted
#   features. The model here is a literal linear scorer (the shape a
#   distilled LTR model has after export); feature extraction is the
#   real contract — per-doc features computed inside the window
#   projection, never corpus-wide.
# - ``dsl_retriever_pipeline`` — the ES 8.14+ retriever TREE: an
#   `rrf` retriever (lexical + vector legs) nested under a `rescorer`
#   retriever (phrase-boost re-rank of the fused window). Composition
#   is the point: each stage consumes the previous stage's bounded
#   frame, so the whole pipeline touches window-size rows after the
#   two leg scans.
#
# Scale posture: every stage is TakeOrderedAndProject over one scan or
# over a previous bounded frame; joins are <= window-size full-outers
# (AQE broadcasts); no global sort anywhere.


_tok_duck = token_present_duck_sql


# ------------------------------------------------------ dsl_ltr_rescore

_LTR_Q = {"dis_max": {"queries": [
    {"match": {"text": {"query": "scan", "boost": 2.0}}},
    {"match": {"text": {"query": "sort", "boost": 1.5}}},
    {"match": {"text": {"query": "line", "boost": 1.0}}},
], "tie_breaker": 0.3}}
_LTR_WINDOW = 40
_LTR_K = 10
# exported linear model: [w_query_score, w_token_count, w_is_en], bias
_LTR_W = [0.8, -0.002, 1.2]
_LTR_BIAS = 0.1


def dsl_ltr_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTR rescorer: phase-1 dis_max window (TakeOrdered 40), then a
    literal linear model over three features extracted IN the window
    projection — the phase-1 score, the token count (length prior),
    and a language indicator. Emits features beside the model score
    (the explain-your-ranking contract LTR tooling expects)."""
    docs = load_table(spark, "documents", sf_dir)
    win = (docs.filter(translate_query(_LTR_Q))
           .select("doc_id", "lang", "text",
                   F.round(score_query(_LTR_Q), 4).alias("f_score"))
           .orderBy(F.desc("f_score"), F.asc("doc_id"))
           .limit(_LTR_WINDOW))
    f_len = F.size(F.split(F.col("text"), " "))
    f_en = F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    model = (F.lit(_LTR_W[0]) * F.col("f_score")
             + F.lit(_LTR_W[1]) * F.col("f_len")
             + F.lit(_LTR_W[2]) * F.col("f_en") + F.lit(_LTR_BIAS))
    scored = (win.withColumn("f_len", f_len)
              .withColumn("f_en", f_en)
              .select("doc_id", "f_score", "f_len", "f_en",
                      F.round(model, 4).alias("ltr_score")))
    top = (scored.orderBy(F.desc("ltr_score"), F.asc("doc_id"))
           .limit(_LTR_K))
    w = Window.orderBy(F.desc("ltr_score"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "f_score", "f_len", "f_en",
                    "ltr_score").orderBy("rank"))


def _ltr_oracle() -> str:
    def hit(t: str, w: float) -> str:
        return (f"{w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END)")

    s1, s2, s3 = hit("scan", 2.0), hit("sort", 1.5), hit("line", 1.0)
    return f"""
WITH win AS (
  SELECT doc_id, lang, text,
         round(greatest({s1}, {s2}, {s3})
               + 0.3 * ({s1} + {s2} + {s3}
                        - greatest({s1}, {s2}, {s3})), 4) AS f_score
  FROM documents
  WHERE {_tok_duck('text', 'scan')} OR {_tok_duck('text', 'sort')}
     OR {_tok_duck('text', 'line')}
  ORDER BY f_score DESC, doc_id ASC LIMIT {_LTR_WINDOW}),
feat AS (
  SELECT doc_id, f_score,
         CAST(len(string_split(text, ' ')) AS INT) AS f_len,
         CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END
              AS DOUBLE) AS f_en
  FROM win),
scored AS (
  SELECT doc_id, f_score, f_len, f_en,
         round({_LTR_W[0]!r} * f_score + {_LTR_W[1]!r} * f_len
               + {_LTR_W[2]!r} * f_en + {_LTR_BIAS!r}, 4)
           AS ltr_score
  FROM feat)
SELECT CAST(row_number() OVER (ORDER BY ltr_score DESC, doc_id)
            AS INT) AS rank,
       doc_id, f_score, f_len, f_en, ltr_score
FROM scored ORDER BY ltr_score DESC, doc_id LIMIT {_LTR_K}
"""


# ------------------------------------------------ dsl_retriever_pipeline

_RP_TEXT_Q = {"dis_max": {"queries": [
    {"match": {"text": {"query": "merge", "boost": 2.0}}},
    {"match": {"text": {"query": "batch", "boost": 1.0}}},
], "tie_breaker": 0.2}}
_RP_QV = [round(math.sin(0.51 * i + 0.9), 4) for i in range(64)]
_RP_WINDOW = 30     # rrf rank_window_size
_RP_CONST = 60
_RP_RESCORE_WINDOW = 12
_RP_K = 8
_RP_QW, _RP_RQW = 50.0, 1.0   # rescore weights over the rrf score
_RP_PHRASE_BOOST = 3.0


def dsl_retriever_pipeline(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Retriever tree: rescorer( rrf( standard(dis_max),
    knn(literal vector) ) ). The rrf stage fuses two bounded
    TakeOrdered legs by reciprocal rank; the rescorer re-ranks the
    fused top-12 with a phrase query (50*rrf + 3.0*phrase_hit).
    After the two corpus scans, every stage operates on <= 30 rows."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    t_top = (docs.filter(translate_query(_RP_TEXT_Q))
             .select("doc_id",
                     F.round(score_query(_RP_TEXT_Q), 4).alias("s"))
             .orderBy(F.desc("s"), F.asc("doc_id"))
             .limit(_RP_WINDOW))
    tw = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    t_rank = (t_top.withColumn("tr", F.row_number().over(tw))
              .select(F.col("doc_id").alias("id"), "tr"))

    cos = cosine_to_literal("embedding", _RP_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"), cos.alias("c"))
             .orderBy(F.desc("c"), F.asc("id")).limit(_RP_WINDOW))
    vw = Window.orderBy(F.desc("c"), F.asc("id"))
    v_rank = (v_top.withColumn("vr", F.row_number().over(vw))
              .select("id", "vr"))

    rrf = F.round(
        F.coalesce(1.0 / (F.lit(_RP_CONST) + F.col("tr")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RP_CONST) + F.col("vr")),
                     F.lit(0.0)), 6)
    fused = (t_rank.join(v_rank, "id", "full_outer")
             .select("id", rrf.alias("rrf_score"))
             .orderBy(F.desc("rrf_score"), F.asc("id"))
             .limit(_RP_RESCORE_WINDOW))

    # rescorer stage: re-join the bounded fused frame to the doc
    # text (window-size semi-bounded equi-join) for the phrase test
    phrase = translate_query(
        {"match_phrase": {"text": "merge batch"}})
    rescored = (fused.join(docs.select("doc_id", "text"),
                           fused.id == F.col("doc_id"), "left")
                .select("id", "rrf_score",
                        F.when(phrase, F.lit(_RP_PHRASE_BOOST))
                        .otherwise(F.lit(0.0)).alias("r")))
    # UNROUNDED final: 50 x a 6-decimal rrf lands exactly on .x5
    # boundaries where Spark (HALF_UP) and DuckDB disagree; both
    # engines compute the identical double from identical inputs, so
    # emitting it raw is the exact-parity choice (%.6g compare)
    final = (F.lit(_RP_QW) * F.col("rrf_score")
             + F.lit(_RP_RQW) * F.col("r"))
    top = (rescored.select("id", final.alias("score"))
           .orderBy(F.desc("score"), F.asc("id")).limit(_RP_K))
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "id", "score").orderBy("rank"))


def _retriever_pipeline_oracle() -> str:
    from parquet_generator_spark.operators.esdsl import phrase_regex

    def hit(t: str, w: float) -> str:
        return (f"{w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END)")

    s1, s2 = hit("merge", 2.0), hit("batch", 1.0)
    cos_sql = cosine_to_literal_duck_sql(
        "CAST(embedding AS DOUBLE[])", _RP_QV)
    ph = phrase_regex("merge batch")
    return f"""
WITH t_top AS (
  SELECT doc_id AS id,
         round(greatest({s1}, {s2})
               + 0.2 * ({s1} + {s2} - greatest({s1}, {s2})), 4) AS s
  FROM documents
  WHERE {_tok_duck('text', 'merge')} OR {_tok_duck('text', 'batch')}
  ORDER BY s DESC, id ASC LIMIT {_RP_WINDOW}),
t_rank AS (
  SELECT id, CAST(row_number() OVER (ORDER BY s DESC, id) AS INT)
           AS tr FROM t_top),
v_top AS (
  SELECT vec_id AS id, {cos_sql} AS c
  FROM embeddings ORDER BY c DESC, id ASC LIMIT {_RP_WINDOW}),
v_rank AS (
  SELECT id, CAST(row_number() OVER (ORDER BY c DESC, id) AS INT)
           AS vr FROM v_top),
fused AS (
  SELECT coalesce(t_rank.id, v_rank.id) AS id,
         round(coalesce(1.0 / ({_RP_CONST} + tr), 0.0)
               + coalesce(1.0 / ({_RP_CONST} + vr), 0.0), 6)
           AS rrf_score
  FROM t_rank FULL OUTER JOIN v_rank ON t_rank.id = v_rank.id
  ORDER BY rrf_score DESC, id ASC LIMIT {_RP_RESCORE_WINDOW}),
rescored AS (
  SELECT fused.id, rrf_score,
         CASE WHEN regexp_matches(lower(d.text), '{ph}')
              THEN {_RP_PHRASE_BOOST!r} ELSE 0.0 END AS r
  FROM fused LEFT JOIN documents d ON fused.id = d.doc_id),
final AS (
  SELECT id, {_RP_QW!r} * rrf_score + {_RP_RQW!r} * r AS score
  FROM rescored)
SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS INT)
         AS rank,
       id, score
FROM final ORDER BY score DESC, id LIMIT {_RP_K}
"""


# ----------------------------------------------------- dsl_explain_score

_EXPLAIN_DOC = 42
_EXPLAIN_CLAUSES = [("spark", 2.0), ("window", 1.5), ("merge", 1.0)]
_EXPLAIN_TB = 0.3


def dsl_explain_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES `_explain` API: for ONE document and a dis_max query,
    emit the per-clause score breakdown (matched flag + weighted
    contribution) plus a TOTAL row carrying the tie-breaker
    combination — the relevance-debugging contract. The doc filter
    pushes to the scan (point lookup); the breakdown is a
    literal-struct unpivot of one row."""
    docs = load_table(spark, "documents", sf_dir)
    row = docs.filter(F.col("doc_id") == _EXPLAIN_DOC)
    clause_cols = []
    for term, boost in _EXPLAIN_CLAUSES:
        sc = F.round(score_query(
            {"match": {"text": {"query": term, "boost": boost}}}), 4)
        clause_cols.append((term, sc))
    total = F.round(score_query({"dis_max": {
        "queries": [{"match": {"text": {"query": t, "boost": b}}}
                    for t, b in _EXPLAIN_CLAUSES],
        "tie_breaker": _EXPLAIN_TB}}), 4)
    structs = [F.struct(F.lit(f"match:{t}").alias("clause"),
                        c.alias("contribution"))
               for t, c in clause_cols]
    structs.append(F.struct(
        F.lit("dis_max_total").alias("clause"),
        total.alias("contribution")))
    return (row.select(F.explode(F.array(*structs)).alias("s"))
            .select(F.lit(_EXPLAIN_DOC).cast("long").alias("doc_id"),
                    F.col("s.clause").alias("clause"),
                    F.col("s.contribution").alias("contribution"),
                    (F.col("s.contribution") > 0).alias("matched"))
            .orderBy("clause"))


def _explain_oracle() -> str:
    def hit(t: str, w: float) -> str:
        return (f"CAST({w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END) AS DOUBLE)")

    parts = [
        f"SELECT {_EXPLAIN_DOC} AS doc_id, 'match:{t}' AS clause, "
        f"round({hit(t, b)}, 4) AS contribution "
        f"FROM documents WHERE doc_id = {_EXPLAIN_DOC}"
        for t, b in _EXPLAIN_CLAUSES]
    ss = [hit(t, b) for t, b in _EXPLAIN_CLAUSES]
    g = f"greatest({ss[0]}, {ss[1]}, {ss[2]})"
    tot = (f"round({g} + {_EXPLAIN_TB} * ({ss[0]} + {ss[1]} + {ss[2]}"
           f" - {g}), 4)")
    parts.append(
        f"SELECT {_EXPLAIN_DOC} AS doc_id, 'dis_max_total' AS clause, "
        f"{tot} AS contribution "
        f"FROM documents WHERE doc_id = {_EXPLAIN_DOC}")
    inner = " UNION ALL ".join(parts)
    return (f"SELECT doc_id, clause, contribution, "
            f"contribution > 0 AS matched FROM ({inner}) t "
            f"ORDER BY clause")


# -------------------------------------------------------- dsl_multi_knn

_MK_QV1 = [round(math.sin(0.23 * i + 0.4), 4) for i in range(64)]
_MK_QV2 = [round(math.cos(0.41 * i + 1.3), 4) for i in range(64)]
_MK_WINDOW = 25
_MK_BOOSTS = (1.0, 2.0)
_MK_K = 10


def dsl_multi_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple `knn` clauses in one search (ES 8.7): each clause
    retrieves its own bounded top window against its own query
    vector; final score = sum of boost x similarity over the clauses
    where the doc survived (ES's multi-kNN union semantics). Two
    TakeOrdered legs + one <= window-size outer join."""
    emb = load_table(spark, "embeddings", sf_dir)

    def leg(qv: list[float], out: str) -> DataFrame:
        cos = cosine_to_literal("embedding", qv)
        return (emb.select(F.col("vec_id").alias("id"),
                           cos.alias(out))
                .orderBy(F.desc(out), F.asc("id"))
                .limit(_MK_WINDOW))

    b1, b2 = _MK_BOOSTS
    score = (F.lit(b1) * F.coalesce(F.col("c1"), F.lit(0.0))
             + F.lit(b2) * F.coalesce(F.col("c2"), F.lit(0.0)))
    return (leg(_MK_QV1, "c1").join(leg(_MK_QV2, "c2"),
                                    "id", "full_outer")
            .select("id", "c1", "c2",
                    F.round(score, 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(_MK_K))


def _multi_knn_oracle() -> str:
    def leg_sql(qv: list[float], out: str) -> str:
        cos_sql = cosine_to_literal_duck_sql(
            "CAST(embedding AS DOUBLE[])", qv)
        return f"""
  SELECT vec_id AS id, {cos_sql} AS {out}
  FROM embeddings ORDER BY {out} DESC, id ASC LIMIT {_MK_WINDOW}"""

    b1, b2 = _MK_BOOSTS
    return f"""
WITH l1 AS ({leg_sql(_MK_QV1, 'c1')}),
l2 AS ({leg_sql(_MK_QV2, 'c2')})
SELECT coalesce(l1.id, l2.id) AS id, c1, c2,
       round({b1!r} * coalesce(c1, 0.0)
             + {b2!r} * coalesce(c2, 0.0), 4) AS score
FROM l1 FULL OUTER JOIN l2 ON l1.id = l2.id
ORDER BY score DESC, id ASC LIMIT {_MK_K}
"""


# -------------------------------------------- dsl_collapse_inner_hits

def dsl_collapse_inner_hits(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Field `collapse` WITH `inner_hits`: per source, the collapsed
    top hit plus the group's next 2 hits under the same sort (the
    see-more-from-this-group contract). One keyed rank window serves
    both tiers — hit_rank 1 is the collapsed hit, 2-3 the inner
    hits; no second scan, no join."""
    from parquet_generator_spark.operators.esdsl import collapse_search

    docs = load_table(spark, "documents", sf_dir)
    return collapse_search(docs, {
        "query": {"term": {"lang": "en"}},
        "collapse": {"field": "source",
                     "inner_hits": {"name": "more", "size": 2}},
        "sort": [{"n_chars": "desc"}],
    })


DSL_COLLAPSE_INNER_HITS_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id ASC) AS INT) AS hit_rank
  FROM documents WHERE lang = 'en')
SELECT source, hit_rank, doc_id, n_chars
FROM ranked WHERE hit_rank <= 3
ORDER BY source, hit_rank
"""


# ------------------------------------------- dsl_script_score_painless

# a real painless script body: params, doc refs, Math.*, ternary,
# string equality — the reusable-script shape Kibana templates ship
SCRIPT_PAINLESS = {
    "source": ("Math.log(params.base + doc['value'].value) * "
               "(doc['event_type'].value == params.boosted "
               "? params.boost : 1.0) + "
               "Math.sqrt(doc['user_id'].value % params.mod)"),
    "params": {"base": 1.0, "boosted": "purchase",
               "boost": 2.5, "mod": 50},
}
SCRIPT_PAINLESS_K = 15


def dsl_script_score_painless(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """``script_score`` fed an ACTUAL painless source (not a
    hand-written Column): the translator resolves params.* to plan
    literals, doc refs to columns, Math.* to SQL functions, and the
    ternary to CASE — one generated expression feeds BOTH engines
    (dsl_script_score's hand-built twin pins the translation target).
    One projection + TakeOrderedAndProject."""
    from parquet_generator_spark.operators.esdsl import painless_score_sql

    ev = load_table(spark, "events", sf_dir)
    matched = ev.filter(translate_query(
        {"range": {"value": {"gte": 10}}}))
    score = F.round(F.expr(painless_score_sql(SCRIPT_PAINLESS)), 4)
    top = (matched.select("event_id", score.alias("score"))
           .orderBy(F.desc("score"), F.asc("event_id"))
           .limit(SCRIPT_PAINLESS_K))
    w = Window.orderBy(F.desc("score"), F.asc("event_id"))
    return (top.withColumn("rank",
                           F.row_number().over(w).cast("int"))
            .select("rank", "event_id", "score").orderBy("rank"))


def _script_painless_oracle() -> str:
    from parquet_generator_spark.operators.esdsl import (
        painless_score_sql,
    )

    expr = painless_score_sql(SCRIPT_PAINLESS)
    return f"""
WITH scored AS (
  SELECT event_id, round({expr}, 4) AS score
  FROM events WHERE value >= 10)
SELECT CAST(row_number() OVER (ORDER BY score DESC, event_id) AS INT)
         AS rank,
       event_id, score
FROM scored ORDER BY score DESC, event_id
LIMIT {SCRIPT_PAINLESS_K}
"""


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


# --------------------------------------------- dsl_retriever_linear

def dsl_retriever_linear(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """ES 8.18 ``linear`` retriever (the weighted sibling of the
    8.14 rrf retriever — dsl_rrf's per-branch-weights counterpart,
    and the DSL twin of esql_fuse_linear): fuse the same lexical
    and vector legs by WEIGHTED, minmax-NORMALIZED scores instead
    of reciprocal ranks — score = sum over retrievers of
    weight x (s - min) / (max - min) within each leg's
    rank_window_size, a missing leg contributing 0. Each leg stays
    a bounded TakeOrderedAndProject; the minmax scalars come from a
    single-partition WINDOW over the <= window-row leg (round 14:
    the former eager broadcast_scalars collect re-ran each leg's
    corpus scan once for min/max and again for the output — two
    extra build-time jobs per query; the window shares the leg's
    one scan, same shape as the oracle's ``max(s) OVER ()``). The
    window input is the LIMITed leg, never the corpus, so nothing
    data-scale funnels through the single partition; the fusion is
    a full-outer join of two <= window frames."""
    from pyspark.sql.window import Window

    w_text, w_vec = 0.7, 0.3
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    def norm(leg: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy()
        mn, mx = F.min(col).over(w), F.max(col).over(w)
        return (leg.withColumn(
                    "_ns",
                    F.when(mx > mn,
                           (F.col(col) - mn) / (mx - mn))
                    .otherwise(F.lit(1.0)))
                .select("id", "_ns"))

    t_top = (docs.filter(translate_query(_RRF_TEXT_Q))
             .select(F.col("doc_id").alias("id"),
                     F.round(score_query(_RRF_TEXT_Q), 4)
                     .alias("s"))
             .orderBy(F.desc("s"), F.asc("id"))
             .limit(_RRF_WINDOW))
    cos = cosine_to_literal("embedding", _RRF_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"),
                        F.round(cos, 6).alias("c"))
             .orderBy(F.desc("c"), F.asc("id"))
             .limit(_RRF_WINDOW))

    t_n = norm(t_top, "s").withColumnRenamed("_ns", "text_norm")
    v_n = norm(v_top, "c").withColumnRenamed("_ns", "vec_norm")
    score = (F.coalesce(F.col("text_norm") * F.lit(w_text),
                        F.lit(0.0))
             + F.coalesce(F.col("vec_norm") * F.lit(w_vec),
                          F.lit(0.0)))
    return (t_n.join(v_n, "id", "full_outer")
            .select("id",
                    F.round("text_norm", 6).alias("text_norm"),
                    F.round("vec_norm", 6).alias("vec_norm"),
                    F.round(score, 6).alias("linear_score"))
            .orderBy(F.desc("linear_score"), F.asc("id"))
            .limit(_RRF_K))


def _retriever_linear_oracle() -> str:
    def hit(t: str, w: float) -> str:
        return (f"{w!r} * (CASE WHEN {_tok_duck('text', t)} "
                f"THEN 1 ELSE 0 END)")

    s1, s2, s3 = hit("join", 2.0), hit("hash", 1.5), hit("sort", 1.0)
    cos_sql = cosine_to_literal_duck_sql(
        "CAST(embedding AS DOUBLE[])", _RRF_QV)
    return f"""
WITH t_top AS (
  SELECT doc_id AS id,
         round(greatest({s1}, {s2}, {s3})
               + 0.3 * ({s1} + {s2} + {s3}
                        - greatest({s1}, {s2}, {s3})), 4) AS s
  FROM documents
  WHERE {_tok_duck('text', 'join')} OR {_tok_duck('text', 'hash')}
     OR {_tok_duck('text', 'sort')}
  ORDER BY s DESC, id ASC LIMIT {_RRF_WINDOW}),
t_n AS (
  SELECT id, CASE WHEN max(s) OVER () > min(s) OVER ()
             THEN (s - min(s) OVER ())
                  / (max(s) OVER () - min(s) OVER ())
             ELSE 1.0 END AS text_norm
  FROM t_top),
v_top AS (
  SELECT vec_id AS id, round({cos_sql}, 6) AS c
  FROM embeddings
  ORDER BY c DESC, id ASC LIMIT {_RRF_WINDOW}),
v_n AS (
  SELECT id, CASE WHEN max(c) OVER () > min(c) OVER ()
             THEN (c - min(c) OVER ())
                  / (max(c) OVER () - min(c) OVER ())
             ELSE 1.0 END AS vec_norm
  FROM v_top)
SELECT coalesce(t_n.id, v_n.id) AS id,
       round(text_norm, 6) AS text_norm,
       round(vec_norm, 6) AS vec_norm,
       round(coalesce(text_norm * 0.7, 0.0)
             + coalesce(vec_norm * 0.3, 0.0), 6) AS linear_score
FROM t_n FULL OUTER JOIN v_n ON t_n.id = v_n.id
ORDER BY linear_score DESC, id ASC LIMIT {_RRF_K}
"""


# -------------------------------------------------- dsl_rrf_weighted

_RRF_WEIGHTS = (0.7, 0.3)  # text, vector


def dsl_rrf_weighted(spark: SparkSession,
                     sf_dir: str) -> DataFrame:
    """ES 9.1 weighted ``rrf`` retriever (r13 continuation —
    closing the DSL/ES|QL hybrid symmetry: dsl_rrf is the unweighted
    8.14 form, FUSE LINEAR the weighted-score form, this is the
    weighted-RANK form): score = sum over retrievers of
    weight_i / (rank_constant + rank_i). Same bounded legs as
    dsl_rrf (TakeOrderedAndProject windows, full-outer join of two
    <= window frames, AQE broadcasts both) — the weights only scale
    the reciprocal terms, nothing about the plan changes."""
    w_t, w_v = _RRF_WEIGHTS
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    t_top = (docs.filter(translate_query(_RRF_TEXT_Q))
             .select("doc_id",
                     F.round(score_query(_RRF_TEXT_Q), 4)
                     .alias("s"))
             .orderBy(F.desc("s"), F.asc("doc_id"))
             .limit(_RRF_WINDOW))
    tw = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    t_rank = (t_top.withColumn("text_rank",
                               F.row_number().over(tw))
              .select(F.col("doc_id").alias("id"), "text_rank"))

    cos = cosine_to_literal("embedding", _RRF_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"),
                        cos.alias("c"))
             .orderBy(F.desc("c"), F.asc("id"))
             .limit(_RRF_WINDOW))
    vw = Window.orderBy(F.desc("c"), F.asc("id"))
    v_rank = (v_top.withColumn("vec_rank", F.row_number().over(vw))
              .select("id", "vec_rank"))

    rrf = (F.coalesce(F.lit(w_t) / (F.lit(_RRF_CONST)
                                    + F.col("text_rank")),
                      F.lit(0.0))
           + F.coalesce(F.lit(w_v) / (F.lit(_RRF_CONST)
                                      + F.col("vec_rank")),
                        F.lit(0.0)))
    return (t_rank.join(v_rank, "id", "full_outer")
            .select("id", "text_rank", "vec_rank",
                    F.round(rrf, 6).alias("rrf_score"))
            .orderBy(F.desc("rrf_score"), F.asc("id"))
            .limit(_RRF_K))


def _rrf_weighted_oracle() -> str:
    w_t, w_v = _RRF_WEIGHTS
    base = _rrf_oracle()
    out = base.replace(
        f"round(coalesce(1.0 / ({_RRF_CONST} + text_rank), 0.0)\n"
        f"             + coalesce(1.0 / ({_RRF_CONST} + vec_rank),"
        f" 0.0), 6)",
        f"round(coalesce({w_t!r} / ({_RRF_CONST} + text_rank),"
        f" 0.0)\n"
        f"             + coalesce({w_v!r} / ({_RRF_CONST} +"
        f" vec_rank), 0.0), 6)")
    if out == base:  # the textual anchor drifted — fail loudly
        raise AssertionError(
            "dsl_rrf_weighted: could not rewrite the rrf oracle's "
            "score line — update the anchor to match "
            "_rrf_oracle in esdsl_scoring.py")
    return out


QUERIES = {
    "dsl_function_score": dsl_function_score,
    "dsl_collapse": dsl_collapse,
    "dsl_random_score": dsl_random_score,
    "dsl_pinned": dsl_pinned,
    "dsl_rank_feature": dsl_rank_feature,
    "dsl_script_score": dsl_script_score,
    "dsl_distance_feature": dsl_distance_feature,
    "dsl_scripted_metric": dsl_scripted_metric,
    "dsl_knn": dsl_knn,
    "dsl_rescore": dsl_rescore,
    "dsl_term_suggest": dsl_term_suggest,
    "dsl_highlight": dsl_highlight,
    "dsl_completion_suggest": dsl_completion_suggest,
    "dsl_phrase_suggest": dsl_phrase_suggest,
    "dsl_sort_script": dsl_sort_script,
    "dsl_sparse_vector": dsl_sparse_vector,
    "dsl_rank_eval": dsl_rank_eval,
    "dsl_rrf": dsl_rrf,
    "dsl_hybrid_score": dsl_hybrid_score,
    "dsl_rule_query": dsl_rule_query,
    "dsl_ltr_rescore": dsl_ltr_rescore,
    "dsl_retriever_pipeline": dsl_retriever_pipeline,
    "dsl_explain_score": dsl_explain_score,
    "dsl_multi_knn": dsl_multi_knn,
    "dsl_collapse_inner_hits": dsl_collapse_inner_hits,
    "dsl_script_score_painless": dsl_script_score_painless,
    "dsl_scripted_metric_loop": dsl_scripted_metric_loop,
    "dsl_scripted_metric_while": dsl_scripted_metric_while,
    "dsl_retriever_linear": dsl_retriever_linear,
    "dsl_rrf_weighted": dsl_rrf_weighted,
}


ORACLES = {
    "dsl_function_score": DSL_FUNCTION_SCORE_ORACLE,
    "dsl_collapse": DSL_COLLAPSE_ORACLE,
    "dsl_random_score": DSL_RANDOM_SCORE_ORACLE,
    "dsl_pinned": DSL_PINNED_ORACLE,
    "dsl_rank_feature": DSL_RANK_FEATURE_ORACLE,
    "dsl_script_score": DSL_SCRIPT_SCORE_ORACLE,
    "dsl_distance_feature": DSL_DISTANCE_FEATURE_ORACLE,
    "dsl_scripted_metric": DSL_SCRIPTED_METRIC_ORACLE,
    "dsl_rescore": _rescore_oracle(),
    "dsl_knn": _knn_oracle(),
    "dsl_term_suggest": _term_suggest_oracle(),
    "dsl_highlight": _highlight_oracle(),
    "dsl_completion_suggest": _completion_suggest_oracle(),
    "dsl_phrase_suggest": _phrase_suggest_oracle(),
    "dsl_sort_script": DSL_SORT_SCRIPT_ORACLE,
    "dsl_sparse_vector": _sparse_vector_oracle(),
    "dsl_rank_eval": _rank_eval_oracle(),
    "dsl_rrf": _rrf_oracle(),
    "dsl_hybrid_score": _hybrid_oracle(),
    "dsl_rule_query": _rule_query_oracle(),
    "dsl_ltr_rescore": _ltr_oracle(),
    "dsl_retriever_pipeline": _retriever_pipeline_oracle(),
    "dsl_explain_score": _explain_oracle(),
    "dsl_multi_knn": _multi_knn_oracle(),
    "dsl_collapse_inner_hits": DSL_COLLAPSE_INNER_HITS_ORACLE,
    "dsl_script_score_painless": _script_painless_oracle(),
    "dsl_scripted_metric_loop": _SCRIPTED_LOOP_ORACLE,
    "dsl_scripted_metric_while": _SCRIPTED_WHILE_ORACLE,
    "dsl_retriever_linear": _retriever_linear_oracle(),
    "dsl_rrf_weighted": _rrf_weighted_oracle(),
}
