"""ES-DSL twenty-fourth tranche: `now`-anchored date math via an
injectable plan-time clock.

Nearly every real Kibana/alerting query bounds its scan with
``now``-anchored math ("now-14d/d"); the anchored-only resolver
(reference_queries16.dsl_date_math) deliberately refused those
because a wall-clock-dependent pruning bound is unreproducible. The
generalization keeps determinism AND serves the user: the caller
injects the clock (``with plan_clock(anchor):``), and resolution
happens at PLAN time exactly like the anchored form — the bound
reaches the parquet scan as a plain timestamp literal, so row-group
pruning and the oracle contract both survive.

Reference parity: ES date-math grammar per the `range` query docs
(Bootstrap.java's reference surface has no query engine; the DSL
translation generalizes the ES semantics the reference's ETL feeds).

Scale: identical to any literal-bounded range scan — the filter is
pushed to the parquet reader, no shuffle added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

# the injected plan-time clock: a mid-day instant inside the events
# range so `now-14d/d` (floored) and the un-floored `lt now` bound
# exercise both resolution paths
NOW_ANCHOR = "2024-01-22 09:30:00"
NOW_GTE = "now-14d/d"   # -> 2024-01-08 00:00:00 (floor to day start)
NOW_LT = "now"          # -> 2024-01-22 09:30:00 (no rounding)


def dsl_date_math_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`range` with now-anchored bounds under an injected clock:
    daily doc counts for the trailing 14 whole days plus the partial
    current day. Both bounds resolve inside ``plan_clock`` to plain
    literals; outside the context the same body raises (pinned in
    tests/test_esdsl_modern.py)."""
    from parquet_generator_spark.operators.esdsl import (
        plan_clock,
        translate_query,
    )

    ev = load_table(spark, "events", sf_dir)
    with plan_clock(NOW_ANCHOR):
        cond = translate_query(
            {"range": {"ts": {"gte": NOW_GTE, "lt": NOW_LT}}})
    return (ev.filter(cond)
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("day"))


# the oracle re-derives both bounds from the SAME literal anchor in
# SQL (no Spark-resolved value leaks into the oracle)
DATE_MATH_NOW_ORACLE = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS doc_count
FROM events
WHERE ts >= date_trunc('day',
        TIMESTAMP '{NOW_ANCHOR}' - INTERVAL 14 DAY)
  AND ts < TIMESTAMP '{NOW_ANCHOR}'
GROUP BY day ORDER BY day
"""

QUERIES.update({"dsl_date_math_now": dsl_date_math_now})
ORACLES.update({"dsl_date_math_now": DATE_MATH_NOW_ORACLE})


# ----------------------------------------------- dsl_match_porter

_PORTER_QUERY = "sorting merged tables"


def dsl_match_porter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``match`` with ``analyzer: english_porter`` (stop + full
    Porter 1980, operators/porter.py — the ES ``english`` chain's
    stemmer fidelity): verb forms and derivations match their stems
    (sorting->sort, merged->merg==merge's stem, tables->tabl), the
    cases the S-stemmer `english` analyzer misses entirely — its
    twin of this query matches zero documents (pinned in
    tests/test_porter.py). Per-source doc counts under operator AND.

    Scale: the field-side stemmer is ONE plan-time-generated codegen
    expression per token (a short regexp chain builds the CV
    skeleton once; every measure test is substr/instr on it) — no
    UDF, no shuffle beyond the final aggregate."""
    from parquet_generator_spark.operators.esdsl import translate_query

    docs = load_table(spark, "documents", sf_dir)
    pred = translate_query({"match": {"text": {
        "query": _PORTER_QUERY, "operator": "and",
        "analyzer": "english_porter"}}})
    return (docs.filter(pred)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("source"))


def _porter_oracle() -> str:
    from parquet_generator_spark.operators.analyzers import (
        analyzed_match_duck_sql,
        get_analyzer,
    )

    pred = analyzed_match_duck_sql(
        "text", _PORTER_QUERY, get_analyzer("english_porter"),
        operator="and")
    return f"""
SELECT source, count(*) AS doc_count
FROM documents
WHERE text IS NOT NULL AND {pred}
GROUP BY source
ORDER BY source
"""


QUERIES.update({"dsl_match_porter": dsl_match_porter})
ORACLES.update({"dsl_match_porter": _porter_oracle()})


# ---------------------------------------- dsl_match_phrase_porter

_PHRASE_PORTER = "merging tables"


def dsl_match_phrase_porter(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """``match_phrase`` with the stem-only ``porter`` analyzer:
    "merging tables" requires ADJACENT field tokens stemming to
    (merg, tabl) — matching every "... merge table ..." in the
    corpus, a phrase the S-stemmer can never connect to this query
    (merging stays merging). Stemmed token array is bound ONCE per
    document (the struct-pinning trick), the adjacency scan is
    exists() over k-windows — codegen, no UDF. Per-lang doc counts
    + mean length."""
    from parquet_generator_spark.operators.esdsl import translate_query

    docs = load_table(spark, "documents", sf_dir)
    pred = translate_query({"match_phrase": {"text": {
        "query": _PHRASE_PORTER, "analyzer": "porter"}}})
    return (docs.filter(pred)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 F.round(F.avg(F.length("text")), 2).alias("avg_len"))
            .orderBy("lang"))


def _phrase_porter_oracle() -> str:
    from parquet_generator_spark.operators.analyzers import (
        analyzed_match_phrase_duck_sql,
        get_analyzer,
    )

    pred = analyzed_match_phrase_duck_sql(
        "text", _PHRASE_PORTER, get_analyzer("porter"))
    return f"""
SELECT lang, count(*) AS doc_count,
       round(avg(length(text)), 2) AS avg_len
FROM documents
WHERE text IS NOT NULL AND {pred}
GROUP BY lang
ORDER BY lang
"""


QUERIES.update({"dsl_match_phrase_porter": dsl_match_phrase_porter})
ORACLES.update({"dsl_match_phrase_porter": _phrase_porter_oracle()})


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

QUERIES.update({"dsl_time_series": dsl_time_series})
ORACLES.update({"dsl_time_series": DSL_TIME_SERIES_ORACLE})


# ------------------------------------------------- dsl_range_field

# literal query interval (the search body's gte/lte)
RF_LO, RF_HI = 50.0, 80.0


def dsl_range_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES range FIELD types (double_range et al.) with the
    ``relation`` parameter: each event carries a runtime interval
    [value, value + spread], and the query interval [50, 80] is
    tested under all three documented relations —
    INTERSECTS (lo <= qhi AND hi >= qlo, the default),
    WITHIN (the field interval inside the query),
    CONTAINS (the field interval covering the query).
    One scan, three CASE sums per event_type — interval algebra is
    pure codegen, no UDF, pushdown-friendly."""
    ev = load_table(spark, "events", sf_dir)
    lo = F.col("value")
    hi = F.col("value") + (F.col("event_id") % 5 + 1).cast("double")
    inter = (lo <= RF_HI) & (hi >= RF_LO)
    within = (lo >= RF_LO) & (hi <= RF_HI)
    contains = (lo <= RF_LO) & (hi >= RF_HI)
    return (ev.select("event_type",
                      inter.cast("long").alias("i"),
                      within.cast("long").alias("w"),
                      contains.cast("long").alias("c"))
            .groupBy("event_type")
            .agg(F.sum("i").cast("long").alias("n_intersects"),
                 F.sum("w").cast("long").alias("n_within"),
                 F.sum("c").cast("long").alias("n_contains"))
            .orderBy("event_type"))


DSL_RANGE_FIELD_ORACLE = f"""
WITH r AS (
  SELECT event_type, value AS lo,
         value + CAST(event_id % 5 + 1 AS DOUBLE) AS hi
  FROM events)
SELECT event_type,
       CAST(sum(CASE WHEN lo <= {RF_HI} AND hi >= {RF_LO}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_intersects,
       CAST(sum(CASE WHEN lo >= {RF_LO} AND hi <= {RF_HI}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
       CAST(sum(CASE WHEN lo <= {RF_LO} AND hi >= {RF_HI}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_contains
FROM r GROUP BY event_type ORDER BY event_type
"""

QUERIES.update({"dsl_range_field": dsl_range_field})
ORACLES.update({"dsl_range_field": DSL_RANGE_FIELD_ORACLE})


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


QUERIES.update(
    {"dsl_variable_width_histogram": dsl_variable_width_histogram})
ORACLES.update({"dsl_variable_width_histogram": _vwh_oracle()})


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
    from parquet_generator_spark.operators.esdsl import (
        painless_score_sql,
        translate_query,
    )

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


QUERIES.update(
    {"dsl_script_score_painless": dsl_script_score_painless})
ORACLES.update(
    {"dsl_script_score_painless": _script_painless_oracle()})


# ------------------------------------------------------ esql_pipeline

ESQL_QUERY = """
FROM events
| WHERE value >= 10 AND NOT (event_type == "view")
| EVAL bucket = user_id % 5, tag = UPPER(event_type)
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id),
        minv = MIN(value), maxv = MAX(value) BY tag, bucket
| SORT tag, bucket
| LIMIT 100
"""


def esql_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL (ES 8.11+ piped query language): the full pipeline shape
    a Kibana ES|QL panel ships — WHERE / EVAL / STATS ... BY / SORT /
    LIMIT — parsed ONCE (operators/esql.py, bounded subset fenced
    with loud errors) and rendered to DataFrame ops; the oracle
    renders the SAME parse to one SQL statement, so the two engines
    share the pipeline semantics structurally. Aggregates chosen
    engine-exact (counts, distinct counts, min/max selection — no
    float accumulation)."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )

    plan = parse_esql(ESQL_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _esql_oracle() -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )

    return esql_duck_sql(parse_esql(ESQL_QUERY))


QUERIES.update({"esql_pipeline": esql_pipeline})
ORACLES.update({"esql_pipeline": _esql_oracle()})
