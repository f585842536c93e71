"""ES|QL pipelines: the command pipeline, time-series panels, ENRICH and
LOOKUP JOIN, GROK and DISSECT, multivalue functions, FORK, FUSE and
``RATE()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.esdsl import plan_clock
from parquet_generator_spark.operators.esql import (
    EnrichPolicy,
    esql_df,
    esql_duck_sql,
    parse_esql,
)
from parquet_generator_spark.plans.esdsl_aggs import _CTR_MOD
from parquet_generator_spark.plans.esdsl_queries import IP_D, _ip_source
from parquet_generator_spark.plans.esdsl_scoring import KNN_QV
from parquet_generator_spark.sources.catalog import load_table


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
    plan = parse_esql(ESQL_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _esql_pipeline_oracle() -> str:
    return esql_duck_sql(parse_esql(ESQL_QUERY))


# The time-series panel shape, multivalue expansion, and structured-log
# DISSECT — the three highest-frequency real ES|QL pipelines the
# round-10 subset still refused.
#
# All three ride the round-11 esql.py rework: commands are an ORDERED
# list applied sequentially by both renderers (no hoisting — `SORT |
# LIMIT | WHERE` filters the top-n), CONCAT renders NULL-propagating
# in both engines, and a KEEP that drops a sort column projects it
# through the oracle's LIMIT subquery.
#
# Reference parity: ES|QL per the public ES 8.11+ grammar (the
# reference repo's surface is an ETL tool with no query language; the
# translation generalizes what its ES indices get queried WITH).
#
# Scale notes:
# - esql_pipeline_ts: the NOW() anchor resolves at PLAN time to a
#   timestamp literal (plan_clock), so the range filter reaches the
#   parquet scan (PushedFilters) and row-group pruning holds at any
#   corpus size; the aggregation is one hash-agg keyed on
#   date_trunc — partial map-side combine, no wide rows.
# - esql_mv_expand: explode is a narrow map (no shuffle); the only
#   shuffle is the token groupBy, and the top-k is
#   TakeOrderedAndProject, never a full sort.
# - esql_dissect: regexp_extract is pure codegen on the scanned
#   column; the groupBy key is a small int — bounded agg state.


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


# ENRICH (the Kibana lookup staple), GROK, ES-semantics LIKE/RLIKE +
# CASE, the MV_* multivalue family, and exact interpolated
# MEDIAN/PERCENTILE in STATS.
#
# All five ride the ordered-command esql.py core: one parse produces
# one command list, two renderers consume it sequentially, so the
# Spark plan and the DuckDB oracle cannot drift structurally.
#
# Reference parity: ES|QL per the public ES 8.11+ grammar (the
# reference repo — liujiawinds/parquet-generator, Bootstrap.java — is
# an ETL tool with no query language; the translation generalizes
# what its ES indices get queried WITH).
#
# Scale notes:
# - esql_enrich: BOTH enrich policies broadcast (ES materializes the
#   enrich index on every node — same contract), so the orders scan
#   never shuffles before the aggregation; two BroadcastHashJoins +
#   one hash-agg with map-side combine. At 100 TB the fact scan
#   partitions freely; the dims stay node-local.
# - esql_grok: regexp_extract is pure codegen over one projected
#   column — narrow, shuffle-free until the small-key groupBy.
# - esql_case_like: the LIKE/IN/RLIKE disjunction stays in the scan
#   filter (StartsWith pushes down; the residual predicate is still
#   codegen); CASE is a plain conditional projection.
# - esql_mv_funcs: the MV family is higher-order array codegen
#   (size/sort_array/array_distinct/array_join) — per-row, no
#   shuffle, no Python; the only shuffle is the 5-key lang groupBy.
# - esql_stats_percentiles: exact interpolated percentile is a
#   sort-based agg per group — fine at bounded group count; the
#   approx scale path (percentile_approx) is the documented swap,
#   as in dsl_percentiles (esdsl_aggs.py).


# the enrich-policy store (ES keeps these server-side; here they are
# plan-time constants shared by both renderers)
ENRICH_POLICIES = {
    "cust": EnrichPolicy(table="customer", match_field="c_custkey",
                         fields=("c_mktsegment", "c_nationkey")),
    "nat": EnrichPolicy(table="nation", match_field="n_nationkey",
                        fields=("n_name",)),
}

ESQL_ENRICH_QUERY = """
FROM orders
| ENRICH cust ON o_custkey WITH c_mktsegment, c_nationkey
| ENRICH nat ON c_nationkey WITH n_name
| STATS revenue = SUM(o_totalprice), n = COUNT(*)
        BY c_mktsegment, n_name
| EVAL rev = ROUND(revenue, 2)
| SORT c_mktsegment, n_name
| KEEP c_mktsegment, n_name, rev, n
| LIMIT 50
"""

ESQL_GROK_QUERY = """
FROM events
| EVAL line = CONCAT("evt ", event_type, " user=", TO_STRING(user_id))
| GROK line "%{WORD} %{WORD:etype} user=%{INT:uid:long}"
| STATS n = COUNT(*), users = COUNT_DISTINCT(uid) BY etype
| SORT etype
"""

ESQL_CASE_LIKE_QUERY = """
FROM events
| WHERE event_type LIKE "c*" OR event_type IN ("view", "error")
        OR event_type RLIKE "sign.p"
| EVAL bucket = CASE(value >= 75, "high", value >= 25, "mid", "low")
| STATS n = COUNT(*), av = AVG(value) BY event_type, bucket
| EVAL avg_r = ROUND(av, 4)
| SORT event_type, bucket
| KEEP event_type, bucket, n, avg_r
"""

ESQL_MV_FUNCS_QUERY = """
FROM documents
| EVAL toks = SPLIT(text, " ")
| EVAL ntoks = MV_COUNT(toks), uniq = MV_COUNT(MV_DEDUPE(toks)),
       sig = MV_CONCAT(MV_SORT(MV_DEDUPE(toks)), "|"),
       alpha = MV_MIN(toks), omega = MV_MAX(toks)
| STATS docs = COUNT(*), avg_n = AVG(ntoks), avg_u = AVG(uniq),
        sigs = COUNT_DISTINCT(sig), mn_tok = MIN(alpha),
        mx_tok = MAX(omega) BY lang
| EVAL avg_ntoks = ROUND(avg_n, 4), avg_uniq = ROUND(avg_u, 4)
| SORT lang
| KEEP lang, docs, avg_ntoks, avg_uniq, sigs, mn_tok, mx_tok
"""

ESQL_PCTL_QUERY = """
FROM events
| STATS p50 = MEDIAN(value), p90 = PERCENTILE(value, 90),
        n = COUNT(*) BY event_type
| EVAL med = ROUND(p50, 4), hi = ROUND(p90, 4)
| SORT event_type
| KEEP event_type, med, hi, n
"""


def esql_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained ENRICH commands (orders -> customer segment ->
    nation name) feeding a grouped revenue rollup: the Kibana
    lookup-then-aggregate panel. Both lookups broadcast (the ES
    enrich-index execution model); a key that misses enriches to
    NULL, per ES. Plan shape: scan + 2 BroadcastHashJoin + 1
    hash-agg + TakeOrdered — zero fact-side pre-agg shuffles."""
    plan = parse_esql(ESQL_ENRICH_QUERY, enrich=ENRICH_POLICIES)
    orders = load_table(spark, plan.table, sf_dir)
    lookups = {"cust": load_table(spark, "customer", sf_dir),
               "nat": load_table(spark, "nation", sf_dir)}
    return esql_df(orders, plan, lookups=lookups)


def esql_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROK with the bounded pattern library: an unnamed %{WORD}
    skip, a string capture, and a typed %{INT:uid:long} capture
    (the '' non-match extraction casts to NULL via an explicit CASE
    — ANSI-safe, and ES's null-on-miss semantics). One unanchored
    regex, valid in Java regex and RE2."""
    plan = parse_esql(ESQL_GROK_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def esql_case_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL expression semantics the SQL dialects disagree on,
    rendered faithfully in both: LIKE "c*" (wildcard translation ->
    LIKE 'c%' — full-string in both dialects), RLIKE "sign.p"
    (FULL-string regex: Spark gets ^(?:...)$ anchors, DuckDB gets
    SIMILAR TO), IN (...), and the variadic CASE(cond, val, ...,
    default) function."""
    plan = parse_esql(ESQL_CASE_LIKE_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def esql_mv_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multivalue family over SPLIT arrays: MV_COUNT (size,
    BIGINT-aligned), MV_DEDUPE (canonical sorted distinct — ES
    leaves the order unspecified, both engines sort), MV_SORT,
    MV_CONCAT, MV_MIN/MV_MAX. All higher-order array codegen —
    per-row, shuffle-free, no Python workers."""
    plan = parse_esql(ESQL_MV_FUNCS_QUERY)
    docs = load_table(spark, plan.table, sf_dir)
    return esql_df(docs, plan)


def esql_stats_percentiles(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """MEDIAN / PERCENTILE(expr, p) in STATS: exact interpolated
    quantiles (Spark percentile == DuckDB quantile_cont, both
    linear interpolation; ES|QL's 0-100 p converts to a fraction at
    parse time). The approx swap for unbounded groups is
    percentile_approx, as documented on dsl_percentiles."""
    plan = parse_esql(ESQL_PCTL_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


# ----------------- tranche four: INLINESTATS / LOOKUP JOIN /
# DATE_EXTRACT

# LOOKUP JOIN's index registry (ES 8.18 lookup indexes): the ON
# field must BE the index key (same-name contract) — the query
# stages it with EVAL, the documented ES|QL pattern
LOOKUP_INDEXES = {
    "customer": EnrichPolicy(table="customer",
                             match_field="c_custkey",
                             fields=("c_mktsegment", "c_acctbal")),
}

ESQL_INLINESTATS_QUERY = """
FROM events
| INLINESTATS av = AVG(value), mx = MAX(value) BY event_type
| WHERE value >= av
| STATS kept = COUNT(*), av_kept = AVG(value) BY event_type
| EVAL r = ROUND(av_kept, 4)
| SORT event_type
| KEEP event_type, kept, r
"""

ESQL_LOOKUP_QUERY = """
FROM orders
| EVAL c_custkey = o_custkey
| LOOKUP JOIN customer ON c_custkey
| STATS n = COUNT(*), rev = SUM(o_totalprice) BY c_mktsegment
| EVAL r = ROUND(rev, 2)
| SORT c_mktsegment
| KEEP c_mktsegment, n, r
"""

ESQL_DATE_EXTRACT_QUERY = """
FROM events
| EVAL h = DATE_EXTRACT("hour_of_day", ts),
       y = DATE_EXTRACT("year", ts)
| WHERE y == 2024
| STATS n = COUNT(*), av = AVG(value) BY h
| EVAL r = ROUND(av, 4)
| SORT h
| KEEP h, n, r
"""


ESQL_CHANGE_POINT_QUERY = """
FROM events
| WHERE event_type == "purchase"
| STATS doc_count = COUNT(*) BY day = BUCKET(ts, 1 day)
| CHANGE_POINT doc_count ON day
"""


def esql_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE_POINT over a STATS-bucketed daily series: the
    deterministic step-change argmax (dsl_change_point contract —
    documented divergence from ES's ML p-value annotation). The
    prior STATS is ENFORCED at parse, so the ordered prefix-sum
    window runs on the bucket-cardinality frame (days), never on
    raw rows — the ES ~1000-value input bound, kept structural."""
    plan = parse_esql(ESQL_CHANGE_POINT_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def esql_inlinestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INLINESTATS: group aggregates attached to every row WITHOUT
    collapsing (window functions, identical OVER text in both
    engines), feeding the classic above-group-mean filter then a
    real STATS. BY is required (a global INLINESTATS would be an
    unpartitioned window); the window shuffle is ONE hash exchange
    on the group key — the same exchange the later STATS reuses."""
    plan = parse_esql(ESQL_INLINESTATS_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def esql_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOOKUP JOIN (ES 8.18): the ON field must be the lookup
    index's key — staged here with EVAL, ES|QL's documented
    pattern. Unlike ENRICH the join strategy is NOT forced:
    Catalyst/AQE picks (broadcast under the threshold, shuffled
    hash beyond — lookup indexes may outgrow enrich-index sizes)."""
    plan = parse_esql(ESQL_LOOKUP_QUERY,
                      lookup_indexes=LOOKUP_INDEXES)
    orders = load_table(spark, plan.table, sf_dir)
    return esql_df(orders, plan,
                   lookups={"customer":
                            load_table(spark, "customer", sf_dir)})


def esql_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE_EXTRACT with ES|QL's aligned chrono names (hour_of_day,
    year) via ANSI EXTRACT — identical text in both engines,
    BIGINT-aligned; the hour-of-day traffic profile panel."""
    plan = parse_esql(ESQL_DATE_EXTRACT_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


# The ES|QL 8.14-8.16 features (numeric BUCKET histograms, per-aggregate
# STATS ... WHERE filters, the TOP aggregate, and the DATE_DIFF / POW /
# LOG10 / GREATEST / LEAST scalar functions).
#
# Scale notes: every pipeline is one hash aggregation over a narrow
# scan — BUCKET/DATE_DIFF/CASE math is pure codegen in the scan
# projection, per-aggregate FILTER clauses ride the same partial
# aggregate (map-side combine), and TOP's collect_list runs per group
# (bounded by the BY cardinality), so nothing here widens at 100 TB
# beyond the one shuffle the aggregation already pays.


# ------------------------------------------- ES|QL feature tranche

ESQL_BUCKET_NUM_QUERY = """
FROM events
| STATS n = COUNT(*), av = AVG(value) BY b = BUCKET(value, 25.0)
| EVAL avg_r = ROUND(av, 4)
| SORT b
| KEEP b, n, avg_r
"""

ESQL_STATS_WHERE_QUERY = """
FROM events
| STATS n = COUNT(*), hi = COUNT(*) WHERE value >= 75,
        pu = COUNT_DISTINCT(user_id) WHERE event_type == "purchase",
        sv = SUM(value) WHERE value < 10 BY b = user_id % 7
| EVAL svr = ROUND(sv, 4)
| SORT b
| KEEP b, n, hi, pu, svr
"""

ESQL_TOP_QUERY = """
FROM events
| STATS tops = TOP(event_type, 3, "desc"),
        lows = TOP(value, 2, "asc"), n = COUNT(*) BY b = user_id % 5
| EVAL sig = MV_CONCAT(tops, "|")
| SORT b
| KEEP b, sig, n
"""

ESQL_MATH_QUERY = """
FROM events
| EVAL dsw = DATE_DIFF("day", DATE_TRUNC(1 week, ts), ts),
       cap = LEAST(GREATEST(value, 10.0), 90.0),
       mag = ROUND(LOG10(POW(value + 1.0, 2.0)), 4)
| STATS n = COUNT(*), avg_cap = AVG(cap), top_mag = MAX(mag) BY dsw
| EVAL ac = ROUND(avg_cap, 4)
| SORT dsw
| KEEP dsw, n, ac, top_mag
"""


def _esql_events(query: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        plan = parse_esql(query)
        return esql_df(load_table(spark, plan.table, sf_dir), plan)
    return run


def _esql_oracle(query: str) -> str:
    return esql_duck_sql(parse_esql(query))


def esql_bucket_numeric(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """ES|QL fixed-interval histogram: ``STATS ... BY BUCKET(value,
    25.0)`` — the numeric-span form of the Kibana histogram panel.
    Floor-to-multiple-of-span is codegen in the scan projection and
    serves as the grouping key directly."""
    return _esql_events(ESQL_BUCKET_NUM_QUERY)(spark, sf_dir)


def esql_stats_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL 8.16 per-aggregate filters: three aggregates over the
    same pass, each with its own ``WHERE`` — one scan, one shuffle,
    conditional aggregation via the ANSI FILTER clause (identical
    text in Spark SQL and DuckDB)."""
    return _esql_events(ESQL_STATS_WHERE_QUERY)(spark, sf_dir)


def esql_top_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``TOP(field, k, order)``: the top-k values per group as
    a multivalue, then MV_CONCAT into a deterministic signature.
    Rendered as full-sort-then-prefix in both engines (no
    engine-specific top-k aggregate leaks into the contract)."""
    return _esql_events(ESQL_TOP_QUERY)(spark, sf_dir)


def esql_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL scalar-function tranche: DATE_DIFF (complete elapsed
    units — Spark timestampdiff / DuckDB date_sub, NOT the
    boundary-crossing date_diff), GREATEST/LEAST clamping, and
    POW/LOG10 math, grouped by day-of-week derived entirely in
    codegen."""
    return _esql_events(ESQL_MATH_QUERY)(spark, sf_dir)


# ---------------------------------------- ES|QL tranche six

ESQL_WAVG_QUERY = """
FROM events
| STATS wa = WEIGHTED_AVG(value, user_id), n = COUNT(*) BY event_type
| EVAL war = ROUND(wa, 4)
| SORT event_type
| KEEP event_type, war, n
"""

ESQL_VALUES_QUERY = """
FROM events
| STATS evs = VALUES(event_type), n = COUNT(*) BY b = user_id % 4
| EVAL sig = MV_CONCAT(evs, "|")
| SORT b
| KEEP b, sig, n
"""

ESQL_STRFNS_QUERY = """
FROM events
| EVAL short = LEFT(event_type, 3), tail = RIGHT(event_type, 2),
       swapped = REPLACE(event_type, "c", "k"),
       rev = REVERSE(event_type), up = TO_UPPER(event_type),
       pos = LOCATE(event_type, "ur")
| STATS n = COUNT(*), mp = MAX(pos) BY short, tail, up
| SORT short, tail
| KEEP short, tail, up, n, mp
"""

ESQL_SORT_NULLS_QUERY = """
FROM events
| EVAL g = CASE(value >= 50, event_type)
| SORT g ASC NULLS LAST, event_id
| LIMIT 12
| KEEP event_id, g
"""


def esql_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL WEIGHTED_AVG(expr, weight): pair-null semantics (a doc
    missing either side contributes to neither sum), DOUBLE-cast
    numerator/denominator so integer weights stay type-aligned
    (DuckDB sum(int) is HUGEINT). One conditional-aggregate pass."""
    return _esql_events(ESQL_WAVG_QUERY)(spark, sf_dir)


def esql_values_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL VALUES(field): the group's distinct values as a
    multivalue — canonical SORTED output in both engines (ES
    documents the order as unspecified), composed with MV_CONCAT
    into a deterministic signature string."""
    return _esql_events(ESQL_VALUES_QUERY)(spark, sf_dir)


def esql_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL string tranche two: LEFT/RIGHT/REPLACE/REVERSE (engine-
    neutral), TO_UPPER/TO_LOWER (alias to upper/lower), and LOCATE
    with its per-engine argument order (Spark locate(sub, str) vs
    DuckDB instr(str, sub)), INT-aligned."""
    return _esql_events(ESQL_STRFNS_QUERY)(spark, sf_dir)


def esql_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL SORT ... NULLS FIRST/LAST: explicit null placement
    parsed per sort key; the DuckDB renderer ALWAYS spells the
    placement out because the engine defaults differ (Spark: ASC
    nulls first; DuckDB: nulls last either way) — the fix that also
    closed the latent unspecified-placement divergence for every
    prior pipeline whose sort key could be NULL. The CASE with no
    default plants real NULLs so the contract is exercised, and the
    LIMIT consumes the order."""
    return _esql_events(ESQL_SORT_NULLS_QUERY)(spark, sf_dir)


ESQL_KEEP_WILDCARD_QUERY = """
FROM events
| WHERE value >= 90
| EVAL event_day = DATE_EXTRACT("day_of_month", ts),
       event_hour = DATE_EXTRACT("hour_of_day", ts)
| KEEP event_*, user_id
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id)
        BY event_type, event_day
| SORT event_type, event_day
| LIMIT 40
"""


def esql_keep_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL KEEP with *-patterns: the DataFrame side expands
    against the schema in table order (fnmatch), the oracle renders
    DuckDB's COLUMNS('^regex$') — the same table-order expansion, so
    the two projections cannot disagree. Empty and overlapping
    expansions are refused loudly; patterns under an active SORT are
    refused at parse (the passthrough projection cannot know whether
    a pattern covers the sort column without a schema)."""
    return _esql_events(ESQL_KEEP_WILDCARD_QUERY)(spark, sf_dir)


# The ES|QL FORK, IP-function (CIDR_MATCH / IP_PREFIX) and SAMPLE
# commands.


# ---------------------------------------------------- esql_fork

ESQL_FORK_QUERY = """
FROM events
| WHERE value > 0
| FORK (WHERE event_type == "purchase" AND value >= 50
        | EVAL flag = "big_purchase"
        | SORT value DESC, event_id | LIMIT 5
        | KEEP event_id, user_id, value, flag)
       (STATS n = COUNT(*), raw = SUM(value) BY event_type
        | EVAL total = ROUND(raw, 2)
        | DROP raw
        | SORT event_type)
| SORT _fork, event_id, event_type
"""


def esql_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``FORK`` (ES 8.18+): >= 2 branch sub-pipelines over
    the same input relation — here a top-k detail slice and a
    rollup — each tagged ``_fork=forkN`` and unioned BY NAME with
    null-fill (Spark ``unionByName(allowMissingColumns)`` ==
    DuckDB ``UNION ALL BY NAME``). Branch-local SORT orders only
    that branch's LIMIT (ES semantics); nested FORK, > 8 branches
    and FORK under an active SORT are refused at parse.

    Scale: the shared input scan is read once per branch (Spark
    will scan twice — at 100 TB you'd .cache() the post-WHERE frame
    or let AQE reuse the exchange; both branches here reduce to
    bounded outputs, so the union is trivially small)."""
    plan = parse_esql(ESQL_FORK_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _esql_fork_oracle() -> str:
    return esql_duck_sql(parse_esql(ESQL_FORK_QUERY))


# ---------------------------------------------- esql_cidr_match

ESQL_CIDR_QUERY = """
FROM ips
| WHERE CIDR_MATCH(client_ip, "10.0.0.0/8", "192.168.0.0/16")
| EVAL net = IP_PREFIX(client_ip, 12, 0)
| STATS n = COUNT(*) BY net
| SORT n DESC, net
| LIMIT 10
"""


def esql_cidr_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL IP functions over the SIEM-shaped runtime IP field
    (the dsl_ip_range source): ``CIDR_MATCH`` resolves its blocks
    to packed-int ranges at PARSE time, so the filter is BETWEEN
    arithmetic over one split_part chain (sargable codegen, no
    regex/UDF); ``IP_PREFIX`` masks to the /12 network and
    re-renders the dotted quad. IPv4-only subset — the v6 prefix
    length is fenced to the literal 0.

    Scale: filter and prefix are per-row codegen in the scan
    stage; the only shuffle is the bounded network groupBy, and
    TRY_CAST keeps malformed ips NULL instead of failing the
    scan."""
    plan = parse_esql(ESQL_CIDR_QUERY)
    ev = load_table(spark, "events", sf_dir)
    return esql_df(_ip_source(ev), plan)


def _esql_cidr_oracle() -> str:
    return (f"WITH ips AS (SELECT {IP_D} AS client_ip FROM events) "
            + esql_duck_sql(parse_esql(ESQL_CIDR_QUERY)))


# ---------------------------------------------------- esql_sample

ESQL_SAMPLE_QUERY = """
FROM events
| SAMPLE 0.2
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id)
        BY event_type
| SORT event_type
"""


def esql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``SAMPLE`` (ES 8.19+) as a deterministic md5-hash
    Bernoulli over the caller-named unique key (documented
    divergence from ES's per-run randomness — reproducibility is
    the property a data pipeline needs). The sample predicate is a
    stateless scan filter, so at 100 TB it rides the first stage
    and cuts everything downstream by 5x."""
    plan = parse_esql(ESQL_SAMPLE_QUERY, sample_key="event_id")
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _esql_sample_oracle() -> str:
    return esql_duck_sql(
        parse_esql(ESQL_SAMPLE_QUERY, sample_key="event_id"))


# ES|QL TSDS ``RATE()``.
#
# ``esql_rate`` — the Kibana TSDS metrics panel shape (ES 8.14+):
# ``STATS <outer>(RATE(counter)) BY BUCKET(@timestamp, 1 day)`` over a
# counter field, with the reset-reconstruction rule already owned by
# ``dsl_counter_rate`` (esdsl_aggs.py): a counter only
# climbs, so a negative delta means the emitting process reset and the
# true increase is the current value. The translator
# (operators/esql.py) renders the two-level TSDS aggregation — per
# (series, bucket): lag window -> reset-adjusted increase over the
# bucket's observed epoch-microsecond span = per-series per-second
# rate; then the outer SUM/AVG/MAX combines rates across series. The
# series identity is passed as ``parse_esql(..., tsds=...)``, the
# analog of the TSDS index's ``_tsid``/``@timestamp`` mapping
# (reference parity anchor: the reference ETL pulls from time-indexed
# ES sources — Bootstrap.java:87-130 — where TSDS rate is the standard
# downstream panel).
#
# Scale: the lag window and the level-1 groupBy share ONE shuffle on
# the series key (exactly the _tsid routing a TSDS index performs at
# write); level 2 operates on series-cardinality rows, and the final
# relation is bucket-cardinality. No self-join, no driver state.
#
# The counter source is the same synthetic modulo-1000 cumulative
# counter dsl_counter_rate uses, so resets occur organically and
# identically in both engines.


_TSDS = ("user_id", "ts", "event_id")

# the ES|QL 8.16 TS command heads the pipeline (FROM's time-series
# sibling — it requires the tsds identity at parse)
ESQL_RATE_QUERY = """
TS ctr_events
| STATS rate_sum = SUM(RATE(ctr)), rate_avg = AVG(RATE(ctr)),
        rate_max = MAX(RATE(ctr)) BY day = BUCKET(ts, 1 day)
| EVAL rate_sum = ROUND(rate_sum, 6), rate_avg = ROUND(rate_avg, 6),
       rate_max = ROUND(rate_max, 6)
| SORT day
"""


def _ctr_source(ev: DataFrame) -> DataFrame:
    """The dsl_counter_rate synthetic counter: per-user cumulative
    sum of a deterministic per-event weight, wrapped modulo 1000 so
    resets occur organically."""
    w_cum = (Window.partitionBy("user_id")
             .orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    return ev.select(
        "user_id", "ts", "event_id",
        (F.sum(F.col("event_id") % 5 + 1).over(w_cum) % _CTR_MOD)
        .alias("ctr"))


def esql_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = parse_esql(ESQL_RATE_QUERY, tsds=_TSDS)
    ev = load_table(spark, "events", sf_dir)
    return esql_df(_ctr_source(ev), plan)


def _esql_rate_oracle() -> str:
    ctr = (f"WITH ctr_events AS ("
           f"SELECT user_id, ts, event_id, "
           f"sum(event_id % 5 + 1) OVER ("
           f"PARTITION BY user_id ORDER BY ts, event_id "
           f"ROWS UNBOUNDED PRECEDING) % {_CTR_MOD} AS ctr "
           f"FROM events) ")
    return ctr + esql_duck_sql(parse_esql(ESQL_RATE_QUERY,
                                          tsds=_TSDS))


# ------------------------------------------------------ esql_knn

# the dsl_knn literal query (esdsl_scoring.py), so the ES|QL and
# Query-DSL vector paths are directly comparable
ESQL_KNN_K = 12


def _esql_knn_query() -> str:
    vec = ", ".join(repr(v) for v in KNN_QV)
    return (f"FROM embeddings "
            f"| WHERE label >= 3 "
            f"| WHERE KNN(embedding, [{vec}], {ESQL_KNN_K}) "
            f"| KEEP vec_id, label, _score "
            f"| SORT _score DESC, vec_id")


def esql_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``KNN`` (ES 8.19 preview): filtered vector search in
    the pipeline grammar — the preceding WHERE is the ES pre-filter
    (every hit satisfies it), the KNN keeps the top k by the
    dense_vector cosine score (1+cos)/2 with the vec_id tiebreak,
    and ``_score`` rides into KEEP/SORT (the METADATA _score
    convention). Plan: pushed label filter -> one narrow scoring
    map -> TakeOrderedAndProject; no join, no corpus broadcast."""
    plan = parse_esql(_esql_knn_query(), knn_key="vec_id")
    emb = load_table(spark, "embeddings", sf_dir)
    return esql_df(emb, plan)


# ----------------------------------------------------- esql_fuse

def _esql_fuse_query() -> str:
    vec = ", ".join(repr(v) for v in KNN_QV)
    return (
        "FROM embeddings | FORK "
        f"(WHERE KNN(embedding, [{vec}], 20) "
        "| SORT _score DESC, vec_id | LIMIT 20) "
        "(WHERE label >= 5 | EVAL s = vec_id % 97 "
        "| SORT s DESC, vec_id | LIMIT 20) "
        "| FUSE vec_id "
        "| SORT _score DESC, vec_id | LIMIT 25")


def esql_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL hybrid retrieval (ES 8.19 ``FORK ... | FUSE``): a
    vector branch (KNN top-20 by the dense_vector cosine score) and
    a metadata/lexical-style branch, fused by reciprocal-rank fusion
    with the ES default rank_constant 60 on the doc identity. Each
    branch's rank comes from its own final SORT|LIMIT (the bounded
    rerank-window contract); the fusion is one grouped pass over at
    most branches x window rows. The shared input scan is
    checkpointed once (the FORK posture)."""
    plan = parse_esql(_esql_fuse_query(), knn_key="vec_id")
    emb = load_table(spark, "embeddings", sf_dir)
    return esql_df(emb, plan)


# FUSE full-document / linear forms, TSDS downsample-on-write, ES|QL ROW
# / SHOW and the linear retriever.


# ------------------------------------- esql_fuse_docs / _linear

def _fuse_docs_query() -> str:
    vec = ", ".join(repr(v) for v in KNN_QV)
    return (
        "FROM embeddings | FORK "
        f"(WHERE KNN(embedding, [{vec}], 20) "
        "| SORT _score DESC, vec_id | LIMIT 20) "
        "(WHERE label >= 5 | EVAL s = vec_id % 97 "
        "| SORT s DESC, vec_id | LIMIT 20) "
        "| FUSE DOCS vec_id "
        "| KEEP vec_id, label, _score, _hits "
        "| SORT _score DESC, vec_id | LIMIT 25")


def esql_fuse_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``FORK ... | FUSE DOCS`` (ES 8.19's actual FUSE output
    shape): the reciprocal-rank fused ranking joined BACK onto the
    pre-fork documents, so the hybrid result carries the document
    columns plus _score/_hits. Plan: the ranking is bounded by
    branches x the rerank-window cap, so it broadcast-joins onto
    the already-checkpointed pre-fork frame — the corpus is scanned
    once (the FORK posture), no shuffle of the big side."""
    plan = parse_esql(_fuse_docs_query(), knn_key="vec_id")
    emb = load_table(spark, "embeddings", sf_dir)
    return esql_df(emb, plan)


def _fuse_linear_query() -> str:
    vec = ", ".join(repr(v) for v in KNN_QV)
    return (
        "FROM embeddings | FORK "
        f"(WHERE KNN(embedding, [{vec}], 20) "
        "| SORT _score DESC, vec_id | LIMIT 20) "
        "(WHERE label >= 5 "
        "| EVAL s = CAST(vec_id % 97 AS DOUBLE) "
        "| SORT s DESC, vec_id | LIMIT 20) "
        "| FUSE LINEAR vec_id WEIGHTS 0.7, 0.3 NORMALIZER MINMAX "
        "| SORT _score DESC, vec_id | LIMIT 25")


def esql_fuse_linear(spark: SparkSession,
                     sf_dir: str) -> DataFrame:
    """ES|QL ``FUSE LINEAR ... WEIGHTS ... NORMALIZER MINMAX`` (the
    ES 8.19 linear score_mode): each branch contributes weight x
    its own score — the KNN branch's cosine _score and the metadata
    branch's numeric rank key — minmax-normalized within the branch
    window so a 0.7/0.3 blend is meaningful across scales. A
    duplicate identity contributes its best score once per branch.
    Bounded like FUSE: every per-branch frame is <= the
    rerank-window cap."""
    plan = parse_esql(_fuse_linear_query(), knn_key="vec_id")
    emb = load_table(spark, "embeddings", sf_dir)
    return esql_df(emb, plan)


def _fuse_oracle(q: str) -> str:
    return esql_duck_sql(parse_esql(q, knn_key="vec_id"))


# ------------------------------------------- esql_row / esql_show

ESQL_ROW_QUERY = (
    'ROW lo = 10, hi = 42, label = "window" '
    "| EVAL span = hi - lo, mid = (hi + lo) / 2 "
    "| KEEP label, lo, hi, span, mid")


def esql_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``ROW`` (a source-less head): a one-row literal
    relation built from name = expr assignments, flowing into the
    normal pipeline (EVAL/KEEP here). The 8.x grammar's scratchpad
    form — useful for probing functions and shipping constants into
    LOOKUP-style joins without touching an index."""
    return esql_df(None, parse_esql(ESQL_ROW_QUERY))


def esql_show(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``SHOW INFO``: the engine identity as a one-row
    relation (deterministic literals — both engines render the
    same row, so the driver hash-matches it like any query)."""
    return esql_df(None, parse_esql("SHOW INFO"))


def _row_oracle(q: str) -> str:
    return esql_duck_sql(parse_esql(q))


QUERIES = {
    "esql_pipeline": esql_pipeline,
    "esql_pipeline_ts": esql_pipeline_ts,
    "esql_mv_expand": esql_mv_expand,
    "esql_dissect": esql_dissect,
    "esql_rename_drop": esql_rename_drop,
    "esql_enrich": esql_enrich,
    "esql_grok": esql_grok,
    "esql_case_like": esql_case_like,
    "esql_mv_funcs": esql_mv_funcs,
    "esql_stats_percentiles": esql_stats_percentiles,
    "esql_inlinestats": esql_inlinestats,
    "esql_lookup_join": esql_lookup_join,
    "esql_date_extract": esql_date_extract,
    "esql_change_point": esql_change_point,
    "esql_bucket_numeric": esql_bucket_numeric,
    "esql_stats_where": esql_stats_where,
    "esql_top_agg": esql_top_agg,
    "esql_math_funcs": esql_math_funcs,
    "esql_keep_wildcard": esql_keep_wildcard,
    "esql_weighted_avg": esql_weighted_avg,
    "esql_values_agg": esql_values_agg,
    "esql_string_funcs": esql_string_funcs,
    "esql_sort_nulls": esql_sort_nulls,
    "esql_fork": esql_fork,
    "esql_cidr_match": esql_cidr_match,
    "esql_sample": esql_sample,
    "esql_rate": esql_rate,
    "esql_knn": esql_knn,
    "esql_fuse": esql_fuse,
    "esql_fuse_docs": esql_fuse_docs,
    "esql_fuse_linear": esql_fuse_linear,
    "esql_row": esql_row,
    "esql_show": esql_show,
}


ORACLES = {
    "esql_pipeline": _esql_pipeline_oracle(),
    "esql_pipeline_ts": _ts_oracle(),
    "esql_mv_expand": esql_duck_sql(parse_esql(ESQL_MV_QUERY)),
    "esql_dissect": esql_duck_sql(parse_esql(ESQL_DISSECT_QUERY)),
    "esql_rename_drop": esql_duck_sql(parse_esql(ESQL_RENAME_QUERY)),
    "esql_enrich": esql_duck_sql(
        parse_esql(ESQL_ENRICH_QUERY, enrich=ENRICH_POLICIES)),
    "esql_grok": esql_duck_sql(parse_esql(ESQL_GROK_QUERY)),
    "esql_case_like": esql_duck_sql(parse_esql(ESQL_CASE_LIKE_QUERY)),
    "esql_mv_funcs": esql_duck_sql(parse_esql(ESQL_MV_FUNCS_QUERY)),
    "esql_stats_percentiles": esql_duck_sql(
        parse_esql(ESQL_PCTL_QUERY)),
    "esql_inlinestats": esql_duck_sql(
        parse_esql(ESQL_INLINESTATS_QUERY)),
    "esql_lookup_join": esql_duck_sql(
        parse_esql(ESQL_LOOKUP_QUERY, lookup_indexes=LOOKUP_INDEXES)),
    "esql_date_extract": esql_duck_sql(
        parse_esql(ESQL_DATE_EXTRACT_QUERY)),
    "esql_change_point": esql_duck_sql(
        parse_esql(ESQL_CHANGE_POINT_QUERY)),
    "esql_bucket_numeric": _esql_oracle(ESQL_BUCKET_NUM_QUERY),
    "esql_stats_where": _esql_oracle(ESQL_STATS_WHERE_QUERY),
    "esql_top_agg": _esql_oracle(ESQL_TOP_QUERY),
    "esql_math_funcs": _esql_oracle(ESQL_MATH_QUERY),
    "esql_keep_wildcard": _esql_oracle(ESQL_KEEP_WILDCARD_QUERY),
    "esql_weighted_avg": _esql_oracle(ESQL_WAVG_QUERY),
    "esql_values_agg": _esql_oracle(ESQL_VALUES_QUERY),
    "esql_string_funcs": _esql_oracle(ESQL_STRFNS_QUERY),
    "esql_sort_nulls": _esql_oracle(ESQL_SORT_NULLS_QUERY),
    "esql_fork": _esql_fork_oracle(),
    "esql_cidr_match": _esql_cidr_oracle(),
    "esql_sample": _esql_sample_oracle(),
    "esql_rate": _esql_rate_oracle(),
    "esql_knn": esql_duck_sql(parse_esql(_esql_knn_query(),
                                         knn_key="vec_id")),
    "esql_fuse": esql_duck_sql(parse_esql(_esql_fuse_query(),
                                          knn_key="vec_id")),
    "esql_fuse_docs": _fuse_oracle(_fuse_docs_query()),
    "esql_fuse_linear": _fuse_oracle(_fuse_linear_query()),
    "esql_row": _row_oracle(ESQL_ROW_QUERY),
    "esql_show": _row_oracle("SHOW INFO"),
}
