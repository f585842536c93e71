"""ES|QL pipelines: the command pipeline, time-series panels, ENRICH and
LOOKUP JOIN, GROK and DISSECT, multivalue functions, FORK, FUSE and
``RATE()``.

Every key is one row of ``PIPELINES``; ``spec.esql_pipelines`` parses
each query once (operators/esql.py: a bounded subset, fenced with loud
errors) and renders that one ordered command list twice, to DataFrame
ops and to the DuckDB oracle, so the two engines share the pipeline
semantics structurally.

Reference parity: ES|QL per the public ES 8.11+ grammar (the reference
repo is an ETL tool with no query language; the translation
generalizes what its ES indices get queried WITH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.esql import EnrichPolicy
from parquet_generator_spark.plans.esdsl_aggs import _CTR_MOD
from parquet_generator_spark.plans.esdsl_queries import (
    IP_D,
    NOW_ANCHOR,
    _ip_source,
)
from parquet_generator_spark.plans.esdsl_scoring import KNN_QV
from parquet_generator_spark.plans.spec import (
    Pipeline,
    Source,
    esql_pipelines,
)

# the enrich-policy store (ES keeps these server-side; here they are
# plan-time constants shared by both renderers)
ENRICH_POLICIES = {
    "cust": EnrichPolicy(table="customer", match_field="c_custkey",
                         fields=("c_mktsegment", "c_nationkey")),
    "nat": EnrichPolicy(table="nation", match_field="n_nationkey",
                        fields=("n_name",)),
}

# LOOKUP JOIN's index registry (ES 8.18 lookup indexes): the ON
# field must BE the index key (same-name contract) — the query
# stages it with EVAL, the documented ES|QL pattern
LOOKUP_INDEXES = {
    "customer": EnrichPolicy(table="customer",
                             match_field="c_custkey",
                             fields=("c_mktsegment", "c_acctbal")),
}


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


# the SIEM-shaped runtime IP field of dsl_ip_range
_IPS = Source("events", _ip_source,
              f"SELECT {IP_D} AS client_ip FROM events")

# the same counter in DuckDB: the TS command's series identity
# (user_id; ts, event_id order) is the TSDS index's _tsid/@timestamp
_CTR_EVENTS = Source(
    "events", _ctr_source,
    f"SELECT user_id, ts, event_id, "
    f"sum(event_id % 5 + 1) OVER ("
    f"PARTITION BY user_id ORDER BY ts, event_id "
    f"ROWS UNBOUNDED PRECEDING) % {_CTR_MOD} AS ctr "
    f"FROM events")

# the dsl_knn literal query vector, so the ES|QL and Query-DSL vector
# paths are directly comparable
_QV = ", ".join(repr(v) for v in KNN_QV)
_KNN = {"knn_key": "vec_id"}

# the FORK ... | FUSE keys' branches: KNN top-20 and a metadata rank
_FORK_KNN = (
    "FROM embeddings | FORK "
    f"(WHERE KNN(embedding, [{_QV}], 20) "
    "| SORT _score DESC, vec_id | LIMIT 20) ")
_META_BRANCH = ("(WHERE label >= 5 | EVAL s = vec_id % 97 "
                "| SORT s DESC, vec_id | LIMIT 20) ")


PIPELINES = {
    # the full Kibana panel shape; aggregates chosen engine-exact
    # (counts, distinct counts, min/max — no float accumulation)
    "esql_pipeline": Pipeline("""
FROM events
| WHERE value >= 10 AND NOT (event_type == "view")
| EVAL bucket = user_id % 5, tag = UPPER(event_type)
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id),
        minv = MIN(value), maxv = MAX(value) BY tag, bucket
| SORT tag, bucket
| LIMIT 100
"""),
    # NOW() resolves at parse, under the injected clock, to a literal
    # that reaches the parquet scan (PushedFilters); the post-STATS
    # WHERE filters the aggregated relation (sequential semantics)
    "esql_pipeline_ts": Pipeline("""
FROM events
| WHERE ts >= NOW() - 14 day AND value >= 1
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id),
        mx = MAX(value) BY day = BUCKET(ts, 1 day)
| WHERE n >= 5
| SORT day
| LIMIT 100
""", now=NOW_ANCHOR),
    # explode == unnest in both engines; empty/NULL arrays drop
    "esql_mv_expand": Pipeline("""
FROM documents
| EVAL toks = SPLIT(text, " ")
| MV_EXPAND toks
| WHERE LENGTH(toks) >= 3
| STATS n = COUNT(*), docs = COUNT_DISTINCT(doc_id) BY toks
| SORT n DESC, toks
| LIMIT 30
"""),
    # events.props is the structured-log column '{"k": <int>}'; the
    # %{key} pattern compiles to ONE anchored regex valid in both Java
    # regex and DuckDB's RE2
    "esql_dissect": Pipeline(
        'FROM events '
        '| DISSECT props "{\\"k\\": %{kv}}" '
        '| EVAL k = TO_LONG(kv) '
        '| STATS n = COUNT(*), mxk = MAX(k) BY b = k % 10 '
        '| SORT b'),
    # RENAME is sequential (a renamed sort column keeps feeding later
    # LIMITs); DROP of an active sort column is refused at parse.
    # FLOOR before TO_LONG keeps the double->BIGINT cast exact in both
    # engines (DuckDB rounds, Spark truncates)
    "esql_rename_drop": Pipeline(
        "FROM events "
        "| RENAME event_type AS etype, value AS v "
        '| WHERE STARTS_WITH(etype, "pu") AND v >= 50 '
        "| EVAL bucket = TO_LONG(FLOOR(v)) % 5, "
        'tag = COALESCE(etype, "none") '
        "| DROP props "
        "| STATS n = COUNT(*), hi = MAX(v) BY tag, bucket "
        "| SORT tag, bucket"),
    # both lookups broadcast (ES materializes the enrich index on every
    # node): scan + 2 BroadcastHashJoin + 1 hash-agg, no fact-side
    # shuffle before the aggregation; a missed key enriches to NULL
    "esql_enrich": Pipeline("""
FROM orders
| ENRICH cust ON o_custkey WITH c_mktsegment, c_nationkey
| ENRICH nat ON c_nationkey WITH n_name
| STATS revenue = SUM(o_totalprice), n = COUNT(*)
        BY c_mktsegment, n_name
| EVAL rev = ROUND(revenue, 2)
| SORT c_mktsegment, n_name
| KEEP c_mktsegment, n_name, rev, n
| LIMIT 50
""", opts={"enrich": ENRICH_POLICIES},
        lookups={"cust": "customer", "nat": "nation"}),
    # the typed capture's '' non-match casts to NULL via an explicit
    # CASE (ANSI-safe, ES's null-on-miss); one unanchored regex valid
    # in Java regex and RE2
    "esql_grok": Pipeline("""
FROM events
| EVAL line = CONCAT("evt ", event_type, " user=", TO_STRING(user_id))
| GROK line "%{WORD} %{WORD:etype} user=%{INT:uid:long}"
| STATS n = COUNT(*), users = COUNT_DISTINCT(uid) BY etype
| SORT etype
"""),
    # where the SQL dialects disagree: LIKE "c*" -> LIKE 'c%';
    # RLIKE is FULL-string (Spark gets ^(?:...)$, DuckDB SIMILAR TO)
    "esql_case_like": Pipeline("""
FROM events
| WHERE event_type LIKE "c*" OR event_type IN ("view", "error")
        OR event_type RLIKE "sign.p"
| EVAL bucket = CASE(value >= 75, "high", value >= 25, "mid", "low")
| STATS n = COUNT(*), av = AVG(value) BY event_type, bucket
| EVAL avg_r = ROUND(av, 4)
| SORT event_type, bucket
| KEEP event_type, bucket, n, avg_r
"""),
    # MV_DEDUPE is canonical sorted distinct (ES leaves the order
    # unspecified, both engines sort); all higher-order array codegen
    "esql_mv_funcs": Pipeline("""
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
"""),
    # exact interpolated quantiles (Spark percentile == DuckDB
    # quantile_cont); the approx swap for unbounded groups is
    # percentile_approx, as on dsl_percentiles
    "esql_stats_percentiles": Pipeline("""
FROM events
| STATS p50 = MEDIAN(value), p90 = PERCENTILE(value, 90),
        n = COUNT(*) BY event_type
| EVAL med = ROUND(p50, 4), hi = ROUND(p90, 4)
| SORT event_type
| KEEP event_type, med, hi, n
"""),
    # window functions with identical OVER text in both engines; BY is
    # required (a global INLINESTATS would be an unpartitioned window),
    # and the window's hash exchange is the one the later STATS reuses
    "esql_inlinestats": Pipeline("""
FROM events
| INLINESTATS av = AVG(value), mx = MAX(value) BY event_type
| WHERE value >= av
| STATS kept = COUNT(*), av_kept = AVG(value) BY event_type
| EVAL r = ROUND(av_kept, 4)
| SORT event_type
| KEEP event_type, kept, r
"""),
    # unlike ENRICH the join strategy is NOT forced: Catalyst/AQE
    # picks (lookup indexes may outgrow enrich-index sizes)
    "esql_lookup_join": Pipeline("""
FROM orders
| EVAL c_custkey = o_custkey
| LOOKUP JOIN customer ON c_custkey
| STATS n = COUNT(*), rev = SUM(o_totalprice) BY c_mktsegment
| EVAL r = ROUND(rev, 2)
| SORT c_mktsegment
| KEEP c_mktsegment, n, r
""", opts={"lookup_indexes": LOOKUP_INDEXES},
        lookups={"customer": "customer"}),
    "esql_date_extract": Pipeline("""
FROM events
| EVAL h = DATE_EXTRACT("hour_of_day", ts),
       y = DATE_EXTRACT("year", ts)
| WHERE y == 2024
| STATS n = COUNT(*), av = AVG(value) BY h
| EVAL r = ROUND(av, 4)
| SORT h
| KEEP h, n, r
"""),
    # the deterministic step-change argmax (documented divergence from
    # ES's ML p-value annotation); the prior STATS is enforced at
    # parse, so the prefix-sum window runs on days, never raw rows
    "esql_change_point": Pipeline("""
FROM events
| WHERE event_type == "purchase"
| STATS doc_count = COUNT(*) BY day = BUCKET(ts, 1 day)
| CHANGE_POINT doc_count ON day
"""),
    "esql_bucket_numeric": Pipeline("""
FROM events
| STATS n = COUNT(*), av = AVG(value) BY b = BUCKET(value, 25.0)
| EVAL avg_r = ROUND(av, 4)
| SORT b
| KEEP b, n, avg_r
"""),
    # per-aggregate filters ride one pass as ANSI FILTER clauses
    # (identical text in Spark SQL and DuckDB)
    "esql_stats_where": Pipeline("""
FROM events
| STATS n = COUNT(*), hi = COUNT(*) WHERE value >= 75,
        pu = COUNT_DISTINCT(user_id) WHERE event_type == "purchase",
        sv = SUM(value) WHERE value < 10 BY b = user_id % 7
| EVAL svr = ROUND(sv, 4)
| SORT b
| KEEP b, n, hi, pu, svr
"""),
    # TOP renders as full-sort-then-prefix in both engines (no
    # engine-specific top-k aggregate leaks into the contract)
    "esql_top_agg": Pipeline("""
FROM events
| STATS tops = TOP(event_type, 3, "desc"),
        lows = TOP(value, 2, "asc"), n = COUNT(*) BY b = user_id % 5
| EVAL sig = MV_CONCAT(tops, "|")
| SORT b
| KEEP b, sig, n
"""),
    # DATE_DIFF counts complete elapsed units (Spark timestampdiff /
    # DuckDB date_sub, NOT the boundary-crossing date_diff)
    "esql_math_funcs": Pipeline("""
FROM events
| EVAL dsw = DATE_DIFF("day", DATE_TRUNC(1 week, ts), ts),
       cap = LEAST(GREATEST(value, 10.0), 90.0),
       mag = ROUND(LOG10(POW(value + 1.0, 2.0)), 4)
| STATS n = COUNT(*), avg_cap = AVG(cap), top_mag = MAX(mag) BY dsw
| EVAL ac = ROUND(avg_cap, 4)
| SORT dsw
| KEEP dsw, n, ac, top_mag
"""),
    # KEEP patterns expand in table order on both sides (fnmatch vs
    # DuckDB COLUMNS('^regex$')); patterns under an active SORT are
    # refused at parse (without a schema the passthrough projection
    # cannot know whether a pattern covers the sort column)
    "esql_keep_wildcard": Pipeline("""
FROM events
| WHERE value >= 90
| EVAL event_day = DATE_EXTRACT("day_of_month", ts),
       event_hour = DATE_EXTRACT("hour_of_day", ts)
| KEEP event_*, user_id
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id)
        BY event_type, event_day
| SORT event_type, event_day
| LIMIT 40
"""),
    # pair-null semantics (a doc missing either side contributes to
    # neither sum); DOUBLE casts because DuckDB sum(int) is HUGEINT
    "esql_weighted_avg": Pipeline("""
FROM events
| STATS wa = WEIGHTED_AVG(value, user_id), n = COUNT(*) BY event_type
| EVAL war = ROUND(wa, 4)
| SORT event_type
| KEEP event_type, war, n
"""),
    # VALUES comes out SORTED in both engines (ES leaves the order
    # unspecified)
    "esql_values_agg": Pipeline("""
FROM events
| STATS evs = VALUES(event_type), n = COUNT(*) BY b = user_id % 4
| EVAL sig = MV_CONCAT(evs, "|")
| SORT b
| KEEP b, sig, n
"""),
    # LOCATE's argument order is per engine (Spark locate(sub, str),
    # DuckDB instr(str, sub))
    "esql_string_funcs": Pipeline("""
FROM events
| EVAL short = LEFT(event_type, 3), tail = RIGHT(event_type, 2),
       swapped = REPLACE(event_type, "c", "k"),
       rev = REVERSE(event_type), up = TO_UPPER(event_type),
       pos = LOCATE(event_type, "ur")
| STATS n = COUNT(*), mp = MAX(pos) BY short, tail, up
| SORT short, tail
| KEEP short, tail, up, n, mp
"""),
    # the DuckDB renderer always spells the null placement out because
    # the engine defaults differ; the default-less CASE plants real
    # NULLs and the LIMIT consumes the order
    "esql_sort_nulls": Pipeline("""
FROM events
| EVAL g = CASE(value >= 50, event_type)
| SORT g ASC NULLS LAST, event_id
| LIMIT 12
| KEEP event_id, g
"""),
    # branches union BY NAME with null-fill; a branch-local SORT orders
    # only that branch's LIMIT (ES semantics). The shared input is
    # read once per branch; both branches reduce to bounded outputs
    "esql_fork": Pipeline("""
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
"""),
    # CIDR blocks resolve to packed-int ranges at parse, so the filter
    # is BETWEEN arithmetic (no regex/UDF); IPv4 only, the v6 prefix
    # length is fenced to the literal 0
    "esql_cidr_match": Pipeline("""
FROM ips
| WHERE CIDR_MATCH(client_ip, "10.0.0.0/8", "192.168.0.0/16")
| EVAL net = IP_PREFIX(client_ip, 12, 0)
| STATS n = COUNT(*) BY net
| SORT n DESC, net
| LIMIT 10
""", source=_IPS),
    # a deterministic md5-hash Bernoulli over the named unique key
    # (documented divergence from ES's per-run randomness)
    "esql_sample": Pipeline("""
FROM events
| SAMPLE 0.2
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id)
        BY event_type
| SORT event_type
""", opts={"sample_key": "event_id"}),
    # a counter only climbs, so a negative delta is a reset and the
    # increase is the current value (dsl_counter_rate's rule); the lag
    # window and the per-series groupBy share ONE shuffle on the series
    "esql_rate": Pipeline("""
TS ctr_events
| STATS rate_sum = SUM(RATE(ctr)), rate_avg = AVG(RATE(ctr)),
        rate_max = MAX(RATE(ctr)) BY day = BUCKET(ts, 1 day)
| EVAL rate_sum = ROUND(rate_sum, 6), rate_avg = ROUND(rate_avg, 6),
       rate_max = ROUND(rate_max, 6)
| SORT day
""", opts={"tsds": ("user_id", "ts", "event_id")},
        source=_CTR_EVENTS),
    # the preceding WHERE is the ES pre-filter (every hit satisfies
    # it); plan: pushed label filter -> one scoring map ->
    # TakeOrderedAndProject, no join, no corpus broadcast
    "esql_knn": Pipeline(
        f"FROM embeddings "
        f"| WHERE label >= 3 "
        f"| WHERE KNN(embedding, [{_QV}], 12) "
        f"| KEEP vec_id, label, _score "
        f"| SORT _score DESC, vec_id", opts=_KNN),
    # reciprocal-rank fusion, ES default rank_constant 60; each
    # branch's rank comes from its own SORT|LIMIT, and the shared
    # input scan is checkpointed once (the FORK posture)
    "esql_fuse": Pipeline(
        _FORK_KNN + _META_BRANCH
        + "| FUSE vec_id "
        "| SORT _score DESC, vec_id | LIMIT 25", opts=_KNN),
    # the fused ranking (bounded by branches x window) broadcast-joins
    # back onto the checkpointed pre-fork frame
    "esql_fuse_docs": Pipeline(
        _FORK_KNN + _META_BRANCH
        + "| FUSE DOCS vec_id "
        "| KEEP vec_id, label, _score, _hits "
        "| SORT _score DESC, vec_id | LIMIT 25", opts=_KNN),
    # each branch's score is minmax-normalized within its window so the
    # 0.7/0.3 blend is meaningful across scales
    "esql_fuse_linear": Pipeline(
        _FORK_KNN
        + "(WHERE label >= 5 "
        "| EVAL s = CAST(vec_id % 97 AS DOUBLE) "
        "| SORT s DESC, vec_id | LIMIT 20) "
        "| FUSE LINEAR vec_id WEIGHTS 0.7, 0.3 NORMALIZER MINMAX "
        "| SORT _score DESC, vec_id | LIMIT 25", opts=_KNN),
    "esql_row": Pipeline(
        'ROW lo = 10, hi = 42, label = "window" '
        "| EVAL span = hi - lo, mid = (hi + lo) / 2 "
        "| KEEP label, lo, hi, span, mid"),
    "esql_show": Pipeline("SHOW INFO"),
}


QUERIES, ORACLES = esql_pipelines(PIPELINES)
