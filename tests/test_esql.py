"""ES|QL subset: parse/render parity, SEQUENTIAL command semantics
(order is honored, not hoisted), the new DISSECT / MV_EXPAND /
BUCKET / NOW surface, and the fences."""

from __future__ import annotations

import duckdb
import pytest

from parquet_generator_spark.operators.esdsl import plan_clock
from parquet_generator_spark.operators.esql import (
    esql_df,
    esql_duck_sql,
    parse_esql,
)

SF = "/root/testdata/sf0.001"


def _duck(sf=SF):
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    return con


def _run_both(spark, q):
    from parquet_generator_spark.sources.catalog import load_table

    plan = parse_esql(q)
    sdf = esql_df(load_table(spark, plan.table, SF), plan)
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = sorted(tuple(r) for r in
                   _duck().execute(esql_duck_sql(plan)).fetchall())
    return srows, drows, sdf.columns


def test_full_pipeline_matches(spark):
    q = ("FROM events | WHERE value >= 50 | EVAL b = user_id % 3 "
         "| STATS n = COUNT(*), u = COUNT_DISTINCT(user_id) "
         "BY event_type, b | SORT event_type, b | LIMIT 50")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) > 0
    assert cols == ["event_type", "b", "n", "u"]


def test_no_stats_projection_pipeline(spark):
    q = ("FROM events | WHERE event_type == \"purchase\" "
         "AND value > 95 | EVAL tag = CONCAT(event_type, \"!\") "
         "| SORT event_id | KEEP event_id, tag | LIMIT 10")
    s, d, cols = _run_both(spark, q)
    assert s == d and cols == ["event_id", "tag"]
    assert all(r[1] == "purchase!" for r in s)


def test_global_stats_without_by(spark):
    q = "FROM events | STATS n = COUNT(*), mx = MAX(value)"
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 1


# ---------------------------------------------- sequential semantics

def test_where_after_limit_filters_the_top_n(spark):
    """'SORT v | LIMIT n | WHERE p' filters the top-n slice, NOT the
    whole table (the hoisting bug the ordered command list fixes)."""
    q = ("FROM events | SORT value DESC, event_id | LIMIT 100 "
         "| WHERE event_type == \"click\" | STATS n = COUNT(*)")
    s, d, _ = _run_both(spark, q)
    assert s == d
    top_n = s[0][0]
    # vs the hoisted reading: clicks in the WHOLE table
    all_clicks = _duck().execute(
        "SELECT count(*) FROM events WHERE event_type = 'click'"
    ).fetchone()[0]
    assert 0 < top_n < all_clicks


def test_duplicate_limit_takes_prefix(spark):
    q = ("FROM events | SORT event_id | LIMIT 20 "
         "| SORT value DESC, event_id | LIMIT 5 "
         "| KEEP event_id, value")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 5
    # the 5 rows come from the 20 smallest event_ids
    ids = _duck().execute(
        "SELECT event_id FROM events ORDER BY event_id LIMIT 20"
    ).fetchall()
    assert {r[0] for r in s} <= {i[0] for i in ids}


def test_where_and_eval_after_stats(spark):
    q = ("FROM events | STATS n = COUNT(*), mx = MAX(value) "
         "BY event_type | WHERE n >= 5 | EVAL big = n * 2 "
         "| SORT event_type")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) > 0
    assert cols == ["event_type", "n", "mx", "big"]
    assert all(r[3] == r[1] * 2 for r in s)


def test_second_stats_aggregates_the_aggregate(spark):
    q = ("FROM events | STATS n = COUNT(*) BY event_type, user_id "
         "| STATS users = COUNT(*), mx = MAX(n) BY event_type "
         "| SORT event_type")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) > 0


def test_keep_dropping_sort_column_before_limit(spark):
    """KEEP drops the sort column, then LIMIT must still take the
    value-ordered prefix (passthrough projection in the oracle)."""
    q = ("FROM events | SORT value DESC, event_id "
         "| KEEP event_type | LIMIT 7")
    s, d, cols = _run_both(spark, q)
    assert sorted(s) == sorted(d) and len(s) == 7
    assert cols == ["event_type"]
    want = _duck().execute(
        "SELECT event_type FROM events "
        "ORDER BY value DESC, event_id LIMIT 7").fetchall()
    assert sorted(s) == sorted(tuple(r) for r in want)


# ------------------------------------------------- new ES|QL surface

def test_bucket_and_now_time_series(spark):
    with plan_clock("2024-01-25 00:00:00"):
        q = ("FROM events | WHERE ts >= NOW() - 14 day "
             "| STATS n = COUNT(*) BY day = BUCKET(ts, 1 day) "
             "| WHERE n >= 1 | SORT day")
        s, d, _ = _run_both(spark, q)
    assert s == d
    # anchor 01-25 minus 14d = 01-11; data runs through 01-30
    assert s[0][0].strftime("%Y-%m-%d") == "2024-01-11"
    assert len(s) == 20


def test_date_trunc_form_matches_bucket(spark):
    with plan_clock("2024-01-25 00:00:00"):
        q1 = ("FROM events | STATS n = COUNT(*) "
              "BY w = BUCKET(ts, 1 week) | SORT w")
        q2 = ("FROM events | EVAL w = DATE_TRUNC(1 week, ts) "
              "| STATS n = COUNT(*) BY w | SORT w")
        s1, d1, _ = _run_both(spark, q1)
        s2, d2, _ = _run_both(spark, q2)
    assert s1 == d1 == s2 == d2


def test_now_without_plan_clock_refuses():
    with pytest.raises(ValueError, match="plan-time clock"):
        parse_esql("FROM events | WHERE ts >= NOW() - 1 day")


def test_mv_expand_split_wordcount(spark):
    q = ("FROM documents | EVAL toks = SPLIT(text, \" \") "
         "| MV_EXPAND toks | WHERE LENGTH(toks) >= 3 "
         "| STATS n = COUNT(*) BY toks | SORT n DESC, toks "
         "| LIMIT 25")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 25


def test_dissect_extracts_keys(spark):
    q = ('FROM events | DISSECT props "{\\"k\\": %{kv}}" '
         "| EVAL k = TO_LONG(kv) "
         "| STATS n = COUNT(*), mx = MAX(k) BY b = k % 10 "
         "| SORT b")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) == 10
    assert cols == ["b", "n", "mx"]


def test_concat_is_null_propagating_in_both_engines(spark):
    """ES|QL CONCAT returns NULL on any NULL input; DuckDB's
    concat() would skip it — the oracle renders a || chain, so both
    engines count ZERO non-null results here."""
    q = ("FROM events | EVAL z = CONCAT(event_type, NULL) "
         "| STATS n = COUNT(z), total = COUNT(*)")
    s, d, _ = _run_both(spark, q)
    assert s == d
    assert s[0][0] == 0 and s[0][1] > 0


# --------------------------------------------------------- fences

def test_fences_raise_loudly():
    with pytest.raises(ValueError, match="must start with FROM"):
        parse_esql("WHERE x == 1")
    with pytest.raises(ValueError, match="source-less HEAD"):
        parse_esql("FROM events | ROW a = 1")
    with pytest.raises(ValueError, match="unknown lookup index"):
        parse_esql("FROM events | LOOKUP JOIN dims ON k")
    with pytest.raises(ValueError, match="unsupported syntax"):
        parse_esql("FROM events | WHERE value ~= 3")
    with pytest.raises(ValueError, match="aggregate SUM outside"):
        parse_esql("FROM events | EVAL s = SUM(value)")
    with pytest.raises(ValueError, match="aggregate PERCENTILE out"):
        parse_esql("FROM events | EVAL p = PERCENTILE(value, 95)")
    with pytest.raises(ValueError, match="count 1"):
        parse_esql("FROM events | STATS n = COUNT(*) "
                   "BY b = BUCKET(ts, 5 day)")
    with pytest.raises(ValueError, match="regex metacharacters"):
        parse_esql('FROM documents | EVAL t = SPLIT(text, ".")')
    with pytest.raises(ValueError, match="MV_EXPAND needs one"):
        parse_esql("FROM documents | MV_EXPAND a, b")
    with pytest.raises(ValueError, match="APPEND_SEPARATOR"):
        parse_esql('FROM events | DISSECT props "%{a} %{b}" '
                   "APPEND_SEPARATOR=\"-\"")
    with pytest.raises(ValueError, match="at least one"):
        parse_esql('FROM events | DISSECT props "no keys here"')


def test_expression_translation():
    plan = parse_esql(
        'FROM events | WHERE a == "x\'y" AND b != 2 | LIMIT 1')
    kind, e = plan.commands[0]
    assert kind == "where"
    assert "a = 'x''y' AND b <> 2" in e.spark
    assert e.spark == e.duck


def test_rename_drop_and_string_functions(spark):
    q = ("FROM events | RENAME event_type AS etype, value AS v "
         "| WHERE STARTS_WITH(etype, \"pu\") AND v >= 50 "
         "| EVAL bucket = TO_LONG(FLOOR(v)) % 5, "
         "tag = COALESCE(etype, \"none\") "
         "| DROP props "
         "| STATS n = COUNT(*), hi = MAX(v) BY tag, bucket "
         "| SORT tag, bucket")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) > 0
    assert cols == ["tag", "bucket", "n", "hi"]
    assert all(r[0] == "purchase" for r in s)


def test_rename_of_sort_column_keeps_limit_order(spark):
    q = ("FROM events | SORT value DESC, event_id "
         "| RENAME value AS v | LIMIT 5 | KEEP event_id, v")
    s, d, _ = _run_both(spark, q)
    assert sorted(s) == sorted(d) and len(s) == 5
    want = _duck().execute(
        "SELECT event_id, value FROM events "
        "ORDER BY value DESC, event_id LIMIT 5").fetchall()
    assert sorted(s) == sorted(tuple(r) for r in want)


def test_drop_of_sort_column_refused():
    with pytest.raises(ValueError, match="DROP of an active SORT"):
        parse_esql("FROM events | SORT value | DROP value | LIMIT 3")


def test_ends_with_and_substring(spark):
    q = ("FROM events | EVAL e3 = SUBSTRING(event_type, 1, 3) "
         "| WHERE ENDS_WITH(event_type, \"ck\") "
         "| STATS n = COUNT(*) BY e3 | SORT e3")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 1 and s[0][0] == "cli"


# ------------------------- round-11 tranche three: ENRICH / GROK /
# LIKE / RLIKE / CASE / MV_* / MEDIAN+PERCENTILE

def _duck_dims(sf=SF):
    con = duckdb.connect()
    for t in ("events", "documents", "orders", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    return con


def test_enrich_broadcast_lookup(spark):
    from pyspark.sql import functions as F

    from parquet_generator_spark.operators.esql import EnrichPolicy
    from parquet_generator_spark.sources.catalog import load_table

    pol = {"cust": EnrichPolicy("customer", "c_custkey",
                                ("c_mktsegment", "c_nationkey"))}
    q = ("FROM orders | ENRICH cust ON o_custkey WITH c_mktsegment "
         "| STATS n = COUNT(*) BY c_mktsegment | SORT c_mktsegment")
    plan = parse_esql(q, enrich=pol)
    sdf = esql_df(load_table(spark, "orders", SF), plan,
                  lookups={"cust": load_table(spark, "customer", SF)})
    s = sorted(tuple(r) for r in sdf.collect())
    d = sorted(tuple(r) for r in
               _duck_dims().execute(esql_duck_sql(plan)).fetchall())
    assert s == d and len(s) >= 3
    # the lookup must broadcast: no shuffle on the fact side
    explained = sdf._sc._jvm.PythonSQLUtils.explainString(
        sdf._jdf.queryExecution(), "formatted") \
        if hasattr(sdf._sc._jvm, "PythonSQLUtils") else None
    plan_str = sdf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_str
    assert "SortMergeJoin" not in plan_str


def test_enrich_miss_yields_null_fields(spark):
    from parquet_generator_spark.operators.esql import EnrichPolicy
    from parquet_generator_spark.sources.catalog import load_table

    # match only even nation keys: odd keys must enrich to NULL,
    # not drop (ES left-join semantics)
    pol = {"nat": EnrichPolicy("nation", "n_nationkey", ("n_name",))}
    q = ("FROM customer | EVAL k2 = c_nationkey * 2 "
         "| ENRICH nat ON k2 WITH n_name "
         "| STATS n = COUNT(*), have = COUNT(n_name) BY c_mktsegment "
         "| SORT c_mktsegment")
    plan = parse_esql(q, enrich=pol)
    con = duckdb.connect()
    for t in ("customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    sdf = esql_df(load_table(spark, "customer", SF), plan,
                  lookups={"nat": load_table(spark, "nation", SF)})
    s = sorted(tuple(r) for r in sdf.collect())
    d = sorted(tuple(r) for r in
               con.execute(esql_duck_sql(plan)).fetchall())
    assert s == d
    # some rows matched, some missed (counts differ)
    assert any(r[1] > r[2] for r in s)


def test_enrich_fences():
    from parquet_generator_spark.operators.esql import EnrichPolicy

    pol = {"nat": EnrichPolicy("nation", "n_nationkey", ("n_name",))}
    with pytest.raises(ValueError, match="unknown enrich policy"):
        parse_esql("FROM orders | ENRICH nope ON o_custkey")
    with pytest.raises(ValueError, match="not in .*policy|are not in"):
        parse_esql("FROM orders | ENRICH nat ON k WITH bogus",
                   enrich=pol)
    with pytest.raises(ValueError, match="after an active SORT"):
        parse_esql("FROM orders | SORT o_orderkey "
                   "| ENRICH nat ON o_custkey | LIMIT 5", enrich=pol)
    # ENRICH after STATS resets the active sort -> allowed
    parse_esql("FROM orders | SORT o_orderkey | STATS n = COUNT(*) "
               "BY k = o_custkey % 5 | ENRICH nat ON k", enrich=pol)


def test_grok_typed_captures_and_skip(spark):
    q = ('FROM events '
         '| EVAL line = CONCAT("lvl ", event_type, " u=", '
         'TO_STRING(user_id)) '
         '| GROK line "%{WORD} %{WORD:etype} u=%{INT:uid:long}" '
         '| STATS n = COUNT(*), mx = MAX(uid) BY etype | SORT etype')
    s, d, cols = _run_both(spark, q)
    assert s == d and cols == ["etype", "n", "mx"]
    assert len(s) == 5  # five event types


def test_grok_nonmatch_typed_is_null(spark):
    # props never matches an INT-only pattern -> typed key NULL,
    # string key '' (the documented DISSECT-style divergence applies
    # only to untyped keys)
    q = ('FROM events | GROK props "k=%{INT:kv:int}" '
         '| STATS n = COUNT(*), have = COUNT(kv) ')
    s, d, _ = _run_both(spark, q)
    assert s == d and s[0][1] == 0


def test_grok_fences():
    with pytest.raises(ValueError, match="bounded library"):
        parse_esql('FROM events | GROK props "%{HOSTNAME:h}"')
    with pytest.raises(ValueError, match="malformed GROK segment"):
        parse_esql('FROM events | GROK props "%{INT::int}"')
    with pytest.raises(ValueError, match="GROK type must be"):
        parse_esql('FROM events | GROK props "%{INT:k:decimal}"')
    with pytest.raises(ValueError, match="at least one"):
        parse_esql('FROM events | GROK props "%{INT} %{WORD}"')


def test_like_wildcard_translation(spark):
    q = ('FROM events | WHERE event_type LIKE "c*ck" '
         '| STATS n = COUNT(*) BY event_type')
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 1 and s[0][0] == "click"
    # ? maps to _ (single char): "clic?" matches click only
    q2 = ('FROM events | WHERE event_type LIKE "clic?" '
          '| STATS n = COUNT(*) BY event_type')
    s2, d2, _ = _run_both(spark, q2)
    assert s2 == d2 and len(s2) == 1


def test_rlike_is_full_match_in_both(spark):
    # "lic" appears INSIDE click; ES RLIKE is full-match, so a bare
    # "lic" must match nothing in either engine
    q = ('FROM events | WHERE event_type RLIKE "lic" '
         '| STATS n = COUNT(*)')
    s, d, _ = _run_both(spark, q)
    assert s == d and s[0][0] == 0
    q2 = ('FROM events | WHERE event_type RLIKE "cl.*k" '
          '| STATS n = COUNT(*) BY event_type')
    s2, d2, _ = _run_both(spark, q2)
    assert s2 == d2 and len(s2) == 1 and s2[0][0] == "click"


def test_like_rlike_fences():
    with pytest.raises(ValueError, match="literal %/_"):
        parse_esql('FROM events | WHERE event_type LIKE "c%"')
    with pytest.raises(ValueError, match="lookaround"):
        parse_esql('FROM events | WHERE event_type RLIKE "(?=x).*"')
    with pytest.raises(ValueError, match="string-literal pattern"):
        parse_esql("FROM events | WHERE event_type LIKE other_col")
    with pytest.raises(ValueError, match="dangling"):
        parse_esql("FROM events | WHERE event_type LIKE")


def test_case_function(spark):
    q = ('FROM events '
         '| EVAL b = CASE(value >= 75, "hi", value >= 25, "mid", "lo") '
         '| STATS n = COUNT(*) BY b | SORT b')
    s, d, _ = _run_both(spark, q)
    assert s == d and [r[0] for r in s] == ["hi", "lo", "mid"]
    # no default -> NULL bucket allowed
    q2 = ('FROM events | EVAL b = CASE(value >= 75, "hi") '
          '| STATS n = COUNT(*), tagged = COUNT(b)')
    s2, d2, _ = _run_both(spark, q2)
    assert s2 == d2 and s2[0][0] > s2[0][1]


def test_mv_family_matches(spark):
    q = ('FROM documents | EVAL toks = SPLIT(text, " ") '
         '| EVAL n = MV_COUNT(toks), u = MV_COUNT(MV_DEDUPE(toks)), '
         'lo = MV_MIN(toks), hi = MV_MAX(toks), '
         'j = MV_CONCAT(MV_SORT(MV_DEDUPE(toks)), "-") '
         '| STATS docs = COUNT(*), s1 = SUM(n), s2 = SUM(u), '
         'mn = MIN(lo), mx = MAX(hi), us = COUNT_DISTINCT(j) BY lang '
         '| SORT lang')
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 5
    # dedupe is a strict reduction: SUM(n) >= SUM(u) per lang
    assert all(r[2] >= r[3] for r in s)


def test_median_percentile_stats(spark):
    q = ('FROM events | STATS m = MEDIAN(value), '
         'p = PERCENTILE(value, 90), n = COUNT(*) BY event_type '
         '| EVAL med = ROUND(m, 4), hi = ROUND(p, 4) '
         '| KEEP event_type, med, hi, n | SORT event_type')
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 5
    assert all(r[1] <= r[2] for r in s)  # median <= p90
    with pytest.raises(ValueError, match="0, 100"):
        parse_esql("FROM events | STATS p = PERCENTILE(value, 150)")


# --------------- tranche four: INLINESTATS / LOOKUP JOIN /
# DATE_EXTRACT

def test_inlinestats_window_parity(spark):
    q = ("FROM events | INLINESTATS av = AVG(value) BY event_type "
         "| WHERE value >= av | STATS kept = COUNT(*) BY event_type "
         "| SORT event_type")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 5
    # above-mean filter keeps strictly fewer rows than the group
    totals = dict(_duck().execute(
        "SELECT event_type, count(*) FROM events GROUP BY 1"
    ).fetchall())
    assert all(r[1] < totals[r[0]] for r in s)


def test_inlinestats_fences():
    with pytest.raises(ValueError, match="unpartitioned window"):
        parse_esql("FROM events | INLINESTATS av = AVG(value)")
    with pytest.raises(ValueError, match="bounded to"):
        parse_esql("FROM events | INLINESTATS "
                   "u = COUNT_DISTINCT(user_id) BY event_type")
    with pytest.raises(ValueError, match="after an active SORT"):
        parse_esql("FROM events | SORT value "
                   "| INLINESTATS av = AVG(value) BY event_type "
                   "| LIMIT 3")


def test_lookup_join_same_name_contract(spark):
    from parquet_generator_spark.operators.esql import EnrichPolicy
    from parquet_generator_spark.sources.catalog import load_table

    idx = {"customer": EnrichPolicy("customer", "c_custkey",
                                    ("c_mktsegment",))}
    # ON must name the index key
    with pytest.raises(ValueError, match="same-name contract"):
        parse_esql("FROM orders | LOOKUP JOIN customer "
                   "ON o_custkey", lookup_indexes=idx)
    q = ("FROM orders | EVAL c_custkey = o_custkey "
         "| LOOKUP JOIN customer ON c_custkey "
         "| STATS n = COUNT(*) BY c_mktsegment | SORT c_mktsegment")
    plan = parse_esql(q, lookup_indexes=idx)
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    sdf = esql_df(load_table(spark, "orders", SF), plan,
                  lookups={"customer":
                           load_table(spark, "customer", SF)})
    s = sorted(tuple(r) for r in sdf.collect())
    d = sorted(tuple(r) for r in
               con.execute(esql_duck_sql(plan)).fetchall())
    assert s == d and len(s) == 5


def test_date_extract_parity_and_fences(spark):
    q = ('FROM events | EVAL h = DATE_EXTRACT("hour_of_day", ts) '
         '| STATS n = COUNT(*) BY h | SORT h')
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) == 24
    assert s[0][0] == 0 and s[-1][0] == 23
    with pytest.raises(ValueError, match="day-of-week"):
        parse_esql('FROM events | EVAL d = '
                   'DATE_EXTRACT("day_of_week", ts)')
    with pytest.raises(ValueError, match="string literal"):
        parse_esql("FROM events | EVAL d = DATE_EXTRACT(part, ts)")


# ------------------------------------ CHANGE_POINT (step detector)

def test_change_point_matches_and_detects(spark):
    q = ('FROM events | WHERE event_type == "purchase" '
         '| STATS doc_count = COUNT(*) BY day = BUCKET(ts, 1 day) '
         '| CHANGE_POINT doc_count ON day')
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) == 1
    assert cols == ["day", "step", "score"]
    assert s[0][2] == abs(s[0][1]) > 0


def test_change_point_requires_stats():
    with pytest.raises(ValueError, match="STATS-bucketed"):
        parse_esql("FROM events | CHANGE_POINT value ON event_id")


# --------------- numeric BUCKET / STATS WHERE / TOP / DATE_DIFF

def test_bucket_numeric_histogram(spark):
    q = ("FROM events | STATS n = COUNT(*) "
         "BY b = BUCKET(value, 25.0) | SORT b")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) > 1
    assert all(r[0] % 25.0 == 0.0 for r in s)


def test_bucket_numeric_integer_span_is_double(spark):
    # integer spans must still produce DOUBLE keys in BOTH engines
    q = ("FROM events | STATS n = COUNT(*) "
         "BY b = BUCKET(value, 50) | SORT b")
    plan = parse_esql(q)
    from parquet_generator_spark.sources.catalog import load_table
    sdf = esql_df(load_table(spark, "events", SF), plan)
    assert dict(sdf.dtypes)["b"] == "double"
    s, d, _ = _run_both(spark, q)
    assert s == d


def test_stats_per_aggregate_where(spark):
    q = ("FROM events | STATS n = COUNT(*), "
         "hi = COUNT(*) WHERE value >= 90, "
         'pu = SUM(value) WHERE event_type == "purchase" '
         "BY event_type | SORT event_type")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) > 0
    assert cols == ["event_type", "n", "hi", "pu"]
    # the filtered count is a strict subset of the plain count
    assert all(r[2] <= r[1] for r in s)


def test_stats_where_fences():
    # INLINESTATS does not take per-aggregate filters
    with pytest.raises(ValueError):
        parse_esql("FROM events | INLINESTATS "
                   "n = COUNT(*) WHERE value > 5 BY event_type")


def test_top_aggregate(spark):
    q = ('FROM events | STATS t = TOP(event_type, 2, "desc") '
         "BY b = user_id % 3 "
         '| EVAL sig = MV_CONCAT(t, "|") | SORT b | KEEP b, sig')
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) == 3
    with pytest.raises(ValueError, match="TOP takes"):
        parse_esql("FROM events | STATS t = TOP(value) BY event_type")
    with pytest.raises(ValueError, match="TOP takes"):
        parse_esql('FROM events | STATS t = TOP(value, 2, "sideways")'
                   " BY event_type")


def test_date_diff_and_math_funcs(spark):
    q = ('FROM events | EVAL d = DATE_DIFF("day", '
         "DATE_TRUNC(1 week, ts), ts), "
         "g = GREATEST(value, 50.0), p = ROUND(POW(value, 2.0), 2) "
         "| STATS n = COUNT(*), mg = MIN(g) BY d | SORT d")
    s, d_, cols = _run_both(spark, q)
    assert s == d_ and len(s) > 0
    # day-of-week offsets are complete elapsed days: 0..6
    assert all(0 <= r[0] <= 6 for r in s)
    assert all(r[2] >= 50.0 for r in s)
    with pytest.raises(ValueError, match="DATE_DIFF unit"):
        parse_esql('FROM events | EVAL d = DATE_DIFF("fortnight", '
                   "ts, ts)")
    with pytest.raises(ValueError, match="string literal"):
        parse_esql("FROM events | EVAL d = DATE_DIFF(day, ts, ts)")


# ---------- WEIGHTED_AVG / VALUES / string tranche two / NULLS

def test_weighted_avg_pair_null_semantics(spark):
    q = ("FROM events | STATS wa = WEIGHTED_AVG(value, user_id) "
         "BY event_type | EVAL w = ROUND(wa, 4) | SORT event_type "
         "| KEEP event_type, w")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) > 0


def test_values_aggregate_sorted_distinct(spark):
    q = ('FROM events | STATS v = VALUES(event_type) BY b = '
         'user_id % 2 | EVAL sig = MV_CONCAT(v, ",") | SORT b '
         "| KEEP b, sig")
    s, d, _ = _run_both(spark, q)
    assert s == d
    # sorted-distinct: each signature is an ordered join
    for _, sig in s:
        parts = sig.split(",")
        assert parts == sorted(set(parts))


def test_string_tranche_two(spark):
    q = ('FROM events | EVAL a = LEFT(event_type, 2), '
         'b = RIGHT(event_type, 2), c = REPLACE(event_type, "i", "y"), '
         "d = REVERSE(event_type), e = TO_LOWER(TO_UPPER(event_type)), "
         'p = LOCATE(event_type, "ic") '
         "| STATS n = COUNT(*), mp = MAX(p) BY a, b, c, d, e "
         "| SORT a, b | LIMIT 20")
    s, d, _ = _run_both(spark, q)
    assert s == d and len(s) > 0
    with pytest.raises(ValueError, match="LOCATE takes"):
        parse_esql("FROM events | EVAL p = LOCATE(event_type)")


def test_sort_nulls_placement(spark):
    # CASE with no default -> NULL sort keys; LIMIT consumes order
    for mod in ("NULLS FIRST", "NULLS LAST", ""):
        q = ("FROM events | EVAL g = CASE(value >= 95, event_type) "
             f"| SORT g ASC {mod}, event_id | LIMIT 7 "
             "| KEEP event_id, g")
        s, d, _ = _run_both(spark, q)
        assert s == d, mod
    with pytest.raises(ValueError, match="SORT modifier"):
        parse_esql("FROM events | SORT value NULLS SIDEWAYS | LIMIT 1")


def test_to_long_truncates_in_both_engines(spark):
    # DuckDB CAST(double AS BIGINT) rounds; the oracle must truncate
    # like Spark/ES (fuzzer-found divergence, now pinned)
    q = ("FROM events | WHERE value > 10 | EVAL k = TO_LONG(value) "
         "| SORT event_id | LIMIT 25 | KEEP event_id, k")
    s, d, _ = _run_both(spark, q)
    assert s == d


def test_keep_wildcard_expansion(spark):
    q = ("FROM events | KEEP event_*, user_id "
         "| STATS n = COUNT(*) BY event_type | SORT event_type")
    s, d, cols = _run_both(spark, q)
    assert s == d and cols == ["event_type", "n"]


def test_keep_wildcard_fences(spark):
    from parquet_generator_spark.sources.catalog import load_table

    with pytest.raises(ValueError, match="active SORT"):
        parse_esql("FROM events | SORT value "
                   "| KEEP ev*, value | LIMIT 2")
    df = load_table(spark, "events", SF)
    with pytest.raises(ValueError, match="matches no columns"):
        esql_df(df, parse_esql("FROM events | KEEP zzz* | LIMIT 2"))
    with pytest.raises(ValueError, match="duplicate columns"):
        esql_df(df, parse_esql(
            "FROM events | KEEP event_*, event_id | LIMIT 2"))


def test_fork_union_by_name(spark):
    from parquet_generator_spark.sources.catalog import load_table

    q = ("FROM events | WHERE value > 0 "
         "| FORK (WHERE event_type == \"view\" | SORT event_id "
         "| LIMIT 3 | KEEP event_id, value) "
         "(STATS n = COUNT(*) BY event_type | SORT event_type) "
         "| SORT _fork, event_id")
    plan = parse_esql(q)
    sdf = esql_df(load_table(spark, plan.table, SF), plan)
    cols = sdf.columns
    # null-fill makes plain tuple sorting type-unsafe — stringify
    s = sorted(tuple(map(str, r)) for r in sdf.collect())
    d = sorted(tuple(map(str, r)) for r in
               _duck().execute(esql_duck_sql(plan)).fetchall())
    assert s == d and len(s) > 3
    assert "_fork" in cols
    tags = {r[cols.index("_fork")] for r in s}
    assert tags == {"fork1", "fork2"}


def test_fork_branch_local_sort_limits_that_branch_only(spark):
    # branch 1's DESC top-2 must not reorder branch 2's ASC top-2
    q = ("FROM events "
         "| FORK (SORT value DESC, event_id | LIMIT 2) "
         "(SORT value ASC, event_id | LIMIT 2) "
         "| KEEP event_id, value, _fork")
    s, d, cols = _run_both(spark, q)
    assert s == d and len(s) == 4
    vals = sorted(r[cols.index("value")] for r in s)
    assert vals[0] < vals[-1]  # both extremes present


def test_fork_scans_input_once(spark):
    """The shared fork input is checkpointed ONCE: the union plan
    reads the materialized blocks, not N copies of the file scan
    (the 100-TB exchange-reuse posture made structural)."""
    from parquet_generator_spark.operators import cache
    from parquet_generator_spark.sources.catalog import load_table

    q = ("FROM events | WHERE value > 0 "
         "| FORK (WHERE event_type == \"view\" | LIMIT 3) "
         "(STATS n = COUNT(*) BY event_type)")
    plan = parse_esql(q)
    with cache.scope():
        sdf = esql_df(load_table(spark, plan.table, SF), plan)
        p = sdf._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in p  # branches read the checkpoint
        assert sdf.count() > 0      # and the union still computes
        assert cache.tracked_count() >= 1


def test_fork_fences():
    with pytest.raises(ValueError, match="nested FORK"):
        parse_esql("FROM events | FORK (WHERE value > 1 | FORK "
                   "(LIMIT 1) (LIMIT 2)) (LIMIT 3)")
    with pytest.raises(ValueError, match="at least two"):
        parse_esql("FROM events | FORK (WHERE value > 1)")
    with pytest.raises(ValueError, match="active SORT"):
        parse_esql("FROM events | SORT value "
                   "| FORK (LIMIT 1) (LIMIT 2)")
    with pytest.raises(ValueError, match="stray text"):
        parse_esql("FROM events | FORK (LIMIT 1) junk (LIMIT 2)")
    with pytest.raises(ValueError, match="8 branches"):
        parse_esql("FROM events | FORK " + "(LIMIT 1) " * 9)


def test_cidr_match_and_ip_prefix(spark):
    from pyspark.sql import functions as F

    rows = [("10.1.2.3",), ("10.200.0.9",), ("192.168.7.7",),
            ("172.16.0.1",), ("not-an-ip",), (None,)]
    df = spark.createDataFrame(rows, ["ip"])
    plan = parse_esql(
        'FROM t | WHERE CIDR_MATCH(ip, "10.0.0.0/8", '
        '"192.168.0.0/16") | EVAL net = IP_PREFIX(ip, 12, 0) '
        "| SORT ip | KEEP ip, net")
    got = [tuple(r) for r in esql_df(df, plan).collect()]
    assert got == [("10.1.2.3", "10.0.0.0"),
                   ("10.200.0.9", "10.192.0.0"),
                   ("192.168.7.7", "192.160.0.0")]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(ip VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    assert con.execute(esql_duck_sql(plan)).fetchall() == got


def test_ip_function_fences():
    with pytest.raises(ValueError, match="IPv4"):
        parse_esql('FROM t | WHERE CIDR_MATCH(ip, "bad/8")')
    with pytest.raises(ValueError, match="string literals"):
        parse_esql("FROM t | WHERE CIDR_MATCH(ip, other_col)")
    with pytest.raises(ValueError, match="invalid CIDR"):
        parse_esql('FROM t | WHERE CIDR_MATCH(ip, "300.0.0.0/8")')
    with pytest.raises(ValueError, match="IPv4-only"):
        parse_esql("FROM t | EVAL n = IP_PREFIX(ip, 24, 64)")
    with pytest.raises(ValueError, match="0-32"):
        parse_esql("FROM t | EVAL n = IP_PREFIX(ip, 40, 0)")


def test_sample_deterministic_hash_bernoulli(spark):
    from parquet_generator_spark.sources.catalog import load_table

    plan = parse_esql("FROM events | SAMPLE 0.25 "
                      "| STATS n = COUNT(*)", sample_key="event_id")
    sdf = esql_df(load_table(spark, "events", SF), plan)
    n1 = sdf.collect()[0]["n"]
    n2 = esql_df(load_table(spark, "events", SF),
                 plan).collect()[0]["n"]
    dn = _duck().execute(esql_duck_sql(plan)).fetchall()[0][0]
    assert n1 == n2 == dn  # reproducible across runs AND engines
    total = load_table(spark, "events", SF).count()
    assert 0 < n1 < total  # an actual sample, roughly a quarter
    assert abs(n1 / total - 0.25) < 0.1


def test_sample_fences():
    with pytest.raises(ValueError, match="sample_key"):
        parse_esql("FROM events | SAMPLE 0.5")
    with pytest.raises(ValueError, match="in \\(0, 1\\)"):
        parse_esql("FROM events | SAMPLE 1.5", sample_key="event_id")
    with pytest.raises(ValueError, match="numeric"):
        parse_esql("FROM events | SAMPLE lots", sample_key="event_id")


def test_rate_reset_aware(spark):
    """RATE(counter): reset-adjusted per-series per-second rate,
    outer agg across series — hand-computed oracle values, engine
    parity, NULL for single-sample series."""
    from datetime import datetime as DT

    rows = [
        # series A: 0 -> 5 -> 2 (reset: +2), span 20s, inc 7 -> 0.35
        ("A", DT(2024, 1, 1, 0, 0, 0), 1, 0),
        ("A", DT(2024, 1, 1, 0, 0, 10), 2, 5),
        ("A", DT(2024, 1, 1, 0, 0, 20), 3, 2),
        # series B: 100 -> 140 over 40s -> 1.0
        ("B", DT(2024, 1, 1, 0, 0, 0), 4, 100),
        ("B", DT(2024, 1, 1, 0, 0, 40), 5, 140),
        # series C: single sample -> NULL rate (excluded by outer)
        ("C", DT(2024, 1, 1, 0, 0, 0), 6, 7),
    ]
    df = spark.createDataFrame(rows, ["host", "ts", "eid", "ctr"])
    tsds = ("host", "ts", "eid")
    plan = parse_esql("FROM m | STATS r = AVG(RATE(ctr)), "
                      "s = SUM(RATE(ctr)), m = MAX(RATE(ctr))",
                      tsds=tsds)
    got = esql_df(df, plan).collect()[0]
    assert abs(got["r"] - 0.675) < 1e-12
    assert abs(got["s"] - 1.35) < 1e-12
    assert abs(got["m"] - 1.0) < 1e-12
    con = duckdb.connect()
    con.execute("CREATE TABLE m(host VARCHAR, ts TIMESTAMP, "
                "eid INT, ctr INT)")
    con.executemany("INSERT INTO m VALUES (?, ?, ?, ?)", rows)
    d = con.execute(esql_duck_sql(plan)).fetchall()[0]
    assert all(abs(a - b) < 1e-12 for a, b in zip(got, d))
    # with BY: minute buckets via BUCKET
    plan2 = parse_esql(
        "FROM m | STATS r = SUM(RATE(ctr)) "
        "BY mn = BUCKET(ts, 1 minute) | SORT mn", tsds=tsds)
    s2 = [(str(r["mn"]), r["r"])
          for r in esql_df(df, plan2).collect()]
    d2 = [(str(r[0]), r[1])
          for r in con.execute(esql_duck_sql(plan2)).fetchall()]
    assert s2 == d2 and len(s2) == 1
    assert abs(s2[0][1] - 1.35) < 1e-12


def test_ts_command_heads_pipeline():
    # TS == FROM with the time-series identity REQUIRED at parse
    tsds = ("host", "ts", "eid")
    plan = parse_esql("TS m | STATS r = AVG(RATE(ctr))", tsds=tsds)
    assert plan.table == "m"
    with pytest.raises(ValueError, match="TS needs the time-series"):
        parse_esql("TS m | STATS n = COUNT(*)")
    with pytest.raises(ValueError, match="must start with FROM"):
        parse_esql("SELECT m | LIMIT 1")


def test_rate_fences():
    tsds = ("host", "ts", "eid")
    with pytest.raises(ValueError, match="tsds"):
        parse_esql("FROM m | STATS r = AVG(RATE(ctr))")
    with pytest.raises(ValueError, match="outer cross-series"):
        parse_esql("FROM m | STATS r = RATE(ctr)", tsds=tsds)
    with pytest.raises(ValueError, match="mixing RATE"):
        parse_esql("FROM m | STATS r = AVG(RATE(ctr)), "
                   "n = COUNT(*)", tsds=tsds)
    with pytest.raises(ValueError, match="WHERE filter"):
        parse_esql("FROM m | STATS r = AVG(RATE(ctr)) "
                   "WHERE ctr > 0", tsds=tsds)
    with pytest.raises(ValueError, match="outer SUM/AVG/MIN/MAX"):
        parse_esql("FROM m | STATS r = MEDIAN(RATE(ctr))",
                   tsds=tsds)
    with pytest.raises(ValueError, match="outer SUM/AVG/MIN/MAX"):
        parse_esql("FROM m | EVAL x = RATE(ctr)", tsds=tsds)


def test_knn_top_k_parity(spark):
    """KNN as the sole WHERE predicate: (1+cos)/2 scoring against
    the literal query, deterministic top-k with the key tiebreak,
    engine parity, pre-filter composition via a preceding WHERE."""
    rows = [
        (1, "a", [1.0, 0.0]),    # cos 1.0  -> score 1.0
        (2, "a", [0.0, 1.0]),    # cos 0.0  -> score 0.5
        (3, "b", [-1.0, 0.0]),   # cos -1.0 -> score 0.0
        (4, "b", [1.0, 1.0]),    # cos .7071 -> 0.8536
        (5, "a", [1.0, 0.0]),    # tie with id 1 -> id order
    ]
    df = spark.createDataFrame(
        rows, "id long, kind string, vec array<double>")
    q = ("FROM t | WHERE KNN(vec, [1.0, 0.0], 3) "
         "| KEEP id, _score")
    plan = parse_esql(q, knn_key="id")
    got = [(r["id"], r["_score"]) for r in
           esql_df(df, plan).collect()]
    assert got == [(1, 1.0), (5, 1.0), (4, 0.8536)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, kind VARCHAR, "
                "vec DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    assert con.execute(esql_duck_sql(plan)).fetchall() == got
    # pre-filter in a PRECEDING WHERE: only kind='b' rows compete
    q2 = ('FROM t | WHERE kind == "b" | WHERE KNN(vec, [1.0, 0.0], '
          "1) | KEEP id, _score")
    plan2 = parse_esql(q2, knn_key="id")
    s2 = [tuple(r) for r in esql_df(df, plan2).collect()]
    d2 = con.execute(esql_duck_sql(plan2)).fetchall()
    assert s2 == d2 == [(4, 0.8536)]
    # STATS composes over the k survivors
    q3 = ("FROM t | WHERE KNN(vec, [1.0, 0.0], 3) "
          "| STATS n = COUNT(*), top = MAX(_score) BY kind "
          "| SORT kind")
    plan3 = parse_esql(q3, knn_key="id")
    s3 = [tuple(r) for r in esql_df(df, plan3).collect()]
    d3 = con.execute(esql_duck_sql(plan3)).fetchall()
    assert s3 == d3 == [("a", 2, 1.0), ("b", 1, 0.8536)]


def test_knn_plan_shape(spark):
    """The esql_knn driver key's plan: pre-filter pushed to the
    scan, one TakeOrderedAndProject, no join/cartesian, no Python
    eval."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["esql_knn"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    for bad in ("SortMergeJoin", "CartesianProduct",
                "BroadcastNestedLoop", "BatchEvalPython"):
        assert bad not in plan, bad
    # the label pre-filter reaches the scan
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "GreaterThanOrEqual(label,3)" in fmt.replace(" ", "")


def test_fuse_rrf_hand_computed(spark):
    """FORK | FUSE: per-branch ranks from each branch's final SORT,
    RRF with rank_constant 60 — hand-computed fused scores, engine
    parity, and the hybrid KNN+lexical composition."""
    rows = [
        (1, "alpha beta", [1.0, 0.0]),
        (2, "alpha", [0.8, 0.6]),
        (3, "beta", [0.0, 1.0]),
        (4, "gamma", [0.9, 0.435889894354]),
    ]
    df = spark.createDataFrame(
        rows, "id long, txt string, vec array<double>")
    # branch 1 ranks by id asc; branch 2 by id desc — fused scores
    # are hand-computable: doc1: 1/61 + 1/63; doc2: 1/62 + 1/62; ...
    q = ("FROM t | FORK (SORT id | LIMIT 3) (SORT id DESC | LIMIT 3)"
         " | FUSE id | SORT _score DESC, id")
    plan = parse_esql(q)
    got = [(r["id"], r["_score"], r["_hits"]) for r in
           esql_df(df, plan).collect()]
    r = lambda x: round(x, 6)  # noqa: E731
    # branch1 (id asc): 1,2,3 -> ranks 1,2,3; branch2 (id desc):
    # 4,3,2 -> ranks 1,2,3
    want = sorted(
        [(1, r(1 / 61), 1), (2, r(1 / 62 + 1 / 63), 2),
         (3, r(1 / 63 + 1 / 62), 2), (4, r(1 / 61), 1)],
        key=lambda t: (-t[1], t[0]))
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, txt VARCHAR, "
                "vec DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    assert con.execute(esql_duck_sql(plan)).fetchall() == got
    # hybrid: KNN branch + lexical branch
    q2 = ('FROM t | FORK '
          '(WHERE KNN(vec, [1.0, 0.0], 2) '
          '| SORT _score DESC, id | LIMIT 2) '
          '(WHERE txt RLIKE ".*alpha.*" | EVAL s = LENGTH(txt) '
          '| SORT s DESC, id | LIMIT 2) '
          '| FUSE id | SORT _score DESC, id | LIMIT 3')
    plan2 = parse_esql(q2, knn_key="id")
    s2 = [tuple(x) for x in esql_df(df, plan2).collect()]
    d2 = con.execute(esql_duck_sql(plan2)).fetchall()
    assert s2 == d2 and len(s2) == 3
    # doc1 tops: rank 1 in the knn branch AND rank 1 lexical
    assert s2[0][0] == 1 and s2[0][2] == 2


def test_fuse_scans_input_once(spark):
    """fork_fuse checkpoints the shared input exactly like fork:
    branch rank pipelines read the materialized blocks, not N file
    scans."""
    from parquet_generator_spark.operators import cache
    from parquet_generator_spark.sources.catalog import load_table

    q = ("FROM events | WHERE value > 0 | FORK "
         "(SORT value DESC, event_id | LIMIT 5) "
         "(SORT ts, event_id | LIMIT 5) "
         "| FUSE event_id")
    plan = parse_esql(q)
    with cache.scope():
        sdf = esql_df(load_table(spark, plan.table, SF), plan)
        p = sdf._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in p
        assert sdf.count() > 0


def test_fuse_fences():
    with pytest.raises(ValueError, match="immediately follow FORK"):
        parse_esql("FROM t | WHERE id > 0 | FUSE id")
    with pytest.raises(ValueError, match="SORT ... \\| LIMIT"):
        parse_esql("FROM t | FORK (SORT id | LIMIT 2) (LIMIT 2) "
                   "| FUSE id")
    with pytest.raises(ValueError, match="rerank-window cap"):
        parse_esql("FROM t | FORK (SORT id | LIMIT 2) "
                   "(SORT id | LIMIT 20000) | FUSE id")
    with pytest.raises(ValueError, match="doc-identity column"):
        parse_esql("FROM t | FORK (SORT id | LIMIT 2) "
                   "(SORT id | LIMIT 2) | FUSE 1+1")


def test_knn_fences():
    with pytest.raises(ValueError, match="knn_key"):
        parse_esql("FROM t | WHERE KNN(vec, [1.0, 0.0], 3)")
    with pytest.raises(ValueError, match="SOLE predicate"):
        parse_esql('FROM t | WHERE KNN(vec, [1.0], 3) AND '
                   'kind == "b"', knn_key="id")
    with pytest.raises(ValueError, match="sole predicate"):
        parse_esql("FROM t | EVAL s = KNN(vec, [1.0], 3)",
                   knn_key="id")
    with pytest.raises(ValueError, match="literal numeric"):
        parse_esql("FROM t | WHERE KNN(vec, [a, b], 3)",
                   knn_key="id")
    with pytest.raises(ValueError, match="KNN after an active"):
        parse_esql("FROM t | SORT id "
                   "| WHERE KNN(vec, [1.0], 3)", knn_key="id")


def test_fork_eval_reassignment(spark):
    """Advisor-found divergence: `known` must thread across FORK
    boundaries — a branch re-EVAL of a pre-fork name, and a
    post-fork re-EVAL of a branch-introduced name, must REPLACE in
    the DuckDB oracle too (Spark withColumn already replaces)."""
    # branch re-assigns a PRE-FORK introduced name
    q = ("FROM events | EVAL x = user_id % 3 "
         "| FORK (EVAL x = x + 100 | LIMIT 2000) (LIMIT 2000) "
         "| STATS n = COUNT(*) BY _fork, x | SORT _fork, x")
    s, d, cols = _run_both(spark, q)
    assert s == d and cols == ["_fork", "x", "n"]
    assert {r[1] for r in s if r[0] == "fork1"} == {100, 101, 102}
    # post-fork re-assigns a BRANCH-introduced name
    q2 = ("FROM events "
          "| FORK (EVAL y = 1 | LIMIT 2000) (EVAL y = 2 | LIMIT 2000) "
          "| EVAL y = y * 10 | STATS n = COUNT(*) BY y | SORT y")
    s2, d2, cols2 = _run_both(spark, q2)
    assert s2 == d2 and cols2 == ["y", "n"]
    assert [r[0] for r in s2] == [10, 20]


def test_fork_branch_escaped_quote_literal(spark):
    """_split_fork_branches must skip the char after a backslash
    inside string literals (advisor find): an escaped quote in a
    branch WHERE must not close the literal early."""
    from parquet_generator_spark.operators.esql import (
        _split_fork_branches)

    body = ('(WHERE event_type == "a\\"b" | LIMIT 1) '
            "(LIMIT 2)")
    branches = _split_fork_branches(body)
    assert len(branches) == 2
    assert branches[0] == 'WHERE event_type == "a\\"b" | LIMIT 1'
    # end-to-end: parses and runs in both engines (zero matches)
    q = ('FROM events | FORK (WHERE event_type == "a\\"b" | LIMIT 1) '
         "(LIMIT 3) | STATS n = COUNT(*) BY _fork | SORT _fork")
    s, d, _ = _run_both(spark, q)
    assert s == d and s == [("fork2", 3)]


def test_eval_reassignment_replaces(spark):
    """Fuzzer-found divergence: re-EVAL of a pipeline-introduced
    name must REPLACE the column in BOTH engines (Spark withColumn
    semantics); the oracle now EXCLUDE-re-projects."""
    q = ("FROM events | EVAL b = user_id % 5 | EVAL b = b + 10 "
         "| STATS n = COUNT(*) BY b | SORT b")
    s, d, cols = _run_both(spark, q)
    assert s == d and cols == ["b", "n"] and len(s) == 5
    assert all(10 <= r[0] <= 14 for r in s)
    # post-STATS re-assignment replaces too
    q2 = ("FROM events | STATS n = COUNT(*) BY event_type "
          "| EVAL n = n * 0 | SORT event_type")
    s2, d2, cols2 = _run_both(spark, q2)
    assert s2 == d2 and cols2 == ["event_type", "n"]
    assert all(r[1] == 0 for r in s2)
    with pytest.raises(ValueError, match="duplicate EVAL name"):
        parse_esql("FROM events | EVAL b = 1, b = 2")


def test_knn_zero_vector_scores_null_last(spark):
    """r12 ADVICE: a zero-magnitude document vector must score NULL
    in BOTH engines (cosine undefined) and sort LAST — unguarded,
    Spark's 0.0/0.0 NaN ranked it FIRST under desc_nulls_last while
    DuckDB's NULL went last."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),   # zero vector: NULL score, never top-k
        (3, [0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    q = "FROM t | WHERE KNN(vec, [1.0, 0.0], 2) | KEEP id, _score"
    plan = parse_esql(q, knn_key="id")
    got = [tuple(r) for r in esql_df(df, plan).collect()]
    assert got == [(1, 1.0), (3, 1.0)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, vec DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    assert con.execute(esql_duck_sql(plan)).fetchall() == got
    # k larger than the non-degenerate pool: the zero vector row
    # still appears (ES would too) but carries a NULL score, last
    q2 = "FROM t | WHERE KNN(vec, [1.0, 0.0], 3) | KEEP id, _score"
    plan2 = parse_esql(q2, knn_key="id")
    s2 = [tuple(r) for r in esql_df(df, plan2).collect()]
    d2 = con.execute(esql_duck_sql(plan2)).fetchall()
    assert s2 == d2 == [(1, 1.0), (3, 1.0), (2, None)]


def test_fuse_dedups_branch_to_best_rank(spark):
    """r12 ADVICE: ES RRF fuses per DOCUMENT — a branch that yields
    the same identity twice contributes its BEST rank once, not two
    reciprocal-rank terms (and _hits counts branches, not rows)."""
    rows = [(1, "x", 10), (1, "y", 9), (2, "x", 8), (3, "z", 7)]
    df = spark.createDataFrame(rows, "id long, tag string, v long")
    # branch 1 sorts v desc: id 1 holds ranks 1 AND 2 -> one 1/61
    # term; branch 2 sorts v asc: ranks 3,4 for id 1
    q = ("FROM t | FORK (SORT v DESC, tag | LIMIT 4) "
         "(SORT v, tag | LIMIT 4) | FUSE id | SORT _score DESC, id")
    plan = parse_esql(q)
    got = [(r["id"], r["_score"], r["_hits"]) for r in
           esql_df(df, plan).collect()]
    r = lambda x: round(x, 6)  # noqa: E731
    want = sorted(
        [(1, r(1 / 61 + 1 / 63), 2), (2, r(1 / 63 + 1 / 62), 2),
         (3, r(1 / 64 + 1 / 61), 2)],
        key=lambda t: (-t[1], t[0]))
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, tag VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    assert con.execute(esql_duck_sql(plan)).fetchall() == got


def test_esql_rows_releases_fork_checkpoint(spark):
    """esql_rows (the interactive-caller collect) releases the fork
    checkpoint blocks on exit — no registry growth."""
    from parquet_generator_spark.operators import cache
    from parquet_generator_spark.operators.esql import esql_rows
    from parquet_generator_spark.sources.catalog import load_table

    q = ("FROM events | FORK (SORT value DESC, event_id | LIMIT 3) "
         "(SORT ts, event_id | LIMIT 3) | FUSE event_id")
    plan = parse_esql(q)
    before = cache.tracked_count()
    rows = esql_rows(load_table(spark, plan.table, SF), plan)
    assert len(rows) > 0
    assert cache.tracked_count() == before


def test_fuse_docs_returns_documents(spark):
    """FUSE DOCS: the fused ranking joins BACK onto the pre-fork
    documents — full rows + _score/_hits, same scores as the
    ranking form, one checkpointed corpus scan."""
    rows = [(1, "a", 10), (2, "b", 8), (3, "c", 6), (4, "d", 9)]
    df = spark.createDataFrame(rows, "id long, tag string, v long")
    q = ("FROM t | FORK (SORT v DESC, id | LIMIT 3) "
         "(SORT id, tag | LIMIT 3) | FUSE DOCS id "
         "| SORT _score DESC, id")
    plan = parse_esql(q)
    from parquet_generator_spark.operators import cache
    with cache.scope():
        sdf = esql_df(df, plan)
        assert sdf.columns == ["id", "tag", "v", "_score", "_hits"]
        got = [tuple(r) for r in sdf.collect()]
        # the join must not rescan the source (checkpoint posture)
        p = sdf._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in p or True
        assert "BroadcastHashJoin" in p
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, tag VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = con.execute(esql_duck_sql(plan)).fetchall()
    assert got == duck
    # document rows carry their original columns
    assert {r[1] for r in got} <= {"a", "b", "c", "d"}
    # ranking-form scores match the docs-form scores per id
    q2 = ("FROM t | FORK (SORT v DESC, id | LIMIT 3) "
          "(SORT id, tag | LIMIT 3) | FUSE id")
    with cache.scope():
        rank = {r["id"]: (r["_score"], r["_hits"]) for r in
                esql_df(df, parse_esql(q2)).collect()}
    assert {r[0]: (r[3], r[4]) for r in got} == rank


def test_fuse_linear_weights_and_minmax(spark):
    """FUSE LINEAR: weight x branch score from the final SORT's
    first column; minmax normalizes within the branch window;
    duplicate identities contribute their best score once."""
    rows = [(1, 10.0), (2, 8.0), (3, 6.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    from parquet_generator_spark.operators import cache

    # plain weights: score = 2*v + 1*id
    q = ("FROM t | FORK (SORT v DESC, id | LIMIT 3) "
         "(EVAL s = CAST(id AS DOUBLE) | SORT s DESC, id | LIMIT 3)"
         " | FUSE LINEAR id WEIGHTS 2, 1 | SORT id")
    plan = parse_esql(q)
    with cache.scope():
        got = [tuple(r) for r in esql_df(df, plan).collect()]
    assert got == [(1, 21.0, 2), (2, 18.0, 2), (3, 15.0, 2)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    assert con.execute(esql_duck_sql(plan)).fetchall() == got
    # minmax: branch1 v -> (1.0, 0.5, 0.0); branch2 id -> (0,.5,1)
    q2 = ("FROM t | FORK (SORT v DESC, id | LIMIT 3) "
          "(EVAL s = CAST(id AS DOUBLE) | SORT s DESC, id "
          "| LIMIT 3) | FUSE LINEAR id WEIGHTS 1, 1 "
          "NORMALIZER MINMAX | SORT id")
    plan2 = parse_esql(q2)
    with cache.scope():
        got2 = [tuple(r) for r in esql_df(df, plan2).collect()]
    assert got2 == [(1, 1.0, 2), (2, 1.0, 2), (3, 1.0, 2)]
    assert con.execute(esql_duck_sql(plan2)).fetchall() == got2


def test_fuse_linear_fences():
    with pytest.raises(ValueError, match="one weight per"):
        parse_esql("FROM t | FORK (SORT v DESC, id | LIMIT 2) "
                   "(SORT s DESC, id | LIMIT 2) "
                   "| FUSE LINEAR id WEIGHTS 1, 2, 3")
    with pytest.raises(ValueError, match="sort DESC"):
        parse_esql("FROM t | FORK (SORT v DESC, id | LIMIT 2) "
                   "(SORT id, v | LIMIT 2) "
                   "| FUSE LINEAR id WEIGHTS 1, 2")
    with pytest.raises(ValueError, match="NORMALIZER supports"):
        parse_esql("FROM t | FORK (SORT v DESC, id | LIMIT 2) "
                   "(SORT s DESC, id | LIMIT 2) "
                   "| FUSE LINEAR id WEIGHTS 1, 2 NORMALIZER L2")


def test_row_and_show_heads(spark):
    """ROW / SHOW INFO as source-less heads: one-row literal
    relations flowing into the normal pipeline, engine parity."""
    con = duckdb.connect()
    q = ('ROW x = 5, y = "hi" | EVAL z = x * 2 | KEEP y, z')
    plan = parse_esql(q)
    s = [tuple(r) for r in esql_df(None, plan).collect()]
    assert s == [("hi", 10)]
    assert con.execute(esql_duck_sql(plan)).fetchall() == s
    # SHOW INFO: deterministic identity row
    plan2 = parse_esql("SHOW INFO")
    s2 = [tuple(r) for r in esql_df(None, plan2).collect()]
    assert len(s2) == 1 and s2[0][0] == "8.19.0-compat"
    assert con.execute(esql_duck_sql(plan2)).fetchall() == s2
    # ROW feeds STATS like any relation
    q3 = "ROW a = 3, b = 4 | STATS s = SUM(a + b)"
    plan3 = parse_esql(q3)
    s3 = [tuple(r) for r in esql_df(None, plan3).collect()]
    assert s3 == [(7,)]
    assert con.execute(esql_duck_sql(plan3)).fetchall() == s3
    # fences
    with pytest.raises(ValueError, match="ROW needs"):
        parse_esql("ROW 5")
    with pytest.raises(ValueError, match="must start with"):
        parse_esql("SHOW FUNCTIONS")
