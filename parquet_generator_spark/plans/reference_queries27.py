"""Round-11 tranche four: the ES|QL 8.14-8.16 feature tranche
(numeric BUCKET histograms, per-aggregate STATS ... WHERE filters,
the TOP aggregate, and the DATE_DIFF / POW / LOG10 / GREATEST /
LEAST scalar functions).

Scale notes: every pipeline is one hash aggregation over a narrow
scan — BUCKET/DATE_DIFF/CASE math is pure codegen in the scan
projection, per-aggregate FILTER clauses ride the same partial
aggregate (map-side combine), and TOP's collect_list runs per group
(bounded by the BY cardinality), so nothing here widens at 100 TB
beyond the one shuffle the aggregation already pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


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
        from parquet_generator_spark.operators.esql import (
            esql_df,
            parse_esql,
        )

        plan = parse_esql(query)
        return esql_df(load_table(spark, plan.table, sf_dir), plan)
    return run


def _esql_oracle(query: str) -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )

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


QUERIES.update({
    "esql_bucket_numeric": esql_bucket_numeric,
    "esql_stats_where": esql_stats_where,
    "esql_top_agg": esql_top_agg,
    "esql_math_funcs": esql_math_funcs,
})
ORACLES.update({
    "esql_bucket_numeric": _esql_oracle(ESQL_BUCKET_NUM_QUERY),
    "esql_stats_where": _esql_oracle(ESQL_STATS_WHERE_QUERY),
    "esql_top_agg": _esql_oracle(ESQL_TOP_QUERY),
    "esql_math_funcs": _esql_oracle(ESQL_MATH_QUERY),
})


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


QUERIES.update({
    "esql_keep_wildcard": esql_keep_wildcard,
})
ORACLES.update({
    "esql_keep_wildcard": _esql_oracle(ESQL_KEEP_WILDCARD_QUERY),
})


QUERIES.update({
    "esql_weighted_avg": esql_weighted_avg,
    "esql_values_agg": esql_values_agg,
    "esql_string_funcs": esql_string_funcs,
    "esql_sort_nulls": esql_sort_nulls,
})
ORACLES.update({
    "esql_weighted_avg": _esql_oracle(ESQL_WAVG_QUERY),
    "esql_values_agg": _esql_oracle(ESQL_VALUES_QUERY),
    "esql_string_funcs": _esql_oracle(ESQL_STRFNS_QUERY),
    "esql_sort_nulls": _esql_oracle(ESQL_SORT_NULLS_QUERY),
})
