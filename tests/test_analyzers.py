"""Analyzer-aware match: stemming/stopword/synonym semantics, the
three-way stemmer parity (Python plan-time / Spark field-side /
DuckDB oracle-side), and the codegen posture (no Python UDF)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from parquet_generator_spark.operators.analyzers import (
    Analyzer,
    get_analyzer,
    s_stem,
    s_stem_sql,
)
from parquet_generator_spark.operators.esdsl import translate_query
from parquet_generator_spark.plans import reference_queries22  # noqa: F401 registers english_syn
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"

WORDS = [
    "tables", "queries", "scans", "pass", "bus", "class", "goes",
    "ties", "eies", "daies", "es", "s", "is", "boxes", "quiz",
    "aes", "trees", "shoes", "values", "statistics", "gas", "its",
]


def test_stemmer_three_way_parity(spark):
    """The SAME rule generator renders the field-side stem in both
    engines, and the Python twin (query side) agrees word-for-word."""
    py = [s_stem(w) for w in WORDS]
    sdf = spark.createDataFrame([(w,) for w in WORDS], ["w"])
    sp = [r[0] for r in
          sdf.select(F.expr(s_stem_sql("w"))).collect()]
    lits = ", ".join(f"('{w}')" for w in WORDS)
    dk = [r[0] for r in duckdb.sql(
        f"SELECT {s_stem_sql('w')} FROM (VALUES {lits}) t(w)"
    ).fetchall()]
    assert py == sp == dk


def test_analyzer_changes_result_set(spark):
    """The corpus vocabulary is singular, so the plural query matches
    NOTHING without the analyzer and a nonempty set with it — the
    exact real-world divergence the round-8 verdict flagged."""
    docs = load_table(spark, "documents", SF)
    q = {"query": "the tables queries", "operator": "and"}
    plain = docs.filter(
        translate_query({"match": {"text": dict(q)}})).count()
    analyzed = docs.filter(translate_query(
        {"match": {"text": dict(q, analyzer="english")}})).count()
    assert plain == 0
    assert analyzed > 0


def test_stopword_only_query_matches_all(spark):
    docs = load_table(spark, "documents", SF)
    n = docs.filter(F.col("text").isNotNull()).count()
    got = docs.filter(translate_query({"match": {"text": {
        "query": "the and of", "analyzer": "english"}}})).count()
    assert got == n


def test_synonym_expansion_matches_variants(spark):
    """'rapid' never appears in the corpus; through the synonym
    analyzer it matches every doc containing fast or quick."""
    docs = load_table(spark, "documents", SF)
    via_syn = docs.filter(translate_query({"match": {"text": {
        "query": "rapid", "analyzer": "english_syn"}}})).count()
    literal = docs.filter(
        F.lower("text").rlike(r"(^|[^a-z0-9])(fast|quick)([^a-z0-9]|$)")
    ).count()
    assert via_syn == literal > 0


def test_msm_counts_groups_not_raw_tokens(spark):
    """minimum_should_match counts ANALYZED groups: stopwords never
    count against the minimum (msm=2 over 'the tables queries' needs
    both content groups, not two of three raw tokens)."""
    docs = load_table(spark, "documents", SF)
    msm2 = docs.filter(translate_query({"match": {"text": {
        "query": "the tables queries", "analyzer": "english",
        "minimum_should_match": 2}}})).count()
    both = docs.filter(translate_query({"match": {"text": {
        "query": "tables queries", "analyzer": "english",
        "operator": "and"}}})).count()
    assert msm2 == both


def test_analyzed_match_stays_codegen(spark):
    """Higher-order functions, not Python UDFs: the physical plan
    has no Python evaluation node."""
    docs = load_table(spark, "documents", SF)
    plan = (docs.filter(translate_query({"match": {"text": {
        "query": "tables", "analyzer": "english"}}}))
        ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_unknown_analyzer_is_a_loud_error():
    with pytest.raises(ValueError, match="unknown analyzer"):
        translate_query({"match": {"text": {
            "query": "x", "analyzer": "nope"}}})


def test_unknown_stemmer_is_a_loud_error():
    """A misspelled stemmer must not fall through to the S-stemmer:
    the error names the analyzer, the bad kind and the known kinds."""
    with pytest.raises(ValueError) as err:
        Analyzer("x", stem=True, stemmer="germna")
    msg = str(err.value)
    assert "'x'" in msg and "'germna'" in msg
    assert "'german'" in msg and "'s'" in msg


def test_custom_analyzer_registration_roundtrip():
    a = Analyzer("tiny", stopwords=frozenset({"el"}),
                 synonyms={"auto": ["car"]}, stem=True)
    from parquet_generator_spark.operators.analyzers import (
        register_analyzer,
    )
    register_analyzer(a)
    # synonym lookup applies to the RAW lowercase token (filter
    # placed before the stemmer); stemming then folds the variants
    assert get_analyzer("tiny").analyze("el auto cars") == [
        ["auto", "car"], ["car"]]
    assert get_analyzer("tiny").analyze("el autos") == [["auto"]]


def test_analyzed_phrase_matches_stemmed_adjacency(spark):
    """'merges batch' stems to [merge, batch]: matches exactly the
    docs whose literal token stream contains an adjacent pair that
    stems to (merge, batch) — cross-checked against a regex over the
    surface forms whose stems equal those (note: surface "batches"
    stems to "batche" per the S-stemmer es-rule, so it is NOT a
    match and is excluded by the boundary regex)."""
    docs = load_table(spark, "documents", SF)
    got = docs.filter(translate_query({"match_phrase": {"text": {
        "query": "merges batch", "analyzer": "english"}}})).count()
    surface = (r"(^|[^a-z0-9])(merge|merges)[^a-z0-9]+"
               r"batch([^a-z0-9]|$)")
    ref = docs.filter(F.lower("text").rlike(surface)).count()
    assert got == ref > 0


def test_analyzed_phrase_requires_adjacency(spark):
    """Both stems present but NOT adjacent must not match: the
    phrase count is strictly below the AND-match count."""
    docs = load_table(spark, "documents", SF)
    phrase = docs.filter(translate_query({"match_phrase": {"text": {
        "query": "merges batch", "analyzer": "english"}}})).count()
    both = docs.filter(translate_query({"match": {"text": {
        "query": "merges batch", "operator": "and",
        "analyzer": "english"}}})).count()
    assert phrase < both


def test_analyzed_phrase_stopword_gap_is_refused():
    with pytest.raises(ValueError, match="position-gap"):
        translate_query({"match_phrase": {"text": {
            "query": "the merge", "analyzer": "english"}}})
