"""combined_fields / match_bool_prefix / search-template / msearch
semantics, pinned against hand-derived expectations on tiny frames.
combined_fields is the term-centric multi-field query (operator and
minimum_should_match count TERMS, and a term may be satisfied by any
field) — the exact case field-centric multi_match gets wrong."""

from __future__ import annotations

import pytest

from parquet_generator_spark.operators.esdsl import (
    render_search_template,
    score_query,
    translate_query,
)
from parquet_generator_spark.plans.esdsl_queries import msearch

DOCS = [
    # id, title, body
    (1, "spark guide", "window functions and aggregation"),
    (2, "sql reference", "spark joins and shuffles"),
    (3, "intro", "sorting basics"),
    (4, "spark window", "spark window deep dive"),
    (5, "misc", "nothing relevant"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "id long, title string, body string")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


class TestCombinedFields:
    def test_term_centric_and(self, docs):
        # 'spark window': doc 1 has spark in title + window in body,
        # doc 2 has spark only (no window anywhere), doc 4 has both.
        # Term-centric AND accepts a term from EITHER field, so doc 1
        # matches even though neither single field has both terms.
        q = {"combined_fields": {"query": "spark window",
                                 "fields": ["title", "body"],
                                 "operator": "and"}}
        got = _ids(docs.filter(translate_query(q)))
        assert got == [1, 4]

    def test_default_or(self, docs):
        q = {"combined_fields": {"query": "spark window",
                                 "fields": ["title", "body"]}}
        got = _ids(docs.filter(translate_query(q)))
        assert got == [1, 2, 4]

    def test_minimum_should_match_counts_terms(self, docs):
        q = {"combined_fields": {"query": "spark window sorting",
                                 "fields": ["title", "body"],
                                 "minimum_should_match": 2}}
        # doc 3 has only 'sorting' (1 term) -> out; docs 1/4 have 2+
        got = _ids(docs.filter(translate_query(q)))
        assert got == [1, 4]

    def test_field_boost_scores_per_field(self, docs):
        # doc 4 has 'spark' in BOTH fields: title^2 + body = 3.0;
        # doc 1 title-only = 2.0; doc 2 body-only = 1.0
        q = {"combined_fields": {"query": "spark",
                                 "fields": ["title^2", "body"]}}
        rows = {r["id"]: r["s"] for r in docs.select(
            "id", score_query(q).alias("s")).collect()}
        assert rows[4] == 3.0 and rows[1] == 2.0 and rows[2] == 1.0
        assert rows[5] == 0.0

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            translate_query({"combined_fields":
                             {"query": "", "fields": ["title"]}})

    def test_in_body_boost_scales_clause(self, docs):
        base = {"combined_fields": {"query": "spark",
                                    "fields": ["title^2", "body"]}}
        boosted = {"combined_fields": {"query": "spark",
                                       "fields": ["title^2", "body"],
                                       "boost": 3.0}}
        a = {r["id"]: r["s"] for r in docs.select(
            "id", score_query(base).alias("s")).collect()}
        b = {r["id"]: r["s"] for r in docs.select(
            "id", score_query(boosted).alias("s")).collect()}
        assert all(b[i] == 3.0 * a[i] for i in a)


class TestMatchBoolPrefix:
    def test_last_term_is_prefix(self, docs):
        # 'window dee' -> token 'window' + prefix 'dee' ('deep')
        q = {"match_bool_prefix": {"body": {
            "query": "window dee", "minimum_should_match": 2}}}
        assert _ids(docs.filter(translate_query(q))) == [4]

    def test_default_or(self, docs):
        # any of: token 'window', prefix 'sor' -> docs 1, 3, 4
        q = {"match_bool_prefix": {"body": "window sor"}}
        assert _ids(docs.filter(translate_query(q))) == [1, 3, 4]

    def test_prefix_not_substring(self, docs):
        # 'ggregation' is inside 'aggregation' but no TOKEN starts
        # with it — prefix must anchor at a token boundary
        q = {"match_bool_prefix": {"body": "ggregation"}}
        assert _ids(docs.filter(translate_query(q))) == []


class TestSearchTemplate:
    def test_vars_and_sections(self):
        t = """{"query": {"bool": {"filter": [
            {"term": {"f": "{{v}}"}}
            {{#extra}},{"range": {"x": {"gte": {{floor}}}}}{{/extra}}
        ]}}, "size": {{size}}}"""
        body = render_search_template(
            t, {"v": "a", "extra": True, "floor": 3, "size": 7})
        assert body["size"] == 7
        assert body["query"]["bool"]["filter"][1] == {
            "range": {"x": {"gte": 3}}}
        body2 = render_search_template(
            t, {"v": "a", "extra": False, "size": 7})
        assert len(body2["query"]["bool"]["filter"]) == 1

    def test_inverted_section_and_tojson(self):
        t = """{"terms": {"f": {{#toJson}}vals{{/toJson}}}
                {{^strict}}, "boost": 1.0{{/strict}}}"""
        body = render_search_template(t, {"vals": ["a", "b"]})
        assert body == {"terms": {"f": ["a", "b"]}, "boost": 1.0}

    def test_missing_param_raises(self):
        with pytest.raises(KeyError):
            render_search_template('{"term": {"f": "{{nope}}"}}', {})

    def test_bool_and_null_params_render_as_json(self):
        t = ('{"term": {"f": {"value": "x", "strict": {{flag}}, '
             '"n": {{nil}}}}}')
        body = render_search_template(t, {"flag": True, "nil": None})
        assert body["term"]["f"]["strict"] is True
        assert body["term"]["f"]["n"] is None


class TestMsearch:
    def test_slots_and_bounded_ranks(self, docs):
        bodies = [
            {"query": {"match": {"body": "spark"}}, "size": 1},
            {"query": {"match": {"title": "spark"}}, "size": 10},
        ]
        rows = msearch(docs, bodies, id_col="id").collect()
        slot0 = [r for r in rows if r["slot"] == 0]
        slot1 = [r for r in rows if r["slot"] == 1]
        assert len(slot0) == 1  # size caps the slot
        assert slot0[0]["id"] == 2  # constant scores tie-break by id
        assert sorted(r["id"] for r in slot1) == [1, 4]
        assert [r["rank"] for r in slot1] == [1, 2]
