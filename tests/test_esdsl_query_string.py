"""query_string / simple_query_string / match_phrase_prefix /
compound-relevance translator semantics, pinned against hand-derived
expectations on tiny frames, plus the geohash bit-arithmetic vs the
classic bisection encoder."""

from __future__ import annotations

import pytest

from parquet_generator_spark.operators import esdsl
from parquet_generator_spark.operators.esdsl import score_query

DOCS = [
    (1, "spark window agg", "en"),
    (2, "merge batch line", "de"),
    (3, "slow spark window", "en"),
    (4, "query plan", "fr"),
    (5, "vector scan", "en"),
    (6, "fast big table", "de"),
    (7, "fast big slow", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "id long, text string, lang string")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def qs(docs, query, **kw):
    body = {"query": query, "fields": ["text"], **kw}
    return docs.filter(esdsl.translate_query({"query_string": body}))


def test_query_string_parens_and_not(docs):
    got = qs(docs, '(spark AND window) AND NOT slow')
    assert _ids(got) == [1]


def test_query_string_or_phrase_wildcard(docs):
    got = qs(docs, '"merge batch" OR quer? OR vec*')
    assert _ids(got) == [2, 4, 5]


def test_query_string_default_operator(docs):
    # bare adjacency: OR default matches either term, AND default both
    assert _ids(qs(docs, "spark window")) == [1, 3]
    assert _ids(qs(docs, "spark window",
                   default_operator="AND")) == [1, 3]
    assert _ids(qs(docs, "merge plan")) == [2, 4]
    assert _ids(qs(docs, "merge plan", default_operator="AND")) == []


def test_query_string_adjacency_binds_at_default_op_level(docs):
    # Lucene classic parser: the implicit operator has the SAME
    # precedence as its explicit spelling. With default OR,
    # 'merge plan AND query' = merge OR (plan AND query) — doc 2
    # (merge, no plan/query) must match; the old behavior
    # ((merge OR plan) AND query) would drop it.
    assert _ids(qs(docs, "merge plan AND query")) == [2, 4]
    # with default AND, adjacency binds at AND precedence:
    # 'spark window OR merge' = (spark AND window) OR merge
    assert _ids(qs(docs, "spark window OR merge",
                   default_operator="AND")) == [1, 2, 3]


def test_query_string_field_override(docs):
    # field:term overrides the field list
    got = qs(docs, "lang:en AND spark")
    assert _ids(got) == [1, 3]


def test_query_string_wildcard_is_token_level(docs):
    # `s*w` must NOT span two tokens ("spark window")
    assert _ids(qs(docs, "s*w")) == [3, 7]  # only the token "slow"


def test_query_string_operator_symbols_and_errors(docs):
    assert _ids(qs(docs, "spark && window")) == [1, 3]
    assert _ids(qs(docs, "spark || merge")) == [1, 2, 3]
    assert _ids(qs(docs, "!slow && spark")) == [1]
    with pytest.raises(ValueError):
        qs(docs, "(spark AND")
    with pytest.raises(ValueError):
        esdsl.translate_query(
            {"query_string": {"query": "spark"}})  # no fields


def test_simple_query_string_fold(docs):
    body = {"query": 'fast + big -slow | "merge batch"',
            "fields": ["text"], "default_operator": "AND"}
    got = docs.filter(
        esdsl.translate_query({"simple_query_string": body}))
    # ((fast AND big) AND NOT slow) OR phrase
    assert _ids(got) == [2, 6]


def test_simple_query_string_prefix_and_or(docs):
    body = {"query": "vec* | quer*", "fields": ["text"]}
    got = docs.filter(
        esdsl.translate_query({"simple_query_string": body}))
    assert _ids(got) == [4, 5]


def test_match_phrase_prefix(docs):
    got = docs.filter(esdsl.translate_query(
        {"match_phrase_prefix": {"text": "spark win"}}))
    assert _ids(got) == [1, 3]
    # the full last token also matches (prefix of itself)
    got = docs.filter(esdsl.translate_query(
        {"match_phrase_prefix": {"text": "spark window"}}))
    assert _ids(got) == [1, 3]
    # but not a phrase whose middle token is a prefix
    got = docs.filter(esdsl.translate_query(
        {"match_phrase_prefix": {"text": "spa window"}}))
    assert _ids(got) == []


def test_score_query_dis_max_tie_breaker(spark, docs):
    q = {"dis_max": {"queries": [
        {"constant_score": {"filter": {"match": {"text": "spark"}},
                            "boost": 3.0}},
        {"constant_score": {"filter": {"match": {"text": "window"}},
                            "boost": 2.0}},
    ], "tie_breaker": 0.5}}
    rows = {r["id"]: r["s"] for r in docs.select(
        "id", score_query(q).alias("s")).collect()}
    assert rows[1] == pytest.approx(3.0 + 0.5 * 2.0)  # both match
    assert rows[4] == pytest.approx(0.0)               # neither
    assert rows[5] == pytest.approx(0.0)
    # matching = any clause
    got = docs.filter(esdsl.translate_query(q))
    assert _ids(got) == [1, 3]


def test_score_query_boosting_demotes_not_drops(spark, docs):
    q = {"boosting": {
        "positive": {"term": {"lang": {"value": "en", "boost": 2.0}}},
        "negative": {"match": {"text": "slow"}},
        "negative_boost": 0.25}}
    rows = {r["id"]: r["s"] for r in docs.select(
        "id", score_query(q).alias("s")).collect()}
    assert rows[1] == pytest.approx(2.0)
    assert rows[3] == pytest.approx(0.5)   # demoted, not excluded
    assert _ids(docs.filter(esdsl.translate_query(q))) == [1, 3, 5, 7]


def test_score_query_bool_sums_clauses(spark, docs):
    q = {"bool": {"must": [{"match": {"text": "spark"}}],
                  "should": [{"match": {"text": "agg"}}]}}
    rows = {r["id"]: r["s"] for r in docs.select(
        "id", score_query(q).alias("s")).collect()}
    assert rows[1] == pytest.approx(2.0)  # must + should both hit
    assert rows[3] == pytest.approx(1.0)  # must only
    assert rows[2] == pytest.approx(0.0)  # gated: bool doesn't match


def test_geohash_sql_matches_bisection_encoder(spark):
    """The floor/div/mod SQL geohash must agree with the classic
    bisection encoder on a grid of points covering all quadrants."""
    from parquet_generator_spark.plans.esdsl_aggs import (
        geohash_cell_exprs,
        geohash_expr,
    )
    from parquet_generator_spark.plans.esdsl_queries import geohash_encode

    pts = [(la + 0.05, lo + 0.05)
           for la in range(-88, 89, 16) for lo in range(-178, 179, 31)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    ix, iy = geohash_cell_exprs("lat", "lon")
    got = df.selectExpr("lat", "lon",
                        f"{geohash_expr(ix, iy)} AS gh").collect()
    for r in got:
        assert r["gh"] == geohash_encode(r["lat"], r["lon"]), \
            (r["lat"], r["lon"])


def test_span_near_slop_and_order(spark):
    df = spark.createDataFrame(
        [(1, "spark window"),          # gap 0
         (2, "spark a b window"),      # gap 2
         (3, "spark a b c window"),    # gap 3 > slop
         (4, "window x spark"),        # reversed, gap 1
         (5, "sparkle window")],       # token boundary must hold
        "id long, text string")

    def q(slop, in_order):
        return {"span_near": {
            "clauses": [{"span_term": {"text": "spark"}},
                        {"span_term": {"text": "window"}}],
            "slop": slop, "in_order": in_order}}

    ordered = df.filter(esdsl.translate_query(q(2, True)))
    assert sorted(r["id"] for r in ordered.collect()) == [1, 2]
    both = df.filter(esdsl.translate_query(q(2, False)))
    assert sorted(r["id"] for r in both.collect()) == [1, 2, 4]
    tight = df.filter(esdsl.translate_query(q(0, True)))
    assert sorted(r["id"] for r in tight.collect()) == [1]
    # >2 clauses: the round-8 multi-clause path (shared slop budget
    # across ALL gaps, not per-gap)
    df3 = spark.createDataFrame(
        [(1, "a b c"),            # gaps 0+0
         (2, "a x b c"),          # gaps 1+0 = 1
         (3, "a x b y c"),        # gaps 1+1 = 2 > slop 1
         (4, "c b a")],           # reversed
        "id long, text string")
    got = df3.filter(esdsl.translate_query({"span_near": {
        "clauses": [{"span_term": {"text": "a"}},
                    {"span_term": {"text": "b"}},
                    {"span_term": {"text": "c"}}],
        "slop": 1, "in_order": True}}))
    assert sorted(r["id"] for r in got.collect()) == [1, 2]


def test_terms_set_field_minimum(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma", 2),
         (2, "alpha beta gamma", 3),
         (3, "alpha delta x", 2),
         (4, "alpha delta x", 1)],
        "id long, text string, req int")
    q = {"terms_set": {"text": {
        "terms": ["alpha", "beta", "gamma"],
        "minimum_should_match_field": "req"}}}
    got = sorted(r["id"] for r in
                 df.filter(esdsl.translate_query(q)).collect())
    # doc 1: 3 hits >= 2; doc 2: 3 >= 3; doc 3: 1 < 2; doc 4: 1 >= 1
    assert got == [1, 2, 4]


def test_pinned_ranks_promoted_first(spark):
    """dsl_pinned executed for real: the promoted ids that exist in
    the corpus lead the result IN LIST ORDER (not ascending id), then
    organic matches in doc_id order."""
    from parquet_generator_spark.plans.esdsl_scoring import (
        PINNED_IDS,
        dsl_pinned,
    )

    rows = dsl_pinned(spark, "/root/testdata/sf0.001").collect()
    pinned_rows = [r for r in rows if r["pinned"]]
    got_pin_ids = [r["doc_id"] for r in pinned_rows]
    expect = [i for i in PINNED_IDS if i in {r["doc_id"] for r in rows}]
    assert got_pin_ids == expect            # list order, 42 before 7
    assert [r["rank"] for r in pinned_rows] == list(
        range(1, len(pinned_rows) + 1))     # pinned lead the ranking
    organic = [r["doc_id"] for r in rows if not r["pinned"]]
    assert organic == sorted(organic)       # then doc_id order


def test_simple_query_string_negated_phrase(spark):
    """Round-7 review regression: -"quoted phrase" must negate the
    WHOLE phrase, not split into a negated term + a stray term."""
    df = spark.createDataFrame(
        [(1, "merge batch line"), (2, "batch merge nope"),
         (3, "clean text")],
        "id long, text string")
    body = {"query": 'text -"merge batch"', "fields": ["text"],
            "default_operator": "AND"}
    got = sorted(r["id"] for r in df.filter(
        esdsl.translate_query({"simple_query_string": body})).collect())
    # doc2 contains both words but NOT the phrase -> survives its
    # negation but fails the 'text' term; doc3 has 'text'
    assert got == [3]


def test_score_query_match_all_and_string_msm(spark):
    """Round-7 review regressions: match_all under a scoring compound
    must not crash; nested-bool minimum_should_match accepts the ES
    string form."""
    df = spark.createDataFrame(
        [(1, [("purchase", 10.0)]), (2, [("click", 2000.0)])],
        "id long, items array<struct<event_type string, value double>>")
    s = df.select(score_query(
        {"dis_max": {"queries": [{"match_all": {}}],
                     "tie_breaker": 0.5}}).alias("s")).collect()
    assert all(r["s"] == 1.0 for r in s)
    q = {"nested": {"path": "items", "query": {"bool": {
        "should": [{"term": {"items.event_type": "purchase"}}],
        "minimum_should_match": "1"}}}}
    got = sorted(r["id"] for r in df.filter(
        esdsl.translate_query(q)).collect())
    assert got == [1]
    with pytest.raises(ValueError):
        esdsl.translate_query({"terms_set": {"text": {"terms": []}}})


def test_geohash_boundary_coordinates(spark):
    """lat=90 / lon=180 must stay in the last cell (the bisection
    encoder's behavior), not wrap to the opposite hemisphere."""
    from parquet_generator_spark.plans.esdsl_aggs import (
        geohash_cell_exprs,
        geohash_expr,
    )
    from parquet_generator_spark.plans.esdsl_queries import geohash_encode

    pts = [(90.0, 0.0), (-90.0, 0.0), (0.0, 180.0), (0.0, -180.0),
           (90.0, 180.0), (-90.0, -180.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    ix, iy = geohash_cell_exprs("lat", "lon")
    got = df.selectExpr("lat", "lon",
                        f"{geohash_expr(ix, iy)} AS gh").collect()
    for r in got:
        assert r["gh"] == geohash_encode(r["lat"], r["lon"]), \
            (r["lat"], r["lon"])


def test_geo_shape_crossing_test_matches_reference(spark):
    """The SQL ray-casting expression must agree with a plain-Python
    point-in-polygon reference on a dense grid over the polygon's
    bounding box (edges, notches, outside points)."""
    from parquet_generator_spark.plans.esdsl_queries import (
        POLYGON,
        _crossing_terms,
    )

    def ref_inside(lat, lon):
        inside = False
        n = len(POLYGON)
        for i in range(n):
            y1, x1 = POLYGON[i]
            y2, x2 = POLYGON[(i + 1) % n]
            if (y1 > lat) != (y2 > lat) and \
                    lon < x1 + (x2 - x1) * (lat - y1) / (y2 - y1):
                inside = not inside
        return inside

    pts = [(45.0 + 0.37 * i, 5.0 + 0.53 * j)
           for i in range(25) for j in range(30)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = df.selectExpr(
        "lat", "lon", f"{_crossing_terms('lat', 'lon')} AS inside"
    ).collect()
    assert any(r["inside"] for r in got)      # polygon is non-empty
    assert not all(r["inside"] for r in got)  # and not everything
    for r in got:
        assert r["inside"] == ref_inside(r["lat"], r["lon"]), \
            (r["lat"], r["lon"])


def test_embedding_pq_codebook_rows_reconstruct_exactly(spark):
    """The PQ codebook rows are corpus rows — encoding them must
    find themselves (distance 0 in every subspace): recon_mse == 0,
    and everyone else's mse >= 0."""
    from parquet_generator_spark.plans.retrieval import PQ_K, embedding_pq

    rows = embedding_pq(spark, "/root/testdata/sf0.001").collect()
    base_ids = sorted(r["vec_id"] for r in rows)[:PQ_K]
    for r in rows:
        assert r["recon_mse"] >= 0.0
        if r["vec_id"] in base_ids:
            assert r["recon_mse"] == 0.0, r
