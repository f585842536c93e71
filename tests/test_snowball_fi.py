"""Finnish snowball stemmer: canonical vectors (verified against the
canonical snowball 2.2 implementation as shipped in PostgreSQL 15's
snowball `finnish_stem` dictionary — 11k-word fuzz at ZERO
divergence in round 13), three-way engine parity (Python twin ==
Spark SQL == DuckDB SQL), the harmony-blocker commit semantics, the
ending-removed flag, and the five-rule tidy."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_fi import (
    _regions,
    finnish_stem,
    finnish_stem_sql,
)

# verified against the canonical implementation (ts_lexize
# finnish_stem) — one vector per step family
VECTORS = {
    # case system + tidy
    "taloissa": "talo", "talojen": "talo", "taloja": "talo",
    "talossa": "talo", "taloon": "talo", "talot": "talo",
    "taloihin": "talo",
    # particle kin/ko over a case stem
    "kirjoissakin": "kirj", "kirjassako": "kirj",
    # sti in R2 vs not
    "puhdisti": "puhdist", "nopeasti": "nopeast",
    # possessives (incl. kse -> ksi rewrite path and nsa/mme/nne)
    "kalani": "kala", "kalaani": "kala", "kalansa": "kala",
    "kalamme": "kala", "kalanne": "kala",
    "kysymyksensä": "kysymyks",
    # harmony-matched hXn; NO u/y variants in the among
    "maahan": "maaha", "puuhun": "puuhu", "syyhyn": "syyhy",
    "työhön": "työhö", "kokoon": "koko", "tiehen": "tiehe",
    # a harmony mismatch COMMITS the case step (bare-entry shadow)
    "bolokhin": "bolokhin",
    # tta/ttä commit the same way (hömmätttä loses only tä+tidy)
    "hömmätttä": "hömmätt",
    # n eats a preceding LONG/ie vowel; step-5 i/j after the flag
    "suurin": "suur", "edeltäjistään": "edeltäj",
    "edeltäjiinsä": "edeltäj", "tyttärensä": "tyttär",
    "tyttäret": "tyttär", "tyttäriä": "tyttär",
    # t-plural without the flag, then step-4/tidy chains
    "lukenut": "lukenu", "lukevat": "lukev",
    "pienemmät": "pienem", "suurimmat": "suurim",
    "kauneimmat": "kauneim", "vanhempi": "vanhemp",
    # tidy: LONG undouble, a/ä/e/i after consonant (NOT ö), oj/uj,
    # jo, trailing double consonant
    "lukee": "luke", "matala": "matal", "bolomö": "bolomö",
    "aatonaatto": "aatonaato", "bolomoj": "bolomo",
    "bolomjo": "bolomj", "kkaa": "kaa",
    # real vocabulary
    "yhteiskunnassa": "yhteiskun",
    "opiskelijoiden": "opiskelij",
    "järjestelmään": "järjestelm",
    "tutkimuksessa": "tutkimuks",
    "ystävineen": "ystäv",
    # short / no-op
    "on": "on", "ja": "ja", "": "",
}

_ALPHA = "aehijklmnoprstuvyäö"


def test_canonical_vectors():
    for w, want in VECTORS.items():
        got = finnish_stem(w)
        assert got == want, (w, got, want)


def test_regions():
    assert _regions("taloissa") == (4, 7)
    assert _regions("on") == (3, 3)
    assert _regions("kkkk") == (5, 5)


def test_harmony_blocker_commits_without_flag():
    # 'hin' after k: the bare entry matches, harmony fails, the
    # whole case step commits — no flag, so step 5's i/j never runs
    assert finnish_stem("bolokhin") == "bolokhin"
    # same string arrived at THROUGH a removal behaves differently
    # ('tä' fallthrough never happens — ttä is a blocker too)
    assert finnish_stem("hömmätttä") == "hömmätt"
    # but the u/y variants are NOT entries, so 'n' still fires
    assert finnish_stem("bolonhyn") == "bolonhy"


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stems(con, words):
    sql = finnish_stem_sql("w", "duck")
    con.execute("CREATE OR REPLACE TABLE tw(w VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?)",
                    [(w,) for w in words])
    return dict(con.execute(f"SELECT w, {sql} FROM tw").fetchall())


def test_duckdb_matches_python_on_vectors(duck):
    got = _duck_stems(duck, list(VECTORS))
    for w in VECTORS:
        assert got[w] == finnish_stem(w), w


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(alphabet=_ALPHA, min_size=0, max_size=14),
                min_size=1, max_size=15))
def test_duckdb_matches_python_random(ws):
    con = duckdb.connect()
    got = _duck_stems(con, list(set(ws)))
    for w in set(ws):
        assert got[w] == finnish_stem(w), w


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + [
        "presidentti", "suomalaisissa", "tietokoneella",
        "rakennuksissa", "ymmärtäminen", "puhelimessani",
        "kaupungeissa", "lentokentälle", "sairaalassa",
        "yliopistossa", "tuloksemme", "nuorimpia", "ääää", "nnnn"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = finnish_stem_sql("w", "spark")
    got = {r["w"]: r["s"] for r in
           df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == finnish_stem(w), w


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=_ALPHA, min_size=0, max_size=14))
def test_no_prefix2_guarantee_documented(w):
    """Finnish is deliberately NOT in the prefix-2 guard list: the
    tidy double-consonant rule can edit position 2 (kka -> ka), so
    stems need not share the token's first two chars. This test
    pins the WEAKER invariant the stored path relies on: the stem
    is always a subsequence-preserving shrink (never longer, and
    the first char survives)."""
    s = finnish_stem(w)
    assert len(s) <= len(w) or (w.endswith("ni")
                                and len(s) == len(w))
    if s and w:
        assert s[0] == w[0]


def test_query_side_drops_finnish_stopwords():
    """'on' is a finnish stopword: the query side drops it."""
    from parquet_generator_spark.operators.analyzers import get_analyzer

    assert get_analyzer("finnish").analyze("on talo") == [["talo"]]
