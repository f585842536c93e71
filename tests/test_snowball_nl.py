"""Dutch snowball stemmer: hand-traced vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), prelude marking
(initial y / y after vowel / i between vowels), the R1 min-3
adjustment, the e-found flag feeding step 3b's ``bar``, and the
planted-declension analyzer check."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_nl import (
    _mark_skeleton,
    _regions,
    dutch_stem,
    dutch_stem_sql,
)

# hand-traced against the published snowball dutch algorithm
VECTORS = {
    # step 1: en with valid en-ending, undouble
    "huizen": "huiz", "gekken": "gek", "katten": "kat",
    "aardappelen": "aardappel",
    # heden -> heid only in R1; then step 3a eats heid in R2
    "heden": "heden", "mogelijkheden": "mogelijk",
    "bijzonderheden": "bijzonder",
    # s with valid s-ending (not after j, not after vowel)
    "appels": "appel",
    # step 2 e + step 3b lijk chain
    "lichamelijk": "licham", "koninklijke": "konink",
    # step 4 vowel undouble
    "brood": "brod", "grootte": "grot",
    # ing in R2
    "uitdrukking": "uitdruk",
    # no-ops
    "de": "de", "ja": "ja", "y": "y",
}

_ALPHA = "abcdefghijklmnopqrstuvwxyzäëïöüáéíóúè"


def test_reference_vectors():
    for w, want in VECTORS.items():
        got = dutch_stem(w)
        assert got == want, (w, got, want)


def test_prelude_marking():
    # initial y is a consonant; y after a vowel is a consonant;
    # i between vowels is a consonant
    assert _mark_skeleton("y") == "b"
    assert _mark_skeleton("ya") == "ba"
    assert _mark_skeleton("ay") == "ab"
    assert _mark_skeleton("aia") == "aba"
    assert _mark_skeleton("ai") == "aa"   # i not followed by vowel
    assert _mark_skeleton("bij") == "bab"


def test_r1_min_three_and_r2_unadjusted():
    # 'gekken' -> g e k k e n -> skeleton babbab: raw R1 = 3,
    # adjusted to 4; R2 scans on from the RAW position
    c = _mark_skeleton("gekken")
    r1, r2 = _regions(c)
    assert r1 == 4
    assert r2 == 7  # 'ab' at raw-R1 offset -> after the second k-e


def test_e_found_gates_bar():
    # 'bar' deletes only when step 2 removed an e (and bar is in R2)
    assert dutch_stem("onschatbare") == "onschat"
    # without the e, bar stays (e_found false)
    assert dutch_stem("onschatbar") == "onschatbar"
    # bar outside R2 survives even with the e removed
    assert dutch_stem("vruchtbare") == "vruchtbar"


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stems(con, words):
    sql = dutch_stem_sql("w", "duck")
    con.execute("CREATE OR REPLACE TABLE tw(w VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?)",
                    [(w,) for w in words])
    return dict(con.execute(f"SELECT w, {sql} FROM tw").fetchall())


def test_duckdb_matches_python_on_vectors(duck):
    got = _duck_stems(duck, list(VECTORS))
    for w in VECTORS:
        assert got[w] == dutch_stem(w), w


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(alphabet=_ALPHA, min_size=0, max_size=13),
                min_size=1, max_size=15))
def test_duckdb_matches_python_random(ws):
    con = duckdb.connect()
    got = _duck_stems(con, list(set(ws)))
    for w in set(ws):
        assert got[w] == dutch_stem(w), w


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + [
        "", "a", "ieieie", "yyy", "één", "señora", "gemeenten",
        "vrolijkheid", "hopeloosheid", "werkelijkheden",
        "eigenaardige", "ogenblikkelijk", "belangrijke", "bijbel",
        "vliegtuigen", "praatjes", "boompjes"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = dutch_stem_sql("w", "spark")
    got = {r["w"]: r["s"] for r in
           df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == dutch_stem(w), w
