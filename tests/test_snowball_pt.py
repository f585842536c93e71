"""Portuguese snowball stemmer: reference vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), nasal prelude
round-trip, region behavior, and the prefix-2 guard invariant."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_pt import (
    _S1_DEL_R2,
    _S1_IRA,
    _S2,
    _prelude,
    _regions,
    portuguese_stem,
    portuguese_stem_sql,
)

# hand-traced against the published snowball `portuguese` algorithm
VECTORS = {
    # step 1 (standard suffixes, incl. nasal-spelled aça~o/aço~es)
    "quilométricas": "quilométr", "comunicação": "comunic",
    "comunicações": "comunic", "felicidade": "felic",
    "importante": "import", "claramente": "clar",
    "bandeira": "bandeir",
    # step 2 (verbs, RV-limited)
    "falaríamos": "fal", "bobagem": "bobag", "brincando": "brinc",
    "cantarão": "cant", "cantarás": "cant",
    # step 3 (i after c, only when step 1/2 altered)
    "anunciado": "anunc", "associação": "assoc",
    # step 4 (residual, only when neither altered)
    "lógica": "lógic", "exercício": "exercíci",
    "acessório": "acessóri", "ação": "açã",
    # step 5 (e/é/ê + gu/ci, ç->c) and postlude
    "chegue": "cheg", "criança": "crianc", "você": "voc",
    "limões": "limõ", "avião": "aviã", "corações": "coraçõ",
    "posições": "posiçõ", "distribuição": "distribuiçã",
    # no-ops
    "amável": "amável", "de": "de", "já": "já",
}


def test_reference_vectors():
    for w, want in VECTORS.items():
        got = portuguese_stem(w)
        assert got == want, (w, got, want)


def test_rv_three_cases():
    # second letter consonant: after the next vowel
    assert _regions(_prelude("prazer"))[0] == 4
    # two initial vowels: after the next consonant
    assert _regions(_prelude("aereo"))[0] == 4
    # consonant-vowel: after the third letter
    assert _regions(_prelude("camelo"))[0] == 4


def test_nasal_prelude_roundtrip():
    assert _prelude("coração") == "coraça~o"
    assert portuguese_stem("ã") == "ã"
    # ~ is a consonant for the region computation
    assert _regions(_prelude("avião"))[0] == 4


def test_no_suffix_straddles_a_nasal_pair():
    """Every cut boundary lands between whole display chars: no
    listed suffix begins with '~', and the ones containing a nasal
    carry the full pair."""
    for s in _S1_DEL_R2 + _S2 + _S1_IRA:
        assert not s.startswith("~")
        for i, ch in enumerate(s):
            if ch == "~":
                assert i > 0 and s[i - 1] in "ao"


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stems(con, words) -> dict[str, str]:
    sql = portuguese_stem_sql("w", "duck")
    con.execute("CREATE OR REPLACE TABLE tw(w VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?)",
                    [(w,) for w in words])
    return dict(con.execute(f"SELECT w, {sql} FROM tw").fetchall())


def test_duckdb_matches_python_on_vectors(duck):
    got = _duck_stems(duck, list(VECTORS))
    for w in VECTORS:
        assert got[w] == portuguese_stem(w), w


_PT_ALPHABET = "abcdefghilmnopqrstuvxzjáâãàçéêíóôõú"


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.text(alphabet=_PT_ALPHABET, min_size=0, max_size=14),
    min_size=1, max_size=20))
def test_duckdb_matches_python_random(ws):
    con = duckdb.connect()
    got = _duck_stems(con, list(set(ws)))
    for w in set(ws):
        assert got[w] == portuguese_stem(w), w


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + ["", "a", "grandes", "nações",
                             "informações", "apressadamente",
                             "generosidade", "ativamente",
                             "abalada", "abalançaste", "aço",
                             "amigão", "lençóis", "vôos",
                             "chegariam", "produziu"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = portuguese_stem_sql("w", "spark")
    got = {r["w"]: r["s"]
           for r in df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == portuguese_stem(w), (w, got[w],
                                              portuguese_stem(w))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_PT_ALPHABET, min_size=0, max_size=14))
def test_prefix2_invariant(w):
    """The analyzers prefix-2 guard's soundness property: whenever
    the stem keeps >= 3 display chars, it shares its first two
    display chars with the raw token (the nasal prelude round-trips;
    cuts keep >= 3 preluded chars and never split a nasal pair;
    the ç->c rewrite only touches the stem's last char)."""
    s = portuguese_stem(w)
    if len(s) >= 3 and len(w) >= 2:
        assert s[:2] == w[:2], (w, s)
