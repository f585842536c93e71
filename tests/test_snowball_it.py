"""Italian snowball stemmer: reference vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), pronoun-step
exactness, region behavior, and prelude marking."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_it import (
    _BASES_DEL,
    _BASES_E,
    _PRONOUNS,
    _mark_skeleton,
    _regions,
    italian_stem,
    italian_stem_sql,
)

# hand-traced against the published snowball `italian` algorithm
VECTORS = {
    # step 1
    "logica": "logic", "comunicazione": "comun",
    "assolutamente": "assolut", "significativamente": "signific",
    "qualità": "qualit", "lavoratori": "lavor",
    "lavoratore": "lavor",
    # step 0 + verbs
    "guardarlo": "guard", "mandargli": "mand",
    "abbandonata": "abbandon", "abbandoneranno": "abbandon",
    "propongono": "propong", "mangiando": "mang",
    # step 3a / 3b (incl. acute->grave prelude and marked i)
    "pronto": "pront", "crocchi": "crocc", "perché": "perc",
    "guardiani": "guardian", "servizio": "serviz",
    "abbaiata": "abbai", "canzoni": "canzon", "canzone": "canzon",
    # no-ops
    "il": "il", "blu": "blu",
}


def test_reference_vectors():
    for w, want in VECTORS.items():
        assert italian_stem(w) == want, (w, italian_stem(w), want)


def test_rv_three_cases():
    # second letter consonant: after the next vowel
    assert _regions("fratello", _mark_skeleton("fratello"))[0] == 4
    # two initial vowels: after the next consonant
    assert _regions("aiuto", _mark_skeleton("aiuto"))[0] == 4
    # consonant-vowel: after the third letter
    assert _regions("camino", _mark_skeleton("camino"))[0] == 4


def test_prelude_marking():
    # u after q is a consonant; i between vowels is a consonant;
    # i after a consonant stays a vowel
    assert _mark_skeleton("quadro") == "bbabba"
    assert _mark_skeleton("abbaia") == "abbaba"
    assert _mark_skeleton("logica") == "bababa"


def test_step0_combined_enumeration_is_exact():
    """Combined base+pronoun longest-first matching equals the
    original's longest-PRONOUN-first + base test: a divergence
    would need a pronoun p2 = (suffix of some base) + p1 for a
    pronoun pair p1 proper-suffix-of p2 — no base provides the
    extension."""
    for p2 in _PRONOUNS:
        for p1 in _PRONOUNS:
            if p1 != p2 and p2.endswith(p1):
                extra = p2[: len(p2) - len(p1)]
                for b in _BASES_DEL + _BASES_E:
                    assert not b.endswith(extra), (p1, p2, b)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stems(con, words) -> dict[str, str]:
    sql = italian_stem_sql("w", "duck")
    con.execute("CREATE OR REPLACE TABLE tw(w VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?)",
                    [(w,) for w in words])
    return dict(con.execute(f"SELECT w, {sql} FROM tw").fetchall())


def test_duckdb_matches_python_on_vectors(duck):
    got = _duck_stems(duck, list(VECTORS))
    for w in VECTORS:
        assert got[w] == italian_stem(w), w


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.text(alphabet="abcdeghilmnoqrstuvzàèìòùáéíóúy",
            min_size=0, max_size=14),
    min_size=1, max_size=20))
def test_duckdb_matches_python_random(ws):
    con = duckdb.connect()
    got = _duck_stems(con, list(set(ws)))
    for w in set(ws):
        assert got[w] == italian_stem(w), w


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + ["", "a", "andandosene", "vendendolo",
                             "parlandone", "finirò", "capiscono",
                             "uzione", "aiuola", "ghiaia", "qua",
                             "città", "più", "erebbero"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = italian_stem_sql("w", "spark")
    got = {r["w"]: r["s"]
           for r in df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == italian_stem(w), (w, got[w],
                                           italian_stem(w))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcdeghilmnoqrstuvzàèìòùáéíóúy",
               min_size=0, max_size=14))
def test_prefix2_invariant(w):
    """The analyzers prefix-2 guard's soundness property: whenever
    the stem keeps >= 3 chars, it shares its first two chars with
    the acute-normalized token (cuts keep >= 3 chars because every
    removal position is >= RV >= 4; replacements preserve the kept
    prefix; the prelude only folds acute onto grave)."""
    from parquet_generator_spark.operators.snowball_it import (
        _normalize,
    )

    s = italian_stem(w)
    if len(s) >= 3 and len(w) >= 2:
        assert s[:2] == _normalize(w)[:2], (w, s)
