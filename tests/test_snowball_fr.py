"""French snowball stemmer: reference vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), marking and
control-flow behavior."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_fr import (
    _mark_skeleton,
    _regions,
    french_stem,
    french_stem_sql,
)

# hand-traced against the published snowball `french` algorithm
VECTORS = {
    # step 1
    "absolument": "absolu", "complètement": "complet",
    "arrangement": "arrang", "premièrement": "premi",
    "continuité": "continu", "majestueux": "majestu",
    "généreuse": "géner", "qualification": "qualif",
    "nationaux": "national",
    # step 2a / 2b
    "finissions": "fin", "jouer": "jou", "donnaient": "don",
    "importantes": "import",
    # step 3 (Y -> i after a change)
    "essayer": "essai",
    # step 4 residual
    "nationale": "national", "pays": "pay",
    # un_double / un_accent
    "conditionnel": "conditionnel",
    # short / no-op
    "le": "le", "ou": "ou",
}


def test_reference_vectors():
    for w, want in VECTORS.items():
        assert french_stem(w) == want, (w, french_stem(w), want)


# verified against the canonical snowball implementation (the
# snowballstem.org C generator output as shipped in PostgreSQL 15's
# snowball `french_stem` dictionary) — the two classes the r13
# canonical-fuzz found diverging on REAL vocabulary:
# (a) *ment removals feed steps 2a/2b (and step 4 when both fail),
# (b) the 2018+ diaeresis prelude ë -> He / ï -> Hi moves region
#     boundaries and guards the i-verb and s-removal tests.
CANONICAL_VECTORS = {
    # (a) mentish sequencing
    "constamment": "const", "abondamment": "abond",
    "galamment": "gal", "élégamment": "éleg",
    "évidemment": "évident", "sentiment": "sent",
    "bâtiment": "bât", "vraiment": "vrai",
    "seulement": "seul", "bôçéments": "bôc",
    # (b) diaeresis prelude
    "canoë": "cano", "égoïste": "égo", "archaïque": "archa",
    "ambiguïté": "ambigu", "maïs": "maï", "naïve": "naïv",
    "noël": "noël", "aiguë": "aigu", "ciguë": "cigu",
    "haïssent": "haïssent", "coïncidence": "coïncident",
    "stoïque": "stoïqu", "ouïe": "ouï",
    # marked-I among-literal semantics ('ions' never matches étudiIons)
    "étudiions": "étudiion", "appréciions": "appréciion",
    "payions": "payion", "criions": "criion",
    # y marked against the pre-expansion ë (gyë -> gYHe keeps ë)
    "gyë": "gyë",
}


def test_canonical_vectors():
    for w, want in CANONICAL_VECTORS.items():
        assert french_stem(w) == want, (w, french_stem(w), want)


def test_marking():
    # u between vowels marked (joUer), y next to a vowel marked
    assert _mark_skeleton("jouer") == "babab"
    assert _mark_skeleton("essayer") == "abbabab"
    # u after q marked (qUand)
    assert _mark_skeleton("quand") == "bbabb"
    # sequential marking: second i of a cluster stays a vowel once
    # its left neighbor was marked (ouie -> oUie)
    assert _mark_skeleton("ouie") == "abaa"


def test_regions():
    # two initial vowels -> RV after third letter
    rv, r1, r2 = _regions("aimer", _mark_skeleton("aimer"))
    assert rv == 4
    # par/col/tap exception
    rv, _, _ = _regions("parler", _mark_skeleton("parler"))
    assert rv == 4


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stem(con, w: str) -> str:
    sql = french_stem_sql("w", "duck")
    return con.execute(f"SELECT {sql} FROM (SELECT ? AS w)",
                       [w]).fetchone()[0]


def test_duckdb_matches_python_on_vectors(duck):
    for w in VECTORS:
        assert _duck_stem(duck, w) == french_stem(w), w


@settings(max_examples=120, deadline=None)
@given(st.text(alphabet="abcdeghilmnorstuéèêçqy", min_size=0,
               max_size=14))
def test_duckdb_matches_python_random(w):
    con = duckdb.connect()
    assert _duck_stem(con, w) == french_stem(w)


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + ["", "a", "guë", "ambiguë", "croyions",
                             "payaient", "placé", "plaçait",
                             "actrices", "logiquement"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = french_stem_sql("w", "spark")
    got = {r["w"]: r["s"]
           for r in df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == french_stem(w), (w, got[w], french_stem(w))
