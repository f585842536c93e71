"""German snowball stemmer: reference vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), and region
arithmetic."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_de import (
    _mark_skeleton,
    _regions,
    german_stem,
    german_stem_sql,
)

# hand-traced against the published snowball `german` algorithm
# (snowballstem.org); each exercises a specific step
VECTORS = {
    # step 1: declensional
    "kategorien": "kategori", "bauen": "bau", "häuser": "haus",
    "geheimnisse": "geheimnis", "geheimnisses": "geheimnis",
    "tisches": "tisch", "aufeinander": "aufeinand",
    "lesen": "les", "bislang": "bislang",
    # step 2
    "längste": "lang", "schnellsten": "schnell",
    # step 3: derivational
    "verarbeitung": "verarbeit", "aufhören": "aufhor",
    "vollständigkeit": "vollstand", "möglichkeit": "moglich",
    "freundlich": "freundlich", "schönheit": "schonheit",
    "elektrisch": "elektr",
    # prelude/postlude
    "straße": "strass", "grüßen": "gruss",
    # short words pass through
    "am": "am", "im": "im", "zu": "zu",
}


def test_reference_vectors():
    for w, want in VECTORS.items():
        assert german_stem(w) == want, (w, german_stem(w), want)


def test_marking_and_regions():
    # u between vowels is a consonant (bauen -> b a U e n)
    assert _mark_skeleton("bauen") == "babab"
    # ü is a plain vowel, never marked
    assert _mark_skeleton("aufhören") == "aabbabab"
    # R1 adjusted to start at least 3 letters in
    assert _regions("übe") == (4, 4)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stem(con, w: str) -> str:
    sql = german_stem_sql("w", "duck")
    return con.execute(f"SELECT {sql} FROM (SELECT ? AS w)",
                       [w]).fetchone()[0]


def test_duckdb_matches_python_on_vectors(duck):
    for w in VECTORS:
        assert _duck_stem(duck, w) == german_stem(w), w


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="abdegihklnrstuößäüy", min_size=0,
               max_size=14))
def test_duckdb_matches_python_random(w):
    con = duckdb.connect()
    assert _duck_stem(con, w) == german_stem(w)


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + ["", "a", "yy", "mauer", "treuesten",
                             "nisse", "ärgernisses", "bäumen"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = german_stem_sql("w", "spark")
    got = {r["w"]: r["s"]
           for r in df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == german_stem(w), (w, got[w], german_stem(w))
