"""Spanish snowball stemmer: reference vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), pronoun step and
region behavior."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_es import (
    _regions,
    spanish_stem,
    spanish_stem_sql,
)

# hand-traced against the published snowball `spanish` algorithm
VECTORS = {
    # step 1
    "felicidad": "felic", "rápidamente": "rapid",
    "importancia": "import", "trabajadores": "trabaj",
    "generalmente": "general", "lógica": "logic",
    "comunicación": "comun",
    # step 0 + verbs
    "haciéndola": "hac", "caminando": "camin", "comiendo": "com",
    "siguen": "sig",
    # 2b / 3
    "canciones": "cancion", "guerra": "guerr",
    # no-ops
    "nacional": "nacional", "el": "el",
}


def test_reference_vectors():
    for w, want in VECTORS.items():
        assert spanish_stem(w) == want, (w, spanish_stem(w), want)


def test_rv_three_cases():
    # second letter consonant: after the next vowel (fruta -> rv 4)
    assert _regions("fruta")[0] == 4
    # two initial vowels: after the next consonant (aire -> rv 4)
    assert _regions("aire")[0] == 4
    # consonant-vowel: after the third letter
    assert _regions("camino")[0] == 4


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stem(con, w: str) -> str:
    sql = spanish_stem_sql("w", "duck")
    return con.execute(f"SELECT {sql} FROM (SELECT ? AS w)",
                       [w]).fetchone()[0]


def test_duckdb_matches_python_on_vectors(duck):
    for w in VECTORS:
        assert _duck_stem(duck, w) == spanish_stem(w), w


@settings(max_examples=120, deadline=None)
@given(st.text(alphabet="abcdeghilmnorstuáéíóúñy", min_size=0,
               max_size=14))
def test_duckdb_matches_python_random(w):
    con = duckdb.connect()
    assert _duck_stem(con, w) == spanish_stem(w)


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + ["", "a", "huyendo", "construyendo",
                             "durmiéndose", "atacándolos", "siguen",
                             "llegue", "leyeron", "ataques"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = spanish_stem_sql("w", "spark")
    got = {r["w"]: r["s"]
           for r in df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == spanish_stem(w), (w, got[w],
                                           spanish_stem(w))
