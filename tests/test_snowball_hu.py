"""Hungarian snowball stemmer: canonical vectors (verified against
the canonical snowball 2.2 implementation as shipped in PostgreSQL
15's snowball `hungarian_stem` dictionary — ~52k-word adversarial
fuzz + real vocabulary at ZERO divergence in round 13), three-way
engine parity (Python twin == Spark SQL == DuckDB SQL), the
single-shot chain semantics, and the no-fallback R1 commit."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_hu import (
    _r1_start,
    hungarian_stem,
    hungarian_stem_sql,
)

# verified against the canonical implementation (ts_lexize
# hungarian_stem) — one vector per routine/chain family
VECTORS = {
    # case endings + v_ending
    "házban": "ház", "házba": "ház", "házát": "ház",
    "háznak": "ház", "házhoz": "ház", "kézben": "kéz",
    "kertektől": "kert",    # case től, then plural ek
    "házakban": "ház",      # case ban + plural ak
    # instrum al/el with double + undouble (incl. doubled digraph)
    "fallal": "fal", "tollal": "tol", "kézzel": "kéz",
    "hosszal": "hosz", "kerttel": "ker",  # instrum, then case 't'
    "kertel": "kertel",                   # no double -> no instrum
    # factive vá/vé via case, á/é via doubling
    "házzá": "ház", "emberré": "ember", "vízzé": "víz",
    "házává": "ház", "kezévé": "kez",
    # case_special
    "kertén": "kert", "kertán": "kert", "kertánként": "kert",
    # case_other fires only when case took a LATER suffix
    "almastulba": "al", "kertastul": "kertast",
    "almaástulba": "alma",
    # owned (plural+é genitive chains)
    "kerté": "kert", "almaké": "al", "házaké": "ház",
    "házáké": "ház", "házéi": "ház", "házaitok": "ház",
    # the single-shot chain semantics (the parked-round
    # discriminators): sing_owner's one firing is consumed by the
    # final a, leaving m intact
    "bokolma": "bokolm", "bokolm": "bokol",
    "buám": "bua", "bögénke": "bögén", "bezálutéid": "bezálute",
    "banie": "ban",
    # measured table asymmetries: öd yes / öm no; á -> a
    # REPLACEMENT; éé -> e in owned
    "kertöd": "kert", "kertöm": "kertö", "kertud": "kertu",
    "házáá": "házáa", "kertééé": "kerté", "almaakéaké": "almaake",
    # no-fallback R1 commit: 'öd' matches outside R1 and blocks
    # the bare 'd'
    "xyztöd": "xyztöd", "xyztüd": "xyztü",
    # plur_owner (itek yes / itok no)
    "kertitek": "kert", "kertitok": "kertit",
    "kertjeinkben": "kert", "házaim": "ház",
    # plural
    "házak": "ház", "kertek": "kert", "almák": "alma",
    "kerték": "kerte",
    # real vocabulary
    "szeretetével": "szeretet", "boldogságot": "boldogság",
    "gyerekeknek": "gyerek", "asszonyoknak": "asszony",
    "magyarországon": "magyarország", "virágokkal": "virág",
    "könyveket": "könyv", "tavasszal": "tavasz",
    "egyetemen": "egyet", "barátaimmal": "barát",
    # short / no-op
    "és": "és", "a": "a", "": "",
}

_ALPHA = "aábcdeéfghiíjklmnoóöőprstuúüűvz"


def test_canonical_vectors():
    for w, want in VECTORS.items():
        got = hungarian_stem(w)
        assert got == want, (w, got, want)


def test_r1_regions():
    # consonant-start: after the first vowel
    assert _r1_start("kert") == 2
    # vowel-start: after the first consonant...
    assert _r1_start("alma") == 2
    # ...consumed as a whole digraph when one starts there
    assert _r1_start("asszony") == 2   # 'ss' is no digraph
    assert _r1_start("odzsa") == 4     # dzs consumed whole
    assert _r1_start("ocsa") == 3      # cs consumed whole
    # degenerate words: R1 empty
    assert _r1_start("bcd") == 3
    assert _r1_start("aáé") == 3


def test_single_shot_chains():
    """Each routine fires at most once — the structure that blocked
    the round-12 probe models: a suffix consumed by a routine makes
    the NEXT routine's entry unreachable for the same word."""
    assert hungarian_stem("bokolma") == "bokolm"
    assert hungarian_stem("bokolm") == "bokol"
    # sing_owner's shot spent on 'a' -> plural's k still fires via
    # its own routine
    assert hungarian_stem("bögénke") == "bögén"


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stems(con, words):
    sql = hungarian_stem_sql("w", "duck")
    con.execute("CREATE OR REPLACE TABLE tw(w VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?)",
                    [(w,) for w in words])
    return dict(con.execute(f"SELECT w, {sql} FROM tw").fetchall())


def test_duckdb_matches_python_on_vectors(duck):
    got = _duck_stems(duck, list(VECTORS))
    for w in VECTORS:
        assert got[w] == hungarian_stem(w), w


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(alphabet=_ALPHA, min_size=0, max_size=14),
                min_size=1, max_size=15))
def test_duckdb_matches_python_random(ws):
    con = duckdb.connect()
    got = _duck_stems(con, list(set(ws)))
    for w in set(ws):
        assert got[w] == hungarian_stem(w), w


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + [
        "tanárnő", "iskolában", "vizsgákra", "munkahelyen",
        "repülőgépen", "éjszakánként", "csillagokkal",
        "szekrényből", "nagyszüleimnél", "gyümölcsöket",
        "dzsungelben", "loccsan", "füttyös", "áááá", "bbbb"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = hungarian_stem_sql("w", "spark")
    got = {r["w"]: r["s"] for r in
           df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == hungarian_stem(w), w


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=_ALPHA, min_size=0, max_size=14))
def test_shrink_and_first_char_invariant(w):
    """The stored path relies on: the stem never grows beyond one
    replacement char and the first character survives (hungarian
    only ever edits the suffix end)."""
    s = hungarian_stem(w)
    assert len(s) <= len(w)
    if s and w:
        assert s[0] == w[0]
