"""Romanian snowball stemmer: hand-traced vectors, three-way engine
parity (Python twin == Spark SQL == DuckDB SQL), the RV-limited
verb among with its consonant-or-u guard, the step-1 bounded
repeat, the iune ţ->t rewrite, the prefix-2 guard invariant, and
the planted-declension analyzer check."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.snowball_ro import (
    _mark_skeleton,
    _regions,
    romanian_stem,
    romanian_stem_sql,
)

# hand-traced through the module's documented step structure
VECTORS = {
    # step 0 plurals + step 4 final vowel
    "casele": "cas", "casa": "cas", "copilului": "copil",
    # step 2 participles: at/ate families in R2
    "cântat": "cântat", "cântate": "cântat",
    "cântatele": "cântat",
    # step 1 combining suffixes (repeat) -> step 2
    "abilitate": "abil", "creativitate": "creativ",
    # verb suffixes (RV-limited, consonant guard)
    "vorbeşte": "vorb", "vorbesc": "vorb", "vorbire": "vorb",
    "mergeau": "merg",
    # ist family
    "optimistă": "optimist", "turism": "turism",
    # guard blocks vowel-preceded verb suffix (frumoase: 'o' before
    # ase) — only the final vowel drops
    "frumoasele": "frumoas",
    # no-ops
    "şi": "şi", "a": "a", "": "",
}

_ALPHA = "abcdefghijklmnopqrstuvwxyzăâîşţ"


def test_reference_vectors():
    for w, want in VECTORS.items():
        got = romanian_stem(w)
        assert got == want, (w, got, want)


def test_marking_i_u_between_vowels():
    # i/u between vowels mark as consonants; elsewhere they are
    # vowels
    assert _mark_skeleton("aia") == "aba"
    assert _mark_skeleton("aua") == "aba"
    assert _mark_skeleton("ai") == "aa"
    assert _mark_skeleton("ia") == "aa"


def test_rv_three_cases():
    # consonant second letter: after the next vowel
    w = "strada"
    rv, _, _ = _regions(w, _mark_skeleton(w))
    assert rv == 5
    # vowel-vowel start: after the next consonant
    w = "aer"
    rv, _, _ = _regions(w, _mark_skeleton(w))
    assert rv == 4
    # consonant-vowel start: after the third letter
    w = "casa"
    rv, _, _ = _regions(w, _mark_skeleton(w))
    assert rv == 4


def test_iune_tz_rewrite():
    # atenţiune: iune in R2 preceded by ţ -> the ţ becomes t
    assert romanian_stem("atenţiune") == "atent"
    # acţiune: iune NOT in R2 -> kept (only step 4's e drops)
    assert romanian_stem("acţiune") == "acţiun"


def test_step1_repeat_chains():
    # icitate -> ic (one round), then step 2 R2 can continue on a
    # longer carrier word
    assert romanian_stem("autenticitate") == "autent"


def test_canonical_real_vocabulary_vectors():
    """Verified against the canonical snowball implementation
    (snowball 2.2 as shipped in PostgreSQL 15 / libstemmer) — the
    classes the r13 canonical fuzz found diverging on REAL words:
    marked-letter among-literal semantics (copiIi never matches
    'ii'), the snowball-2.x 'ia'/'âi' vowel entries, the a/i/â/u
    perfect series (no phantom e-series), 'ească', and the step-0
    verb-step gate."""
    canon = {
        "copiii": "copii",        # marked I blocks step-0 'ii'
        "copiam": "copiam",       # preceding char outside RV
        "dormiam": "dorm",
        "familia": "famil",       # 'ia' vowel entry
        "istoria": "istor",
        "bucuria": "bucur",
        "copiile": "cop",
        "copiilor": "cop",
        "abilitatea": "abil",     # step-0 then step-1 chain
        "muncească": "munc",      # 'ească' entry
        "lucrează": "lucr",
        "avurăm": "avur",         # u-series perfect
        "bugaerăm": "bugaer",     # NO e-series perfect entry
        "beziaţie": "beziaţ",     # step-0 removal gates the verbs
        "băbitate": "băbitat",    # R2 is commit-then-test
        "lucraţi": "lucr",
        "vorbim": "vorb",
    }
    for w, want in canon.items():
        assert romanian_stem(w) == want, (w, romanian_stem(w), want)


def test_step1_bound_boundary_vectors():
    """r12 ADVICE: the _S1_ROUNDS=2 bound vs snowball's unbounded
    `repeat`. These vectors sit AT the stacking boundary and were
    verified against the canonical snowball implementation
    (PostgreSQL 15's snowball `romanian_stem` dictionary, the
    snowballstem.org C generator output): two genuine rounds is the
    deepest chain the suffix table can produce — every replacement
    (abil/ibil/iv/ic/at/it/ăt) re-exposes at most ONE further
    combining suffix, so round 3 never fires even on engineered
    words. The bound is therefore exact, not an approximation."""
    canon = {
        # two-round chains (replacement re-exposes one suffix)
        "aţionabilitate": "aţion",
        "izabilitate": "izabil",
        "icabilitate": "icabil",
        "ivabilitate": "ivabil",
        "icativitate": "icat",
        "abilitativitate": "abilit",
        "icivitate": "iciv",
        # engineered 3-stack candidates: canonical does NOT chain
        # deeper (itate is a NON-repeated step-2 standard suffix)
        "formativitateitate": "formativitat",
        "creativitateivitate": "creativitat",
    }
    for w, want in canon.items():
        assert romanian_stem(w) == want, w


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _duck_stems(con, words):
    sql = romanian_stem_sql("w", "duck")
    con.execute("CREATE OR REPLACE TABLE tw(w VARCHAR)")
    con.executemany("INSERT INTO tw VALUES (?)",
                    [(w,) for w in words])
    return dict(con.execute(f"SELECT w, {sql} FROM tw").fetchall())


def test_duckdb_matches_python_on_vectors(duck):
    got = _duck_stems(duck, list(VECTORS))
    for w in VECTORS:
        assert got[w] == romanian_stem(w), w


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(alphabet=_ALPHA, min_size=0, max_size=13),
                min_size=1, max_size=15))
def test_duckdb_matches_python_random(ws):
    con = duckdb.connect()
    got = _duck_stems(con, list(set(ws)))
    for w in set(ws):
        assert got[w] == romanian_stem(w), w


def test_spark_matches_python(spark):
    from pyspark.sql import functions as F

    words = list(VECTORS) + [
        "lucrările", "lucrare", "naţionale", "copiii", "băieţii",
        "fetiţele", "româneşti", "istorice", "artiştii",
        "aserăm", "userăţi", "sesem", "âserăţi", "iii", "uuu",
        "ţţţ", "abilităţi"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    sql = romanian_stem_sql("w", "spark")
    got = {r["w"]: r["s"] for r in
           df.select("w", F.expr(sql).alias("s")).collect()}
    for w in words:
        assert got[w] == romanian_stem(w), w


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=_ALPHA, min_size=0, max_size=13))
def test_prefix2_invariant(w):
    """The analyzers prefix-2 guard's soundness property for
    romanian: no body rewrites, every edit at position >= 3 — a
    >= 2-char stem keeps the token's first two chars."""
    s = romanian_stem(w)
    if len(s) >= 2 and len(w) >= 2:
        assert s[:2] == w[:2], (w, s)
