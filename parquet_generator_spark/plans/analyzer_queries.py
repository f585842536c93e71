"""Language-analyzer match keys, all served from the ingest-time
analyzed store (plans/analyzed_store.py).

ES analyzes text at INDEX time — the reference's own match_phrase
(EsParquetWriter.java:69) queries an index-time-analyzed field. The
store follows that: each language's chain runs once at ingest into an
``analyzed_<lang>`` token array, and every key here is a plain
membership / adjacency scan over it, with zero stemmer expressions in
the query plan. The ORACLES recompute the full analysis from raw
text in DuckDB, so every oracle match proves stored == query-time.

The synthetic corpus is ASCII English, so each language's rows get
deterministic planted snippets: inflected forms that only that
language's chain folds onto the query's dictionary forms (the
english chain matches none of them). ``SPECS`` holds one row per
language; the store, the ``dsl_match_analyzer_<lang>`` keys and
their oracles are all generated from it.

Scale: the analyzer match is a pruned array-membership scan filter
plus a small groupBy; the stemming was paid once on the write side.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.analyzers import (
    analyzed_match_duck_sql,
    analyzed_match_phrase_duck_sql,
    get_analyzer,
    stored_match,
    stored_match_phrase,
)


@dataclass(frozen=True)
class AnalyzerSpec:
    """One language: ``lang`` names the store column
    (``analyzed_<lang>``) and the key (``dsl_match_analyzer_<lang>``);
    ``plant`` is the SQL condition selecting the rows that get one
    of the three ``snippets`` (by ``doc_id % 3``) ahead of their
    text."""

    lang: str
    analyzer: str
    query: str
    plant: str
    snippets: tuple[str, str, str]


# Row order is the store's column order and feeds its fingerprint
# (analyzed_store.version_hash): reordering rebuilds every store.
SPECS = (
    # case system + tidy: taloissa/talojen -> talo,
    # kirjoissakin -> kirj
    AnalyzerSpec("fi", "finnish", "talo kirja", "doc_id % 5 = 0", (
        "taloissa ja kirjoissakin",
        "talojen kirjassa luettiin",
        "kirjat ovat taloissa")),
    # házakban -> ház (case ban + plural ak), virágokkal -> virág
    # (instrumental kal with kk undouble); accents split english
    AnalyzerSpec("hu", "hungarian", "ház virág", "doc_id % 5 = 0", (
        "házakban és virágokkal",
        "házamban virágok nyílnak",
        "a virágot a házához vitte")),
    # article, possessive and بال prefixes, teh marbuta; the english
    # tokenizer yields no tokens from arabic script
    AnalyzerSpec("ar", "arabic", "كتاب مدرسة", "doc_id % 5 = 2", (
        "الكتاب في المدرسة",
        "كتابهم عند مدرستنا",
        "قرأنا كتابا بالمدرسة")),
    # canciones never S-stems to cancion
    AnalyzerSpec("es", "spanish", "cancion trabajador", "lang = 'es'", (
        "las canciones fueron grabadas",
        "trabajadores cantando canciones",
        "la comunicación llegó rápidamente")),
    # ä splits the english tokenizer; häusern -> haus needs umlaut
    # folding
    AnalyzerSpec("de", "german", "haus kategorie", "lang = 'de'", (
        "die häuser wurden gebaut",
        "kategorien für häusern geordnet",
        "schönheit alter häuser")),
    # nationaux/nationales/arrangements fold through RV/R1/R2
    AnalyzerSpec("fr", "french", "national arrangement", "lang = 'fr'", (
        "les maisons nationales sont grandes",
        "arrangements nationaux et continuité",
        "qualification nationale première")),
    # canzoni never S-stems to canzon
    AnalyzerSpec("it", "italian", "canzone lavoratore", "doc_id % 5 = 2", (
        "le canzoni furono cantate",
        "lavoratori cantando canzoni",
        "la comunicazione arrivò rapidamente")),
    # comunicações -> comunicação only through the nasal prelude
    AnalyzerSpec("pt", "portuguese", "comunicação trabalhador",
                 "doc_id % 5 = 2", (
                     "as comunicações entre equipas",
                     "os trabalhadores chegaram cedo",
                     "comunicações dos trabalhadores portugueses")),
    # gekke/gekken -> gek (e-deletion + kk undouble), katten -> kat
    AnalyzerSpec("nl", "dutch", "gekke katten", "doc_id % 5 = 3", (
        "de gekken en de katten",
        "een gekke kat speelde",
        "kat bij de gekken")),
    # casele -> cas (step-0 plural), cântate -> cântat; diacritics
    # split the english tokenizer
    AnalyzerSpec("ro", "romanian", "casa cântat", "doc_id % 5 = 4", (
        "casele erau cântate",
        "cântata din casele vechi",
        "casele cu ziduri cântate")),
    # книгами -> книг, красивых -> красив; the english tokenizer
    # yields no tokens from cyrillic
    AnalyzerSpec("ru", "russian", "книга красивый", "doc_id % 5 = 1", (
        "красивые книги на столе",
        "книгами и красивая полка",
        "пять красивых книг")),
    # the Scandinavian trio: R1-limited amongs, per-language
    # s-endings
    AnalyzerSpec("sv", "swedish", "flicka klok", "doc_id % 5 = 2", (
        "flickorna var kloka",
        "den kloka flickorna sprang",
        "flickorna och de kloka")),
    AnalyzerSpec("da", "danish", "indtagelse venlig", "doc_id % 5 = 2", (
        "indtagelsen var venligst",
        "den venligst indtagelsen",
        "venligst efter indtagelsen")),
    AnalyzerSpec("no", "norwegian", "kassere hus", "doc_id % 5 = 2", (
        "husene ble kasserte",
        "kasserte ved husene",
        "husene og de kasserte")),
)

SPEC = {s.lang: s for s in SPECS}


def planted_expr(spec: AnalyzerSpec) -> str:
    """SQL (valid in Spark and DuckDB) for the planted text column."""
    snip = ("CASE CAST(doc_id % 3 AS INT) "
            + " ".join(f"WHEN {i} THEN '{s}'"
                       for i, s in enumerate(spec.snippets))
            + " END")
    return (f"CASE WHEN {spec.plant} THEN "
            f"concat({snip}, ' ', substr(text, 1, 60)) "
            f"ELSE substr(text, 1, 60) END")


def _served(pred: Callable[[], Column], by: tuple[str, ...]):
    """Query over the analyzed store: docs matching ``pred()``
    counted per ``by``."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from parquet_generator_spark.plans.analyzed_store import (
            load_store,
        )

        return (load_store(spark, sf_dir)
                .filter(pred())
                .groupBy(*by)
                .agg(F.count(F.lit(1)).alias("doc_count"))
                .orderBy(*by))
    return run


def _oracle(spec: AnalyzerSpec, pred: str, by: str) -> str:
    # the lang-keyed rows keep their line break so the oracle text
    # (and hence every recorded oracle hash) is unchanged
    sep = "\n" + " " * 18 if spec.plant.startswith("lang") else " "
    return f"""
WITH m AS (SELECT {by},{sep}{planted_expr(spec)} AS mixed
           FROM documents)
SELECT {by}, count(*) AS doc_count
FROM m WHERE {pred}
GROUP BY {by} ORDER BY {by}
"""


def match_query(spec: AnalyzerSpec):
    """``match`` with ``analyzer: <spec.analyzer>``, operator AND."""
    run = _served(lambda: stored_match(
        f"analyzed_{spec.lang}", spec.query,
        get_analyzer(spec.analyzer), operator="and"), ("source",))
    run.__doc__ = (
        f"``match`` with ``analyzer: \"{spec.analyzer}\"`` (operator "
        f"AND) over the stored ``analyzed_{spec.lang}`` array: the "
        f"query's dictionary forms reach the planted inflections "
        f"only through the {spec.analyzer} chain.")
    return run


def match_oracle(spec: AnalyzerSpec) -> str:
    pred = analyzed_match_duck_sql(
        "mixed", spec.query, get_analyzer(spec.analyzer),
        operator="and")
    return _oracle(spec, pred, "source")


# ``match_phrase`` with ``analyzer: "german"``: the query's forms
# (hauses, geordnetes) and the planted declensions (häusern,
# geordnet) meet only at the stems [haus, geordnet], which must be
# consecutive field positions
_DE_PHRASE = "hauses geordnetes"

dsl_match_phrase_analyzer_de = _served(lambda: stored_match_phrase(
    "analyzed_de", _DE_PHRASE, get_analyzer("german")), ("lang",))

_PHRASE_DE_ORACLE = _oracle(
    SPEC["de"], analyzed_match_phrase_duck_sql(
        "mixed", _DE_PHRASE, get_analyzer("german")), "lang")


# ------------------------------------------ dsl_match_lang_routed

# The multilingual-index pattern: per-language sub-fields analyzed
# with that language's chain, the match ROUTED by the document's lang
# field. The corpus lang column carries en/zh/es/de/fr; each
# language's slice gets its own planted inflection and the query
# carries the dictionary form per language, so only the
# language-correct stemmer folds them together. zh routes to no
# analyzer (the CJK bigram path is its own key, text_tokens_cjk) and
# never matches.
ROUTE = {
    "es": ("spanish", "comunicación",
           "las comunicaciones llegaron tarde"),
    "de": ("german", "mitteilung",
           "die mitteilungen kamen gestern an"),
    "fr": ("french", "communication",
           "les communications sont arrivées"),
    "en": ("english", "communication",
           "the communications arrived yesterday"),
}


def routed_planted_expr() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN concat('{snippet}', ' ', "
        f"substr(text, 1, 40))"
        for lang, (_, _, snippet) in ROUTE.items())
    return (f"CASE WHEN doc_id % 3 = 1 THEN "
            f"(CASE lang {whens} ELSE substr(text, 1, 40) END) "
            f"ELSE substr(text, 1, 40) END")


def _routed_pred() -> Column:
    # each arm matches its language's query form against the stored
    # routed column, analyzed at ingest with that language's chain
    # for exactly its own lang rows
    routed = None
    for lang, (analyzer, query, _) in ROUTE.items():
        arm = stored_match("analyzed_routed", query,
                           get_analyzer(analyzer), operator="and")
        routed = (F.when(F.col("lang") == lang, arm)
                  if routed is None
                  else routed.when(F.col("lang") == lang, arm))
    return routed.otherwise(F.lit(False))


dsl_match_lang_routed = _served(_routed_pred, ("lang", "source"))


def _routed_oracle() -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN ({analyzed_match_duck_sql('mixed', q, get_analyzer(a), operator='and')})"
        for lang, (a, q, _) in ROUTE.items())
    return f"""
WITH m AS (SELECT lang, source, {routed_planted_expr()} AS mixed
           FROM documents)
SELECT lang, source, count(*) AS doc_count
FROM m
WHERE (CASE lang {arms} ELSE false END)
GROUP BY lang, source ORDER BY lang, source
"""


QUERIES: dict = {f"dsl_match_analyzer_{s.lang}": match_query(s)
                 for s in SPECS}
ORACLES: dict = {f"dsl_match_analyzer_{s.lang}": match_oracle(s)
                 for s in SPECS}
QUERIES.update({
    "dsl_match_phrase_analyzer_de": dsl_match_phrase_analyzer_de,
    "dsl_match_lang_routed": dsl_match_lang_routed,
    # aliases: the same plans and oracles as the spanish match and
    # the german phrase
    "dsl_match_analyzer_stored": QUERIES["dsl_match_analyzer_es"],
    "dsl_match_phrase_analyzer_stored": dsl_match_phrase_analyzer_de,
})
ORACLES.update({
    "dsl_match_phrase_analyzer_de": _PHRASE_DE_ORACLE,
    "dsl_match_lang_routed": _routed_oracle(),
    "dsl_match_analyzer_stored": ORACLES["dsl_match_analyzer_es"],
    "dsl_match_phrase_analyzer_stored": _PHRASE_DE_ORACLE,
})
