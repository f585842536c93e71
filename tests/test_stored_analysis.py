"""Ingest-time analyzed columns: the stored stemmed-token array is
value-identical to the query-time analysis path (match AND phrase),
stopwords are KEPT on the field side, and the ETL seam writes the
arrays through parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_generator_spark.etl import materialize_analyzed
from parquet_generator_spark.operators.analyzers import (
    analyzed_match,
    analyzed_match_phrase,
    analyzed_tokens,
    get_analyzer,
    stored_match,
    stored_match_duck_sql,
    stored_match_phrase,
)
from parquet_generator_spark.plans.esdsl_queries import SPECS

ROWS = [
    (1, "las canciones fueron grabadas ayer"),
    (2, "trabajadores cantando canciones nuevas"),
    (3, "la comunicación llegó rápidamente"),
    (4, "plain english text about nothing"),
    (5, None),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(ROWS, ["doc_id", "text"])


def test_stored_tokens_keep_stopwords(spark, docs):
    """The stored array is stem(tokens), NOT stopword-filtered —
    the field side of analyzed_match never drops stopwords."""
    es = get_analyzer("spanish")
    row = (docs.filter("doc_id = 1")
           .select(analyzed_tokens("text", es).alias("a"))
           .collect()[0]["a"])
    # 'las' and 'fueron' are spanish stopwords yet stay stored
    assert len(row) == 5
    assert "cancion" in row  # canciones stemmed


def test_stored_match_equals_query_time(spark, docs):
    es = get_analyzer("spanish")
    stored = materialize_analyzed(
        docs, {"analyzed": ("text", "spanish")})
    for op, msm in (("and", None), ("or", None), ("or", 2)):
        qt = {r["doc_id"] for r in docs.filter(
            analyzed_match("text", "cancion trabajador", es,
                           operator=op,
                           minimum_should_match=msm)).collect()}
        st = {r["doc_id"] for r in stored.filter(
            stored_match("analyzed", "cancion trabajador", es,
                         operator=op,
                         minimum_should_match=msm)).collect()}
        assert st == qt, (op, msm)
    # non-trivial: AND matches exactly the doc with both stems
    qt_and = {r["doc_id"] for r in stored.filter(
        stored_match("analyzed", "cancion trabajador", es,
                     operator="and")).collect()}
    assert qt_and == {2}


def test_stored_phrase_equals_query_time(spark):
    de = get_analyzer("german")
    rows = [
        (1, "die häuser geordnet stehen"),       # adjacent stems
        (2, "häusern kategorien geordnet"),      # not adjacent
        (3, "geordnet häuser"),                  # wrong order
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    stored = materialize_analyzed(df, {"a": ("text", "german")})
    qt = {r["doc_id"] for r in df.filter(
        analyzed_match_phrase("text", "hauses geordnetes",
                              de)).collect()}
    st = {r["doc_id"] for r in stored.filter(
        stored_match_phrase("a", "hauses geordnetes",
                            de)).collect()}
    assert st == qt == {1}


def test_stored_roundtrips_through_parquet(spark, docs, tmp_path):
    """ETL write path: arrays survive parquet and the duck twin
    agrees on the stored relation."""
    import duckdb

    es = get_analyzer("spanish")
    out = str(tmp_path / "analyzed")
    materialize_analyzed(
        docs, {"analyzed": ("text", "spanish")}
    ).write.parquet(out)
    back = spark.read.parquet(out)
    got = {r["doc_id"] for r in back.filter(
        stored_match("analyzed", "cancion trabajador", es,
                     operator="and")).collect()}
    assert got == {2}
    con = duckdb.connect()
    pred = stored_match_duck_sql("analyzed", "cancion trabajador",
                                 es, operator="and")
    dk = {r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{out}/*.parquet') "
        f"WHERE {pred}").fetchall()}
    assert dk == {2}


def test_etl_write_option_materializes_analyzed(spark, tmp_path):
    """json_docs_to_parquet(analyzed_columns=...): the index-time
    analysis rides the reference-shaped ETL write and the written
    dataset serves stored matches."""
    import json

    from parquet_generator_spark.etl import json_docs_to_parquet

    es = get_analyzer("spanish")
    rows = [
        (json.dumps({"rule_name": "r one",
                     "text": t}), "2024-01-01")
        for _, t in ROWS if t
    ]
    docs_df = spark.createDataFrame(rows, ["doc", "source_date"])
    out = json_docs_to_parquet(
        spark, docs_df, "r one", str(tmp_path),
        sample_ratio=1.0,
        analyzed_columns={"analyzed": ("text", "spanish")})
    back = spark.read.parquet(out)
    assert "analyzed" in back.columns
    got = {r["text"] for r in back.filter(
        stored_match("analyzed", "cancion trabajador", es,
                     operator="and")).collect()}
    assert got == {ROWS[1][1]}


def test_stored_plan_has_no_stemmer(spark, docs):
    """The point of the store: the serve plan carries NO snowball
    expression — array membership only."""
    es = get_analyzer("spanish")
    stored = materialize_analyzed(
        docs, {"analyzed": ("text", "spanish")})
    # the serve side starts FROM the stored relation (simulate by
    # collecting the analyzed frame to a fresh DataFrame)
    plan = (stored.select("doc_id", "analyzed")
            .filter(stored_match("analyzed", "cancion trabajador",
                                 es, operator="and"))
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "exists(" in plan


SF_SMALL = "/root/testdata/sf0.001"


def test_central_store_all_languages(spark):
    """The round-13 central store (plans/esdsl_queries.py): one
    fingerprint-gated materialization carries every language's
    analyzed array plus the routed column, and every converted
    analyzer-match key serves from it with ZERO stemmer expressions
    in the plan."""
    from parquet_generator_spark.plans.esdsl_queries import load_store
    from parquet_generator_spark.sinks.stores import code_hash

    store = load_store(spark, SF_SMALL)
    cols = set(store.columns)
    for spec in SPECS:
        assert f"analyzed_{spec.lang}" in cols, spec.lang
    assert "analyzed_routed" in cols
    assert {"doc_id", "source", "lang"} <= cols
    # no leftover staging columns
    assert not [c for c in cols if c.startswith("mixed")]
    # the code hash is a pure function of the package's files
    # (fingerprint contract): the per-process cache agrees with a
    # fresh computation
    assert code_hash() == code_hash.__wrapped__()


def test_converted_keys_plans_are_stemmer_free(spark):
    """dsl_match_analyzer_{fr,ru} + dsl_match_lang_routed now serve
    from stored arrays: the optimized plan must carry array
    membership and NO stemmer machinery (the giant let-bound
    transform(array(...)) chains)."""
    from parquet_generator_spark.plans.esdsl_queries import QUERIES

    for key in ("dsl_match_analyzer_fr", "dsl_match_analyzer_ru",
                "dsl_match_lang_routed"):
        plan = (QUERIES[key](spark, SF_SMALL)
                ._jdf.queryExecution().optimizedPlan().toString())
        assert "exists(" in plan, key
        # the stemmer generator's signature shape: a let-bound
        # lambda chain over a carried struct
        assert "named_struct" not in plan, key
        assert len(plan) < 40_000, (key, len(plan))


@pytest.mark.parametrize("spec", SPECS, ids=lambda s: s.lang)
def test_analyzer_catches_what_english_cannot(spark, spec):
    """Each language's planted inflections: its stored key finds
    them (as many documents as the same chain finds at query time
    over the planted column), the english chain finds none."""
    from parquet_generator_spark.plans.esdsl_queries import (
        QUERIES,
        planted_expr,
    )
    from parquet_generator_spark.sources.catalog import load_table

    rows = QUERIES[f"dsl_match_analyzer_{spec.lang}"](
        spark, SF_SMALL).collect()
    stored = sum(r["doc_count"] for r in rows)
    assert stored > 0

    docs = load_table(spark, "documents", SF_SMALL).withColumn(
        "mixed", F.expr(planted_expr(spec)))
    own = analyzed_match("mixed", spec.query,
                         get_analyzer(spec.analyzer), operator="and")
    assert docs.filter(own).count() == stored
    english = get_analyzer("english")
    if not english.analyze(spec.query):
        # arabic and cyrillic script: the english tokenizer yields no
        # query terms at all (and a term-less match matches every doc)
        assert spec.lang in ("ar", "ru")
        return
    en = analyzed_match("mixed", spec.query, english, operator="and")
    assert docs.filter(en).count() == 0


def test_store_rebuilds_on_analyzer_version_change(spark, tmp_path,
                                                   monkeypatch):
    """The meta fingerprint covers the package's code hash: a
    stemmer fix invalidates the store instead of serving stale
    analysis."""
    import json
    import os

    from parquet_generator_spark.plans import esdsl_queries as st
    from parquet_generator_spark.sinks.stores import code_hash

    root = os.path.dirname(st.ensure_store(spark, SF_SMALL))
    meta_p = os.path.join(root, "meta.json")
    with open(meta_p) as fh:
        fp1 = json.load(fh)["fingerprint"]
    assert fp1.endswith(code_hash())
    # simulate a stemmer change: stamp a bogus code hash into meta ->
    # next ensure_store must rebuild and restore the real hash
    with open(meta_p, "w") as fh:
        json.dump({"fingerprint": fp1[:-4] + "dead"}, fh)
    st.ensure_store(spark, SF_SMALL)
    with open(meta_p) as fh:
        assert json.load(fh)["fingerprint"] == fp1


def test_store_fingerprint_ignores_hash_seed(tmp_path):
    """A store built in one process is reused by the next, whatever
    its PYTHONHASHSEED: a seed-dependent fingerprint would rebuild
    every store in every fresh process."""
    import os
    import pathlib
    import shutil
    import subprocess
    import sys
    import uuid

    from parquet_generator_spark.sinks import stores

    name = f"hash_seed_probe_{uuid.uuid4().hex}"
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "src.txt").write_text("rows")
    counter = tmp_path / "builds"
    code = ("import sys\n"
            "from parquet_generator_spark.sinks import stores\n"
            "name, sf, counter = sys.argv[1:]\n"
            "def build(root):\n"
            "    with open(counter, 'a') as fh:\n"
            "        fh.write('built\\n')\n"
            "stores.ensure(name, sf, ['src.txt'], build)\n")
    repo = pathlib.Path(__file__).resolve().parent.parent
    try:
        for seed in ("1", "2"):
            subprocess.run(
                [sys.executable, "-c", code, name, str(sf), str(counter)],
                cwd=repo, env={**os.environ, "PYTHONHASHSEED": seed},
                check=True)
    finally:
        shutil.rmtree(os.path.join(stores._BASE, name),
                      ignore_errors=True)
    assert counter.read_text() == "built\n"
