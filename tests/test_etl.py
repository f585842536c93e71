"""End-to-end ETL pipeline tests mirroring the reference flow on its
own fixtures (read-only) and on synthetic JSON docs."""

from __future__ import annotations

import json
import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from parquet_generator_spark.etl import (
    dated_parquet_to_parquet,
    discover_rules,
    json_docs_to_parquet,
)
from parquet_generator_spark.schema.avro_io import avro_to_struct
from parquet_generator_spark.sinks.parquet_sink import write_partitioned
from parquet_generator_spark.sources.dated import (
    parse_dated_name,
    recent_n_days,
)
from parquet_generator_spark.sources.es_source import read_json_fixture
from parquet_generator_spark.schema.infer import infer_json_schema

REF_DIR = "/root/reference/office365_signin"


def test_dated_discovery_matches_reference_fixture():
    names = [n for n in os.listdir(REF_DIR) if not n.startswith(".")]
    got = recent_n_days(names, "event_", 7, date(2019, 10, 3))
    # event_516411130 is not a date and must be skipped; 20190927 is
    # 6 days before 20191003 so all six dated files are in range
    assert [n for _, n in got] == [
        "event_20190927", "event_20190929", "event_20190930",
        "event_20191001", "event_20191002", "event_20191003"]
    assert parse_dated_name("event_516411130", "event_") is None


@pytest.fixture(scope="module")
def dated_fixture_dir(spark, tmp_path_factory):
    """Reference-shaped dated source dirs (event_YYYYMMDD) — the
    real reference fixtures are zero-byte stubs, so synthesize the
    same layout: per-day parquet with a rule_name column."""
    base = tmp_path_factory.mktemp("es_like")
    for day in ("20191001", "20191002", "20191003"):
        rows = [(f"doc{day}{i}",
                 "office365_signin" if i % 3 else "other-rule",
                 i) for i in range(30)]
        (spark.createDataFrame(rows, "msg string, rule_name string, sev int")
         .coalesce(1).write.parquet(str(base / f"event_{day}")))
    # a non-dated entry that discovery must skip
    (base / "event_516411130").mkdir()
    return str(base)


def test_discover_rules_terms_agg(spark, dated_fixture_dir):
    df = spark.read.parquet(f"{dated_fixture_dir}/event_20191002")
    rules = discover_rules(df, "rule_name").collect()
    assert [(r["key"], r["doc_count"]) for r in rules] == [
        ("office365_signin", 20), ("other-rule", 10)]
    assert set(rules[0].asDict()) == {"key", "doc_count"}


def test_discover_rules_parses_only_the_rule_field(spark):
    """``discover`` reads one field of each decoded document, so the
    optimized plan's from_json parses that field alone: Catalyst
    prunes the schema only when the decode passes no options."""
    import re

    from pyspark.sql import types as T

    from parquet_generator_spark.sources.es_source import decode_docs

    schema = T.StructType([T.StructField(n, T.StringType())
                           for n in ("msg", "rule_name", "user", "ip")])
    raw = spark.createDataFrame(
        [('{"rule_name": "r1", "msg": "m", "user": "u", "ip": "i"}',)],
        "doc string")
    df = discover_rules(decode_docs(raw, "doc", schema))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    decodes = re.findall(r"from_json\(StructField\(([^,]+),", plan)
    # one decode in the projection, one in the pushed-down null filter
    assert decodes and set(decodes) == {"rule_name"}, plan
    assert "StructField(msg" not in plan
    assert [(r["key"], r["doc_count"]) for r in df.collect()] == [("r1", 1)]


def test_dated_parquet_pipeline_end_to_end(spark, tmp_path,
                                           dated_fixture_dir):
    rule = "office365_signin"
    out = dated_parquet_to_parquet(
        spark, dated_fixture_dir, "event_", 7, date(2019, 10, 3),
        rule, str(tmp_path))
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert "source_date" in written.columns
    # partitioned layout: one directory per source date
    parts = [d for d in os.listdir(out) if d.startswith("source_date=")]
    assert len(parts) >= 2
    # schema sidecar parses and covers the data columns
    with open(os.path.join(out, "_schema.asvc")) as fh:
        struct = avro_to_struct(fh.read())
    assert {f.name for f in struct.fields} == set(written.columns)
    # every surviving row matches the rule phrase
    assert written.filter(F.col("rule_name") == rule).count() \
        == written.count()


def test_json_docs_pipeline(spark, tmp_path):
    docs = [
        {"rule_name": "login-anomaly", "sev": i % 3,
         "msg": f"event {i}", "extra": "x" if i % 2 else None}
        for i in range(50)
    ] + [
        {"rule_name": "other-rule", "sev": 9, "msg": "noise"}
    ]
    rows = [(json.dumps(d), f"2024-01-{(i % 3) + 1:02d}")
            for i, d in enumerate(docs)]
    docs_df = spark.createDataFrame(rows, "doc string, source_date string")
    out = json_docs_to_parquet(
        spark, docs_df, "login-anomaly", str(tmp_path), sample_ratio=1.0)
    written = spark.read.parquet(out)
    assert written.count() == 50
    assert set(written.columns) >= {"rule_name", "sev", "msg", "source_date"}


def test_json_docs_empty_sample_names_rule_field(spark, tmp_path):
    """At sample_ratio=0.001 a 50-document input samples no document,
    so the inferred schema has no rule field: the error names
    rule_field and sample_ratio instead of an unresolved column."""
    docs_df = spark.createDataFrame(
        [(json.dumps({"rule_name": "login-anomaly", "i": i}),
          "2024-01-01") for i in range(50)],
        "doc string, source_date string")
    with pytest.raises(ValueError, match="rule_field.*sample_ratio"):
        json_docs_to_parquet(spark, docs_df, "login-anomaly",
                             str(tmp_path), sample_ratio=0.001)


def test_write_partitioned_writes_one_file_per_date(spark, tmp_path):
    """Rows of one date meet in one task before the write, so each
    date directory holds one file, not one per input partition."""
    df = spark.createDataFrame(
        [(i, f"2024-01-0{i % 3 + 1}") for i in range(120)],
        "x int, source_date string").repartition(4)
    out = write_partitioned(df, str(tmp_path), "t")
    files = [f for _, _, fs in os.walk(out) for f in fs
             if f.startswith("part-") and f.endswith(".parquet")]
    assert len(files) == 3
    got = spark.read.parquet(out).groupBy("source_date").count()
    assert sorted((str(r[0]), r[1]) for r in got.collect()) == [
        ("2024-01-01", 40), ("2024-01-02", 40), ("2024-01-03", 40)]


def test_json_docs_passthrough_column_wins_name_clash(spark, tmp_path):
    """A document holding a passthrough column's name (here the
    source_date partition key, matched case-insensitively as Spark
    resolves names) decodes without AMBIGUOUS_REFERENCE; the
    passthrough value wins and the record's field is dropped."""
    docs = [{"rule_name": "login-anomaly", "msg": f"event {i}",
             ("source_date" if i < 3 else "Source_Date"): "1999-12-31"}
            for i in range(6)]
    rows = [(json.dumps(d), f"2024-01-{(i % 2) + 1:02d}")
            for i, d in enumerate(docs)]
    docs_df = spark.createDataFrame(rows, "doc string, source_date string")
    out = json_docs_to_parquet(
        spark, docs_df, "login-anomaly", str(tmp_path), sample_ratio=1.0)
    got = spark.read.parquet(out).groupBy("source_date").count().collect()
    assert sorted((str(r[0]), r[1]) for r in got) == [
        ("2024-01-01", 3), ("2024-01-02", 3)]


def test_fixture_reader_lenient_decode(spark, tmp_path):
    p = tmp_path / "hits.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2}\n{"b": "y", "c": true}\n')
    schema = infer_json_schema(
        spark, ['{"a": 1, "b": "x"}', '{"c": true}'])
    df = read_json_fixture(spark, str(p), schema)
    rows = {tuple(r) for r in df.select("a", "b", "c").collect()}
    # missing fields decode to null, never error (ExtendedJsonDecoder
    # behavior)
    assert (2, None, None) in rows and (None, "y", True) in rows
