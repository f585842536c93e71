"""CLI parity with the reference's Bootstrap flow: discover lists the
terms-agg rule table; export writes per-date parquet + the
schema.asvc sidecar for the chosen rule (non-interactive equivalent
of the readline loop, Bootstrap.java:87-154)."""

from __future__ import annotations

import json
import os

from parquet_generator_spark.cli import main

DOCS = [
    ("20240101", {"rule_name": "office365-signin", "user": "a",
                  "n": 1}),
    ("20240101", {"rule_name": "office365-signin", "user": "b",
                  "n": 2}),
    ("20240102", {"rule_name": "vpn-logs", "user": "c", "n": 3}),
    ("20240102", {"rule_name": "office365-signin", "user": "d"}),
]


def _write_source(spark, tmp_path) -> str:
    df = spark.createDataFrame(
        [(d, json.dumps(doc)) for d, doc in DOCS],
        "source_date string, doc string")
    path = str(tmp_path / "raw.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


def test_cli_discover_lists_rules(spark, tmp_path, capsys):
    src = _write_source(spark, tmp_path)
    rc = main(["discover", "--source", src], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "office365-signin" in out and "3" in out
    assert "vpn-logs" in out


def test_cli_discover_jsonl_honors_doc_column(spark, tmp_path,
                                              capsys):
    """A .jsonl source lands under the caller's --doc-column name,
    so discover decodes it instead of silently skipping (the rename
    used to hardcode 'doc')."""
    src = tmp_path / "raw.jsonl"
    src.write_text("\n".join(json.dumps(doc) for _, doc in DOCS))
    rc = main(["discover", "--source", str(src),
               "--doc-column", "payload"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "office365-signin" in out and "3" in out
    assert "vpn-logs" in out


def _discover_table(spark, src: str, field: str, capsys) -> set:
    rc = main(["discover", "--source", src, "--field", field],
              spark=spark)
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0].split() == ["rule", "doc_count"]
    return {tuple(line.split()) for line in lines[1:]}


def test_cli_discover_numeric_field(spark, tmp_path, capsys):
    """A numeric field buckets by its JSON text (the field decodes as
    a string), instead of failing to format an int key; so does an
    int column of an already-decoded parquet source."""
    src = _write_source(spark, tmp_path)
    want = {("1", "1"), ("2", "1"), ("3", "1")}
    assert _discover_table(spark, src, "n", capsys) == want
    typed = str(tmp_path / "typed.parquet")
    spark.createDataFrame([(1,), (2,), (3,), (None,)], "n int") \
        .write.parquet(typed)
    assert _discover_table(spark, typed, "n", capsys) == want


def test_cli_discover_dotted_field(spark, tmp_path, capsys):
    src = tmp_path / "raw.jsonl"
    src.write_text("\n".join(json.dumps(
        {"rule_name": "r", "loc": {"city": c, "zip": i}})
        for i, c in enumerate(["Oslo", "Oslo", "Rome"])))
    assert _discover_table(spark, str(src), "loc.city", capsys) == {
        ("Oslo", "2"), ("Rome", "1")}


def test_cli_discover_absent_field_prints_empty_table(spark, tmp_path,
                                                      capsys):
    src = _write_source(spark, tmp_path)
    assert _discover_table(spark, src, "no_such_field", capsys) == set()


def test_cli_discover_runs_only_the_terms_agg(spark, tmp_path, capsys):
    """discover decodes only --field and infers no schema: its jobs are
    the terms agg's alone (shuffle map and result), one scan."""
    src = tmp_path / "raw.jsonl"
    src.write_text("\n".join(json.dumps(doc) for _, doc in DOCS))
    sc = spark.sparkContext
    group = "cli_discover_jobs"
    sc.setJobGroup(group, group)
    try:
        rc = main(["discover", "--source", str(src)], spark=spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rc == 0
    assert "office365-signin" in capsys.readouterr().out
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_cli_export_writes_parquet_and_sidecar(spark, tmp_path,
                                               capsys):
    src = _write_source(spark, tmp_path)
    out_dir = str(tmp_path / "out")
    rc = main(["export", "--source", src,
               "--rule", "office365-signin", "--out", out_dir,
               "--sample-ratio", "1.0"], spark=spark)
    assert rc == 0
    ds = capsys.readouterr().out.strip()
    got = spark.read.parquet(ds)
    assert got.count() == 3                       # rule filter applied
    assert "source_date" in got.columns           # partition survives
    # missing field decoded leniently to null (ExtendedJsonDecoder)
    assert got.filter("n IS NULL").count() == 1
    assert os.path.exists(os.path.join(ds, "_schema.asvc"))
    avro = json.load(open(os.path.join(ds, "_schema.asvc")))
    assert avro["type"] == "record"
    # every field nullable-promoted (Bootstrap enableDefaultValue)
    for f in avro["fields"]:
        assert f["type"][0] == "null" or f["type"] == "null", f
