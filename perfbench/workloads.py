"""The workloads: what each request is and how it is checked.

A workload is a list of requests per pass. Every request is an
:class:`Op`: an optional plan build (timed as ``plans.build_s``), an
action (timed as ``exec.collect_s``) and a check that runs after the
timed region. Requests reach the program only through its public
entry points: ``__spark_entry__.queries()``, ``cli.main`` and
``etl.json_docs_to_parquet``.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Callable

from oracle import digest

# LLM-data-pipeline batch, in pipeline order: build-time jobs,
# checkpoints and Python workers dominate; the last key reads the IVF-PQ
# index from its fingerprinted .scratch/ store.
CURATION_KEYS = [
    "gopher_repetition", "dedup_simhash", "bpe_encode_stats",
    "ann_ivfpq_served",
]

# Interactive read path (not in the gate; see README.md): the reference
# read surface, ES DSL and ES|QL keys, and keys served from the stores.
QUERY_KEYS = [
    # reference read surface
    "terms_agg", "match_phrase_filter", "date_range_scan", "json_decode",
    # ES DSL and ES|QL
    "dsl_fuzzy", "dsl_composite_paged", "esql_dissect", "esql_knn",
    # served from the stores
    "dsl_match_analyzer_de", "ann_ivfpq_served",
    "dsl_tsds_downsample_served", "dsl_rate_served",
]


def store_keys(keys: list[str]) -> list[str]:
    """The keys that read a fingerprinted .scratch/ store."""
    return [k for k in keys if k.endswith("_served") or "_analyzer_" in k]


@dataclass
class Op:
    name: str
    act: Callable[[object], object]
    # check(result, row) -> error text or None; may add fields to row
    check: Callable[[object, dict], str | None]
    build: Callable[[], object] | None = None
    aux: bool = False  # a traced-run-only layer measurement


@dataclass
class Workload:
    ops_for_pass: Callable[[int], list[Op]]
    cleanup: Callable[[], None] = field(default=lambda: None)


def query_ops(spark, sf_dir: str, keys: list[str], expected: dict,
              seed: int | None) -> Workload:
    """One request per key: in the given order when ``seed`` is None
    (the batch pipeline), else reshuffled from the seed on every pass."""
    import __spark_entry__ as entry

    fns = entry.queries()

    def op(k: str) -> Op:
        def check(res, row):
            cols, rows = res
            row["rows"] = len(rows)
            if digest(cols, rows) != expected[k]:
                return "result differs from the DuckDB oracle"
            return None

        return Op(k, build=lambda: fns[k](spark, sf_dir),
                  act=lambda df: (df.columns, df.collect()), check=check)

    def ops_for_pass(p: int) -> list[Op]:
        order = list(keys)
        if seed is not None:
            random.Random(seed * 1000 + p).shuffle(order)
        return [op(k) for k in order]

    return Workload(ops_for_pass)


# ---- ETL export -----------------------------------------------------

ANALYZED = "message_en"


def _cli(spark, argv: list[str]) -> str:
    from parquet_generator_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv, spark=spark)
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited with {rc}")
    return buf.getvalue()


def check_discover(out: str, expected: dict) -> str | None:
    got = [line.split() for line in out.strip().splitlines()[1:]]
    want = expected["ranked"][:len(got)]
    counts = dict(expected["ranked"])
    if len(got) != min(10, len(counts)):
        return f"discover listed {len(got)} rules"
    if [int(c) for _, c in got] != [c for _, c in want]:
        return "discover counts differ from the generator's"
    if any(counts.get(r) != int(c) for r, c in got):
        return "discover rule counts differ from the generator's"
    return None


def check_dataset(spark, path: str, rule: str, expected: dict,
                  row: dict, analyzed: str | None = None) -> str | None:
    """Read an exported dataset back and compare it with the
    generator's exact counts; record what was written."""
    from pyspark.sql import functions as F

    from parquet_generator_spark.schema import avro_to_struct
    from docs import NULL_FIELD

    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.startswith("part-") and f.endswith(".parquet")]
    row["sinks.files_written"] = len(files)
    row["sinks.bytes_written"] = sum(os.path.getsize(f) for f in files)
    df = spark.read.parquet(path)
    counts = df.groupBy("source_date").agg(
        F.count(F.lit(1)), F.count_if(F.col(NULL_FIELD).isNull())).collect()
    per_day = {str(r[0]): r[1] for r in counts}
    if per_day != expected["per_day"][rule]:
        return f"{rule}: per-date counts differ from the generator's"
    nulls = sum(r[2] for r in counts)
    if nulls != expected["nulls"][rule]:
        return f"{rule}: {nulls} null {NULL_FIELD}, expected " \
               f"{expected['nulls'][rule]}"
    with open(os.path.join(path, "_schema.asvc")) as fh:
        schema = avro_to_struct(fh.read())
    if not _all_nullable(schema):
        return f"{rule}: _schema.asvc has a non-nullable field"
    if analyzed and df.schema[analyzed].dataType.simpleString() \
            != "array<string>":
        return f"{rule}: {analyzed} is not an array of tokens"
    return None


def _all_nullable(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return all(f.nullable and _all_nullable(f.dataType)
                   for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _all_nullable(dt.elementType)
    return True


def etl_ops(spark, jsonl: str, expected: dict, work_dir: str,
            traced: bool) -> Workload:
    """Per pass: ``cli discover``, ``cli export`` of the top rule, and
    ``json_docs_to_parquet`` of the second rule with one analyzed
    column. A traced pass adds the layer measurements: inference alone,
    the terms agg without inference, and the second export without the
    analyzed column."""
    from pyspark.sql import functions as F

    from parquet_generator_spark.etl import discover_rules, json_docs_to_parquet
    from parquet_generator_spark.schema import infer_json_schema

    top, second = expected["ranked"][0][0], expected["ranked"][1][0]
    top_bytes = expected["bytes"][top]

    def docs_df():
        return spark.read.text(jsonl).withColumnRenamed("value", "doc")

    def ops_for_pass(p: int) -> list[Op]:
        out = os.path.join(work_dir, f"pass{p}")
        shutil.rmtree(os.path.join(work_dir, f"pass{p - 1}"),
                      ignore_errors=True)

        def check_export(res, row):
            err = check_dataset(spark, res.strip(), top, expected, row)
            row["sinks.write_amplification"] = \
                row["sinks.bytes_written"] / top_bytes
            return err

        ops = [
            Op("cli.discover",
               act=lambda _: _cli(spark, ["discover", "--source", jsonl]),
               check=lambda res, row: check_discover(res, expected)),
            Op("cli.export",
               act=lambda _: _cli(spark, ["export", "--source", jsonl,
                                          "--rule", top, "--out", out]),
               check=check_export),
            Op("etl.export_analyzed", build=docs_df,
               act=lambda df: json_docs_to_parquet(
                   spark, df, second, out,
                   analyzed_columns={ANALYZED: ("message", "english")}),
               check=lambda res, row: check_dataset(
                   spark, res, second, expected, row, analyzed=ANALYZED)),
        ]
        if not traced:
            return ops
        state: dict = {}

        def infer(df):
            state["schema"] = infer_json_schema(spark, df, column="doc",
                                                sample_ratio=0.1)
            return state["schema"]

        def decoded():
            return docs_df().select(F.from_json(
                "doc", state["schema"]).alias("_r")).select("_r.*")

        def check_terms(res, row):
            got = [(r["key"], r["doc_count"]) for r in res]
            want = [tuple(kv) for kv in expected["ranked"][:len(got)]]
            return None if [c for _, c in got] == [c for _, c in want] \
                else "terms agg counts differ from the generator's"

        plain = os.path.join(out, "plain")
        return ops + [
            Op("schema.infer", build=docs_df, act=infer, aux=True,
               check=lambda res, row: None if "rule_name" in res.names
               else "inferred schema lacks rule_name"),
            Op("etl.terms_agg", build=decoded, aux=True,
               act=lambda df: discover_rules(df).collect(),
               check=check_terms),
            Op("etl.export_plain", build=docs_df, aux=True,
               act=lambda df: json_docs_to_parquet(spark, df, second, plain),
               check=lambda res, row: check_dataset(
                   spark, res, second, expected, row)),
        ]

    return Workload(ops_for_pass,
                    cleanup=lambda: shutil.rmtree(work_dir,
                                                  ignore_errors=True))

