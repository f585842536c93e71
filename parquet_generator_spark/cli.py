"""Non-interactive CLI mirroring the reference's Bootstrap flow.

The reference (Bootstrap.java:87-154) is an interactive readline
loop: list recent rules with doc counts, pick one, export it. A
library engine can't block on stdin, so the same two steps are
subcommands a user scripts instead:

    python -m parquet_generator_spark discover \
        --source docs.parquet [--doc-column doc] [--field rule_name]

    python -m parquet_generator_spark export \
        --source docs.parquet --rule office365-signin --out ./out

    python -m parquet_generator_spark export-dated \
        --base-dir ./indices --prefix office365_signin \
        --days 7 --today 2024-01-30 --rule office365-signin --out ./out

`discover` prints the terms-agg rule table (Bootstrap.java:270-286)
from the one decoded `--field`, with no schema inference (so it has
no `--sample-ratio`); `export` runs infer -> nullable-promote ->
schema.asvc -> lenient decode -> match_phrase filter -> one parquet
file per date (Bootstrap.java:288-337 / EsParquetWriter.java);
`export-dated` is the same export over already-parquet dated sources
(the office365_signin fixture layout).
"""

from __future__ import annotations

import argparse
import sys
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from parquet_generator_spark.etl import DEFAULT_SAMPLE_RATIO


def _load_source(spark: SparkSession, path: str,
                 doc_column: str = "doc") -> DataFrame:
    # JSON-lines text lands under the caller's --doc-column name, so
    # discover/export over .jsonl sources honor a non-default column
    # the same way parquet sources do
    if path.endswith((".jsonl", ".json", ".jsonl.gz", ".json.gz")):
        return spark.read.text(path).withColumnRenamed(
            "value", doc_column)
    return spark.read.parquet(path)


def _field_schema(path: str) -> T.StructType:
    """The one-field decode schema of a dotted field path: each dot
    nests a struct, and the leaf is a string, so any JSON scalar
    (a number too) decodes to its text and prints as a bucket key."""
    dt: T.DataType = T.StringType()
    for name in reversed(path.split(".")):
        dt = T.StructType([T.StructField(name, dt)])
    return dt


def _cmd_discover(spark: SparkSession,
                  args: argparse.Namespace) -> int:
    from parquet_generator_spark.etl import discover_rules
    from parquet_generator_spark.sources.es_source import decode_docs

    df = _load_source(spark, args.source, args.doc_column)
    # the terms agg reads one field, so only that field is decoded: no
    # schema-inference job, one scan (Bootstrap.java:270-286 lists
    # rules before any schema work too)
    if args.doc_column in df.columns:
        df = decode_docs(df, args.doc_column, _field_schema(args.field))
    rows = discover_rules(df, field=args.field,
                          size=args.size).collect()
    print(f"{'rule':40s} {'doc_count':>10}")
    for r in rows:
        print(f"{r['key']!s:40} {r['doc_count']:>10}")
    return 0


def _cmd_export(spark: SparkSession, args: argparse.Namespace) -> int:
    from parquet_generator_spark.etl import json_docs_to_parquet

    df = _load_source(spark, args.source, args.doc_column)
    path = json_docs_to_parquet(
        spark, df, args.rule, args.out,
        doc_column=args.doc_column, rule_field=args.field,
        date_column=args.date_column,
        sample_ratio=args.sample_ratio)
    print(path)
    return 0


def _cmd_export_dated(spark: SparkSession,
                      args: argparse.Namespace) -> int:
    from parquet_generator_spark.etl import dated_parquet_to_parquet

    path = dated_parquet_to_parquet(
        spark, args.base_dir, args.prefix, args.days,
        date.fromisoformat(args.today), args.rule, args.out,
        rule_field=args.field)
    print(path)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="parquet_generator_spark",
        description="ES->parquet ETL engine (reference Bootstrap "
                    "flow, non-interactive)")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("discover", help="list rules with doc counts")
    d.add_argument("--source", required=True)
    d.add_argument("--doc-column", default="doc")
    d.add_argument("--field", default="rule_name")
    d.add_argument("--size", type=int, default=10)

    e = sub.add_parser("export", help="export one rule to parquet")
    e.add_argument("--source", required=True)
    e.add_argument("--rule", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--doc-column", default="doc")
    e.add_argument("--field", default="rule_name")
    e.add_argument("--date-column", default="source_date")
    e.add_argument("--sample-ratio", type=float,
                   default=DEFAULT_SAMPLE_RATIO)

    x = sub.add_parser("export-dated",
                       help="export a rule from dated parquet sources")
    x.add_argument("--base-dir", required=True)
    x.add_argument("--prefix", required=True)
    x.add_argument("--days", type=int, required=True)
    x.add_argument("--today", required=True,
                   help="anchor date YYYY-MM-DD")
    x.add_argument("--rule", required=True)
    x.add_argument("--out", required=True)
    x.add_argument("--field", default="rule_name")
    return p


def main(argv: list[str] | None = None,
         spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from parquet_generator_spark.session import get_spark
        spark = get_spark("parquet-generator-cli")
    try:
        if args.cmd == "discover":
            return _cmd_discover(spark, args)
        if args.cmd == "export":
            return _cmd_export(spark, args)
        if args.cmd == "export-dated":
            return _cmd_export_dated(spark, args)
        raise SystemExit(2)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
