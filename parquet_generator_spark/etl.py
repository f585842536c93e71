"""End-to-end ETL pipeline: the reference's Bootstrap.main flow,
re-expressed as one declarative Spark job.

Reference flow (Bootstrap.java:234-337):
  discover recent dated indices -> terms-agg rule names -> pick rule
  -> infer schema from samples -> promote nullable -> save
  schema.asvc -> per-index scroll+filter+decode -> per-index parquet.

Spark flow (this module): the same steps, but index fan-out is a
partition column instead of a thread pool, schema inference merges
across all samples instead of widest-doc-wins, and the write is a
``rebalance`` on the date followed by a distributed ``partitionBy``,
one file per date as the reference writes one per index.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.esdsl import match_phrase, search
from parquet_generator_spark.schema.infer import infer_json_schema
from parquet_generator_spark.sinks.parquet_sink import write_partitioned
from parquet_generator_spark.sources.dated import discover_recent_sources
from parquet_generator_spark.sources.es_source import decode_docs

# share of the documents schema inference reads, for `cli export` and
# json_docs_to_parquet alike; an input under about 1/ratio documents can
# sample none
DEFAULT_SAMPLE_RATIO = 0.1


def discover_rules(df: DataFrame, field: str = "rule_name",
                   size: int = 10) -> DataFrame:
    """Bootstrap.java:270-286: terms agg listing rules + doc counts."""
    return search(df, {"query": {"match_all": {}},
                       "aggs": {"rules": {"terms": {"field": field,
                                                    "size": size}}}})


def materialize_analyzed(df: DataFrame,
                         columns: dict[str, tuple[str, str]]
                         ) -> DataFrame:
    """Index-time analysis (ES parity): materialize stemmed token
    arrays at WRITE time so analyzer matches downstream are plain
    array scans instead of per-query stemmer passes — ES itself
    analyzes at index time (the reference's match_phrase at
    EsParquetWriter.java:69 runs against an index-time-analyzed
    field). ``columns`` maps output column -> (text column,
    analyzer name), e.g. ``{"analyzed_es": ("text", "spanish")}``.
    The stored array is value-identical to the query-time path's
    per-document stemmed binding (operators/analyzers section note;
    pinned in tests/test_stored_analysis.py)."""
    from parquet_generator_spark.operators.analyzers import (
        analyzed_tokens,
        get_analyzer,
    )

    for out, (src, analyzer_name) in columns.items():
        df = df.withColumn(
            out, analyzed_tokens(src, get_analyzer(analyzer_name)))
    return df


def json_docs_to_parquet(
    spark: SparkSession,
    docs_df: DataFrame,
    rule_name: str,
    out_dir: str,
    *,
    doc_column: str = "doc",
    rule_field: str = "rule_name",
    date_column: str = "source_date",
    sample_ratio: float = DEFAULT_SAMPLE_RATIO,
    analyzed_columns: dict[str, tuple[str, str]] | None = None,
) -> str:
    """Full pipeline for a raw JSON-document source: infer a merged
    schema from a sample, leniently decode every doc, filter to the
    chosen rule (match_phrase, as EsParquetWriter.java:69 does), and
    write per-date parquet + schema.asvc sidecar. Pass
    ``analyzed_columns`` to materialize index-time analyzed token
    arrays into the written dataset (:func:`materialize_analyzed`).
    Raises ``ValueError`` when the inferred schema lacks ``rule_field``.
    """
    schema = infer_json_schema(spark, docs_df, column=doc_column,
                               sample_ratio=sample_ratio)
    decoded = decode_docs(docs_df, doc_column, schema)
    if rule_field.split(".")[0].lower() not in {
            c.lower() for c in decoded.columns}:
        raise ValueError(
            f"rule_field {rule_field!r} is not in the schema inferred "
            f"from a sample_ratio={sample_ratio} sample of the "
            f"documents; raise sample_ratio (a small input can sample "
            f"no document at all)")
    filtered = decoded.filter(match_phrase(rule_field, rule_name))
    if analyzed_columns:
        filtered = materialize_analyzed(filtered, analyzed_columns)
    return write_partitioned(
        filtered, out_dir, rule_name.replace("-", "_"),
        partition_col=date_column)


def dated_parquet_to_parquet(
    spark: SparkSession,
    base_dir: str,
    prefix: str,
    n_days: int,
    today: date,
    rule_name: str,
    out_dir: str,
    *,
    rule_field: str = "rule_name",
) -> str:
    """Reference-shaped run over already-parquet dated sources (the
    office365_signin fixture layout): discover recent dated files,
    read them as one scan with a source_date column, filter to the
    rule, rewrite partitioned by date."""
    sources = discover_recent_sources(base_dir, prefix, n_days, today)
    if not sources:
        raise FileNotFoundError(
            f"no dated sources {prefix}YYYYMMDD under {base_dir}")
    parts = []
    for d, path in sources:
        parts.append(spark.read.parquet(path)
                     .withColumn("source_date", F.lit(d.isoformat())))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    filtered = df.filter(match_phrase(rule_field, rule_name))
    return write_partitioned(filtered, out_dir,
                             rule_name.replace("-", "_"),
                             partition_col="source_date")
