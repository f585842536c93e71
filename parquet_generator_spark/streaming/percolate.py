"""Streaming percolation: the stored-query registry (the batch
dsl_percolate's PERCOLATORS shape) applied to a document STREAM —
the alerting engine: every micro-batch of incoming docs is matched
against every registered query, and (query_id, doc) alert rows
append to the sink.

Scale posture: identical to the batch percolator — the registry
compiles to Q codegen boolean columns evaluated in the stream's
narrow projection (no state, no shuffle before the sink), so
alerting throughput equals scan throughput; registry updates are a
plan swap, not a data operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_generator_spark.operators.esdsl import translate_query


def percolate_stream(stream: DataFrame,
                     registry: list[tuple[str, dict]],
                     id_col: str = "doc_id") -> DataFrame:
    """Match a (streaming or batch) docs frame against the
    stored-query registry; emits one row per (query_id, matching
    doc). Stateless: works in append mode with no watermark. The
    batch percolator query (plans.esdsl_queries.dsl_percolate)
    builds its pairs through this same function — one match
    semantics, two execution modes."""
    if not registry:
        # F.array() of zero columns is ARRAY<VOID>; return the
        # natural zero-row frame instead of an analysis error.
        # filter(lit(False)), not limit(0): limit is unsupported on
        # streaming Datasets, so the guard must stay plan-valid in
        # both execution modes.
        return (stream.select(
            F.lit("").alias("query_id"),
            F.col(id_col).alias(id_col)).filter(F.lit(False)))
    structs = [
        F.when(translate_query(q),
               F.struct(F.lit(qid).alias("query_id"),
                        F.col(id_col).alias(id_col)))
        for qid, q in registry]
    return (stream.select(F.explode(
        F.array_compact(F.array(*structs))).alias("m"))
        .select("m.query_id", f"m.{id_col}"))
