"""Ninth pipeline wave (round 6): scale-path variants and shared
stages for the heaviest round-5 operators — the sketch-based table
profiler (the 100-TB default the exact profiler can't be), and the
materialized near-dup candidate-edge stage reused by the iterative
graph queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.plans.llm_queries8 import PROFILE_COLS
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

PROFILE_RSD = 0.02


def profile_frame_approx(li: DataFrame) -> DataFrame:
    """The production profiler plan: ONE aggregate pass over the fact
    table computing rows / nulls / min / max / approx-distinct for
    every profiled column. ``approx_count_distinct`` (HLL++) buffers
    aggregate beside the plain stats WITHOUT the Expand that exact
    multi-distinct forces (C x N expanded rows through the
    aggregation — the r5 profiler's scale-killer), so the whole
    profile is one partial-aggregated codegen pass: the shape that
    survives a 100x fact table. Plan-asserted Expand-free in
    tests/test_plans.py."""
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.approx_count_distinct(c, rsd=PROFILE_RSD)
            .alias(f"{c}__approx"),
        ]
    return li.agg(*aggs)


def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table_profile`'s 100-TB path: sketched distinct counts. The
    HLL estimate is engine-specific, so (the approx_sketches recipe)
    the OUTPUT carries the exact stats plus an in-bound boolean
    ``hll_ok`` (|approx - exact| <= 3*rsd*exact) — the exact
    multi-distinct here exists only to judge the sketch for the
    correctness gate; at scale you ship the sketch column alone and
    drop the exact aggregate.

    Crossover note (don't "optimize" this backwards at small scale):
    at sf0.1 this is SLOWER than the exact `table_profile` (~3.1s vs
    ~2.4s) because the HLL sketch buffers dominate below the Expand
    crossover. The point is the asymptote: exact multi-distinct
    forces an Expand (row multiplication by the number of distinct
    aggs) whose cost grows with data; the sketch pass stays one
    Expand-free aggregate with constant-size state per column, which
    is the only shape that survives 100 TB."""
    li = load_table(spark, "lineitem", sf_dir)
    distincts = li.agg(*[F.countDistinct(c).alias(f"{c}__exact")
                         for c in PROFILE_COLS])
    one = broadcast_scalars(distincts, profile_frame_approx(li))
    structs = ", ".join(
        f"struct('{c}' AS column_name, {c}__rows AS n_rows, "
        f"{c}__nulls AS n_nulls, "
        f"abs({c}__approx - {c}__exact) "
        f"<= {c}__exact * {3 * PROFILE_RSD!r} AS hll_ok, "
        f"{c}__min AS vmin, {c}__max AS vmax)"
        for c in PROFILE_COLS)
    return (one.select(F.explode(F.expr(f"array({structs})"))
                       .alias("p"))
            .select("p.*").orderBy("column_name"))


def _profile_approx_oracle() -> str:
    parts = []
    for c in PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_nulls, "
            f"TRUE AS hll_ok, "
            f"CAST(min({c}) AS VARCHAR) AS vmin, "
            f"CAST(max({c}) AS VARCHAR) AS vmax FROM lineitem")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


TABLE_PROFILE_APPROX_ORACLE = _profile_approx_oracle()

QUERIES.update({"table_profile_approx": table_profile_approx})
ORACLES.update({"table_profile_approx": TABLE_PROFILE_APPROX_ORACLE})


# --- real image decode through the multimodal plumbing --------------

def synthesize_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL image payloads: each doc becomes an actual
    24-bit BMP whose dimensions and pixel values are pure functions
    of doc_id — so a relational oracle can recompute the decoded
    statistics analytically while Spark must parse genuine BMP bytes
    to get them. Arrow-batched narrow map (the synthesis stands in
    for reading a real image column)."""
    import numpy as np
    import pandas as pd

    from parquet_generator_spark.operators.multimodal import encode_bmp

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 8, 3 + did % 5
                y, x, c = np.meshgrid(np.arange(h), np.arange(w),
                                      np.arange(3), indexing="ij")
                arr = ((did * 7 + y * 31 + x * 13 + c * 5) % 256)
                ids.append(did)
                payloads.append(encode_bmp(arr.astype(np.uint8)))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return docs.select("doc_id").mapInPandas(synth, schema=schema)


def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode: synthesize genuine BMP bytes,
    then parse them back (header + bottom-up BGR pixel rows) through
    the mapInPandas decode stage and report decoded width / height /
    channels / mean pixel value. The oracle recomputes the same
    numbers from the pixel-generating formula — a parser bug (wrong
    stride, padding, channel order, row direction) shifts the mean
    and fails the hash. See multimodal.decode_image (pure stdlib
    BMP/PNG decoders; cites the reference's binary-sidecar handling,
    EsParquetWriter.java:62-98, as the payload-column precedent)."""
    from parquet_generator_spark.operators.multimodal import (
        decode_image_stats,
    )
    docs = load_table(spark, "documents", sf_dir)
    media = synthesize_bmp_media(docs)
    return decode_image_stats(media).orderBy("media_id")


IMAGE_DECODE_STATS_ORACLE = """
SELECT d.doc_id AS media_id,
       CAST(4 + d.doc_id % 8 AS INTEGER) AS width,
       CAST(3 + d.doc_id % 5 AS INTEGER) AS height,
       3 AS channels,
       round(avg(CAST((d.doc_id * 7 + y.y * 31 + x.x * 13 + c.c * 5)
                      % 256 AS DOUBLE)), 4) AS mean_px
FROM documents d
JOIN range(0, 8) y(y) ON y.y < 3 + d.doc_id % 5
JOIN range(0, 12) x(x) ON x.x < 4 + d.doc_id % 8
JOIN range(0, 3) c(c) ON TRUE
GROUP BY d.doc_id
ORDER BY media_id
"""

QUERIES.update({"image_decode_stats": image_decode_stats})
ORACLES.update({"image_decode_stats": IMAGE_DECODE_STATS_ORACLE})
