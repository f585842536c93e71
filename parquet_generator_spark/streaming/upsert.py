"""Latest-wins merge: one row per key across an existing table and a
new micro-batch.

The reference's continuous loop deletes and rewrites whole files per
pull (EsParquetWriter.java:52-56); the streaming-native form is a
per-micro-batch MERGE. ``streaming.windowed``'s update-mode top-k
runner merges its running counts with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_latest(existing: DataFrame | None, batch: DataFrame,
                 key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Latest-wins merge: one row per key, 'latest' = max(order_cols)
    (deterministic: add a unique tiebreaker as the last order col)."""
    combined = existing.unionByName(batch) if existing is not None else batch
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols])
    return (combined.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk"))
