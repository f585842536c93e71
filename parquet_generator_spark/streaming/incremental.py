"""Streaming incremental dedup: classify each micro-batch of
incoming documents against a STATIC corpus as exact_dup / near_dup /
new, appending the verdicts to a parquet log.

The production ingest-loop shape (Auto-Loader-style file stream +
foreachBatch): foreachBatch hands every micro-batch to the full
batch API, so each one runs `operators.dedup.classify_cross` (the md5
semi-join and the cross-side-only MinHash banding of
`minhash_lsh_pairs_cross`) over corpus + batch — state lives in the
static corpus (whose band signatures a production deployment would
precompute and persist), never in the stream, so there is nothing
for a watermark to bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup


def incremental_dedup_writer(stream: DataFrame, corpus: DataFrame,
                             out_path: str, checkpoint_dir: str,
                             threshold: float = 0.5,
                             id_col: str = "doc_id",
                             content_col: str = "text"):
    """writeStream.foreachBatch classifier; drains with availableNow
    (continuous ingest: drop the trigger)."""

    def sided(df: DataFrame, side: int) -> DataFrame:
        return df.select(F.col(id_col).alias("id"),
                         F.col(content_col).alias("c"),
                         F.lit(side).alias("side"))

    def classify_batch(batch_df: DataFrame, batch_id: int) -> None:
        (dedup.classify_cross(
            sided(corpus, 0).unionByName(sided(batch_df, 1)),
            "id", "c", "side", threshold)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_path))

    return (stream.writeStream.foreachBatch(classify_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
