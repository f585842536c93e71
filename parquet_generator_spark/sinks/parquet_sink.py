"""Parquet sink with per-date layout + Avro schema sidecar.

Reference parity: EsParquetWriter.java writes one parquet file per
source index under ``<rule>/<index>`` and Bootstrap.java:182-194
saves ``<rule>/schema.asvc`` alongside. Spark-first: a single
``partitionBy(date_col)`` write produces the same
one-directory-per-day layout, but distributed — each task streams
its partition, no driver funnel — and the sidecar captures the
all-nullable Avro schema. A ``rebalance`` on the date column ahead of
the write gives one file per date instead of one per scan task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from parquet_generator_spark.schema.avro_io import struct_to_avro
from parquet_generator_spark.schema.infer import promote_nullable


def write_partitioned(df: DataFrame, out_dir: str, name: str,
                      partition_col: str | None = "source_date",
                      mode: str = "overwrite") -> str:
    """Write ``df`` under ``out_dir`` partitioned by ``partition_col``
    with a ``schema.asvc`` sidecar. Returns the dataset path."""
    path = os.path.join(out_dir, name)
    partitioned = bool(partition_col) and partition_col in df.columns
    if partitioned:
        # rows of one date meet in one task, so each date is one file
        # (the reference's one file per index) instead of one per scan
        # task; AQE coalesces small dates and splits a skewed one at
        # its advisory partition size
        df = df.hint("rebalance", partition_col)
    writer = df.write.mode(mode)
    if partitioned:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)

    data_schema = promote_nullable(df.schema)
    os.makedirs(path, exist_ok=True)
    # underscore prefix = ignored by Spark/Hadoop directory scans
    # (like _SUCCESS), so the sidecar can live inside the dataset dir
    # the way the reference keeps schema.asvc next to its files
    with open(os.path.join(path, "_schema.asvc"), "w") as fh:
        fh.write(struct_to_avro(data_schema, name))
    return path
