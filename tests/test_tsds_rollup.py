"""TSDS downsample-on-write (sinks/tsds_rollup.py): the served
rollup equals the per-query one, counter rates stitched from 6h
buckets equal the raw rates, and the serve plan never touches raw
events."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_generator_spark.sinks.tsds_rollup import (
    serve_rollup,
    train_rollup,
)
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return [tuple(r) for r in
            df.orderBy("event_type", "bucket").collect()]


def test_serve_plan_scans_rollup_not_events(spark, tmp_path):
    """The downsample-on-write point: serving scans the snapshot's
    series x buckets files, never raw events — no window, no raw
    aggregation in the plan."""
    root = str(tmp_path / "r")
    train_rollup(spark, load_table(spark, "events", SF), root)
    df = serve_rollup(spark, root)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan
    assert "FileScan" in plan
    assert "Window" not in plan and "HashAggregate" not in plan
    # the scanned files are the snapshot's data files
    files = list(df.inputFiles())
    assert files and all("rollup_6h" in f for f in files)


def test_served_key_matches_per_query_rollup(spark, tmp_path):
    """Value identity between the materialized rollup and the
    per-query dsl_tsds_downsample (the driver proves the same via
    the shared oracle; this pins it in-suite)."""
    from parquet_generator_spark.plans.esdsl_aggs import dsl_tsds_downsample

    root = str(tmp_path / "r")
    train_rollup(spark, load_table(spark, "events", SF), root)
    got = _sorted_rows(serve_rollup(spark, root))
    want = [tuple(r) for r in dsl_tsds_downsample(spark, SF)
            .collect()]
    assert got == want


# ------------------------------------------------------------------
# counter rollup (TSDS RATE service)
# ------------------------------------------------------------------

def _ctr_points(spark):
    """A small synthetic counter series with organic resets and
    both within-bucket and cross-bucket (6h boundary) deltas."""
    from parquet_generator_spark.plans.esql import _ctr_source

    ev = load_table(spark, "events", SF)
    return _ctr_source(ev)


def test_ctr_served_day_rate_equals_raw(spark, tmp_path):
    """serve_ctr_rates(86400) from the 6h rollup must reproduce the
    raw per-(series, day) rate EXACTLY (integral counters: the
    stitched increase is bit-identical to the raw lag-sum)."""
    from pyspark.sql import Window

    from parquet_generator_spark.sinks.tsds_rollup import (
        serve_ctr_rates,
        train_ctr_rollup,
    )

    pts = _ctr_points(spark)
    root = str(tmp_path / "cr")
    train_ctr_rollup(spark, pts, root, series="user_id")
    served = serve_ctr_rates(spark, root, 86400)

    day = (F.unix_timestamp("ts") / 86400).cast("long") * 86400
    w = (Window.partitionBy("user_id", "_day")
         .orderBy("ts", "event_id"))
    delta = F.col("ctr") - F.lag("ctr").over(w)
    raw = (pts.withColumn("_day", day)
           .withColumn("_inc",
                       F.when(delta.isNull(), F.lit(0))
                       .when(delta >= 0, delta)
                       .otherwise(F.col("ctr")))
           .groupBy("user_id", "_day")
           .agg(F.sum("_inc").alias("_i"),
                F.unix_micros(F.max("ts")).alias("_tmax"),
                F.unix_micros(F.min("ts")).alias("_tmin")))
    span = F.col("_tmax") - F.col("_tmin")
    raw = raw.select(
        F.col("user_id").alias("series"),
        F.col("_day").alias("bucket"),
        F.when(span > 0, F.col("_i").cast("double") * 1000000.0
               / span.cast("double")).alias("rate"))
    got = {(r["series"], r["bucket"]): r["rate"]
           for r in served.collect()}
    want = {(r["series"], r["bucket"]): r["rate"]
            for r in raw.collect()}
    assert got == want and len(got) > 0


def test_ctr_serve_rejects_finer_buckets(spark, tmp_path):
    import pytest as _pytest

    from parquet_generator_spark.sinks.tsds_rollup import (
        serve_ctr_rates,
        train_ctr_rollup,
    )

    pts = _ctr_points(spark)
    root = str(tmp_path / "cf")
    train_ctr_rollup(spark, pts, root, series="user_id")
    with _pytest.raises(ValueError, match="not a multiple"):
        serve_ctr_rates(spark, root, 3600)
