"""TSDS downsample-on-write (sinks/tsds_rollup.py): merge-on-append
== full rebuild, snapshot versioning, and the serve plan never
touching raw events."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_generator_spark.sinks import snapshots
from parquet_generator_spark.sinks.tsds_rollup import (
    append_rollup,
    serve_rollup,
    train_rollup,
)
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return [tuple(r) for r in
            df.orderBy("event_type", "bucket").collect()]


def test_append_equals_rebuild(spark, tmp_path):
    """Split the events by a deterministic hash, train on slice A,
    append slice B: the merged rollup must equal training on the
    whole corpus at once — counts, extremes, UNROUNDED sums, and
    the (ts, id)-adjudicated last value."""
    ev = load_table(spark, "events", SF)
    a = ev.filter(F.crc32(F.col("event_id").cast("string")) % 2
                  == 0)
    b = ev.filter(F.crc32(F.col("event_id").cast("string")) % 2
                  == 1)

    inc_root = str(tmp_path / "inc")
    train_rollup(spark, a, inc_root)
    v = append_rollup(spark, inc_root, b)
    assert v == 2

    full_root = str(tmp_path / "full")
    train_rollup(spark, ev, full_root)

    got = _sorted_rows(serve_rollup(spark, inc_root))
    want = _sorted_rows(serve_rollup(spark, full_root))
    assert got == want and len(got) > 0
    # time travel: version 1 still readable and equals slice A alone
    a_only = _sorted_rows(serve_rollup(spark, inc_root, version=1))
    a_root = str(tmp_path / "a")
    train_rollup(spark, a, a_root)
    assert a_only == _sorted_rows(serve_rollup(spark, a_root))


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


def test_merge_is_order_insensitive(spark, tmp_path):
    """Appending slices in either order lands on the same rollup
    (counts/extremes/sum are commutative; the last-value witness
    adjudicates by (ts, id), not arrival order)."""
    ev = load_table(spark, "events", SF)
    h = F.crc32(F.col("event_id").cast("string")) % 3
    s0, s1, s2 = (ev.filter(h == i) for i in range(3))

    r1 = str(tmp_path / "r1")
    train_rollup(spark, s0, r1)
    append_rollup(spark, r1, s1)
    append_rollup(spark, r1, s2)

    r2 = str(tmp_path / "r2")
    train_rollup(spark, s2, r2)
    append_rollup(spark, r2, s0)
    append_rollup(spark, r2, s1)

    assert (_sorted_rows(serve_rollup(spark, r1))
            == _sorted_rows(serve_rollup(spark, r2)))
    assert snapshots.history(str(tmp_path / "r1" / "rollup_6h"))[
        -1]["version"] == 3


# ------------------------------------------------------------------
# counter rollup (TSDS RATE service)
# ------------------------------------------------------------------

def _ctr_points(spark):
    """A small synthetic counter series with organic resets and
    both within-bucket and cross-bucket (6h boundary) deltas."""
    from parquet_generator_spark.plans.esql import _ctr_source

    ev = load_table(spark, "events", SF)
    return _ctr_source(ev)


def _ctr_rows(df):
    return [tuple(r) for r in df.orderBy("series", "bk").collect()]


def test_ctr_append_equals_rebuild(spark, tmp_path):
    """Time-split the counter series (the TSDS append shape: later
    slices arrive later), train on the early half, append the late
    half: the stitched rollup — including the boundary increase
    between the slices — must equal training on everything."""
    from parquet_generator_spark.sinks.tsds_rollup import (
        append_ctr_rollup,
        train_ctr_rollup,
    )

    pts = _ctr_points(spark)
    cut = pts.selectExpr(
        "percentile_approx(unix_timestamp(ts), 0.5) AS c"
    ).first()["c"]
    early = pts.filter(F.unix_timestamp("ts") <= cut)
    late = pts.filter(F.unix_timestamp("ts") > cut)

    inc_root = str(tmp_path / "cinc")
    train_ctr_rollup(spark, early, inc_root, series="user_id")
    append_ctr_rollup(spark, inc_root, late, series="user_id")

    full_root = str(tmp_path / "cfull")
    train_ctr_rollup(spark, pts, full_root, series="user_id")

    got = _ctr_rows(snapshots.read_snapshot(
        spark, str(tmp_path / "cinc" / "ctr_rollup_6h")))
    want = _ctr_rows(snapshots.read_snapshot(
        spark, str(tmp_path / "cfull" / "ctr_rollup_6h")))
    assert got == want and len(got) > 0


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


def test_ctr_merge_rejects_interleaved_slices(spark, tmp_path):
    """Interleaved appends cannot be stitched without raw points —
    the merge must fail loudly, not silently corrupt increases."""
    import pytest as _pytest

    from parquet_generator_spark.sinks.tsds_rollup import (
        append_ctr_rollup,
        train_ctr_rollup,
    )

    pts = _ctr_points(spark)
    odd = pts.filter(F.col("event_id") % 2 == 1)
    even = pts.filter(F.col("event_id") % 2 == 0)
    root = str(tmp_path / "cx")
    train_ctr_rollup(spark, odd, root, series="user_id")
    with _pytest.raises(Exception, match="interleaved"):
        append_ctr_rollup(spark, root, even, series="user_id")
