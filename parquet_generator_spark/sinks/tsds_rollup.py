"""TSDS downsample-on-write: the ES 8.5+ downsampled-index
lifecycle (VERDICT r12 mandate #4) — the dedup-index snapshot
lifecycle applied to metrics.

ES downsampling REPLACES a raw time-series index with one document
per (dimension tuple, bucket) carrying last/min/max/sum/count.
``dsl_tsds_downsample`` computes that rollup per QUERY; this sink
materializes it ONCE through the snapshot table format
(sinks/snapshots.py: versioned manifests, time travel) and keeps it
current with MERGE-ON-APPEND — a new slice of events pays one
grouped pass over the slice plus a merge against the existing
rollup (series x buckets rows, tiny next to raw), never a re-scan
of the historical corpus.

Merge correctness details:
- ``sum`` is carried UNROUNDED internally (_sum_raw) and rounded at
  serve time — merging rounded partial sums would drift from the
  per-query rollup; min/max commute with rounding (monotone), so
  they merge directly;
- the last-value pick carries its (ts, event_id) witness columns so
  a merge can re-adjudicate "latest" across old and new slices with
  the same tie-break the per-query window uses;
- append == rebuild is pinned in tests/test_tsds_rollup.py, and the
  driver key ``dsl_tsds_downsample_served`` reuses the per-query
  key's DuckDB oracle VERBATIM, so the driver itself proves the
  materialized rollup value-identical to the on-the-fly one.

At 100 TB this is the TSDS write path: the rollup shuffles on
(series, bucket) — the _tsid routing key the index already uses —
once per ingested slice, and every downsample-granularity query
afterwards scans series x buckets rows instead of raw events.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_generator_spark.sinks import snapshots

BUCKET_SECONDS = 21600  # the 6h ES downsample granularity


def _meta_path(root: str) -> str:
    return os.path.join(root, "rollup_meta.json")


def _slice_rollup(events: DataFrame) -> DataFrame:
    """The internal per-slice rollup: one row per (series, bucket)
    with mergeable stats + the last-value witness."""
    b = events.select(
        "event_type", "value", "ts", "event_id",
        F.date_format(
            F.timestamp_seconds(
                (F.unix_timestamp("ts") / BUCKET_SECONDS)
                .cast("long") * BUCKET_SECONDS),
            "yyyy-MM-dd HH:mm:ss").alias("bucket"))
    w = (Window.partitionBy("event_type", "bucket")
         .orderBy(F.desc("ts"), F.desc("event_id")))
    last = (b.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("event_type", "bucket",
                    F.col("ts").alias("_last_ts"),
                    F.col("event_id").alias("_last_id"),
                    F.col("value").alias("_last_raw")))
    stats = (b.groupBy("event_type", "bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("value").alias("_min_raw"),
                  F.max("value").alias("_max_raw"),
                  F.sum("value").alias("_sum_raw")))
    return stats.join(last, ["event_type", "bucket"])


def _merge(old: DataFrame, new: DataFrame) -> DataFrame:
    """Merge two internal rollups: counts/sums add, min/max fold,
    the later (ts, id) witness wins the last value."""
    u = old.unionByName(new)
    return (u.groupBy("event_type", "bucket")
            .agg(F.sum("n").alias("n"),
                 F.min("_min_raw").alias("_min_raw"),
                 F.max("_max_raw").alias("_max_raw"),
                 F.sum("_sum_raw").alias("_sum_raw"),
                 F.max(F.struct("_last_ts", "_last_id",
                                "_last_raw")).alias("_w"))
            .select("event_type", "bucket", "n", "_min_raw",
                    "_max_raw", "_sum_raw",
                    F.col("_w._last_ts").alias("_last_ts"),
                    F.col("_w._last_id").alias("_last_id"),
                    F.col("_w._last_raw").alias("_last_raw")))


def _table(root: str) -> str:
    return os.path.join(root, "rollup_6h")


def train_rollup(spark: SparkSession, events: DataFrame,
                 root: str) -> int:
    """Initial downsample-on-write: roll the full slice up and
    commit it as the snapshot table's first (or a fresh overwrite)
    version."""
    os.makedirs(root, exist_ok=True)
    df = _slice_rollup(events)
    path = _table(root)
    try:
        snapshots.current_version(path)
    except FileNotFoundError:
        v = snapshots.create_table(spark, path, df)
    else:
        v = snapshots.commit_overwrite(spark, path, df)
    with open(_meta_path(root), "w") as fh:
        json.dump({"version": v, "bucket_seconds": BUCKET_SECONDS},
                  fh)
    return v


def append_rollup(spark: SparkSession, root: str,
                  new_events: DataFrame) -> int:
    """Merge-on-append: one grouped pass over the NEW slice, one
    merge against the current rollup (series x buckets rows), one
    overwrite commit. The historical corpus is never re-scanned."""
    path = _table(root)
    old = snapshots.read_snapshot(spark, path)
    merged = _merge(old, _slice_rollup(new_events))
    v = snapshots.commit_overwrite(spark, path, merged)
    with open(_meta_path(root), "w") as fh:
        json.dump({"version": v, "bucket_seconds": BUCKET_SECONDS},
                  fh)
    return v


def serve_rollup(spark: SparkSession, root: str,
                 version: int | None = None) -> DataFrame:
    """The public downsampled view (the dsl_tsds_downsample output
    schema), read from the snapshot — no raw-events scan."""
    df = snapshots.read_snapshot(spark, _table(root), version)
    return df.select(
        "event_type", "bucket", "n",
        F.round("_min_raw", 4).alias("min_value"),
        F.round("_max_raw", 4).alias("max_value"),
        F.round("_sum_raw", 4).alias("sum_value"),
        F.round("_last_raw", 4).alias("last_value"))


# ------------------------------------------------------------------
# counter rollup (TSDS RATE service)
# ------------------------------------------------------------------
# A gauge rollup (above) stores order-free mergeable stats; a
# COUNTER rate cannot be served from those — the reset rule (a drop
# means the process restarted and climbed from 0) depends on the
# per-series point ORDER. The counter rollup therefore stores, per
# (series, 6h bucket): the first/last (ts, value) witnesses and the
# reset-adjusted WITHIN-bucket increase. Any day-or-coarser bucket
# whose width is a multiple of 6h is then exact: the day's increase
# is the sum of within-bucket increases plus the reset-adjusted
# boundary deltas between consecutive non-empty sub-buckets, and
# the day's observed span is (last witness - first witness). This
# mirrors ES TSDS downsampling of counter fields (8.5+): rate over
# a downsampled index uses exactly the first/last+increase shape.
#
# Merge-on-append contract: slices must be time-disjoint per
# (series, bucket) — the ES model, where downsampling runs on
# SEALED indices and appends are later time slices. The merge
# re-adjudicates first/last by witness and stitches the boundary
# increase between the two slices; interleaved slices would need
# the raw points back and raise instead.

def _ctr_bucket(ts_col):
    return ((F.unix_timestamp(ts_col) / BUCKET_SECONDS)
            .cast("long") * BUCKET_SECONDS)


def ctr_slice_rollup(points: DataFrame, series: str,
                     ts: str = "ts", tie: str = "event_id",
                     val: str = "ctr") -> DataFrame:
    """Per (series, 6h bucket): first/last witnesses (epoch-us +
    tie + value) and the reset-adjusted within-bucket increase.
    The lag window and the groupBy share ONE (series, bucket)
    shuffle — the _tsid routing a TSDS index already performs."""
    b = points.select(
        F.col(series).alias("series"), F.col(ts).alias("_ts"),
        F.col(tie).alias("_tie"), F.col(val).alias("_val"),
        _ctr_bucket(F.col(ts)).alias("bk"))
    w = Window.partitionBy("series", "bk").orderBy("_ts", "_tie")
    delta = F.col("_val") - F.lag("_val").over(w)
    b = b.withColumn(
        "_inc",
        F.when(delta.isNull(), F.lit(0))
        .when(delta >= 0, delta)
        .otherwise(F.col("_val")))
    us = F.unix_micros(F.col("_ts"))
    pt = F.struct(us.alias("u"), F.col("_tie").alias("t"),
                  F.col("_val").alias("v"))
    return (b.groupBy("series", "bk")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(pt).alias("_f"), F.max(pt).alias("_l"),
                 F.sum("_inc").alias("inner_inc"))
            .select("series", "bk", "n",
                    F.col("_f.u").alias("first_us"),
                    F.col("_f.t").alias("first_tie"),
                    F.col("_f.v").alias("first_val"),
                    F.col("_l.u").alias("last_us"),
                    F.col("_l.t").alias("last_tie"),
                    F.col("_l.v").alias("last_val"),
                    "inner_inc"))


def _reset_adj(delta, cur):
    return (F.when(delta.isNull(), F.lit(0))
            .when(delta >= 0, delta).otherwise(cur))


def ctr_merge(old: DataFrame, new: DataFrame) -> DataFrame:
    """Merge two time-disjoint counter-rollup slices: first/last by
    witness, n adds, and the combined within-bucket increase is
    earlier.inner + boundary(earlier.last -> later.first) +
    later.inner. Overlap per (series, bucket) raises at action time
    via the _overlap sentinel column (assert_true)."""
    o = old.select([F.col(c).alias(f"o_{c}") if c not in
                    ("series", "bk") else F.col(c)
                    for c in old.columns])
    nw = new.select([F.col(c).alias(f"n_{c}") if c not in
                     ("series", "bk") else F.col(c)
                     for c in new.columns])
    j = o.join(nw, ["series", "bk"], "full_outer")
    both = F.col("o_n").isNotNull() & F.col("n_n").isNotNull()
    old_first = (F.struct("o_first_us", "o_first_tie")
                 < F.struct("n_first_us", "n_first_tie"))
    # time-disjoint check: the earlier slice's last witness must
    # precede the later slice's first witness
    disjoint = F.when(
        ~both, F.lit(True)).otherwise(F.when(
            old_first,
            F.struct("o_last_us", "o_last_tie")
            < F.struct("n_first_us", "n_first_tie")).otherwise(
            F.struct("n_last_us", "n_last_tie")
            < F.struct("o_first_us", "o_first_tie")))
    guard = F.assert_true(
        disjoint, F.lit("ctr_merge: interleaved slices for a "
                        "(series, bucket) — counter rollups merge "
                        "only time-disjoint appends"))
    e = {}  # earlier slice fields / later slice fields
    for f in ("first_us", "first_tie", "first_val"):
        e[f] = F.when(old_first, F.col(f"o_{f}")).otherwise(
            F.col(f"n_{f}"))
    lt = {}
    for f in ("last_us", "last_tie", "last_val"):
        lt[f] = F.when(old_first, F.col(f"n_{f}")).otherwise(
            F.col(f"o_{f}"))
    b_prev = F.when(old_first, F.col("o_last_val")).otherwise(
        F.col("n_last_val"))
    b_next = F.when(old_first, F.col("n_first_val")).otherwise(
        F.col("o_first_val"))
    binc = _reset_adj(b_next - b_prev, b_next)
    one = F.col("o_n").isNull()  # only-new rows
    merged = j.select(
        "series", "bk",
        F.when(guard.isNull() & both,
               F.col("o_n") + F.col("n_n"))
        .when(one, F.col("n_n")).otherwise(F.col("o_n")).alias("n"),
        *[F.when(both, e[f]).when(one, F.col(f"n_{f}"))
          .otherwise(F.col(f"o_{f}")).alias(f)
          for f in ("first_us", "first_tie", "first_val")],
        *[F.when(both, lt[f]).when(one, F.col(f"n_{f}"))
          .otherwise(F.col(f"o_{f}")).alias(f)
          for f in ("last_us", "last_tie", "last_val")],
        F.when(both,
               F.col("o_inner_inc") + binc + F.col("n_inner_inc"))
        .when(one, F.col("n_inner_inc"))
        .otherwise(F.col("o_inner_inc")).alias("inner_inc"))
    return merged


def _ctr_table(root: str) -> str:
    return os.path.join(root, "ctr_rollup_6h")


def train_ctr_rollup(spark: SparkSession, points: DataFrame,
                     root: str, series: str,
                     ts: str = "ts", tie: str = "event_id",
                     val: str = "ctr") -> int:
    os.makedirs(root, exist_ok=True)
    df = ctr_slice_rollup(points, series, ts, tie, val)
    path = _ctr_table(root)
    try:
        snapshots.current_version(path)
    except FileNotFoundError:
        return snapshots.create_table(spark, path, df)
    return snapshots.commit_overwrite(spark, path, df)


def append_ctr_rollup(spark: SparkSession, root: str,
                      new_points: DataFrame, series: str,
                      ts: str = "ts", tie: str = "event_id",
                      val: str = "ctr") -> int:
    path = _ctr_table(root)
    old = snapshots.read_snapshot(spark, path)
    merged = ctr_merge(old, ctr_slice_rollup(new_points, series,
                                             ts, tie, val))
    return snapshots.commit_overwrite(spark, path, merged)


def serve_ctr_rates(spark: SparkSession, root: str,
                    bucket_seconds: int,
                    version: int | None = None) -> DataFrame:
    """Per (series, requested bucket) per-second rates from the
    rollup — NO raw-points scan. ``bucket_seconds`` must be a
    multiple of the 6h rollup granularity (ES serves a rate from a
    downsampled index only when the requested interval is a
    multiple of the downsample interval). Output: series, bucket
    epoch-seconds, rate (NULL when the span is empty) — the exact
    arithmetic of the per-query TSDS rate (increase * 1e6 / span_us
    over the bucket's OBSERVED first..last witnesses)."""
    if bucket_seconds % BUCKET_SECONDS != 0:
        raise ValueError(
            f"serve_ctr_rates: requested bucket {bucket_seconds}s "
            f"is not a multiple of the rollup granularity "
            f"{BUCKET_SECONDS}s — query the raw series instead")
    r = snapshots.read_snapshot(spark, _ctr_table(root), version)
    out_bk = ((F.col("bk") / bucket_seconds).cast("long")
              * bucket_seconds)
    r = r.withColumn("obk", out_bk)
    w = Window.partitionBy("series", "obk").orderBy("bk")
    prev_last = F.lag("last_val").over(w)
    binc = _reset_adj(F.col("first_val") - prev_last,
                      F.col("first_val"))
    r = r.withColumn("_binc", binc)
    per = (r.groupBy("series", "obk")
           .agg(F.sum(F.col("inner_inc") + F.col("_binc"))
                .alias("_inc"),
                F.min("first_us").alias("_tmin"),
                F.max("last_us").alias("_tmax"),
                F.sum("n").alias("n")))
    span = F.col("_tmax") - F.col("_tmin")
    return per.select(
        "series", F.col("obk").alias("bucket"), "n",
        F.when(span > 0,
               F.col("_inc").cast("double") * F.lit(1000000.0)
               / span.cast("double")).alias("rate"))
