"""Watermarked windowed aggregation — one plan shape shared by the
batch query (oracle-checked) and the streaming query (test-checked):
tumbling windows aligned to the epoch, counts + value sums per
event_type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW = "6 hours"
WINDOW_SECONDS = 6 * 3600


def _recover_swap(path: str) -> None:
    """Heal a crash inside :func:`_swap`: if the published directory
    is missing but its renamed-aside predecessor survives, restore
    it so readers see the last complete version instead of nothing
    (which would undercount every later in-watermark merge)."""
    import os

    old = path + "_old"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)


def _swap(df: DataFrame, path: str) -> None:
    """Publish ``df`` at ``path`` without a lost-table crash window:
    write to staging, rename the current version ASIDE (atomic),
    promote staging (atomic), delete the aside copy LAST. A crash at
    any step leaves either the old or the new complete version
    recoverable — never neither (the old delete-then-rename protocol
    had exactly that hole between rmtree and replace)."""
    import os
    import shutil

    staging = path + "_staging"
    old = path + "_old"
    df.write.mode("overwrite").parquet(staging)
    if os.path.exists(old):  # leftover from an interrupted swap
        shutil.rmtree(old)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def windowed_event_counts(df: DataFrame, watermark: str | None = None,
                          ts_col: str = "ts",
                          key_col: str = "event_type") -> DataFrame:
    """Tumbling-window counts per key. Pass ``watermark`` (e.g.
    "1 hour") on streams so state for closed windows is dropped —
    unbounded state is the classic 100 TB streaming failure mode."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.window(ts_col, WINDOW).alias("win"), key_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"),
                    F.col(key_col), "n", "sum_value"))


WINDOWED_ORACLE = f"""
SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / {WINDOW_SECONDS})
                                    * {WINDOW_SECONDS} * 1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


SLIDE_SECONDS = 3 * 3600  # window 6h sliding every 3h: 2 windows/event


def sliding_event_counts(df: DataFrame, watermark: str | None = None,
                         ts_col: str = "ts",
                         key_col: str = "event_type") -> DataFrame:
    """SLIDING-window counts per key (6h window every 3h): each event
    lands in window/slide = 2 overlapping windows. Same plan on batch
    and stream; on a stream the state is (windows-open x keys), and
    the watermark closes windows so the overlap factor — not the
    stream length — bounds state size."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.window(ts_col, WINDOW, "3 hours").alias("win"),
                        key_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"),
                    F.col(key_col), "n", "sum_value"))


# every event belongs to exactly window/slide = 2 windows whose starts
# are the two slide-aligned ticks at or before ts and within 6h of it
SLIDING_ORACLE = f"""
SELECT strftime(make_timestamp(
         CAST((floor(epoch(ts) / {SLIDE_SECONDS}) - i.i)
              * {SLIDE_SECONDS} * 1000000 AS BIGINT)),
       '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events, (SELECT unnest(range(2)) AS i) i
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


HLL_RSD = 0.02


def windowed_distinct_users(df: DataFrame, watermark: str | None = None,
                            ts_col: str = "ts") -> DataFrame:
    """Tumbling-window APPROX distinct users per event_type — the
    constant-memory streaming cardinality monitor. HLL++ buffers
    merge associatively and deterministically, so the streaming
    incremental merge equals the batch aggregate bit-for-bit
    (asserted in tests); on a stream the watermark bounds state to
    open windows x keys x one sketch."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.window(ts_col, WINDOW).alias("win"),
                        "event_type")
            .agg(F.approx_count_distinct("user_id", rsd=HLL_RSD)
                 .alias("approx_users"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"),
                    "event_type", "n", "approx_users"))


WINDOW_DISTINCT_ORACLE = f"""
SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / {WINDOW_SECONDS})
                                    * {WINDOW_SECONDS} * 1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_ok
FROM events
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


TOPK_PER_WINDOW = 3


def windowed_type_topk(df: DataFrame, watermark: str | None = None,
                       k: int = TOPK_PER_WINDOW) -> DataFrame:
    """Top-k event types per tumbling window by count. Ranking is not
    directly streamable (a rank needs the window's final counts), so
    on a stream this plan runs INSIDE foreachBatch over the windowed
    aggregate (complete mode hands each micro-batch the full updated
    counts — see run_topk_stream); in batch it is the plan itself.
    The rank window partitions by win_start — keyed, parallel across
    windows, never a global sort."""
    from pyspark.sql import Window

    counts = windowed_event_counts(df, watermark=watermark)
    w = Window.partitionBy("win_start").orderBy(
        F.desc("n"), F.asc("event_type"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("win_start", "rk", "event_type", "n", "sum_value"))


def run_topk_stream(stream_df: DataFrame, table_name: str,
                    k: int = TOPK_PER_WINDOW):
    """Streaming runner: windowed counts aggregate (complete mode) ->
    foreachBatch ranks the CURRENT full aggregate and replaces the
    sink table — the standard pattern for topN-over-stream.

    STATE CAVEAT: complete output mode retains EVERY window ever
    seen — Spark ignores watermarks for state eviction in complete
    mode — so state (and the per-batch ranked frame) grows with the
    stream's total lifetime windows, not with open windows. Fine for
    bounded replays and availableNow backfills (this runner's use);
    an unbounded 100-TB stream runs ``run_topk_stream_update`` below
    (watermarked update-mode counts + keyed-sink top-k merge; state
    bounded by open windows — asserted via stateOperators
    numRowsTotal in tests/test_streaming.py)."""
    from pyspark.sql import Window

    agg = windowed_event_counts(stream_df)

    def rank_and_replace(batch_df: DataFrame, _epoch: int) -> None:
        w = Window.partitionBy("win_start").orderBy(
            F.desc("n"), F.asc("event_type"))
        ranked = (batch_df.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select("win_start", "rk", "event_type", "n",
                          "sum_value"))
        # MATERIALIZE inside foreachBatch: a lazy view would leave
        # the micro-batch's partitions unprocessed and fail the
        # state-store commit validation. The collect is bounded by
        # k x windows-seen-so-far (complete mode; see the state
        # caveat above).
        rows = ranked.collect()
        (batch_df.sparkSession.createDataFrame(rows, ranked.schema)
         .createOrReplaceGlobalTempView(table_name))

    return (agg.writeStream.outputMode("complete")
            .foreachBatch(rank_and_replace)
            .trigger(availableNow=True).start())


def run_topk_stream_update(stream_df: DataFrame, counts_path: str,
                           topk_path: str, checkpoint_dir: str,
                           k: int = TOPK_PER_WINDOW,
                           watermark: str = "1 hour"):
    """UNBOUNDED-safe top-k runner — the scale path the complete-mode
    runner's docstring designs: watermarked UPDATE-mode counts (state
    = open windows x keys; the watermark EVICTS closed windows, which
    complete mode never does) + a keyed-sink merge that re-ranks ONLY
    the windows each micro-batch touched.

    Per micro-batch: (1) latest-wins merge of the updated
    (win_start, event_type) count rows into the ``counts_path`` table
    (upsert.merge_latest, ordered by batch id — counts are the
    CURRENT aggregate, so newest wins); (2) one bounded re-rank of
    the touched windows; (3) replace exactly those windows' rows in
    the ``topk_path`` table. Work per batch is O(updated windows x
    keys), independent of stream lifetime; both sink tables live on
    disk, not in state. On a table format the two staging swaps
    become native MERGEs."""
    import os

    from pyspark.sql import Window

    from parquet_generator_spark.operators import cache
    from parquet_generator_spark.streaming.upsert import merge_latest

    agg = windowed_event_counts(stream_df, watermark=watermark)

    def merge_topk(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        # a crash inside a previous swap may have left the published
        # table renamed aside — restore before reading, or the replay
        # would see existing=None and silently discard all history
        _recover_swap(counts_path)
        _recover_swap(topk_path)
        b = batch_df.withColumn("_batch", F.lit(batch_id))
        existing = (spark.read.parquet(counts_path)
                    if os.path.exists(counts_path) else None)
        merged = merge_latest(existing, b,
                              ["win_start", "event_type"], ["_batch"])
        # localCheckpoint before the swap: the merged plan READS
        # counts_path, which the swap deletes
        merged = merged.localCheckpoint()
        _swap(merged, counts_path)
        # bounded driver list: windows updated THIS batch only
        upd = [r[0] for r in
               batch_df.select("win_start").distinct().collect()]
        w = Window.partitionBy("win_start").orderBy(
            F.desc("n"), F.asc("event_type"))
        fresh = (merged.filter(F.col("win_start").isin(upd))
                 .withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") <= k)
                 .select("win_start", "rk", "event_type", "n",
                         "sum_value"))
        if os.path.exists(topk_path):
            old = (spark.read.parquet(topk_path)
                   .filter(~F.col("win_start").isin(upd)))
            fresh = old.unionByName(fresh).localCheckpoint()
        _swap(fresh, topk_path)
        cache.release(merged)
        cache.release(fresh)

    return (agg.writeStream.outputMode("update")
            .foreachBatch(merge_topk)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


TOPK_ORACLE = f"""
WITH counts AS (
  SELECT strftime(make_timestamp(
           CAST(floor(epoch(ts) / {WINDOW_SECONDS})
                * {WINDOW_SECONDS} * 1000000 AS BIGINT)),
           '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, count(*) AS n,
         round(sum(value), 2) AS sum_value
  FROM events GROUP BY win_start, event_type)
SELECT win_start,
       CAST(row_number() OVER (PARTITION BY win_start
            ORDER BY n DESC, event_type) AS INT) AS rk,
       event_type, n, sum_value
FROM counts
QUALIFY rk <= {TOPK_PER_WINDOW}
ORDER BY win_start, rk
"""
