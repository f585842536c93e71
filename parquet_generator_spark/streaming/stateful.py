"""Stateful streaming operators.

- Streaming dedup: dropDuplicatesWithinWatermark — state bounded by
  the watermark horizon, the only dedup that survives an unbounded
  stream (a full-history dropDuplicates grows state forever).
- Session windows: the built-in session_window gap-merge — same plan
  works in batch (oracle-checkable) and streaming (watermarked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SESSION_GAP = "30 minutes"
SESSION_GAP_SECONDS = 1800


def stream_dedup(df: DataFrame, key_cols: list[str],
                 watermark: str | None = None,
                 ts_col: str = "ts") -> DataFrame:
    """Drop duplicate records by key. On a stream, pass ``watermark``:
    state is purged past the horizon, so memory is O(keys per
    horizon), not O(all keys ever)."""
    if watermark is not None:
        return (df.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(key_cols))
    return df.dropDuplicates(key_cols)


def near_dedup_by_signature(df: DataFrame, content_col: str = "props",
                            watermark: str | None = None,
                            ts_col: str = "ts") -> DataFrame:
    """Streaming near-dup suppression: first-wins on the 60-bit
    SimHash of the content, so payloads that are identical modulo
    tokenization (key order, whitespace, separators) collapse even
    when their raw bytes differ. Same bounded-state story as
    stream_dedup — the signature is just a content-derived key, and
    the watermark purges signatures past the horizon."""
    from parquet_generator_spark.operators.dedup import simhash_spark

    sig = df.withColumn("sig", simhash_spark(content_col))
    if watermark is not None:
        return (sig.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["sig"]))
    return sig.dropDuplicates(["sig"])


def session_window_agg(df: DataFrame, watermark: str | None = None,
                       ts_col: str = "ts",
                       key_col: str = "user_id") -> DataFrame:
    """Per-key session aggregation with the native session_window
    (gap = 30 min): one shuffle on the key; sessions merge at overlap.
    Streaming needs the watermark so closed sessions emit and their
    state drops."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.session_window(ts_col, SESSION_GAP).alias("sw"),
                        key_col)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col(key_col),
                    F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"),
                    "n_events", "sum_value"))


SESSION_WINDOW_ORACLE = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""
