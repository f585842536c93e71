"""Stateful streaming operators.

- Streaming dedup: dropDuplicatesWithinWatermark — state bounded by
  the watermark horizon, the only dedup that survives an unbounded
  stream (a full-history dropDuplicates grows state forever).
- Session windows: the built-in session_window gap-merge — same plan
  works in batch (oracle-checkable) and streaming (watermarked).
- Custom state: applyInPandasWithState running per-user purchase
  totals — the template for operators Spark lacks natively.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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


_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])

RUNNING_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_purchases", T.LongType()),
    T.StructField("total_spend", T.DoubleType()),
])


def _running_totals(key: tuple[Any, ...],
                    pdfs: Iterable[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    """Accumulate (count, sum) per user across micro-batches and emit
    the updated running totals once per batch."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_purchases": [n],
                        "total_spend": [total]})


def running_purchase_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running purchase totals via
    applyInPandasWithState (Arrow-batched, state per group key,
    NoTimeout — totals never expire). The template for semantics the
    built-in operators can't express."""
    return (df.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .applyInPandasWithState(
                _running_totals,
                outputStructType=RUNNING_OUTPUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
    T.StructField("n", T.LongType()),
])

SESSION_GAP_MS = 30 * 60 * 1000


def _ts_us(series):
    return series.astype("datetime64[us]").astype("int64")


def _session_fn(key, pdfs, state):
    import datetime as _dt

    import pandas as pd

    def emit(rows):
        return pd.DataFrame({
            "user_id": [key[0]] * len(rows),
            "session_start": [
                _dt.datetime.utcfromtimestamp(s / 1e6) for s, _, _ in rows],
            "session_end": [
                _dt.datetime.utcfromtimestamp(e / 1e6) for _, e, _ in rows],
            "n_events": [n for _, _, n in rows]})

    if state.hasTimedOut:
        start_us, end_us, n = state.get
        state.remove()
        yield emit([(start_us, end_us, n)])
        return

    ts = sorted(int(t) for pdf in pdfs for t in _ts_us(pdf["ts"]))
    gap_us = SESSION_GAP_MS * 1000
    cur = state.get if state.exists else None  # (start, end, n)
    closed = []
    for t in ts:
        if cur is None:
            cur = (t, t, 1)
        elif t - cur[1] <= gap_us:
            cur = (cur[0], max(cur[1], t), cur[2] + 1)
        else:  # gap exceeded inside the data: close the old session
            closed.append(cur)
            cur = (t, t, 1)
    state.update(cur)
    # the open session also closes when the watermark passes
    # last-event + gap; until then more events may extend it
    state.setTimeoutTimestamp(cur[1] // 1000 + SESSION_GAP_MS)
    yield emit(closed)


def timeout_sessions(stream: DataFrame,
                     watermark: str = "0 seconds") -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT: a
    user's session state expires (and the closed session is emitted)
    only when the watermark passes last-event-time + gap — bounded
    state with correct late-data handling, the semantics
    dropDuplicates/session_window can't give a custom aggregate.
    One open session per user lives in the state store; emission
    happens exclusively on timeout."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_fn,
                outputStructType=SESSION_OUTPUT_SCHEMA,
                stateStructType=_SESSION_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


ANOMALY_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("zscore", T.DoubleType()),
])

_WELFORD_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("m2", T.DoubleType()),
])

ANOMALY_Z = 3.0
ANOMALY_MIN_N = 5


def _anomaly_fn(key, pdfs, state):
    """Per-key Welford running mean/variance; each arriving value is
    scored against the statistics of everything BEFORE it (in
    (ts, event_id) order within the batch), so an outlier cannot
    mask itself by inflating the variance it is judged with."""
    import pandas as pd

    n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    out = {"user_id": [], "event_id": [], "value": [], "zscore": []}
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            v = float(v)
            if n >= ANOMALY_MIN_N:
                var = m2 / n  # population variance of what came before
                if var > 0:
                    z = (v - mean) / (var ** 0.5)
                    if abs(z) > ANOMALY_Z:
                        out["user_id"].append(key[0])
                        out["event_id"].append(int(eid))
                        out["value"].append(v)
                        out["zscore"].append(round(z, 3))
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
    state.update((n, mean, m2))
    yield pd.DataFrame(out)


def rate_anomalies(df: DataFrame) -> DataFrame:
    """Custom stateful anomaly detector: per-user Welford running
    mean/variance with each event z-scored against its own history
    (state = 3 floats per key, NoTimeout; add an event-time timeout
    to age out idle users at scale). Identical verdicts on batch and
    stream because the state update order is pinned to
    (ts, event_id)."""
    return (df.groupBy("user_id")
            .applyInPandasWithState(
                _anomaly_fn,
                outputStructType=ANOMALY_OUTPUT_SCHEMA,
                stateStructType=_WELFORD_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------- counter rate

COUNTER_RATE_OUTPUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("day", T.StringType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("n_resets", T.LongType()),
    T.StructField("inc", T.LongType()),
])

_CTR_STATE = T.StructType([T.StructField("last", T.LongType())])


def _counter_rate_fn(key: tuple[Any, ...],
                     pdfs: Iterable[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-series counter-rate with reset reconstruction ACROSS
    micro-batches: state = the series' last counter value, so the
    first row of every batch bridges correctly from the previous
    batch (the semantics a per-batch window cannot express — lag
    state must survive the batch boundary). Emits one row per
    (series, day) per batch with that batch's event/reset/increase
    contributions; each event's increase is emitted exactly once, so
    any downstream sum over emitted rows equals the batch twin
    (dsl_counter_rate's rule: inc = delta if delta >= 0 else value)."""
    last = state.get[0] if state.exists else None
    days: dict[str, list[int]] = {}
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, ctr in zip(pdf["ts"], pdf["ctr"]):
            ctr = int(ctr)
            day = str(pd.Timestamp(ts).date())
            row = days.setdefault(day, [0, 0, 0])
            row[0] += 1
            if last is None:
                inc, reset = 0, 0
            else:
                delta = ctr - last
                inc = delta if delta >= 0 else ctr
                reset = 1 if delta < 0 else 0
            row[1] += reset
            row[2] += inc
            last = ctr
    state.update((last,))
    yield pd.DataFrame(
        [(key[0], d, n, r, i) for d, (n, r, i) in sorted(days.items())],
        columns=["user_id", "day", "n_events", "n_resets", "inc"])


def counter_rate_stream(df: DataFrame) -> DataFrame:
    """Streaming twin of plans.esdsl_aggs.dsl_counter_rate
    over a stored counter column ``ctr`` (real counters ARRIVE as
    values; the batch query synthesizes the same column for the
    oracle). State is one long per series — bounded by series
    cardinality, the TSDS _tsid posture."""
    return (df.groupBy("user_id")
            .applyInPandasWithState(
                _counter_rate_fn,
                outputStructType=COUNTER_RATE_OUTPUT,
                stateStructType=_CTR_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
