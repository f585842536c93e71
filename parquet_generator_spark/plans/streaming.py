"""Streaming and incremental maintenance: batch-equivalent forms of the
streaming operators, SCD2 merge and incremental aggregate merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table
from parquet_generator_spark.streaming.enrich import (
    ENRICH_ORACLE,
    enrich_events_with_customer,
)
from parquet_generator_spark.streaming.scripted import SCRIPTED_FOLDS_ORACLE
from parquet_generator_spark.streaming.stateful import (
    SESSION_WINDOW_ORACLE,
    session_window_agg,
)
from parquet_generator_spark.streaming.stream_join import (
    PAIRS_ORACLE,
    view_click_pairs,
)
from parquet_generator_spark.streaming.windowed import (
    SLIDING_ORACLE,
    TOPK_ORACLE,
    WINDOWED_ORACLE,
    WINDOW_DISTINCT_ORACLE,
    sliding_event_counts,
    windowed_event_counts,
    windowed_type_topk,
)


def scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge exercised on customers: a snapshot
    where every 10th customer's balance moved by +100 merges against
    the day-one dimension; output = the DELTA timeline (closed rows +
    their replacement current rows). See streaming.scd2.scd2_merge —
    the join is current-rows x batch on the key, history rows never
    enter it."""
    from parquet_generator_spark.streaming.scd2 import scd2_merge
    cust = load_table(spark, "customer", sf_dir)
    t1 = "2024-01-01 00:00:00"
    t2 = "2024-02-01 00:00:00"
    existing = cust.select(
        "c_custkey", "c_acctbal",
        F.lit(t1).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"))
    batch = cust.select(
        "c_custkey",
        (F.col("c_acctbal")
         + F.when(F.col("c_custkey") % 10 == 0, 100.0)
         .otherwise(0.0)).alias("c_acctbal"),
        F.lit(t2).cast("timestamp").alias("ts"))
    merged = scd2_merge(existing, batch, ["c_custkey"],
                        ["c_acctbal"], "ts")
    delta = merged.filter(
        F.col("valid_to").isNotNull()
        | (F.col("valid_from") == F.lit(t2).cast("timestamp")))
    return (delta.select("c_custkey",
                         F.round("c_acctbal", 2).alias("bal"),
                         "valid_from", "valid_to")
            .orderBy("c_custkey", "valid_from"))


SCD2_CUSTOMER_ORACLE = """
SELECT c_custkey, round(c_acctbal, 2) AS bal,
       TIMESTAMP '2024-01-01' AS valid_from,
       TIMESTAMP '2024-02-01' AS valid_to
FROM customer WHERE c_custkey % 10 = 0
UNION ALL
SELECT c_custkey, round(c_acctbal + 100, 2),
       TIMESTAMP '2024-02-01', NULL
FROM customer WHERE c_custkey % 10 = 0
ORDER BY c_custkey, valid_from
"""


# ---------------------------------------------- incremental_agg_merge

_IVM_CUTOFF = "2024-01-20"


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a (day, event_type) revenue
    aggregate: the SNAPSHOT partition (ts < cutoff) and the DELTA
    batch (ts >= cutoff) each aggregate to mergeable partial state
    (count, sum) and the view updates by RE-AGGREGATING the union of
    partials — the algebra Catalyst's map-side combine uses, spelled
    out as the warehouse IVM pattern (never re-scan the snapshot's
    raw rows). The oracle recomputes the view from raw data, so the
    merge is proven equivalent to full recomputation."""
    ev = load_table(spark, "events", sf_dir)
    day = F.date_format(F.date_trunc("day", F.col("ts")),
                        "yyyy-MM-dd HH:mm:ss").alias("day")

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy(day, "event_type")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("value").alias("vsum")))

    cut = F.lit(_IVM_CUTOFF).cast("timestamp")
    snap = partial(ev.filter(F.col("ts") < cut))
    delta = partial(ev.filter(F.col("ts") >= cut))
    return (snap.unionByName(delta)
            .groupBy("day", "event_type")
            .agg(F.sum("cnt").alias("n"),
                 F.round(F.sum("vsum"), 2).alias("revenue"))
            .orderBy("day", "event_type"))


IVM_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS revenue
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


# Streaming-surface queries (batch-equivalent forms for the
# correctness gate; the streaming execution itself is covered by
# tests/test_streaming.py).


def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the exact plan the streaming job uses (tumbling
    epoch-aligned windows), so the oracle can verify the window
    arithmetic the stream relies on."""
    ev = load_table(spark, "events", sf_dir)
    return (windowed_event_counts(ev)
            .orderBy("win_start", "event_type"))


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the session_window plan the stream uses (30-min
    gap merge); the oracle recomputes sessions with the portable
    lag/cumsum formulation."""
    ev = load_table(spark, "events", sf_dir)
    return (session_window_agg(ev)
            .orderBy("user_id", "session_start"))


def stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch equivalent of streaming first-wins dedup
    (dropDuplicatesWithinWatermark keeps the first arrival per key):
    earliest event per (user_id, event_type)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id"))
    return (ev.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("event_id", "user_id", "event_type", "value")
            .orderBy("event_id"))


STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type, value
FROM (
  SELECT event_id, user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rk
  FROM events)
WHERE rk = 1 ORDER BY event_id
"""


def stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch equivalent of the streaming signature
    dedup (near_dedup_by_signature keeps the first arrival per
    60-bit content SimHash): earliest event per props signature."""
    from parquet_generator_spark.operators.dedup import simhash_spark

    ev = load_table(spark, "events", sf_dir)
    sig = ev.withColumn("sig", simhash_spark("props"))
    w = Window.partitionBy("sig").orderBy(F.asc("ts"),
                                          F.asc("event_id"))
    return (sig.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("event_id", "user_id", "sig")
            .orderBy("event_id"))


def _near_dedup_oracle() -> str:
    from parquet_generator_spark.operators.dedup import simhash_duck

    return f"""
SELECT event_id, user_id, sig FROM (
  SELECT event_id, user_id, {simhash_duck('props')} AS sig, ts
  FROM events)
QUALIFY row_number() OVER (PARTITION BY sig
                           ORDER BY ts ASC, event_id ASC) = 1
ORDER BY event_id
"""


STREAM_NEAR_DEDUP_ORACLE = _near_dedup_oracle()


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the stream-static enrichment join (events stream
    x broadcast customer dim); the streaming execution of the same
    builder is asserted in tests/test_streaming.py."""
    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    return (enrich_events_with_customer(ev, cust)
            .orderBy("c_mktsegment"))


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the stream-stream time-interval join (clicks
    attributed to views within 10 minutes), aggregated per user; the
    streaming execution of the same builder (watermarked both sides,
    bounded state) is asserted in tests/test_streaming.py."""
    ev = load_table(spark, "events", sf_dir)
    return (view_click_pairs(ev, ev)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("v_ts").alias("n_views_hit"))
            .orderBy("user_id"))


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the sliding-window plan the stream uses (6h
    window, 3h slide — each event in exactly 2 windows); the oracle
    re-derives both window starts per event with slide-aligned epoch
    arithmetic."""
    ev = load_table(spark, "events", sf_dir)
    return (sliding_event_counts(ev)
            .orderBy("win_start", "event_type"))


def stream_windowed_topk(spark, sf_dir):
    """Batch twin of the foreachBatch top-k-per-window stream: the
    SAME ranking plan the stream applies to each complete-mode
    micro-batch (run_topk_stream), run over the batch table so the
    oracle can pin the ranking arithmetic."""
    ev = load_table(spark, "events", sf_dir)
    return (windowed_type_topk(ev)
            .orderBy("win_start", "rk"))


def stream_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming windowed approx-distinct monitor:
    the gate hashes the exact per-window cardinality plus an
    in-bound boolean for the HLL estimate (the approx_sketches
    recipe — the engine-specific estimate stays out of the hash);
    the streaming-equals-batch property of the sketch itself is
    asserted in tests/test_streaming.py."""
    from parquet_generator_spark.streaming.windowed import (
        HLL_RSD,
        WINDOW,
        windowed_distinct_users,
    )
    ev = load_table(spark, "events", sf_dir)
    approx = windowed_distinct_users(ev)
    exact = (ev.groupBy(F.window("ts", WINDOW).alias("win"),
                        "event_type")
             .agg(F.countDistinct("user_id").alias("exact_users"))
             .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss")
                     .alias("win_start"), "event_type",
                     "exact_users"))
    # bound: 3*rsd relative OR +-3 absolute — per-window
    # cardinalities here are tiny (tens), where HLL++'s register
    # estimate can be off by 1-2 even though the relative rsd bound
    # would demand exactness
    slack = F.greatest(F.col("exact_users") * (3 * HLL_RSD), F.lit(3.0))
    return (approx.join(exact, ["win_start", "event_type"])
            .select("win_start", "event_type", "n", "exact_users",
                    (F.abs(F.col("approx_users") - F.col("exact_users"))
                     <= slack).alias("hll_ok"))
            .orderBy("win_start", "event_type"))


def stream_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the windowed scripted_metric fold plan the stream
    uses (streaming/scripted.py): the bounded painless-fold subset
    compiles to associative aggregates, so the SAME columns run
    incrementally under Structured Streaming with watermarked state
    (stream-vs-batch equality in tests/test_streaming.py)."""
    from parquet_generator_spark.streaming.scripted import (
        windowed_scripted_folds,
    )

    ev = load_table(spark, "events", sf_dir)
    return windowed_scripted_folds(ev).orderBy("win_start")


QUERIES = {
    "scd2_customer_merge": scd2_customer_merge,
    "incremental_agg_merge": incremental_agg_merge,
    "stream_windowed_topk": stream_windowed_topk,
    "stream_sliding_agg": stream_sliding_agg,
    "stream_stream_join": stream_stream_join,
    "stream_windowed_agg": stream_windowed_agg,
    "stream_session_window": stream_session_window,
    "stream_dedup": stream_dedup_first,
    "stream_near_dedup": stream_near_dedup,
    "stream_static_enrich": stream_static_enrich,
    "stream_window_distinct": stream_window_distinct,
    "stream_scripted_metric": stream_scripted_metric,
}


ORACLES = {
    "scd2_customer_merge": SCD2_CUSTOMER_ORACLE,
    "incremental_agg_merge": IVM_ORACLE,
    "stream_windowed_topk": TOPK_ORACLE,
    "stream_sliding_agg": SLIDING_ORACLE,
    "stream_stream_join": PAIRS_ORACLE,
    "stream_windowed_agg": WINDOWED_ORACLE,
    "stream_session_window": SESSION_WINDOW_ORACLE,
    "stream_dedup": STREAM_DEDUP_ORACLE,
    "stream_near_dedup": STREAM_NEAR_DEDUP_ORACLE,
    "stream_static_enrich": ENRICH_ORACLE,
    "stream_window_distinct": WINDOW_DISTINCT_ORACLE,
    "stream_scripted_metric": SCRIPTED_FOLDS_ORACLE,
}
