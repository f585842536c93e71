"""Round-13 reference tranche 2: TSDS rates served from the
materialized 6h rollup (VERDICT r12 mandate #4's follow-on — the
round-14 starter pulled forward).

Both keys reuse their per-query siblings' DuckDB oracles VERBATIM
(the oracle recomputes from raw events), so the driver itself
proves rollup-served == raw for every hard sample:

- ``dsl_rate_served``: the gauge shape (count + sum per day) is a
  pure re-bucketing of the 6h gauge rollup — day = 4 x 6h, counts
  and unrounded sums add.
- ``esql_rate_served``: the counter shape needs the rollup's
  first/last witnesses: a day's reset-adjusted increase = the sum
  of within-6h increases plus the boundary deltas between
  consecutive non-empty 6h buckets, and the day's observed span is
  last-witness minus first-witness (sinks/tsds_rollup.py
  serve_ctr_rates owns the stitch).

Scale: a rate panel at 100 TB reads series x buckets rollup rows —
never raw events; the rollup itself was paid once at write time
(and incrementally per appended slice). This is exactly ES 8.5+
TSDS downsampling: rate over a downsampled index is served from
first/last+increase per downsample bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict = {}
ORACLES: dict = {}


# ------------------------------------------------- dsl_rate_served

def dsl_rate_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dsl_rate (per-day count/sum rescaled to hourly rates) served
    from the MATERIALIZED 6h gauge rollup: day buckets re-aggregate
    4 rollup rows per series — the raw events are never scanned.
    The sum rides UNROUNDED (_sum_raw) and is rounded once at serve
    time, matching the per-query key's arithmetic."""
    from parquet_generator_spark.plans.reference_queries31 import (
        _ensure_rollup,
    )
    from parquet_generator_spark.sinks import snapshots

    root = _ensure_rollup(spark, sf_dir)
    r = snapshots.read_snapshot(spark,
                                os.path.join(root, "rollup_6h"))
    day = F.concat(F.substring("bucket", 1, 10),
                   F.lit(" 00:00:00"))
    return (r.filter(F.col("event_type") == "click")
            .groupBy(day.alias("key"))
            .agg(F.sum("n").alias("doc_count"),
                 (F.sum("n") / F.lit(24.0)).alias("events_per_hour"),
                 (F.round(F.sum("_sum_raw"), 4) / F.lit(24.0))
                 .alias("value_per_hour"))
            .orderBy("key"))


def _dsl_rate_served_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries16 import (
        DSL_RATE_ORACLE,
    )

    return DSL_RATE_ORACLE


QUERIES.update({"dsl_rate_served": dsl_rate_served})
ORACLES.update({"dsl_rate_served": _dsl_rate_served_oracle()})


# ------------------------------------------------ esql_rate_served

def _ensure_ctr_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Counter downsample-on-write: the per-(user, 6h)
    first/last+increase rollup of the synthetic cumulative counter,
    materialized once per events version."""
    from parquet_generator_spark.plans.reference_queries29 import (
        _ctr_source,
    )
    from parquet_generator_spark.sinks import stores
    from parquet_generator_spark.sinks.tsds_rollup import (
        train_ctr_rollup,
    )
    from parquet_generator_spark.sources.catalog import load_table

    return stores.ensure(
        "tsds_ctr_rollup", sf_dir, ["events.parquet"],
        lambda root: train_ctr_rollup(
            spark, _ctr_source(load_table(spark, "events", sf_dir)),
            root, series="user_id"))


def esql_rate_served(spark: SparkSession,
                     sf_dir: str) -> DataFrame:
    """esql_rate (STATS SUM/AVG/MAX(RATE(ctr)) BY 1-day buckets)
    served from the MATERIALIZED counter rollup: per-series day
    rates are stitched from 6h first/last witnesses + within-bucket
    increases (serve_ctr_rates), then combined across series with
    the same outer aggregates. Counter values are integral, so the
    stitched increase is bit-identical to the raw lag-sum; oracle =
    the per-query key's oracle VERBATIM."""
    from parquet_generator_spark.sinks.tsds_rollup import (
        serve_ctr_rates,
    )

    root = _ensure_ctr_rollup(spark, sf_dir)
    rates = serve_ctr_rates(spark, root, 86400)
    return (rates
            .groupBy(F.timestamp_seconds("bucket").alias("day"))
            .agg(F.round(F.sum("rate"), 6).alias("rate_sum"),
                 F.round(F.avg("rate"), 6).alias("rate_avg"),
                 F.round(F.max("rate"), 6).alias("rate_max"))
            .orderBy(F.asc_nulls_first("day")))


def _esql_rate_served_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries29 import (
        _esql_rate_oracle,
    )

    return _esql_rate_oracle()


QUERIES.update({"esql_rate_served": esql_rate_served})
ORACLES.update({"esql_rate_served": _esql_rate_served_oracle()})


# -------------------------------------------------- dsl_rrf_weighted

_RRF_WEIGHTS = (0.7, 0.3)  # text, vector


def dsl_rrf_weighted(spark: SparkSession,
                     sf_dir: str) -> DataFrame:
    """ES 9.1 weighted ``rrf`` retriever (r13 continuation —
    closing the DSL/ES|QL hybrid symmetry: dsl_rrf is the unweighted
    8.14 form, FUSE LINEAR the weighted-score form, this is the
    weighted-RANK form): score = sum over retrievers of
    weight_i / (rank_constant + rank_i). Same bounded legs as
    dsl_rrf (TakeOrderedAndProject windows, full-outer join of two
    <= window frames, AQE broadcasts both) — the weights only scale
    the reciprocal terms, nothing about the plan changes."""
    from pyspark.sql import Window

    from parquet_generator_spark.operators.esdsl import (
        score_query,
        translate_query,
    )
    from parquet_generator_spark.operators.similarity import (
        cosine_to_literal,
    )
    from parquet_generator_spark.plans.reference_queries19 import (
        _RRF_CONST,
        _RRF_K,
        _RRF_QV,
        _RRF_TEXT_Q,
        _RRF_WINDOW,
    )
    from parquet_generator_spark.sources.catalog import load_table

    w_t, w_v = _RRF_WEIGHTS
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    t_top = (docs.filter(translate_query(_RRF_TEXT_Q))
             .select("doc_id",
                     F.round(score_query(_RRF_TEXT_Q), 4)
                     .alias("s"))
             .orderBy(F.desc("s"), F.asc("doc_id"))
             .limit(_RRF_WINDOW))
    tw = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    t_rank = (t_top.withColumn("text_rank",
                               F.row_number().over(tw))
              .select(F.col("doc_id").alias("id"), "text_rank"))

    cos = cosine_to_literal("embedding", _RRF_QV)
    v_top = (emb.select(F.col("vec_id").alias("id"),
                        cos.alias("c"))
             .orderBy(F.desc("c"), F.asc("id"))
             .limit(_RRF_WINDOW))
    vw = Window.orderBy(F.desc("c"), F.asc("id"))
    v_rank = (v_top.withColumn("vec_rank", F.row_number().over(vw))
              .select("id", "vec_rank"))

    rrf = (F.coalesce(F.lit(w_t) / (F.lit(_RRF_CONST)
                                    + F.col("text_rank")),
                      F.lit(0.0))
           + F.coalesce(F.lit(w_v) / (F.lit(_RRF_CONST)
                                      + F.col("vec_rank")),
                        F.lit(0.0)))
    return (t_rank.join(v_rank, "id", "full_outer")
            .select("id", "text_rank", "vec_rank",
                    F.round(rrf, 6).alias("rrf_score"))
            .orderBy(F.desc("rrf_score"), F.asc("id"))
            .limit(_RRF_K))


def _rrf_weighted_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries19 import (
        _RRF_CONST,
        _rrf_oracle,
    )

    w_t, w_v = _RRF_WEIGHTS
    base = _rrf_oracle()
    out = base.replace(
        f"round(coalesce(1.0 / ({_RRF_CONST} + text_rank), 0.0)\n"
        f"             + coalesce(1.0 / ({_RRF_CONST} + vec_rank),"
        f" 0.0), 6)",
        f"round(coalesce({w_t!r} / ({_RRF_CONST} + text_rank),"
        f" 0.0)\n"
        f"             + coalesce({w_v!r} / ({_RRF_CONST} +"
        f" vec_rank), 0.0), 6)")
    if out == base:  # the textual anchor drifted — fail loudly
        raise AssertionError(
            "dsl_rrf_weighted: could not rewrite the rrf oracle's "
            "score line — update the anchor to match "
            "reference_queries19._rrf_oracle")
    return out


QUERIES.update({"dsl_rrf_weighted": dsl_rrf_weighted})
ORACLES.update({"dsl_rrf_weighted": _rrf_weighted_oracle()})


# ------------------------------------------- esql_rate_week_served

def esql_rate_week_served(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """The counter-rollup stitch at a SECOND bucket width (7-day
    epoch-aligned weeks = 28 x 6h): proves serve_ctr_rates
    generalizes to any multiple of the rollup granularity. Same
    exactness argument as the daily key (integral counters ->
    bit-identical stitched increases); the oracle recomputes the
    whole thing from raw events."""
    from parquet_generator_spark.sinks.tsds_rollup import (
        serve_ctr_rates,
    )

    root = _ensure_ctr_rollup(spark, sf_dir)
    rates = serve_ctr_rates(spark, root, 604800)
    return (rates
            .groupBy(F.col("bucket").alias("week_start"))
            .agg(F.count("rate").alias("n_series"),
                 F.round(F.sum("rate"), 6).alias("rate_sum"),
                 F.round(F.avg("rate"), 6).alias("rate_avg"))
            .orderBy("week_start"))


def _rate_week_oracle() -> str:
    from parquet_generator_spark.plans.reference_queries23 import (
        _CTR_MOD,
    )

    return f"""
WITH ctr_events AS (
  SELECT user_id, ts, event_id,
         sum(event_id % 5 + 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) % {_CTR_MOD} AS ctr
  FROM events),
bucketed AS (
  SELECT user_id, ts, event_id, ctr,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) * 604800
           AS week_start
  FROM ctr_events),
incs AS (
  SELECT *, ctr - lag(ctr) OVER (
           PARTITION BY user_id, week_start
           ORDER BY ts, event_id) AS d
  FROM bucketed),
per_series AS (
  SELECT user_id, week_start,
         sum(CASE WHEN d IS NULL THEN 0
                  WHEN d >= 0 THEN d ELSE ctr END) AS inc,
         epoch_us(max(ts)) AS tmax, epoch_us(min(ts)) AS tmin
  FROM incs GROUP BY user_id, week_start),
rates AS (
  SELECT week_start,
         CASE WHEN tmax > tmin THEN
           CAST(inc AS DOUBLE) * 1000000.0
             / CAST(tmax - tmin AS DOUBLE) END AS rate
  FROM per_series)
SELECT week_start, CAST(count(rate) AS BIGINT) AS n_series,
       round(sum(rate), 6) AS rate_sum,
       round(avg(rate), 6) AS rate_avg
FROM rates GROUP BY week_start ORDER BY week_start
"""


QUERIES.update({"esql_rate_week_served": esql_rate_week_served})
ORACLES.update({"esql_rate_week_served": _rate_week_oracle()})
