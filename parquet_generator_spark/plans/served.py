"""Keys served from a persisted store.

Each key is one ``stores.ensure`` build (rebuilt only when its source
files or the package's code change) plus a read of the stored
artifact. Its oracle is the same result computed from the source
tables, so the store adds persistence, not different math.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import ann_index, dedup_index
from parquet_generator_spark.plans.dedup import (
    INCREMENTAL_DEDUP_ORACLE,
    INC_TAU,
)
from parquet_generator_spark.plans.esdsl_aggs import (
    DSL_RATE_ORACLE,
    DSL_TSDS_DOWNSAMPLE_ORACLE,
    _CTR_MOD,
)
from parquet_generator_spark.plans.esql import (
    ORACLES as ESQL_ORACLES,
    _ctr_source,
)
from parquet_generator_spark.plans.retrieval import (
    IVFPQ_CELLS,
    IVFPQ_PROBE,
    IVFPQ_QUERY,
    IVFPQ_TOPK,
    PQ_K,
    PQ_M,
    _ivfpq_oracle,
)
from parquet_generator_spark.sinks import snapshots, stores
from parquet_generator_spark.sinks.tsds_rollup import (
    serve_ctr_rates,
    serve_rollup,
    train_ctr_rollup,
    train_rollup,
)
from parquet_generator_spark.sources.catalog import load_table


# ANN serving from the PERSISTED IVF-PQ index (operators/ann_index.py).
#
# ``ann_ivfpq_served`` answers the same query as ``ann_ivfpq`` but
# from the committed snapshot artifact: the index is trained ONCE per
# corpus (train-if-stale on the embeddings file fingerprint, the
# materialized-view contract), and the serving plan reads ONLY the
# stored (cell, codes) table — no centroid derivation, no raw
# vectors, no mapInPandas (plan-asserted in tests/test_ann_index.py).
# At 100 TB this is the difference between a training pass per query
# and a bounded-literal lookup plan over code files pruned by cell.
#
# The oracle is the full from-corpus IVF-PQ rebuild (shared with
# ann_ivfpq): the served result is provably value-identical because
# training uses the same reproducible quantizer construction and the
# serving ADC sum preserves the kernel's sequential add order.


def ann_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by IVF-probe + PQ-ADC served from the persisted index:
    (rank, vec_id, adc), value-identical to ann_ivfpq. The serving
    DAG touches only the codes snapshot (filter on cell pushed to
    its parquet scan) plus ~8 KB of ADC literals. The index is
    trained once per embeddings file version (the materialized-view
    refresh contract)."""
    def build(root: str) -> None:
        ann_index.train_ivfpq_index(
            spark, load_table(spark, "embeddings", sf_dir), root,
            n_cells=IVFPQ_CELLS, n_sub=PQ_M, n_codes=PQ_K)

    root = stores.ensure("ivfpq_index", sf_dir, ["embeddings.parquet"],
                         build)
    return ann_index.serve_ivfpq(spark, root, IVFPQ_QUERY,
                                 IVFPQ_TOPK, n_probe=IVFPQ_PROBE)


# -------------------------------------------- ann_ivfpq_appended

def ann_ivfpq_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index ingest, served: train the IVF-PQ artifact
    on the head ~75% of the corpus (which contains the smallest-id
    rows the reproducible quantizer construction uses, so the
    quantizers equal the full-corpus build's), append the tail batch
    through `append_ivfpq_batch` — encoded with the STORED
    quantizers, no retrain — and serve the same literal query from
    the merged codes snapshot. Value-identical to `ann_ivfpq`; the
    oracle is the full from-corpus rebuild."""
    def build(root: str) -> None:
        emb = load_table(spark, "embeddings", sf_dir)
        cnt = emb.count()
        k = max(PQ_K, IVFPQ_CELLS, (3 * cnt) // 4)
        # eager: a store build, run once per source fingerprint
        cut = (emb.orderBy("vec_id").limit(int(k))
               .agg(F.max("vec_id")).collect()[0][0])
        base = emb.filter(F.col("vec_id") <= cut)
        batch = emb.filter(F.col("vec_id") > cut)
        ann_index.train_ivfpq_index(
            spark, base, root, n_cells=IVFPQ_CELLS, n_sub=PQ_M,
            n_codes=PQ_K)
        if batch.limit(1).count():
            ann_index.append_ivfpq_batch(spark, root, batch)

    root = stores.ensure("ivfpq_index_appended", sf_dir,
                         ["embeddings.parquet"], build)
    return ann_index.serve_ivfpq(spark, root, IVFPQ_QUERY,
                                 IVFPQ_TOPK, n_probe=IVFPQ_PROBE)


# ------------------------------------------- dedup_index_served

def _classify_odd_docs(spark: SparkSession, root: str,
                       docs: DataFrame) -> DataFrame:
    """The odd-id batch classified against the index at ``root``."""
    out = dedup_index.classify_served(
        spark, root, docs.filter(F.col("doc_id") % 2 == 1), INC_TAU,
        id_col="doc_id", content_col="text")
    return (out.select(F.col("id").alias("doc_id"), "status")
            .orderBy("doc_id"))


def dedup_index_served(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """incremental_dedup SERVED from a persisted index: the corpus
    side's content hashes, band keys, per-bucket counts and shingle
    sets are built ONCE (train-if-stale on the corpus fingerprint)
    and committed through the snapshot table format; classification
    of the incoming batch then pays one signature pass over the
    BATCH only — the corpus side is pure snapshot reads.
    Value-identical to the in-query cross classification (same
    signatures, band keys, TOTAL-bucket-cap semantics, round-3
    exact-Jaccard verify), so the oracle IS incremental_dedup's
    from-scratch rebuild. The dedup analog of ann_ivfpq_served."""
    docs = load_table(spark, "documents", sf_dir)

    def build(root: str) -> None:
        dedup_index.train_dedup_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), root,
            id_col="doc_id", content_col="text")

    root = stores.ensure("dedup_index", sf_dir, ["documents.parquet"],
                         build)
    return _classify_odd_docs(spark, root, docs)


# ``dedup_index_appended`` — merge-on-append for the persisted MinHash
# dedup index: the missing half of the index lifecycle the IVF-PQ
# artifact already had (train once / ``append_ivfpq_batch`` /
# serve). Train the index on the base corpus slice, APPEND a second
# ingest slice with ``append_dedup_batch`` (one signature pass over
# the new slice only; bucket stats MERGED, never recounted), then
# classify the query batch against the grown artifact. Value-identical
# to retraining on base+append in one shot (pinned in
# tests/test_dedup_index.py::test_append_equals_rebuild), so the
# oracle is the same from-scratch incremental_dedup SQL the served
# index uses. Daily-ingest reality at 100 TB: each cycle pays
# O(new batch) compute, the corpus side is never re-signed.


def dedup_index_appended(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Train on doc_id%4==0, append doc_id%4==2, classify the odd
    batch — corpus == evens, exactly dedup_index_served's split, so
    the from-scratch oracle is shared."""
    docs = load_table(spark, "documents", sf_dir)

    def build(root: str) -> None:
        dedup_index.train_dedup_index(
            spark, docs.filter(F.col("doc_id") % 4 == 0), root,
            id_col="doc_id", content_col="text")
        dedup_index.append_dedup_batch(
            spark, root, docs.filter(F.col("doc_id") % 4 == 2),
            id_col="doc_id", content_col="text")

    root = stores.ensure("dedup_index_appended", sf_dir,
                         ["documents.parquet"], build)
    return _classify_odd_docs(spark, root, docs)


# --------------------------------------- dsl_tsds_downsample_served

def _ensure_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Downsample-on-write: the 6h rollup is materialized through the
    snapshot table format ONCE per events version
    (sinks/tsds_rollup.py)."""
    return stores.ensure(
        "tsds_rollup", sf_dir, ["events.parquet"],
        lambda root: train_rollup(
            spark, load_table(spark, "events", sf_dir), root))


def dsl_tsds_downsample_served(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """dsl_tsds_downsample served from the MATERIALIZED rollup (the
    ES downsample-on-write contract): the plan scans the snapshot's
    series x buckets rows — never raw events. Oracle = the
    per-query key's oracle verbatim, so the driver proves the
    materialized rollup value-identical to the on-the-fly one."""
    root = _ensure_rollup(spark, sf_dir)
    return (serve_rollup(spark, root)
            .orderBy("event_type", "bucket"))


# TSDS rates served from the materialized 6h rollup (VERDICT r12 mandate
# #4's follow-on — the round-14 starter pulled forward).
#
# Both keys reuse their per-query siblings' DuckDB oracles VERBATIM
# (the oracle recomputes from raw events), so the driver itself
# proves rollup-served == raw for every hard sample:
#
# - ``dsl_rate_served``: the gauge shape (count + sum per day) is a
#   pure re-bucketing of the 6h gauge rollup — day = 4 x 6h, counts
#   and unrounded sums add.
# - ``esql_rate_served``: the counter shape needs the rollup's
#   first/last witnesses: a day's reset-adjusted increase = the sum
#   of within-6h increases plus the boundary deltas between
#   consecutive non-empty 6h buckets, and the day's observed span is
#   last-witness minus first-witness (sinks/tsds_rollup.py
#   serve_ctr_rates owns the stitch).
#
# Scale: a rate panel at 100 TB reads series x buckets rollup rows —
# never raw events; the rollup itself was paid once at write time.
# This is exactly ES 8.5+
# TSDS downsampling: rate over a downsampled index is served from
# first/last+increase per downsample bucket.


# ------------------------------------------------- dsl_rate_served

def dsl_rate_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dsl_rate (per-day count/sum rescaled to hourly rates) served
    from the MATERIALIZED 6h gauge rollup: day buckets re-aggregate
    4 rollup rows per series — the raw events are never scanned.
    The sum rides UNROUNDED (_sum_raw) and is rounded once at serve
    time, matching the per-query key's arithmetic."""
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


# ------------------------------------------------ esql_rate_served

def _ensure_ctr_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Counter downsample-on-write: the per-(user, 6h)
    first/last+increase rollup of the synthetic cumulative counter,
    materialized once per events version."""
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
    root = _ensure_ctr_rollup(spark, sf_dir)
    rates = serve_ctr_rates(spark, root, 86400)
    return (rates
            .groupBy(F.timestamp_seconds("bucket").alias("day"))
            .agg(F.round(F.sum("rate"), 6).alias("rate_sum"),
                 F.round(F.avg("rate"), 6).alias("rate_avg"),
                 F.round(F.max("rate"), 6).alias("rate_max"))
            .orderBy(F.asc_nulls_first("day")))


# ------------------------------------------- esql_rate_week_served

def esql_rate_week_served(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """The counter-rollup stitch at a SECOND bucket width (7-day
    epoch-aligned weeks = 28 x 6h): proves serve_ctr_rates
    generalizes to any multiple of the rollup granularity. Same
    exactness argument as the daily key (integral counters ->
    bit-identical stitched increases); the oracle recomputes the
    whole thing from raw events."""
    root = _ensure_ctr_rollup(spark, sf_dir)
    rates = serve_ctr_rates(spark, root, 604800)
    return (rates
            .groupBy(F.col("bucket").alias("week_start"))
            .agg(F.count("rate").alias("n_series"),
                 F.round(F.sum("rate"), 6).alias("rate_sum"),
                 F.round(F.avg("rate"), 6).alias("rate_avg"))
            .orderBy("week_start"))


def _rate_week_oracle() -> str:
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


QUERIES = {
    "ann_ivfpq_served": ann_ivfpq_served,
    "ann_ivfpq_appended": ann_ivfpq_appended,
    "dedup_index_served": dedup_index_served,
    "dedup_index_appended": dedup_index_appended,
    "dsl_tsds_downsample_served": dsl_tsds_downsample_served,
    "dsl_rate_served": dsl_rate_served,
    "esql_rate_served": esql_rate_served,
    "esql_rate_week_served": esql_rate_week_served,
}


ORACLES = {
    # the from-corpus rebuild IS the served result's ground truth: the
    # artifact adds persistence, not different math
    "ann_ivfpq_served": _ivfpq_oracle(),
    "ann_ivfpq_appended": _ivfpq_oracle(),
    "dedup_index_served": INCREMENTAL_DEDUP_ORACLE,
    "dedup_index_appended": INCREMENTAL_DEDUP_ORACLE,
    "dsl_tsds_downsample_served": DSL_TSDS_DOWNSAMPLE_ORACLE,
    "dsl_rate_served": DSL_RATE_ORACLE,
    "esql_rate_served": ESQL_ORACLES["esql_rate"],
    "esql_rate_week_served": _rate_week_oracle(),
}
