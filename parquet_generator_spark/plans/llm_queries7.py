"""Seventh wave of LLM-training-data pipeline queries: corpus bigram
language-model scoring, lexical diversity, robust (median/MAD) length
outliers, per-dimension embedding statistics, distributed k-means, and
an exact hierarchical peak-concurrency sweep.

Scale posture: every query is one or two keyed shuffles with map-side
partial aggregation; the only driver traffic is k-means' bounded
k x dim centroid matrix (the MLlib posture) and the usual one-row
scalars. No pairwise joins, no Python in a hot path, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache as _cache
from parquet_generator_spark.operators import similarity
from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.operators.util import (
    broadcast_scalars,
    widen_if_narrow,
)
from parquet_generator_spark.sources.catalog import load_table


# ------------------------------------------------------ bigram_logprob

def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under an add-one-
    smoothed corpus bigram model — the classic cheap LM-quality
    filter (a KenLM stand-in that needs no external model). Bigrams
    are generated ARRAY-SIDE per document (no self-join); the model
    is two grouped counts; scoring re-joins each document bigram to
    the model on (w1, w2) — an equi-join AQE broadcasts while the
    vocabulary is small and shuffles when it isn't. P(w2|w1) =
    (c12 + 1) / (c1 + V) with c1 = bigram-left count and V = corpus
    vocabulary size (attached as a scalar subquery)."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    return bigram_logprob_frame(docs)


def bigram_logprob_frame(docs: DataFrame) -> DataFrame:
    t = docs.select("doc_id", F.expr(toks_spark("text")).alias("tk"))
    bg = (t.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(tk) >= 2 THEN "
            "transform(sequence(0, size(tk) - 2), "
            "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) "
            "ELSE array() END")).alias("b"))
        .select("doc_id", "b.w1", "b.w2"))
    # The MODEL (bigram counts) feeds the left-count aggregate AND
    # the scoring join build side: without a barrier the final plan
    # re-tokenized and re-aggregated the corpus once per branch (6
    # documents scans in the round-13 before-plan).  The barrier
    # sits on the aggregated table — vocab^2-bounded, tiny next to
    # the corpus — never on the corpus-sized bigram stream, so the
    # same shape holds at 100 TB.
    model = _cache.checkpoint(
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12")))
    left = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (t.select(F.explode("tk").alias("w"))
             .agg(F.countDistinct("w").alias("v")))
    scored = broadcast_scalars(
        bg.join(model, ["w1", "w2"]).join(left, "w1"), vocab)
    lp = F.log2((F.col("c12") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double"))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg(lp), 4).alias("avg_lp"))
            .orderBy("doc_id"))


BIGRAM_LOGPROB_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
bg AS (
  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
  FROM t, unnest(range(0, len(tk) - 1)) AS a(i)
  WHERE len(tk) >= 2),
model AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
lft AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
vocab AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(tk) AS w FROM t))
SELECT b.doc_id, count(*) AS n_bigrams,
       round(avg(log2((c12 + 1.0) / (c1 + v))), 4) AS avg_lp
FROM bg b
JOIN model USING (w1, w2)
JOIN lft USING (w1)
CROSS JOIN vocab
GROUP BY b.doc_id ORDER BY b.doc_id
"""


# ------------------------------------------------------ lexical_diversity

def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio and hapax-legomenon fraction per document —
    standard lexical-diversity quality signals. One shuffle on
    (doc_id, token) for the within-doc term counts, then a per-doc
    re-aggregation; both map-side partial."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    tc = (docs.select("doc_id",
                      F.explode(F.expr(toks_spark("text"))).alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    return (tc.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_types"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .alias("n_hapax"))
            .select("doc_id", "n_tokens", "n_types",
                    F.round(F.col("n_types") / F.col("n_tokens"), 4)
                    .alias("ttr"),
                    F.round(F.col("n_hapax") / F.col("n_tokens"), 4)
                    .alias("hapax_frac"))
            .orderBy("doc_id"))


LEXICAL_DIVERSITY_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
tc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS w FROM t)
  GROUP BY doc_id, w)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS ttr,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             / CAST(sum(c) AS DOUBLE), 4) AS hapax_frac
FROM tc GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------ robust_length_outliers

ROBUST_Z_CUT = 2.5


def robust_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source median/MAD length outliers — the robust-statistics
    twin of the mean/std `embedding_norm_outliers` QA query (medians
    don't move when the contamination itself is the thing you're
    hunting). Two grouped percentile passes over source-cardinality
    groups; the per-source scalars re-join via equi-join on `source`
    (AQE broadcasts the bounded side). Robust z = 0.6745 * (x - med)
    / MAD, the standard consistency constant."""
    docs = load_table(spark, "documents", sf_dir)
    med = (docs.groupBy("source")
           .agg(F.expr("percentile(n_chars, 0.5D)").alias("med")))
    dev = (docs.join(med, "source")
           .withColumn("dv", F.col("n_chars") - F.col("med")))
    mad = (dev.groupBy("source")
           .agg(F.expr("percentile(abs(dv), 0.5D)").alias("mad")))
    rz = F.lit(0.6745) * F.col("dv") / F.col("mad")
    return (dev.join(mad, "source")
            .filter((F.col("mad") > 0)
                    & (F.abs(rz) > F.lit(ROBUST_Z_CUT)))
            .select("doc_id", "source", "n_chars",
                    F.round(rz, 3).alias("robust_z"))
            .orderBy("doc_id"))


ROBUST_LENGTH_OUTLIERS_ORACLE = f"""
WITH med AS (
  SELECT source, median(n_chars) AS med FROM documents GROUP BY source),
dev AS (
  SELECT d.doc_id, d.source, d.n_chars, d.n_chars - m.med AS dv
  FROM documents d JOIN med m USING (source)),
mad AS (SELECT source, median(abs(dv)) AS mad FROM dev GROUP BY source)
SELECT doc_id, source, n_chars,
       round(0.6745 * dv / mad, 3) AS robust_z
FROM dev JOIN mad USING (source)
WHERE mad > 0 AND abs(0.6745 * dv / mad) > {ROBUST_Z_CUT}
ORDER BY doc_id
"""


# -------------------------------------------------- embedding_dim_stats

def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population std / min / max across the
    embedding corpus — the whitening-statistics pass a feature
    standardizer needs. posexplode then ONE groupBy(dim) with
    map-side partial aggregation: the shuffle moves dim-cardinality
    partial states, not n x dim rows."""
    emb = widen_if_narrow(load_table(spark, "embeddings", sf_dir))
    x = (emb.select(F.posexplode("embedding").alias("dim", "val"))
         .withColumn("val", F.col("val").cast("double")))
    return (x.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n_vals"),
                 F.round(F.avg("val"), 4).alias("mean"),
                 F.round(F.stddev_pop("val"), 4).alias("std"),
                 F.round(F.min("val"), 4).alias("vmin"),
                 F.round(F.max("val"), 4).alias("vmax"))
            .orderBy("dim"))


EMBEDDING_DIM_STATS_ORACLE = """
SELECT dim, count(*) AS n_vals,
       round(avg(val), 4) AS mean,
       round(stddev_pop(val), 4) AS std,
       round(min(val), 4) AS vmin,
       round(max(val), 4) AS vmax
FROM (
  SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings)
GROUP BY dim ORDER BY dim
"""


# ------------------------------------------------------ kmeans_clusters

KMEANS_K = 8
KMEANS_ITERS = 2


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus (k=8,
    2 rounds, deterministic lowest-id init, per-round centroid
    quantization) — the clustering pass behind corpus bucketing /
    topic balancing. See similarity.kmeans_lloyd for the scale
    argument (centroids as plan literals, one groupBy per round)."""
    emb = widen_if_narrow(load_table(spark, "embeddings", sf_dir))
    return similarity.kmeans_lloyd(emb, k=KMEANS_K, iters=KMEANS_ITERS)


KMEANS_CLUSTERS_ORACLE = similarity.kmeans_lloyd_duck_sql(
    "embeddings", k=KMEANS_K, iters=KMEANS_ITERS)


# ------------------------------------------------------ peak_concurrency

CONCURRENCY_TTL_MIN = 5


def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of concurrently-active events per day, EXACT,
    where each event is active for a 5-minute TTL — the classic
    +1/-1 interval sweep, made distributed: a naive sweep needs one
    global running sum over every delta (single-partition at scale),
    so instead each MINUTE bucket computes its within-minute max
    prefix in parallel (window partitioned by minute), and only the
    bounded minute frame (cardinality = wall-clock span, not data
    size) takes a serial cumulative pass. peak(day) = max over its
    minutes of (running count before the minute + within-minute max
    prefix) — identical to the flat sweep's answer."""
    ev = load_table(spark, "events", sf_dir)
    return peak_concurrency_frame(ev)


def peak_concurrency_frame(ev: DataFrame) -> DataFrame:
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        (F.col("ts") + F.expr(f"INTERVAL {CONCURRENCY_TTL_MIN} MINUTES"))
        .alias("t"),
        F.lit(-1).alias("delta"))
    d = (starts.unionByName(ends)
         .withColumn("m", F.date_trunc("minute", F.col("t"))))
    # ends sort before starts at the same instant (delta -1 < +1):
    # an interval [t, t+ttl) is not concurrent with one starting at
    # its exact end
    wmin = (Window.partitionBy("m").orderBy("t", "delta")
            .rowsBetween(Window.unboundedPreceding, 0))
    per_row = d.withColumn("pfx", F.sum("delta").over(wmin))
    per_min = (per_row.groupBy("m")
               .agg(F.sum("delta").alias("tot"),
                    F.max("pfx").alias("maxpfx")))
    wcum = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    g = (per_min
         .withColumn("before",
                     F.coalesce(F.sum("tot").over(wcum),
                                F.lit(0).cast("long")))
         .withColumn("peak_at", F.col("before") + F.col("maxpfx")))
    return (g.groupBy(F.date_format(F.date_trunc("day", "m"),
                                    "yyyy-MM-dd").alias("day"))
            .agg(F.max("peak_at").alias("peak"))
            .orderBy("day"))


PEAK_CONCURRENCY_ORACLE = f"""
WITH d AS (
  SELECT ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT ts + INTERVAL {CONCURRENCY_TTL_MIN} MINUTE, -1 FROM events),
r AS (
  SELECT t, sum(delta) OVER (ORDER BY t, delta
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM d)
SELECT strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
       CAST(max(c) AS BIGINT) AS peak
FROM r GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "bigram_logprob": bigram_logprob,
    "lexical_diversity": lexical_diversity,
    "robust_length_outliers": robust_length_outliers,
    "embedding_dim_stats": embedding_dim_stats,
    "kmeans_clusters": kmeans_clusters,
    "peak_concurrency": peak_concurrency,
}

ORACLES = {
    "bigram_logprob": BIGRAM_LOGPROB_ORACLE,
    "lexical_diversity": LEXICAL_DIVERSITY_ORACLE,
    "robust_length_outliers": ROBUST_LENGTH_OUTLIERS_ORACLE,
    "embedding_dim_stats": EMBEDDING_DIM_STATS_ORACLE,
    "kmeans_clusters": KMEANS_CLUSTERS_ORACLE,
    "peak_concurrency": PEAK_CONCURRENCY_ORACLE,
}
