"""Retrieval and ANN: brute-force, LSH, IVF and IVF-PQ search, kNN
classification, BM25, ColBERT MaxSim, embedding statistics and
quantization, and retrieval evaluation.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache, similarity
from parquet_generator_spark.operators.similarity import (
    cosine,
    cosine_to_literal,
    cosine_to_literal_duck_sql,
    norm,
)
from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.operators.util import (
    broadcast_scalars,
    widen_if_narrow,
)
from parquet_generator_spark.sources.catalog import load_table


ANN_K = 5
ANN_QUERY_PRED = "vec_id < 10"


# --- similarity search ---------------------------------------------

def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.brute_force_topk(
        emb, emb.filter(ANN_QUERY_PRED), ANN_K)


ANN_BRUTEFORCE_ORACLE = similarity.brute_force_topk_duck_sql(
    "embeddings", ANN_K, ANN_QUERY_PRED)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Approximate vs brute force
    (recall asserted in tests), but DETERMINISTIC — the DuckDB oracle
    mirrors the sign-bit bucketing with the same plane literals, so
    the driver hash-checks it like any exact query."""
    emb = load_table(spark, "embeddings", sf_dir)
    planes = similarity.make_hyperplanes(64, n_planes=8)
    return similarity.lsh_topk(emb, emb.filter(ANN_QUERY_PRED),
                               ANN_K, planes)


ANN_LSH_ORACLE = similarity.lsh_topk_duck_sql(
    "embeddings", ANN_K, ANN_QUERY_PRED,
    similarity.make_hyperplanes(64, n_planes=8))

ANN_IVF_CELLS = 32
ANN_IVF_PROBE = 8


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k. The headline query uses the
    smallest-id coarse quantizer (make_centroids_from_corpus) so the
    DuckDB oracle can rebuild the identical centroid matrix in SQL
    and the driver hash-checks the whole path (cell assignment,
    probing, ranking). The k-means quantizer
    (make_centroids_kmeans) stays the recall-tuned production
    variant, exercised in tests — centroid choice only moves recall,
    never the plan shape. Exactness at n_probe=n_cells is asserted
    in tests."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = similarity.make_centroids_from_corpus(emb, ANN_IVF_CELLS)
    return similarity.ivf_topk(emb, emb.filter(ANN_QUERY_PRED),
                               ANN_K, cents, n_probe=ANN_IVF_PROBE)


ANN_IVF_ORACLE = similarity.ivf_topk_duck_sql(
    "embeddings", ANN_K, ANN_QUERY_PRED, ANN_IVF_CELLS, ANN_IVF_PROBE)


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid: vector count, centroid norm, and
    mean cosine of members to their centroid (cluster-cohesion
    metric). posexplode -> per-(label, dim) mean -> reassemble, then
    one broadcast-sized join back to score members."""
    emb = load_table(spark, "embeddings", sf_dir)
    pos = emb.select("label",
                     F.posexplode("embedding").alias("i", "x"))
    cent = (pos.groupBy("label", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m")))
                 .alias("sm"))
            .select("label",
                    F.expr("transform(sm, s -> s.m)").alias("centroid")))
    scored = (emb.join(F.broadcast(cent), "label")
              .select("label", cosine("embedding", "centroid").alias("cos")))
    per_label = (scored.groupBy("label")
                 .agg(F.count(F.lit(1)).alias("n_vecs"),
                      F.round(F.avg("cos"), 4).alias("avg_cos")))
    norms = cent.select("label",
                        F.round(norm("centroid"), 4).alias("centroid_norm"))
    return (per_label.join(norms, "label")
            .select("label", "n_vecs", "centroid_norm", "avg_cos")
            .orderBy("label"))


EMBEDDING_CENTROIDS_ORACLE = """
WITH pos AS (
  SELECT label,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
cent AS (
  SELECT label, i, avg(x) AS m FROM pos GROUP BY label, i),
cvec AS (
  SELECT label, list(m ORDER BY i) AS centroid FROM cent GROUP BY label),
scored AS (
  SELECT e.label,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
  FROM embeddings e JOIN cvec c USING (label))
SELECT s.label, count(*) AS n_vecs,
       round(sqrt(list_dot_product(c.centroid, c.centroid)), 4)
         AS centroid_norm,
       round(avg(s.cos), 4) AS avg_cos
FROM scored s JOIN cvec c ON s.label = c.label
GROUP BY s.label, c.centroid
ORDER BY s.label
"""


# ------------------------------------------------------ knn_classify

KNN_K = 5
KNN_QUERY_MOD = 20


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction over the embeddings table:
    every 20th vector is a query; its label is predicted from the 5
    nearest (cosine) neighbors among the rest. Reuses the brute-force
    top-k kernel (queries broadcast, corpus scanned once); the vote is
    a count per (query, label) + one window rank. At scale the
    brute-force kernel swaps for the IVF/LSH path unchanged; the
    label/truth lookups are corpus-cardinality, so they join without
    a broadcast hint (AQE decides)."""
    from parquet_generator_spark.operators.similarity import (
        brute_force_topk,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    topk = brute_force_topk(emb, queries, KNN_K)
    labels = emb.select(F.col("vec_id").alias("nid"),
                        F.col("label").alias("n_label"))
    votes = (topk.join(labels, "nid")
             .groupBy("qid", "n_label")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"),
                                          F.asc("n_label"))
    pred = (votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1))
    truth = emb.select(F.col("vec_id").alias("qid"),
                       F.col("label").alias("true_label"))
    return (pred.join(truth, "qid")
            .select("qid", "true_label",
                    F.col("n_label").alias("pred_label"), "votes")
            .orderBy("qid"))


def _knn_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        brute_force_topk_duck_sql,
    )
    topk = brute_force_topk_duck_sql(
        "embeddings", KNN_K,
        f"vec_id % {KNN_QUERY_MOD} = 0").strip()
    return f"""
WITH ranked AS ({topk}),
votes AS (
  SELECT r.qid, e.label AS n_label, count(*) AS votes
  FROM ranked r JOIN embeddings e ON r.nid = e.vec_id
  GROUP BY r.qid, e.label),
pred AS (
  SELECT qid, n_label, votes,
         row_number() OVER (PARTITION BY qid
                            ORDER BY votes DESC, n_label ASC) AS rk
  FROM votes)
SELECT p.qid, t.label AS true_label, p.n_label AS pred_label, p.votes
FROM pred p JOIN embeddings t ON p.qid = t.vec_id
WHERE p.rk = 1
ORDER BY p.qid
"""


KNN_ORACLE = _knn_oracle()


# ---------------------------------------------- embedding_group_stats


def embedding_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label second-moment statistics of the embedding cloud
    (mean-vector norm, covariance trace = total variance) via
    applyInPandas — the grouped-map Pandas UDF: each label's vectors
    arrive as ONE Arrow batch and numpy does the matrix math. This is
    the correct tool when per-group logic is genuinely matrix-shaped
    (whitening, PCA, calibration); a group must fit in executor
    memory, so giant groups get pre-chunked with a salt at scale."""
    import pandas as pd

    emb = load_table(spark, "embeddings", sf_dir)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        mu = m.mean(axis=0)
        return pd.DataFrame({
            "label": [int(pdf["label"].iloc[0])],
            "n": [len(m)],
            "mean_norm": [float(np.sqrt((mu * mu).sum()))],
            "var_trace": [float(m.var(axis=0).sum())],
        })

    out = emb.groupBy("label").applyInPandas(
        stats, "label int, n long, mean_norm double, var_trace double")
    return (out.select("label", "n",
                       F.round("mean_norm", 4).alias("mean_norm"),
                       F.round("var_trace", 4).alias("var_trace"))
            .orderBy("label"))


EMBEDDING_GROUP_STATS_ORACLE = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
di AS (SELECT label, v,
              unnest(generate_series(1, len(v))) AS i
       FROM e),
dd AS (SELECT label, i, v[i] AS x FROM di),
per_dim AS (SELECT label, i, avg(x) AS mu, var_pop(x) AS vp
            FROM dd GROUP BY label, i),
agg AS (SELECT label, round(sqrt(sum(mu * mu)), 4) AS mean_norm,
               round(sum(vp), 4) AS var_trace
        FROM per_dim GROUP BY label),
cnt AS (SELECT label, count(*) AS n FROM e GROUP BY label)
SELECT a.label, n, mean_norm, var_trace
FROM agg a JOIN cnt USING (label)
ORDER BY a.label
"""


# ------------------------------------------------------ bm25_topk

BM25_TERMS = ("vector", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relevance-RANKED retrieval with BM25 — Elasticsearch's
    default scorer, closing the one ES behavior the DSL translator
    alone can't express (it filters; it doesn't rank). Lucene's
    formula: idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation
    k1=1.2, length normalization b=0.75 against the average doc
    length. Execution: one explode filtered to the query terms (the
    scan prunes everything else), per-doc tf agg, term df agg
    (query-term cardinality, bounded by |query| — joined without a
    forced hint; AQE broadcasts the 3-row frame at runtime), per-doc
    length from the same token pass, corpus-wide aggs as one scalar
    subquery. Ranking compares the ROUNDED score with doc_id
    tie-break, so float ulp noise can't reorder engines.

    Scale note: the top-k is taken with ``orderBy(...).limit(k)``,
    which Catalyst compiles to ``TakeOrderedAndProject`` — each
    partition keeps its local top-k and the driver merges k·P rows —
    instead of an unpartitioned ranking Window that would funnel
    every scored document through one partition. ``rank`` is derived
    afterwards over the k surviving rows (bounded input, never
    data-scale).

    Round 14 shape: the query-term list is BOUNDED (|query| terms),
    so per-doc tf for every query term is an array-side count over
    the one tokenized projection — no explode, no (doc, term)
    shuffle at all. ONE corpus tokenize pass builds the narrow
    (doc_id, dl, tf_0..tf_q) frame (checkpointed, model-sized per
    row); one agg over it yields n_docs/avgdl AND the per-term
    document frequencies (query-cardinality scalars, attached as one
    scalar subquery); the score is then a pure projection
    + TakeOrderedAndProject. The round-13 window-over-(doc,term)
    shape carried the whole tf stream through a sort exchange with
    no partial aggregation and regressed the bench 2.2x."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    tf_cols = [f"_tf{i}" for i in range(len(BM25_TERMS))]
    per_doc = (docs
               .select("doc_id", F.expr(toks_spark("text")).alias("tk"))
               .select("doc_id", F.size("tk").alias("dl"),
                       *[F.size(F.filter("tk", lambda x: x == F.lit(t)))
                         .alias(c)
                         for t, c in zip(BM25_TERMS, tf_cols)])
               .filter(F.col("dl") > 0))
    per_doc = cache.checkpoint(per_doc, eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(c) > 0).cast("long")).alias(f"_df{i}")
          for i, c in enumerate(tf_cols)])

    def contrib(i: int) -> F.Column:
        # tf=0 terms contribute exactly 0.0, matching the former
        # explode/groupBy shape where absent terms emitted no row
        tf, dfreq = F.col(tf_cols[i]), F.col(f"_df{i}")
        idf = F.log(1.0 + (F.col("n_docs") - dfreq + 0.5) / (dfreq + 0.5))
        return (idf * tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1
                   * (1.0 - BM25_B
                      + BM25_B * F.col("dl") / F.col("avgdl"))))

    any_hit = F.greatest(*[F.col(c) for c in tf_cols]) > 0
    score = contrib(0)
    for i in range(1, len(BM25_TERMS)):
        score = score + contrib(i)
    scored = (broadcast_scalars(per_doc.filter(any_hit), stats)
              .select("doc_id", F.round(score, 4).alias("score")))
    top = (scored.orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(BM25_TOP))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "score")
            .orderBy("rank"))


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks_duck('text')}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({terms}) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         round(sum(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * dl.dl / st.avgdl))), 4) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT rank, doc_id, score FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc)
WHERE rank <= {BM25_TOP}
ORDER BY rank
"""


BM25_TOPK_ORACLE = _bm25_oracle()


# ------------------------------------------------------ embedding_quantize

def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0..255) affine quantization — the storage
    prep step before a large ANN index ships: scale = (max-min)/255,
    code_i = round((x_i-min)/scale). Output per vector: the scale,
    the code checksum (proves the exact same codes on any engine),
    and the max reconstruction error (bounded by scale/2 by
    construction). Everything is a narrow Catalyst map over the
    embedding array — no shuffle, no UDF; at 100 TB this runs at
    scan speed. Exactly mirrored in DuckDB: both engines fold the
    same float64 values with the same operation order, so codes are
    bit-identical, not just close."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (emb
            .select("vec_id",
                    F.expr("transform(embedding, x -> cast(x AS DOUBLE))")
                    .alias("e"))
            .select("vec_id", "e",
                    F.array_min("e").alias("mn"),
                    F.array_max("e").alias("mx"))
            .select("vec_id", "e", "mn",
                    F.expr("CASE WHEN mx > mn THEN (mx - mn) / 255.0 "
                           "ELSE 1.0 END").alias("sc"))
            .select("vec_id", "e", "mn", "sc",
                    F.expr("transform(e, x -> "
                           "cast(round((x - mn) / sc) AS BIGINT))")
                    .alias("codes"))
            .select("vec_id",
                    F.round("sc", 6).alias("scale"),
                    F.expr("aggregate(codes, cast(0 AS BIGINT), "
                           "(a, c) -> a + c)").alias("code_sum"),
                    F.round(F.expr(
                        "aggregate(zip_with(e, codes, "
                        "(x, c) -> abs(x - (mn + c * sc))), "
                        "cast(0.0 AS DOUBLE), "
                        "(a, v) -> greatest(a, v))"), 6).alias("max_err"))
            .orderBy("vec_id"))


EMBEDDING_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v),
s AS (SELECT vec_id, e, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS sc
      FROM m),
c AS (SELECT vec_id, e, mn, sc,
             list_transform(e, x ->
               CAST(round((x - mn) / sc) AS BIGINT)) AS codes
      FROM s)
SELECT vec_id,
       round(sc, 6) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(list_max(list_transform(generate_series(1, len(e)),
             i -> abs(e[i] - (mn + codes[i] * sc)))), 6) AS max_err
FROM c ORDER BY vec_id
"""


# ------------------------------------------------------ embedding_norm_outliers

def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: flag vectors whose L2 norm sits more than 3
    sample standard deviations from the corpus mean (broken encoder
    output, zero vectors, scale drift). The mean/stddev are a
    one-row aggregate attached as a scalar subquery (broadcast_scalars)
    — the same scalar-decorrelation pattern the analytics surface
    uses; the norm itself is the sequential JVM fold, bit-identical
    to DuckDB's list_dot_product."""
    emb = load_table(spark, "embeddings", sf_dir)
    norms = emb.select("vec_id", norm("embedding").alias("nrm"))
    stats = norms.agg(F.avg("nrm").alias("mu"),
                      F.stddev_samp("nrm").alias("sd"))
    return (broadcast_scalars(norms, stats)
            .select("vec_id",
                    F.round("nrm", 4).alias("nrm"),
                    (F.abs(F.col("nrm") - F.col("mu"))
                     > 3 * F.col("sd")).alias("is_outlier"))
            .orderBy("vec_id"))


EMBEDDING_NORM_OUTLIERS_ORACLE = """
WITH n AS (
  SELECT vec_id,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings),
s AS (SELECT avg(nrm) AS mu, stddev_samp(nrm) AS sd FROM n)
SELECT vec_id, round(nrm, 4) AS nrm,
       (abs(nrm - mu) > 3 * sd) AS is_outlier
FROM n, s ORDER BY vec_id
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


def embedding_top_component(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via
    distributed power iteration (3 rounds, unit init, per-round
    quantization — see similarity.pca_top_component for the scale
    argument), summarized as per-label projection statistics: the
    PCA-whitening prep step, and a quick read on whether the top
    direction separates the labels."""
    from parquet_generator_spark.operators.similarity import (
        pca_top_component,
    )
    emb = widen_if_narrow(load_table(spark, "embeddings", sf_dir))
    return pca_top_component(emb)


def _pca_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        pca_top_duck_sql,
    )
    return pca_top_duck_sql("embeddings")


EMBEDDING_TOP_COMPONENT_ORACLE = _pca_oracle()


FH_DIM = 16
FH_K = 5
FH_NQ = 5


def feature_hash_retrieval(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """End-to-end model-free retrieval: hash-trick document vectors
    (signed term-frequency buckets — similarity.feature_hash_vectors)
    then exact cosine top-k for the first 5 docs as queries, through
    the same broadcast brute-force kernel as ann_bruteforce. The
    whole index build is one explode + one groupBy; the md5 bucket
    hash is the MinHash pipeline's cross-engine-proven hash."""
    from parquet_generator_spark.operators.similarity import (
        brute_force_topk,
        feature_hash_vectors,
    )
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    vec = feature_hash_vectors(docs, toks_spark("text"), dim=FH_DIM)
    queries = vec.filter(F.col("id") < FH_NQ)
    return brute_force_topk(vec, queries, FH_K,
                            id_col="id", vec_col="e")


def _fh_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        feature_hash_topk_duck_sql,
    )
    return feature_hash_topk_duck_sql(
        "documents", toks_duck("text"), FH_K, f"{{id}} < {FH_NQ}",
        dim=FH_DIM)


FEATURE_HASH_RETRIEVAL_ORACLE = _fh_oracle()


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class query: per-query
    recall@k of the LSH ANN path against brute-force ground truth
    (left join of the two deterministic result sets — the metric a
    retrieval deployment monitors before dialing index parameters).
    Both sides are existing oracle-backed plans, so even the METRIC
    is hash-gated."""
    truth = ann_bruteforce(spark, sf_dir).select("qid", "nid")
    approx = (ann_lsh(spark, sf_dir)
              .select("qid", F.col("nid").alias("anid"))
              .withColumn("hit", F.lit(1)))
    k = truth.groupBy("qid").count().select(
        "qid", F.col("count").alias("k"))
    hits = (truth.join(approx,
                       (truth.qid == approx.qid)
                       & (truth.nid == approx.anid), "left")
            .groupBy(truth.qid.alias("qid"))
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                 .alias("n_hit")))
    return (hits.join(k, "qid")
            .select("qid", "n_hit", "k",
                    F.round(F.col("n_hit") / F.col("k"), 3)
                    .alias("recall_at_k"))
            .orderBy("qid"))


def _retrieval_eval_oracle() -> str:
    return f"""
WITH truth AS ({ANN_BRUTEFORCE_ORACLE}),
approx AS ({ANN_LSH_ORACLE}),
k AS (SELECT qid, count(*) AS k FROM truth GROUP BY qid),
hits AS (
  SELECT t.qid,
         CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
  FROM truth t
  LEFT JOIN approx a ON a.qid = t.qid AND a.nid = t.nid
  GROUP BY t.qid)
SELECT h.qid, h.n_hit, k.k,
       round(h.n_hit / CAST(k.k AS DOUBLE), 3) AS recall_at_k
FROM hits h JOIN k ON k.qid = h.qid
ORDER BY h.qid
"""


RETRIEVAL_EVAL_ORACLE = _retrieval_eval_oracle()


IVF_CURVE_CELLS = 32
IVF_PROBES = (1, 2, 4, 8)


def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@k against brute-force truth for
    several n_probe settings in one result — the number that decides
    the latency/recall trade before an index ships. Truth computes
    once; recall joins on the (query, neighbor) key
    (query-cardinality).

    Round-13 shape (same results, fewer passes): the per-probe loop
    used to call ``ivf_topk`` once per setting, re-assigning the
    CORPUS to cells (a mapInPandas pass over every vector) four
    times and running four separate count actions.  Cell assignment
    does not depend on n_probe, and a query's top-p probe cells are
    by construction the first p rows of its top-max(p) stable
    argsort — so both assignments now materialize ONCE
    (localCheckpoint) and each probe setting is a pure
    ``probe_rank < p`` filter over the shared query assignment.

    Round-13 optimization pass, step two: the four per-probe
    branches each re-joined corpus-to-query, re-deduplicated and
    re-ranked the SAME scored pairs (a pair is a p-candidate iff its
    minimum shared probe_rank is < p — the candidate sets are
    nested).  Now the join+score runs ONCE at max(probes); a single
    groupBy(qid, nid) keeps the min probe_rank (replacing the four
    dropDuplicates), an array filter explodes each pair to exactly
    the probe settings it belongs to, and ONE window over
    (n_probe, qid) ranks all four curves together — 4 joins + 4
    window exchanges collapse into 1 + 1 (guide §1.2 / §2.4).
    Value-identity with the per-probe ``ivf_topk`` calls is pinned
    in tests/test_ann_recall_curve.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(ANN_QUERY_PRED)
    truth = cache.checkpoint(
        similarity.brute_force_topk(emb, queries, ANN_K)
        .select("qid", "nid"))
    n_truth = truth.count()  # bounded: queries x k
    cents = similarity.make_centroids_from_corpus(emb, IVF_CURVE_CELLS)
    c = cache.checkpoint(
        similarity.ivf_assign_cells(emb, cents, 1)
        .select(F.col("vec_id").alias("nid"),
                F.col("embedding").alias("nvec"),
                similarity.norm("embedding").alias("nn"), "cell"))
    qmax = cache.checkpoint(
        similarity.ivf_assign_cells(queries, cents,
                                    max(IVF_PROBES))
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"),
                similarity.norm("embedding").alias("qn"),
                "cell", "probe_rank"))
    # one corpus-to-query join at the loosest setting; min shared
    # probe_rank decides every tighter setting's membership
    scored = (c.join(F.broadcast(qmax), "cell")
              .filter(F.col("qid") != F.col("nid"))
              .groupBy("qid", "nid")
              .agg(F.min("probe_rank").alias("pr"),
                   F.min(F.round(similarity.dot("qvec", "nvec")
                                 / (F.col("qn") * F.col("nn")), 4))
                   .alias("cos")))
    probes_lit = ", ".join(str(p) for p in IVF_PROBES)
    exploded = scored.select(
        "qid", "nid", "cos",
        F.explode(F.expr(
            f"filter(array({probes_lit}), p -> p > pr)"))
        .alias("n_probe"))
    w = Window.partitionBy("n_probe", "qid").orderBy(F.desc("cos"),
                                                     F.asc("nid"))
    got_all = (exploded.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= ANN_K)
               .select("qid", "nid", "n_probe"))
    hit_rows = (got_all.join(truth, ["qid", "nid"], "left_semi")
                .groupBy("n_probe")
                .agg(F.count(F.lit(1)).alias("n_hits")).collect())
    hit_map = {int(r["n_probe"]): int(r["n_hits"]) for r in hit_rows}
    rows = [(p, hit_map.get(p, 0), n_truth,
             round(hit_map.get(p, 0) / n_truth, 4))
            for p in IVF_PROBES]
    return spark.createDataFrame(
        rows, "n_probe int, n_hits bigint, n_truth bigint, "
              "recall double")


def _ivf_curve_oracle() -> str:
    parts = []
    for probe in IVF_PROBES:
        ivf = similarity.ivf_topk_duck_sql(
            "embeddings", ANN_K, ANN_QUERY_PRED, IVF_CURVE_CELLS,
            probe).strip().rstrip(";")
        bf = similarity.brute_force_topk_duck_sql(
            "embeddings", ANN_K, ANN_QUERY_PRED).strip().rstrip(";")
        parts.append(f"""
SELECT {probe} AS n_probe,
       (SELECT count(*) FROM ({ivf}) g
        WHERE EXISTS (SELECT 1 FROM ({bf}) t
                      WHERE t.qid = g.qid AND t.nid = g.nid))
         AS n_hits,
       (SELECT count(*) FROM ({bf})) AS n_truth""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH curve AS ({union})
SELECT CAST(n_probe AS INTEGER) AS n_probe, n_hits, n_truth,
       round(n_hits / CAST(n_truth AS DOUBLE), 4) AS recall
FROM curve ORDER BY n_probe
"""


# --------------------------------------------------- knn_classify_ivf

def knn_classify_ivf(spark: SparkSession, sf_dir: str,
                     n_probe: int | None = None) -> DataFrame:
    """k-NN classification through the IVF index instead of the
    brute-force kernel — the swap the sf1 checkpoint demanded:
    knn_classify measured 109x for 10x data (BENCH_SF1, the quadratic
    broadcast kernel), while the IVF path only scores each query
    against its n_probe probed cells (~n_probe/n_cells of the corpus,
    an equi-join on the cell id that shuffles instead of
    broadcasting at scale). Same vote + tie-break as knn_classify;
    predictions may differ from exact k-NN only where recall < 1 —
    the oracle mirrors the IVF index exactly, so the gate stays a
    hash check."""
    from parquet_generator_spark.operators.similarity import (
        ivf_topk,
        make_centroids_from_corpus,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    # cell count scales as sqrt(n) (the classic IVF dial): with FIXED
    # cells, per-cell size grows linearly and the cell join re-becomes
    # quadratic — measured 40x for 10x data at the sf1 checkpoint.
    # The floor keeps the static oracle's cell count exact at the
    # gate SFs (500-row embeddings -> sqrt < 32 -> floor wins); at
    # true corpus scale the sqrt(n) centroid table is built by
    # sampled k-means and broadcast, not collected row-by-row.
    n = emb.count()
    n_cells = max(ANN_IVF_CELLS, int(n ** 0.5))
    cents = make_centroids_from_corpus(emb, n_cells)
    topk = ivf_topk(emb, queries, KNN_K, cents,
                    n_probe=n_probe or ANN_IVF_PROBE)
    # labels/truth are corpus-cardinality frames: NO broadcast hint —
    # a forced broadcast of every vec_id dies at 100 TB. Plain equi
    # joins on nid/qid let AQE pick shuffle-hash (or broadcast only
    # when the runtime stats say the side is actually small).
    labels = emb.select(F.col("vec_id").alias("nid"),
                        F.col("label").alias("n_label"))
    votes = (topk.join(labels, "nid")
             .groupBy("qid", "n_label")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"),
                                          F.asc("n_label"))
    pred = (votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1))
    truth = emb.select(F.col("vec_id").alias("qid"),
                       F.col("label").alias("true_label"))
    return (pred.join(truth, "qid")
            .select("qid", "true_label",
                    F.col("n_label").alias("pred_label"), "votes")
            .orderBy("qid"))


def _knn_ivf_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        ivf_topk_duck_sql,
    )
    # sqrt_n_cells mirrors the plan's max(ANN_IVF_CELLS, int(n**0.5))
    # so the oracle stays exact at every SF, not only where the
    # 32-cell floor wins (ADVICE r8).
    topk = ivf_topk_duck_sql(
        "embeddings", KNN_K, f"vec_id % {KNN_QUERY_MOD} = 0",
        ANN_IVF_CELLS, ANN_IVF_PROBE, sqrt_n_cells=True).strip()
    return f"""
WITH ranked AS ({topk}),
votes AS (
  SELECT r.qid, e.label AS n_label, count(*) AS votes
  FROM ranked r JOIN embeddings e ON r.nid = e.vec_id
  GROUP BY r.qid, e.label),
pred AS (
  SELECT qid, n_label, votes,
         row_number() OVER (PARTITION BY qid
                            ORDER BY votes DESC, n_label ASC) AS rk
  FROM votes)
SELECT p.qid, t.label AS true_label, p.n_label AS pred_label, p.votes
FROM pred p JOIN embeddings t ON p.qid = t.vec_id
WHERE p.rk = 1
ORDER BY p.qid
"""


def knn_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation over the k-NN predictions: the
    (true_label, pred_label) confusion matrix with per-cell counts
    and the row-normalized rate — the quality report a label-
    propagation pipeline ships with its outputs. One grouped pass
    over the (bounded, query-cardinality) prediction frame.

    Evaluates the IVF classifier — the declared scale path — NOT the
    brute-force kernel: routing the eval through knn_classify was
    re-importing the quadratic kernel this family exists to replace
    (sf1 measured 242s / 76x for 10x data; via IVF the eval scales
    with the classifier it audits)."""
    # the marginal n_true is exactly the row-sum of the confusion
    # rollup, so it derives from the label^2-bounded aggregated
    # frame with a window — the IVF classify pipeline runs ONCE
    # with no barrier at all (round 14; the round-13 eager
    # checkpoint materialized the whole pipeline as a dedicated
    # job and regressed the bench 1.7x).
    pred = knn_classify_ivf(spark, sf_dir)
    conf = (pred.groupBy("true_label", "pred_label")
            .agg(F.count(F.lit(1)).alias("n")))
    n_true = F.sum("n").over(Window.partitionBy("true_label"))
    return (conf
            .select("true_label", "pred_label", "n",
                    F.round(F.col("n") / n_true, 4).alias("rate"))
            .orderBy("true_label", "pred_label"))


KNN_EVAL_CONFUSION_ORACLE = f"""
WITH pred AS ({_knn_ivf_oracle().strip()}),
per_true AS (SELECT true_label, count(*) AS n_true
             FROM pred GROUP BY true_label)
SELECT p.true_label, p.pred_label, count(*) AS n,
       round(count(*) / CAST(min(t.n_true) AS DOUBLE), 4) AS rate
FROM pred p JOIN per_true t USING (true_label)
GROUP BY p.true_label, p.pred_label
ORDER BY p.true_label, p.pred_label
"""


# ------------------------------------------------------- embedding_pq

PQ_M = 8          # subspaces (64-dim -> 8 x 8)
PQ_K = 16         # codewords per subspace
PQ_DIM = 64


def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the FAISS IVF-PQ storage layout): each
    vector splits into PQ_M subvectors; each subvector is encoded as
    its nearest of PQ_K codewords, so a 64-float vector compresses to
    8 bytes. Codebooks here are the smallest-id corpus rows'
    subvectors (the reproducible-quantizer trick the IVF oracle uses
    — a k-means codebook swaps in at scale without changing the
    plan). Encoding is one Arrow-batched mapInPandas (numpy matmul
    per batch, no shuffle); output per vector: the integer code
    checksum (base-31 positional hash — exact) and the reconstruction
    MSE. Distances use the decomposed |a|^2 - 2ab + |b|^2 form with
    the same evaluation order as the SQL oracle, so the argmin (id
    tie-break) is engine-identical."""
    import pandas as pd
    from pyspark.sql import types as T

    emb = load_table(spark, "embeddings", sf_dir)
    base = (emb.orderBy("vec_id").limit(PQ_K)
            .select("embedding").collect())
    books = np.array([r["embedding"] for r in base],
                     dtype=np.float64)           # [K, DIM]
    d = PQ_DIM // PQ_M
    # books[m][k] = codeword k of subspace m
    sub_books = books.reshape(PQ_K, PQ_M, d).transpose(1, 0, 2)
    bc = spark.sparkContext.broadcast(sub_books)

    place = (31 ** np.arange(PQ_M)).astype(np.int64)

    def encode(batches):
        sb = bc.value                              # [M, K, d]
        c2 = np.einsum("mkd,mkd->mk", sb, sb)      # [M, K]
        for pdf in batches:
            vecs = np.stack(pdf["embedding"].to_numpy()) \
                .astype(np.float64).reshape(-1, PQ_M, d)
            # whole-batch distances — vectorized, not per-row Python
            # (the loop form measured exactly linear but 10x slower
            # at sf1). Each term is a d=8 sequential dot, the same
            # order DuckDB's list_dot_product uses, so the doubles —
            # and therefore the argmin and the mse — stay
            # engine-identical.
            v2 = np.einsum("nmd,nmd->nm", vecs, vecs)      # [n, M]
            cross = np.einsum("nmd,mkd->nmk", vecs, sb)    # [n, M, K]
            dists = v2[:, :, None] - 2.0 * cross + c2[None]
            codes = dists.argmin(axis=2)           # first min = id tie
            best = np.take_along_axis(
                dists, codes[:, :, None], axis=2)[:, :, 0]
            # accumulate the 8 per-subspace distances SEQUENTIALLY
            # (vectorized across rows) — numpy's pairwise .sum() order
            # is not bitwise-equal to the oracle's left-to-right
            # w0.dist + w1.dist + ... chain
            total = best[:, 0].copy()
            for m in range(1, PQ_M):
                total += best[:, m]
            mse = np.round(total / PQ_DIM, 4)
            ck = ((codes + 1) * place[None, :]).sum(axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "code_checksum": ck.astype(np.int64),
                "recon_mse": mse,
            })

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("code_checksum", T.LongType()),
        T.StructField("recon_mse", T.DoubleType()),
    ])
    return (emb.select("vec_id", "embedding")
            .mapInPandas(encode, schema=schema)
            .orderBy("vec_id"))


def _pq_oracle() -> str:
    d = PQ_DIM // PQ_M
    subs = []
    for m in range(PQ_M):
        lo, hi = m * d + 1, (m + 1) * d
        subs.append(f"e[{lo}:{hi}] AS s{m}")
    sub_sel = ", ".join(subs)
    per_sub = []
    for m in range(PQ_M):
        per_sub.append(f"""
d{m} AS (
  SELECT v.vec_id, c.k,
         list_dot_product(v.s{m}, v.s{m})
         - 2.0 * list_dot_product(v.s{m}, c.s{m})
         + list_dot_product(c.s{m}, c.s{m}) AS dist
  FROM v JOIN cents c ON TRUE),
b{m} AS (
  SELECT vec_id, k AS code, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, k ASC) AS rn
  FROM d{m})""")
    joins = " ".join(
        f"JOIN (SELECT vec_id, code, dist FROM b{m} WHERE rn = 1) "
        f"w{m} USING (vec_id)" for m in range(PQ_M))
    checksum = " + ".join(f"(w{m}.code + 1) * {31 ** m}"
                          for m in range(PQ_M))
    total = " + ".join(f"w{m}.dist" for m in range(PQ_M))
    return f"""
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
v AS (SELECT vec_id, {sub_sel} FROM raw),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, {sub_sel}
  FROM (SELECT * FROM raw ORDER BY vec_id LIMIT {PQ_K})),
{",".join(per_sub)}
SELECT r.vec_id,
       CAST({checksum} AS BIGINT) AS code_checksum,
       round(({total}) / {PQ_DIM}, 4) AS recon_mse
FROM raw r {joins}
ORDER BY r.vec_id
"""


# ----------------------------------------------------- colbert_maxsim

MAXSIM_DOC_VECS = 4      # token vectors per multi-vector doc
MAXSIM_TOPK = 10


def colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction: a document is a SET of token
    vectors; score(q, d) = sum over query tokens of the max cosine
    against any doc token. The embeddings table becomes multi-vector
    docs by grouping consecutive vec_ids; the two query token
    vectors are plan literals. Execution is max-sim as Catalyst
    aggregates: per-row cosines against each literal query vector
    (sequential-fold dot products, no UDF), ONE groupBy(doc) with a
    max() per query token, sum of the maxes, top-k via
    TakeOrderedAndProject. At corpus scale this is a single narrow
    map + one keyed aggregation — the late-interaction retrieval
    shape without any all-pairs stage."""
    from parquet_generator_spark.operators.similarity import (
        _plane_dot_sql,
        make_hyperplanes,
    )

    qvecs = make_hyperplanes(64, 2, seed=31)
    emb = load_table(spark, "embeddings", sf_dir)
    doc = ((F.col("vec_id") - 1) / MAXSIM_DOC_VECS).cast("long")
    cols = [doc.alias("mv_doc_id")]
    for i, qv in enumerate(qvecs):
        qn = float(np.sqrt((qv * qv).sum()))
        cols.append(
            (F.expr(_plane_dot_sql("embedding", qv))
             / (norm("embedding") * F.lit(qn))).alias(f"cos_q{i}"))
    scored = emb.select(*cols)
    agg = (scored.groupBy("mv_doc_id")
           .agg(*[F.max(f"cos_q{i}").alias(f"max_q{i}")
                  for i in range(len(qvecs))]))
    score = F.round(sum(F.col(f"max_q{i}")
                        for i in range(len(qvecs))), 4)
    return (agg.select("mv_doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("mv_doc_id"))
            .limit(MAXSIM_TOPK))


def _maxsim_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        make_hyperplanes,
    )

    qvecs = make_hyperplanes(64, 2, seed=31)
    sels = []
    for i, qv in enumerate(qvecs):
        arr = "[" + ", ".join(repr(float(x)) for x in qv) + "]"
        qn = repr(float(np.sqrt((qv * qv).sum())))
        sels.append(
            f"list_dot_product(e, {arr}) / "
            f"(sqrt(list_dot_product(e, e)) * {qn}) AS cos_q{i}")
    return f"""
WITH v AS (
  SELECT CAST(floor((vec_id - 1) / {MAXSIM_DOC_VECS}) AS BIGINT)
           AS mv_doc_id,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings),
scored AS (SELECT mv_doc_id, {', '.join(sels)} FROM v)
SELECT mv_doc_id,
       round(max(cos_q0) + max(cos_q1), 4) AS score
FROM scored GROUP BY mv_doc_id
ORDER BY score DESC, mv_doc_id ASC LIMIT {MAXSIM_TOPK}
"""


# Embedding-truncation evaluation and mixture-independence auditing.
#
# - ``matryoshka_overlap``: Matryoshka-representation (MRL) check —
#   does retrieval survive truncating the embedding to its leading
#   dims? Top-k by full-dim cosine vs top-k by first-16-dim cosine
#   for a literal query, overlap@k for k in {5, 10, 20}. The modern
#   cost dial for vector search (truncate -> 4x cheaper index); this
#   measures what it costs in agreement.
# - ``lang_source_chi2``: chi-square independence audit of the
#   lang x source contingency table — the data-mixture diagnostic
#   that catches a source silently skewing the language mix. All
#   frames are label-cardinality (5 langs x 20 sources), never
#   corpus-cardinality.
#
# Scale posture: matryoshka legs are two TakeOrderedAndProject windows
# over one corpus scan each (both cosines compute in ONE projection at
# scan time — truncation is an array slice, no second pass); the
# overlap math runs on the joined <= k-row frames. The chi2 table
# aggregates once on (lang, source) and every later join touches only
# bounded label frames.


# ------------------------------------------------ matryoshka_overlap

_MRL_QV = [round(math.sin(0.37 * i + 1.1), 4) for i in range(64)]
_MRL_DIMS = 16
_MRL_KS = [5, 10, 20]
_MRL_MAXK = max(_MRL_KS)


_cos_col = cosine_to_literal


def matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap@k between full-dim (64) and truncated (first 16 dims)
    cosine rankings of one literal query. Both similarity columns
    compute in a single projection over one scan (the truncated
    vector is slice(embedding, 1, 16) — no second pass, no join);
    each leg keeps its top-20 via TakeOrderedAndProject, ranks are
    assigned on the bounded windows, and overlap@k counts ids whose
    BOTH ranks are <= k."""
    emb = load_table(spark, "embeddings", sf_dir)
    scored = emb.select(
        F.col("vec_id").alias("id"),
        _cos_col(F.col("embedding"), _MRL_QV).alias("full_cos"),
        _cos_col(F.slice(F.col("embedding"), 1, _MRL_DIMS),
                 _MRL_QV[:_MRL_DIMS]).alias("trunc_cos"))

    def leg(col: str, rank_name: str) -> DataFrame:
        top = (scored.select("id", col)
               .orderBy(F.desc(col), F.asc("id")).limit(_MRL_MAXK))
        w = Window.orderBy(F.desc(col), F.asc("id"))
        return (top.withColumn(rank_name, F.row_number().over(w))
                .select("id", rank_name))

    joined = leg("full_cos", "fr").join(leg("trunc_cos", "tr"), "id")
    # one scalar agg, then unpivot the single row to k rows — the
    # output contract (one row per k) must hold even when the two
    # top-k sets are DISJOINT (observed at the sf1 checkpoint:
    # noise-dominated vectors -> empty intersection; an explode
    # built FROM the join would emit zero rows there)
    counts = joined.agg(*[
        F.coalesce(F.sum(((F.col("fr") <= k) & (F.col("tr") <= k))
                         .cast("int")), F.lit(0)).cast("long")
        .alias(f"n{k}")
        for k in _MRL_KS])
    rows = F.explode(F.array(*[
        F.struct(F.lit(k).alias("k"),
                 F.col(f"n{k}").alias("n_common"))
        for k in _MRL_KS])).alias("s")
    return (counts.select(rows)
            .select(F.col("s.k").alias("k"),
                    F.col("s.n_common").alias("n_common"),
                    F.round(F.col("s.n_common") / F.col("s.k"), 4)
                    .alias("overlap"))
            .orderBy("k"))


def _mrl_oracle() -> str:
    cos_sql = cosine_to_literal_duck_sql

    full = cos_sql("CAST(embedding AS DOUBLE[])", _MRL_QV)
    trunc = cos_sql(f"CAST(embedding[1:{_MRL_DIMS}] AS DOUBLE[])",
                    _MRL_QV[:_MRL_DIMS])
    ks = ", ".join(str(k) for k in _MRL_KS)
    return f"""
WITH scored AS (
  SELECT vec_id AS id, {full} AS full_cos, {trunc} AS trunc_cos
  FROM embeddings),
f_top AS (
  SELECT id, row_number() OVER (ORDER BY full_cos DESC, id) AS fr
  FROM (SELECT id, full_cos FROM scored
        ORDER BY full_cos DESC, id LIMIT {_MRL_MAXK})),
t_top AS (
  SELECT id, row_number() OVER (ORDER BY trunc_cos DESC, id) AS tr
  FROM (SELECT id, trunc_cos FROM scored
        ORDER BY trunc_cos DESC, id LIMIT {_MRL_MAXK})),
joined AS (SELECT f_top.id, fr, tr FROM f_top JOIN t_top USING (id)),
ks AS (SELECT unnest([{ks}]) AS k)
SELECT k,
       CAST(count(*) FILTER (WHERE fr <= k AND tr <= k) AS BIGINT)
         AS n_common,
       round(count(*) FILTER (WHERE fr <= k AND tr <= k)
             / CAST(k AS DOUBLE), 4) AS overlap
FROM ks LEFT JOIN joined ON true
GROUP BY k ORDER BY k
"""


# ---------------------------------------------- hard_negative_mining

_HN_N_QUERIES = 20     # mine negatives for the first 20 vectors
_HN_LO, _HN_HI = 0.25, 0.45
_HN_K = 5
_HN_CELLS = 16
_HN_PROBE = 16  # probe ALL cells: the band's tail matters more than


#                 speed here, and recall of mid-similarity pairs
#                 under few probes is untested; production drops this


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retriever training: for
    each query vector, the top-k candidates whose cosine lands in
    the HARD band [0.25, 0.45] — similar enough to teach the margin,
    far enough to be true negatives. (Production thresholds are
    ~[0.7, 0.95]; this synthetic corpus' noise vectors top out at
    cos 0.49, so the band is shifted — the plan is identical.)
    Candidates come from the IVF cell equi-join (query side bounded
    at 20 rows and broadcast; corpus side shuffles on the cell key),
    so nothing is all-pairs; the per-query rank windows are keyed by
    qid."""
    from parquet_generator_spark.operators.similarity import (
        dot,
        ivf_assign_cells,
        make_centroids_from_corpus,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cents = make_centroids_from_corpus(emb, _HN_CELLS)
    c = (ivf_assign_cells(emb, cents, 1)
         .select(F.col("vec_id").alias("nid"),
                 F.col("embedding").alias("nvec"),
                 norm("embedding").alias("nn"), "cell"))
    q = (ivf_assign_cells(emb.filter(F.col("vec_id") < _HN_N_QUERIES),
                          cents, _HN_PROBE)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec"),
                 norm("embedding").alias("qn"), "cell"))
    cos = F.round(dot("qvec", "nvec") / (F.col("qn") * F.col("nn")), 4)
    band = (c.join(F.broadcast(q), "cell")
            .filter(F.col("qid") != F.col("nid"))
            .select("qid", "nid", cos.alias("cos"))
            .dropDuplicates(["qid", "nid"])
            .filter((F.col("cos") >= _HN_LO) & (F.col("cos") <= _HN_HI)))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (band.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _HN_K)
            .select("qid", "rank", F.col("nid").alias("neg_id"), "cos")
            .orderBy("qid", "rank"))


def _hard_negative_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT {_HN_CELLS})),
sims AS (
  SELECT v.vec_id, v.e, cent.cell,
         list_dot_product(v.e, cent.ce)
           / sqrt(list_dot_product(v.e, v.e)) AS sim
  FROM v CROSS JOIN cent),
cells AS (
  SELECT vec_id, e, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cell ASC) AS pr
  FROM sims),
c AS (SELECT vec_id, e, cell FROM cells WHERE pr = 1),
qc AS (SELECT vec_id, e, cell FROM cells
       WHERE pr <= {_HN_PROBE} AND vec_id < {_HN_N_QUERIES}),
band AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid,
         round(list_dot_product(q.e, c.e) /
               (sqrt(list_dot_product(q.e, q.e)) *
                sqrt(list_dot_product(c.e, c.e))), 4) AS cos
  FROM qc q JOIN c ON q.cell = c.cell
  WHERE q.vec_id != c.vec_id),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid ASC) AS rank
  FROM band WHERE cos BETWEEN {_HN_LO} AND {_HN_HI})
SELECT qid, rank, nid AS neg_id, cos
FROM ranked WHERE rank <= {_HN_K}
ORDER BY qid, rank
"""


# ------------------------------------ embedding_outlier_mahalanobis

_MAH_K = 15


def embedding_outlier_mahalanobis(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Embedding QA by diagonal Mahalanobis distance: per-dimension
    mean/std over the corpus, then each vector's distance
    sqrt(mean_d((x_d - mu_d)^2 / sd_d^2)) — the covariance-aware
    upgrade of the norm-outlier check (embedding_norm_outliers),
    catching vectors that are wrong in DIRECTION, not just length.
    Per-dim stats come from one posexplode + 64-bucket groupBy and
    attach as dim-bounded LITERAL arrays (the kmeans-centroid
    pattern); the scoring pass is a pure zip_with fold — one scan,
    no join. Top-k via TakeOrderedAndProject."""
    emb = load_table(spark, "embeddings", sf_dir)
    stats = (emb.select(F.posexplode("embedding")
                        .alias("pos", "x"))
             .groupBy("pos")
             .agg(F.avg("x").alias("mu"),
                  F.stddev_pop("x").alias("sd"))
             .orderBy("pos")
             .collect())
    mu = F.array(*[F.lit(float(r["mu"])) for r in stats])
    sd = F.array(*[F.lit(float(r["sd"])) for r in stats])
    dim = len(stats)
    z2 = F.aggregate(
        F.zip_with(
            F.zip_with(F.col("embedding").cast("array<double>"), mu,
                       lambda x, m: x - m),
            sd, lambda d, s: (d / s) * (d / s)),
        F.lit(0.0), lambda acc, v: acc + v)
    dist = F.round(F.sqrt(z2 / F.lit(float(dim))), 4)
    top = (emb.select("vec_id", "label", dist.alias("m_dist"))
           .orderBy(F.desc("m_dist"), F.asc("vec_id"))
           .limit(_MAH_K))
    w = Window.orderBy(F.desc("m_dist"), F.asc("vec_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "vec_id", "label", "m_dist")
            .orderBy("rank"))


EMBEDDING_MAHALANOBIS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings),
x AS (
  SELECT vec_id, label, unnest(emb) AS x,
         generate_subscripts(emb, 1) AS pos
  FROM e),
stats AS (
  SELECT pos, avg(x) AS mu, stddev_pop(x) AS sd
  FROM x GROUP BY pos),
scored AS (
  SELECT vec_id, any_value(label) AS label,
         round(sqrt(sum(((x.x - mu) / sd) * ((x.x - mu) / sd))
                    / count(*)), 4) AS m_dist
  FROM x JOIN stats USING (pos)
  GROUP BY vec_id),
top AS (
  SELECT vec_id, label, m_dist FROM scored
  ORDER BY m_dist DESC, vec_id ASC LIMIT {_MAH_K})
SELECT CAST(row_number() OVER (ORDER BY m_dist DESC, vec_id) AS INT)
         AS rank,
       vec_id, label, m_dist
FROM top ORDER BY rank
"""


# IVF-PQ ADC search.
#
# ``ann_ivfpq`` — the memory-bounded ANN shape a real 100 TB corpus
# runs (the FAISS IVFPQ index): candidates come from probing the
# query's nearest IVF cells, and scoring never touches the full
# vectors — each candidate is represented by its 8-byte PQ code and
# scored with ASYMMETRIC DISTANCE (ADC, Jegou et al. 2011): the query
# precomputes one M x K table of subspace distances to every codeword
# (driver-side, 8 x 16 doubles), and a candidate's distance is the sum
# of 8 table lookups selected by its code.
#
# Spark-first shape:
# - coarse quantizer + PQ codebooks are the smallest-id corpus rows
#   (the reproducible-quantizer trick shared by ann_ivf/embedding_pq —
#   a k-means codebook swaps in at scale without changing the plan);
# - the query's probe cells AND its ADC table are computed on the
#   driver at plan time (one vector x tiny matrices, no Spark job);
# - executors do one narrow mapInPandas over the probe-filtered
#   corpus: PQ-encode the candidate (per-subspace argmin, the proven
#   engine-identical decomposed-dot order from embedding_pq) and sum
#   its 8 ADC table entries SEQUENTIALLY — then TakeOrderedAndProject
#   for the top-k. No join, no shuffle of anything data-sized.
# - at ingest-time-encoded scale the codes are a stored 8-byte column
#   and this query never reads `embedding` at all; here encoding fuses
#   into the scoring pass because the synthetic table stores only raw
#   vectors.
#
# The DuckDB oracle rebuilds EVERYTHING from the same literals —
# centroids, probe ranking, per-subspace codebooks, encoding argmin,
# ADC table, sequential sum — so the driver hash-checks the whole
# index path like any exact query.


IVFPQ_CELLS = 16
IVFPQ_PROBE = 4
IVFPQ_TOPK = 10

# fixed literal query vector (shared by plan and oracle; rounded so
# the SQL literal round-trips the exact double)
IVFPQ_QUERY = [round(math.sin(i + 1), 6) for i in range(PQ_DIM)]


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by IVF-probe + PQ-ADC for one literal query vector:
    (rank, vec_id, adc) ordered by ascending asymmetric L2. The
    headline uses the smallest-id quantizers so the oracle can
    rebuild both codebooks in SQL; the production k-means codebook
    (similarity.make_pq_codebooks_kmeans) swaps in without changing
    the plan and is recall-tested in tests/test_llm_queries24.py."""
    from parquet_generator_spark.operators.similarity import (
        ivfpq_topk,
        make_centroids_from_corpus,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    d = PQ_DIM // PQ_M
    cents = make_centroids_from_corpus(emb, IVFPQ_CELLS)
    base = (emb.orderBy("vec_id").limit(PQ_K)
            .select("embedding").collect())
    books = np.array([r["embedding"] for r in base], dtype=np.float64)
    sub_books = books.reshape(PQ_K, PQ_M, d).transpose(1, 0, 2)
    return ivfpq_topk(emb, IVFPQ_QUERY, IVFPQ_TOPK, cents, sub_books,
                      n_probe=IVFPQ_PROBE)


def _ivfpq_oracle() -> str:
    d = PQ_DIM // PQ_M
    qlit = "[" + ", ".join(f"{x!r}" for x in IVFPQ_QUERY) + "]::DOUBLE[]"
    sub_sel = ", ".join(
        f"e[{m * d + 1}:{(m + 1) * d}] AS s{m}" for m in range(PQ_M))
    qsub_sel = ", ".join(
        f"q[{m * d + 1}:{(m + 1) * d}] AS q{m}" for m in range(PQ_M))
    # per-subspace: ADC table from the query literal, encoding
    # argmin over candidates (embedding_pq's proven pattern,
    # restricted to the probe-filtered corpus), table lookup by code
    per_sub = []
    for m in range(PQ_M):
        per_sub.append(f"""
t{m} AS (
  SELECT c.k,
         list_dot_product(qs.q{m}, qs.q{m})
         - 2.0 * list_dot_product(qs.q{m}, c.s{m})
         + list_dot_product(c.s{m}, c.s{m}) AS dist
  FROM books c, qs),
d{m} AS (
  SELECT v.vec_id, c.k,
         list_dot_product(v.s{m}, v.s{m})
         - 2.0 * list_dot_product(v.s{m}, c.s{m})
         + list_dot_product(c.s{m}, c.s{m}) AS dist
  FROM cand v JOIN books c ON TRUE),
b{m} AS (
  SELECT vec_id, k AS code,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, k ASC) AS rn
  FROM d{m}),
a{m} AS (
  SELECT b.vec_id, t.dist
  FROM b{m} b JOIN t{m} t ON t.k = b.code
  WHERE b.rn = 1)""")
    adc_sum = " + ".join(f"a{m}.dist" for m in range(PQ_M))
    adc_joins = " ".join(f"JOIN a{m} USING (vec_id)"
                         for m in range(1, PQ_M))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
qs AS (SELECT {qsub_sel} FROM (SELECT {qlit} AS q)),
cent AS (
  SELECT rn - 1 AS cell,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
  FROM (SELECT e, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
  WHERE rn <= {IVFPQ_CELLS}),
probe AS (
  SELECT cell FROM (
    SELECT cell,
           row_number() OVER (
             ORDER BY list_dot_product({qlit}, ce) DESC, cell ASC)
             AS pr
    FROM cent)
  WHERE pr <= {IVFPQ_PROBE}),
assign AS (
  SELECT vec_id, e, cell FROM (
    SELECT v.vec_id, v.e, cent.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, cent.ce)
                      / sqrt(list_dot_product(v.e, v.e)) DESC,
                      cent.cell ASC) AS pr
    FROM v CROSS JOIN cent)
  WHERE pr = 1),
cand AS (
  SELECT vec_id, {sub_sel}
  FROM assign WHERE cell IN (SELECT cell FROM probe)),
books AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, {sub_sel}
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_K})),
{",".join(per_sub)},
scored AS (
  SELECT a0.vec_id, round({adc_sum}, 4) AS adc
  FROM a0 {adc_joins})
SELECT CAST(row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS INT)
         AS rank,
       vec_id, adc
FROM (SELECT * FROM scored ORDER BY adc ASC, vec_id ASC
      LIMIT {IVFPQ_TOPK})
ORDER BY rank
"""


# ------------------------------------------------ ann_int8_rescore

_RESCORE_K = 10
_RESCORE_R = 50  # oversampled candidate pool (5x k — the ES default)


def ann_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized search + exact re-scoring (the ES 8.18
    ``rescore_vector`` / int8 index pattern): score the per-vector
    int8 DEQUANTIZED corpus against the literal query (the cheap
    tier a quantized index serves), keep an oversampled top-R
    candidate pool, then re-rank those R with the EXACT float
    cosine and emit the top-k. Codes are bit-identical across
    engines (the embedding_quantize contract), both tiers round to
    4 and tie-break on vec_id, so the whole two-tier path is
    deterministic. Plan: two narrow scans + TakeOrdered twice + one
    R-row semi-join — no shuffle wider than the bounded pool; at
    100 TB the coarse tier reads int8 codes (4x less IO than
    floats) and the exact tier touches only R vectors."""
    emb = load_table(spark, "embeddings", sf_dir)
    deq = (emb
           .select("vec_id",
                   F.expr("transform(embedding, "
                          "x -> cast(x AS DOUBLE))").alias("e"))
           .select("vec_id", "e",
                   F.array_min("e").alias("mn"),
                   F.array_max("e").alias("mx"))
           .select("vec_id", "e", "mn",
                   F.expr("CASE WHEN mx > mn THEN (mx - mn) / 255.0 "
                          "ELSE 1.0 END").alias("sc"))
           .select("vec_id",
                   F.expr("transform(e, x -> cast(round((x - mn) "
                          "/ sc) AS BIGINT))").alias("codes"),
                   "mn", "sc")
           .select("vec_id",
                   F.expr("transform(codes, c -> mn + "
                          "cast(c AS DOUBLE) * sc)").alias("deq")))
    approx = deq.select(
        "vec_id",
        similarity.cosine_to_literal("deq", IVFPQ_QUERY)
        .alias("approx_score"))
    pool = (approx.orderBy(F.desc("approx_score"), F.asc("vec_id"))
            .limit(_RESCORE_R))
    exact = emb.select(
        "vec_id",
        similarity.cosine_to_literal(
            F.expr("transform(embedding, x -> cast(x AS DOUBLE))"),
            IVFPQ_QUERY).alias("score"))
    return (pool.join(exact, "vec_id")
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(_RESCORE_K)
            .select("vec_id", "approx_score", "score"))


def _int8_rescore_oracle() -> str:
    ap = cosine_to_literal_duck_sql("deq", IVFPQ_QUERY)
    ex = cosine_to_literal_duck_sql("e", IVFPQ_QUERY)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx
      FROM v),
s AS (SELECT vec_id, e, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
               AS sc
      FROM m),
c AS (SELECT vec_id, mn, sc,
             list_transform(e, x -> CAST(round((x - mn) / sc)
                                         AS BIGINT)) AS codes
      FROM s),
d AS (SELECT vec_id,
             list_transform(codes, c2 -> mn + CAST(c2 AS DOUBLE)
                                         * sc) AS deq
      FROM c),
pool AS (
  SELECT vec_id, {ap} AS approx_score
  FROM d ORDER BY approx_score DESC, vec_id LIMIT {_RESCORE_R})
SELECT p.vec_id, p.approx_score, {ex} AS score
FROM pool p JOIN v USING (vec_id)
ORDER BY score DESC, vec_id LIMIT {_RESCORE_K}
"""


QUERIES = {
    "ann_bruteforce": ann_bruteforce,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "embedding_centroids": embedding_centroids,
    "embedding_group_stats": embedding_group_stats,
    "knn_classify": knn_classify,
    "bm25_topk": bm25_topk,
    "embedding_quantize": embedding_quantize,
    "embedding_norm_outliers": embedding_norm_outliers,
    "embedding_dim_stats": embedding_dim_stats,
    "kmeans_clusters": kmeans_clusters,
    "embedding_top_component": embedding_top_component,
    "feature_hash_retrieval": feature_hash_retrieval,
    "retrieval_eval": retrieval_eval,
    "ivf_recall_curve": ivf_recall_curve,
    "knn_classify_ivf": knn_classify_ivf,
    "knn_eval_confusion": knn_eval_confusion,
    "embedding_pq": embedding_pq,
    "colbert_maxsim": colbert_maxsim,
    "matryoshka_overlap": matryoshka_overlap,
    "hard_negative_mining": hard_negative_mining,
    "embedding_outlier_mahalanobis": embedding_outlier_mahalanobis,
    "ann_ivfpq": ann_ivfpq,
    "ann_int8_rescore": ann_int8_rescore,
}


ORACLES = {
    "ann_bruteforce": ANN_BRUTEFORCE_ORACLE,
    "ann_lsh": ANN_LSH_ORACLE,
    "ann_ivf": ANN_IVF_ORACLE,
    "embedding_centroids": EMBEDDING_CENTROIDS_ORACLE,
    "embedding_group_stats": EMBEDDING_GROUP_STATS_ORACLE,
    "knn_classify": KNN_ORACLE,
    "bm25_topk": BM25_TOPK_ORACLE,
    "embedding_quantize": EMBEDDING_QUANTIZE_ORACLE,
    "embedding_norm_outliers": EMBEDDING_NORM_OUTLIERS_ORACLE,
    "embedding_dim_stats": EMBEDDING_DIM_STATS_ORACLE,
    "kmeans_clusters": KMEANS_CLUSTERS_ORACLE,
    "embedding_top_component": EMBEDDING_TOP_COMPONENT_ORACLE,
    "feature_hash_retrieval": FEATURE_HASH_RETRIEVAL_ORACLE,
    "retrieval_eval": RETRIEVAL_EVAL_ORACLE,
    "ivf_recall_curve": _ivf_curve_oracle(),
    "knn_classify_ivf": _knn_ivf_oracle(),
    "knn_eval_confusion": KNN_EVAL_CONFUSION_ORACLE,
    "embedding_pq": _pq_oracle(),
    "colbert_maxsim": _maxsim_oracle(),
    "matryoshka_overlap": _mrl_oracle(),
    "hard_negative_mining": _hard_negative_oracle(),
    "embedding_outlier_mahalanobis": EMBEDDING_MAHALANOBIS_ORACLE,
    "ann_ivfpq": _ivfpq_oracle(),
    "ann_int8_rescore": _int8_rescore_oracle(),
}
