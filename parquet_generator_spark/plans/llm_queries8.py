"""Eighth pipeline wave: the production-ingest loop and its
reporting — incremental new-batch-vs-corpus dedup, canonical-copy
selection, power-iteration PCA, the data-mixture card, hashing-trick
retrieval, an ingest-time table profiler, and per-source quantile
score normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup
from parquet_generator_spark.sources.catalog import load_table

INC_TAU = 0.5


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify an INCOMING batch (odd doc_ids) against the existing
    CORPUS (even doc_ids): exact_dup (content hash already indexed,
    one semi-join on md5), near_dup (MinHash banding between the two
    sides only — `dedup.minhash_lsh_pairs_cross`, never corpus x
    corpus), else new. Exact wins over near. The incremental shape is
    what a streaming/batch ingest runs every cycle: the corpus side's
    signatures would be precomputed and persisted; here both sides
    run through the one signature pass."""
    docs = load_table(spark, "documents", sf_dir)
    sided = docs.withColumn("side", (F.col("doc_id") % 2).cast("int"))
    incoming = sided.filter(F.col("side") == 1)
    # no distinct on the corpus-hash side: left_semi already keeps
    # at most one match per incoming row (round-13, guide §2.4 —
    # "a distinct on data the join semantics already dedupe")
    corpus_h = (sided.filter(F.col("side") == 0)
                .select(F.md5("text").alias("h")))
    exact_ids = (incoming.select("doc_id", F.md5("text").alias("h"))
                 .join(corpus_h, "h", "left_semi")
                 .select("doc_id").withColumn("e", F.lit(1)))
    near_ids = (dedup.minhash_lsh_pairs_cross(
        sided, "doc_id", "text", "side", INC_TAU)
        .select(F.col("id_in").alias("doc_id")).distinct()
        .withColumn("nr", F.lit(1)))
    return (incoming.select("doc_id")
            .join(exact_ids, "doc_id", "left")
            .join(near_ids, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("e") == 1, "exact_dup")
                    .when(F.col("nr") == 1, "near_dup")
                    .otherwise("new").alias("status"))
            .orderBy("doc_id"))


_CROSS_SQL = dedup.minhash_cross_duck_sql(
    "documents", "doc_id", "text", "CAST(doc_id % 2 AS INT)", INC_TAU)

INCREMENTAL_DEDUP_ORACLE = f"""
WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
ex AS (SELECT DISTINCT i.doc_id
       FROM inc i JOIN corp c ON md5(i.text) = md5(c.text)),
near AS (SELECT DISTINCT id_in AS doc_id FROM ({_CROSS_SQL}) p)
SELECT i.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM inc i
LEFT JOIN ex e ON i.doc_id = e.doc_id
LEFT JOIN near n ON i.doc_id = n.doc_id
ORDER BY i.doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection for exact-duplicate groups: one
    groupBy on the content hash with a max_by((n_chars, -doc_id))
    aggregate — keep the longest copy, smallest doc_id on ties. No
    window, no second scan; output is one row per distinct content."""
    docs = load_table(spark, "documents", sf_dir)
    return (docs.groupBy(F.md5("text").alias("h"))
            .agg(F.expr("max_by(doc_id, struct(n_chars, -doc_id))")
                 .alias("doc_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("doc_id", "n_copies")
            .orderBy("doc_id"))


DEDUP_KEEP_BEST_ORACLE = """
WITH r AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS n_copies
  FROM documents)
SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies
FROM r WHERE rn = 1 ORDER BY doc_id
"""


QUERIES = {
    "incremental_dedup": incremental_dedup,
    "dedup_keep_best": dedup_keep_best,
}

ORACLES = {
    "incremental_dedup": INCREMENTAL_DEDUP_ORACLE,
    "dedup_keep_best": DEDUP_KEEP_BEST_ORACLE,
}


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
    from parquet_generator_spark.operators.util import widen_if_narrow
    emb = widen_if_narrow(load_table(spark, "embeddings", sf_dir))
    return pca_top_component(emb)


def _pca_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        pca_top_duck_sql,
    )
    return pca_top_duck_sql("embeddings")


EMBEDDING_TOP_COMPONENT_ORACLE = _pca_oracle()


def data_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus 'data card': per-source document / token / byte
    counts with mixture shares — the report every training-data
    readme publishes. One grouped pass; the totals for the share
    columns are a one-row scalar aggregate attached as a scalar
    subquery."""
    from parquet_generator_spark.operators.text import toks_spark
    from parquet_generator_spark.operators.util import broadcast_scalars
    docs = load_table(spark, "documents", sf_dir)
    per = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.expr(f"size({toks_spark('text')})"))
                .alias("n_tokens"),
                F.sum(F.octet_length("text")).alias("n_bytes")))
    totals = per.agg(F.sum("n_docs").alias("t_docs"),
                     F.sum("n_tokens").alias("t_tokens"))
    return (broadcast_scalars(per, totals)
            .select("source", "n_docs", "n_tokens", "n_bytes",
                    F.round(F.col("n_docs") / F.col("t_docs"), 4)
                    .alias("doc_share"),
                    F.round(F.col("n_tokens") / F.col("t_tokens"), 4)
                    .alias("token_share"))
            .orderBy("source"))


def _mixture_oracle() -> str:
    from parquet_generator_spark.operators.text import toks_duck
    return f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({toks_duck('text')})) AS BIGINT) AS n_tokens,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
  FROM documents GROUP BY source),
t AS (SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_tokens FROM per)
SELECT source, n_docs, n_tokens, n_bytes,
       round(n_docs / CAST(t_docs AS DOUBLE), 4) AS doc_share,
       round(n_tokens / CAST(t_tokens AS DOUBLE), 4) AS token_share
FROM per, t ORDER BY source
"""


DATA_MIXTURE_REPORT_ORACLE = _mixture_oracle()

QUERIES.update({
    "embedding_top_component": embedding_top_component,
    "data_mixture_report": data_mixture_report,
})

ORACLES.update({
    "embedding_top_component": EMBEDDING_TOP_COMPONENT_ORACLE,
    "data_mixture_report": DATA_MIXTURE_REPORT_ORACLE,
})


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
    from parquet_generator_spark.operators.text import toks_spark
    from parquet_generator_spark.operators.util import widen_if_narrow
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    vec = feature_hash_vectors(docs, toks_spark("text"), dim=FH_DIM)
    queries = vec.filter(F.col("id") < FH_NQ)
    return brute_force_topk(vec, queries, FH_K,
                            id_col="id", vec_col="e")


def _fh_oracle() -> str:
    from parquet_generator_spark.operators.similarity import (
        feature_hash_topk_duck_sql,
    )
    from parquet_generator_spark.operators.text import toks_duck
    return feature_hash_topk_duck_sql(
        "documents", toks_duck("text"), FH_K, f"{{id}} < {FH_NQ}",
        dim=FH_DIM)


FEATURE_HASH_RETRIEVAL_ORACLE = _fh_oracle()

QUERIES.update({"feature_hash_retrieval": feature_hash_retrieval})
ORACLES.update({
    "feature_hash_retrieval": FEATURE_HASH_RETRIEVAL_ORACLE,
})


PROFILE_COLS = ("l_orderkey", "l_quantity", "l_extendedprice",
                "l_returnflag", "l_shipdate", "l_linestatus")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time data profiler: one row per column with row/null/
    distinct counts and min/max (stringified) — the report a data
    catalog shows on registration. ONE aggregate pass computes every
    per-column statistic (count_distinct included, one Expand across
    the profiled columns), then a map-side unpivot reshapes to long
    form; nothing rescans per column."""
    from parquet_generator_spark.operators.util import broadcast_scalars
    li = load_table(spark, "lineitem", sf_dir)
    # split the multi-distinct from the plain stats: countDistinct
    # beside other aggregates routes EVERYTHING through the Expand
    # (C x N rows carrying every profiled column — measured 5x
    # slower); the distinct-only aggregate expands narrow single-
    # value rows, and the plain stats stay one codegen pass
    plain = []
    for c in PROFILE_COLS:
        plain += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    distincts = li.agg(*[F.countDistinct(c).alias(f"{c}__distinct")
                         for c in PROFILE_COLS])
    one = broadcast_scalars(distincts, li.agg(*plain))
    structs = ", ".join(
        f"struct('{c}' AS column_name, {c}__rows AS n_rows, "
        f"{c}__nulls AS n_nulls, {c}__distinct AS n_distinct, "
        f"{c}__min AS vmin, {c}__max AS vmax)"
        for c in PROFILE_COLS)
    return (one.select(F.explode(F.expr(f"array({structs})"))
                       .alias("p"))
            .select("p.*").orderBy("column_name"))


def _profile_oracle() -> str:
    parts = []
    for c in PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({c}) AS VARCHAR) AS vmin, "
            f"CAST(max({c}) AS VARCHAR) AS vmax FROM lineitem")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


TABLE_PROFILE_ORACLE = _profile_oracle()


def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile (rank) normalization of document length —
    the score-calibration step before mixing quality signals across
    sources with different scales: qn = percent_rank within source,
    uniform on [0,1] per source by construction. One partitioned
    window (source-keyed — parallel across sources); output sampled
    to the deciles of one source plus global calibration stats would
    be data-scale, so the query returns the per-source uniformity
    check: mean and variance of the normalized score (~0.5 and
    ~1/12)."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.asc("n_chars"), F.asc("doc_id"))
    qn = (docs.select("source",
                      F.percent_rank().over(w).alias("qn")))
    return (qn.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("qn"), 4).alias("mean_qn"),
                 F.round(F.var_pop("qn"), 4).alias("var_qn"))
            .orderBy("source"))


QUANTILE_NORMALIZE_ORACLE = """
WITH qn AS (
  SELECT source,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY n_chars ASC, doc_id ASC) AS qn
  FROM documents)
SELECT source, count(*) AS n,
       round(avg(qn), 4) AS mean_qn,
       round(var_pop(qn), 4) AS var_qn
FROM qn GROUP BY source ORDER BY source
"""

QUERIES.update({
    "table_profile": table_profile,
    "quantile_normalize": quantile_normalize,
})

ORACLES.update({
    "table_profile": TABLE_PROFILE_ORACLE,
    "quantile_normalize": QUANTILE_NORMALIZE_ORACLE,
})


PAGERANK_TOP = 20


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash near-dup graph: which
    documents sit at the center of duplication clusters (the ones a
    curation pass should inspect first). Edge generation is the
    bucketed MinHash pipeline; the rank iteration is 3 rounds of
    equi-join + keyed aggregation with node-cardinality state — see
    operators.graph.pagerank."""
    from parquet_generator_spark.operators import graph
    from parquet_generator_spark.plans.llm_queries import near_dup_edges
    pairs = near_dup_edges(spark, sf_dir).select("id_a", "id_b")
    pr = graph.pagerank(pairs)
    return (pr.select("id", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("id"))
            .limit(PAGERANK_TOP))


def _pagerank_oracle() -> str:
    from parquet_generator_spark.operators.graph import pagerank_duck_sql
    from parquet_generator_spark.plans.llm_queries import (
        JACCARD_THRESHOLD,
    )
    edges = dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD)
    return pagerank_duck_sql(edges, top=PAGERANK_TOP)


DEDUP_PAGERANK_ORACLE = _pagerank_oracle()

QUERIES.update({"dedup_pagerank": dedup_pagerank})
ORACLES.update({"dedup_pagerank": DEDUP_PAGERANK_ORACLE})


CONTAIN_TAU = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: pairs where the smaller document's
    shingles are >= 90% contained in the larger's — the quote/
    inclusion case Jaccard-based near-dup misses. See
    dedup.containment_pairs for the prefix-filtered inverted-index
    plan and the stopword-shingle df cap (skip-and-log, mirrored in
    the DuckDB oracle)."""
    docs = load_table(spark, "documents", sf_dir)
    return (dedup.containment_pairs(docs, "doc_id", "text",
                                    CONTAIN_TAU)
            .orderBy("id_small", "id_big"))


DEDUP_CONTAINMENT_ORACLE = dedup.containment_pairs_duck_sql(
    "documents", "doc_id", "text", CONTAIN_TAU)

QUERIES.update({"dedup_containment": dedup_containment})
ORACLES.update({"dedup_containment": DEDUP_CONTAINMENT_ORACLE})


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class query: per-query
    recall@k of the LSH ANN path against brute-force ground truth
    (left join of the two deterministic result sets — the metric a
    retrieval deployment monitors before dialing index parameters).
    Both sides are existing oracle-backed plans, so even the METRIC
    is hash-gated."""
    from parquet_generator_spark.plans.llm_queries import (
        ann_bruteforce,
        ann_lsh,
    )
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
    from parquet_generator_spark.plans.llm_queries import (
        ANN_BRUTEFORCE_ORACLE,
        ANN_LSH_ORACLE,
    )
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

QUERIES.update({"retrieval_eval": retrieval_eval})
ORACLES.update({"retrieval_eval": RETRIEVAL_EVAL_ORACLE})
