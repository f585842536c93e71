"""Third wave of training-data pipeline queries: corpus vocabulary
coverage (tokenizer-design input) and per-label embedding centroid
quality (embedding-space health check).

Both stay declarative end-to-end. The vocabulary cumsum runs over
post-aggregation vocab-cardinality rows (a global window over ~1e5-1e6
words, not the corpus); the centroid computation is the standard
posexplode -> (label, dim) average -> re-assemble shape, all shuffles
on bounded-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.similarity import cosine, norm
from parquet_generator_spark.operators.text import (
    shingles_duck,
    shingles_spark,
    toks_duck,
    toks_spark,
)
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table
from parquet_generator_spark.operators import cache as _cache

VOCAB_TOP = 50


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N corpus vocabulary with cumulative token coverage. The
    corpus is one scan + one shuffle on word; the top-N comes from
    ``orderBy().limit()`` (TakeOrderedAndProject — per-partition
    top-N, no vocab-wide window), the corpus token total is a one-row
    aggregate broadcast via crossJoin, and the rank/cumsum windows
    run over the N surviving rows only (cum over the top-N prefix
    equals cum over the full vocabulary for those ranks)."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.expr(toks_spark("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(VOCAB_TOP)
    order = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return (broadcast_scalars(top, total)
            .withColumn("rank", F.row_number().over(order))
            .withColumn("cum", F.sum("cnt").over(
                order.rowsBetween(Window.unboundedPreceding,
                                  Window.currentRow)))
            .withColumn("coverage",
                        F.round(F.col("cum") / F.col("total"), 4))
            .select("rank", "word", "cnt", "coverage")
            .orderBy("rank"))


VOCAB_COVERAGE_ORACLE = f"""
WITH w AS (
  SELECT unnest({toks_duck('text')}) AS word FROM documents),
c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
r AS (
  SELECT word, cnt,
         row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank,
         sum(cnt) OVER (ORDER BY cnt DESC, word ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(cnt) OVER () AS total
  FROM c)
SELECT rank, word, cnt, round(cum * 1.0 / total, 4) AS coverage
FROM r WHERE rank <= {VOCAB_TOP} ORDER BY rank
"""


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


DECON_K = 5
BENCH_SOURCE = "src0"


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any k-token
    shingle with the held-out benchmark slice, with the shared-shingle
    count per doc.

    The benchmark shingle set is the small side (distinct shingles of
    the eval suite) — at scale it broadcasts, so the corpus pass is a
    map + semi-join-shaped aggregation with one shuffle on doc_id;
    the corpus never self-joins."""
    docs = load_table(spark, "documents", sf_dir)
    sh = F.expr(shingles_spark("text", DECON_K))
    bench = (docs.filter(F.col("source") == BENCH_SOURCE)
             .select(F.explode(sh).alias("s")).distinct())
    corpus = (docs.filter(F.col("source") != BENCH_SOURCE)
              .select("doc_id", F.explode(sh).alias("s")))
    return (corpus.join(F.broadcast(bench), "s")
            .groupBy("doc_id")
            .agg(F.countDistinct("s").alias("n_shared"))
            .orderBy("doc_id"))


DECONTAMINATE_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source, {shingles_duck('text', DECON_K)} AS shs
  FROM documents),
bench AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh
  WHERE source = '{BENCH_SOURCE}'),
corpus AS (
  SELECT doc_id, unnest(shs) AS s FROM sh
  WHERE source <> '{BENCH_SOURCE}')
SELECT doc_id, count(DISTINCT s) AS n_shared
FROM corpus JOIN bench USING (s)
GROUP BY doc_id ORDER BY doc_id
"""


CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-chunk planning: split each doc into fixed-size token
    windows (50 tokens, stride 40 = 10-token overlap) and report
    chunk counts + mean chunk length per source. The explode is
    map-side over per-doc start offsets; one shuffle for the final
    per-source rollup."""
    docs = load_table(spark, "documents", sf_dir)
    toks = toks_spark("text")
    starts = (f"sequence(0, greatest(size({toks}) - 1, 0), "
              f"{CHUNK_STRIDE})")
    exploded = docs.select(
        "source",
        F.expr(f"size({toks})").alias("n"),
        F.explode(F.expr(starts)).alias("start"))
    chunk_len = F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start"))
    return (exploded
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.round(F.avg(chunk_len), 4).alias("avg_chunk_tokens"))
            .orderBy("source"))


DOC_CHUNKS_ORACLE = f"""
WITH t AS (
  SELECT source, len({toks_duck('text')}) AS n FROM documents),
s AS (
  SELECT source, n,
         unnest(range(0, greatest(n, 1), {CHUNK_STRIDE})) AS start
  FROM t)
SELECT source, count(*) AS n_chunks,
       round(avg(least({CHUNK_TOKENS}, n - start)), 4)
         AS avg_chunk_tokens
FROM s GROUP BY source ORDER BY source
"""


SEM_THRESHOLD = 0.3


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage semantic dedup: embedding-cosine candidate pairs
    (triangle-block distributed GEMM — no driver collect, no
    broadcast; see similarity.embedding_dup_pairs) verified with
    exact text jaccard by joining the aligned documents table on
    both pair sides — the full modern near-dup pipeline (cheap
    vector recall, exact text precision) in one plan. Candidates are
    a tiny fraction of the corpus, so the verify joins stay small."""
    from parquet_generator_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    # materialize the (small) candidate list, then shingle ONLY the
    # docs that appear in a pair — without the semi-join both verify
    # sides would re-tokenize the full corpus
    cand = _cache.checkpoint(embedding_dup_pairs(emb, SEM_THRESHOLD))
    cand_ids = (cand.select(F.col("id_a").alias("doc_id"))
                .union(cand.select(F.col("id_b").alias("doc_id")))
                .distinct())
    sh = _cache.checkpoint(
        docs.join(cand_ids, "doc_id", "left_semi")
        .select(F.col("doc_id"),
                F.expr(shingles_spark("text", 3)).alias("sh")))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", "cos",
                    F.round(jac, 3).alias("jaccard"))
            .orderBy("id_a", "id_b"))


_SEM_COS = ("list_dot_product(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])) / "
            "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
            "CAST(a.embedding AS DOUBLE[]))) * "
            "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[]))))")

SEMANTIC_DEDUP_ORACLE = f"""
WITH cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_SEM_COS}, 4) AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id AND round({_SEM_COS}, 4) >= {SEM_THRESHOLD}),
sh AS (SELECT doc_id, {shingles_duck('text', 3)} AS sh FROM documents)
SELECT c.id_a, c.id_b, c.cos,
       round(CASE WHEN len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh)) > 0
             THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             ELSE 0.0 END, 3) AS jaccard
FROM cand c
JOIN sh a ON c.id_a = a.doc_id
JOIN sh b ON c.id_b = b.doc_id
ORDER BY id_a, id_b
"""


QUERIES = {
    "vocab_coverage": vocab_coverage,
    "semantic_dedup": semantic_dedup,
    "embedding_centroids": embedding_centroids,
    "decontaminate": decontaminate,
    "doc_chunks": doc_chunks,
}

ORACLES = {
    "vocab_coverage": VOCAB_COVERAGE_ORACLE,
    "semantic_dedup": SEMANTIC_DEDUP_ORACLE,
    "embedding_centroids": EMBEDDING_CENTROIDS_ORACLE,
    "decontaminate": DECONTAMINATE_ORACLE,
    "doc_chunks": DOC_CHUNKS_ORACLE,
}
