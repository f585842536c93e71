"""LLM-training-data pipeline queries (SURVEY.md §2.4) with DuckDB
oracles, over the documents/embeddings tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache, dedup, similarity
from parquet_generator_spark.operators import text as tx
from parquet_generator_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
)
from parquet_generator_spark.sources.catalog import load_table

JACCARD_THRESHOLD = 0.5
EMB_DUP_THRESHOLD = 0.3
ANN_K = 5
ANN_QUERY_PRED = "vec_id < 10"

# --- shared near-dup edge stage -------------------------------------

def near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup pair list over documents, behind a
    tracked checkpoint: `dedup_minhash`, `dedup_clusters`,
    `dedup_pagerank` and the other near-dup consumers all start from
    this same edge list, so the iterative ones read materialized
    edges instead of re-running the signature + banding + verify
    pipeline per round. Each query builds its own edges; nothing is
    shared across queries."""
    docs = load_table(spark, "documents", sf_dir)
    return cache.checkpoint(dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", JACCARD_THRESHOLD))


# --- dedup ----------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (dedup.exact_dedup_groups(docs, "doc_id", "text")
            .orderBy("keep_id"))


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY content_hash ORDER BY keep_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (dedup.jaccard_pairs(docs, "doc_id", "text",
                                JACCARD_THRESHOLD)
            .orderBy("id_a", "id_b"))


DEDUP_NGRAM_ORACLE = dedup.jaccard_pairs_duck_sql(
    "documents", "doc_id", "text", JACCARD_THRESHOLD)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates, exact-verified, hot-bucket-capped.
    The DuckDB oracle mirrors the WHOLE pipeline — the md5 base
    hashes, the 128 permutation literals, the 64 band keys, and the
    bucket cap — so hash equality holds by construction on any
    dataset, including degenerate ones where the cap drops
    mega-buckets on both engines alike. (With 64 bands x 2 rows the
    un-capped candidate recall at j>=0.5 is 1-(1-j^2)^64 > 1-1e-8;
    equality with the exact all-pairs result below the cap is also
    asserted in tests.)"""
    return near_dup_edges(spark, sf_dir).orderBy("id_a", "id_b")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
            .orderBy("id_a", "id_b"))


DEDUP_SIMHASH_ORACLE = dedup.simhash_pairs_duck_sql(
    "documents", "doc_id", "text", max_hamming=3)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup (triangle-block distributed GEMM —
    no driver collect, no broadcast; see embedding_dup_pairs)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.embedding_dup_pairs(emb, EMB_DUP_THRESHOLD)


DEDUP_EMBEDDING_ORACLE = similarity.embedding_dup_pairs_duck_sql(
    "embeddings", EMB_DUP_THRESHOLD)

EMB_LSH_BANDS = 8


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH candidates + exact cosine verify at the
    DEMO threshold 0.3. The oracle mirrors the banding exactly (same
    plane literals), so the hash check is strict; recall vs the exact
    baseline (~0.97 with 8 bands x 2 bits) is asserted in
    tests/test_operators.py. NOT the 100-TB path: at cos>=0.3 the
    output itself is quadratic (0.7% cross-pair density) and p~0.6
    per sign bit means no banding beats the exact GEMM — see
    dedup_embedding_lsh_hi (llm_queries16) and SCALE.md for the
    re-tuned production regime."""
    emb = load_table(spark, "embeddings", sf_dir)
    planes = similarity.make_hyperplanes(64, 16, seed=7)
    return similarity.embedding_dup_pairs_lsh(
        emb, EMB_DUP_THRESHOLD, planes, EMB_LSH_BANDS)


DEDUP_EMBEDDING_LSH_ORACLE = similarity.embedding_dup_pairs_lsh_duck_sql(
    "embeddings", EMB_DUP_THRESHOLD,
    similarity.make_hyperplanes(64, 16, seed=7), EMB_LSH_BANDS)


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


# --- text analysis --------------------------------------------------

def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.expr(f"size({tx.toks_spark('text')})").alias("n_tokens"),
        F.size(F.regexp_extract_all(
            F.lower("text"), F.lit(tx.BPE_RE), F.lit(0))).alias("n_bpe"),
        F.length("text").alias("len_chars"),
    ).orderBy("doc_id")


TEXT_TOKENS_ORACLE = f"""
SELECT doc_id,
       len({tx.toks_duck('text')}) AS n_tokens,
       len(regexp_extract_all(lower(text), '{tx.BPE_RE}')) AS n_bpe,
       length(text) AS len_chars
FROM documents ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    prof = tx.profile_struct_spark("text")
    return docs.select(
        "doc_id",
        prof["n_tokens"].alias("n_tokens"),
        prof["distinct_ratio"].alias("distinct_ratio"),
        prof["stop_ratio"].alias("stop_ratio"),
        prof["quality"].alias("quality"),
    ).orderBy("doc_id")


_qd = tx.quality_components_duck("text")
TEXT_QUALITY_ORACLE = f"""
SELECT doc_id,
       {_qd['n_tokens']} AS n_tokens,
       {_qd['distinct_ratio']} AS distinct_ratio,
       {_qd['stop_ratio']} AS stop_ratio,
       {_qd['quality']} AS quality
FROM documents ORDER BY doc_id
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (docs.withColumn("pred_lang", tx.langid_spark("text"))
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "pred_lang"))


TEXT_LANGID_ORACLE = f"""
SELECT lang, {tx.langid_duck('text')} AS pred_lang, count(*) AS n
FROM documents GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        tx.fingerprint_spark("text").alias("fingerprint"),
        F.md5("text").alias("content_md5"),
    ).orderBy("doc_id")


TEXT_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
       {tx.fingerprint_duck('text')} AS fingerprint,
       md5(text) AS content_md5
FROM documents ORDER BY doc_id
"""


# --- multimodal -----------------------------------------------------

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata plumbing: synthesize the media
    table, run the Arrow-batched feature extractor, aggregate per
    media type. The oracle checks byte counts and metadata math."""
    docs = load_table(spark, "documents", sf_dir)
    media = synthesize_media(docs)
    feats = extract_features(media)
    return (feats.groupBy("media_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_bytes").alias("total_bytes"))
            .join(media.groupBy("media_type")
                  .agg(F.round(F.avg("meta.width"), 2).alias("avg_width")),
                  "media_type")
            .orderBy("media_type"))


MULTIMODAL_META_ORACLE = """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS media_type,
       count(*) AS n,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(n_chars % 640), 2) AS avg_width
FROM documents GROUP BY media_type ORDER BY media_type
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "ann_bruteforce": ann_bruteforce,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "text_tokens": text_tokens,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "multimodal_meta": multimodal_meta,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_ngram_jaccard": DEDUP_NGRAM_ORACLE,
    "dedup_minhash": dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD),
    "dedup_simhash": DEDUP_SIMHASH_ORACLE,
    "dedup_embedding": DEDUP_EMBEDDING_ORACLE,
    "dedup_embedding_lsh": DEDUP_EMBEDDING_LSH_ORACLE,
    "ann_bruteforce": ANN_BRUTEFORCE_ORACLE,
    "ann_lsh": ANN_LSH_ORACLE,
    "ann_ivf": ANN_IVF_ORACLE,
    "text_tokens": TEXT_TOKENS_ORACLE,
    "text_quality": TEXT_QUALITY_ORACLE,
    "text_langid": TEXT_LANGID_ORACLE,
    "text_fingerprint": TEXT_FINGERPRINT_ORACLE,
    "multimodal_meta": MULTIMODAL_META_ORACLE,
}
