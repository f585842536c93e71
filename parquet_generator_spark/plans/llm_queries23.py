"""LLM-pipeline twenty-third wave: release-gate audits.

- ``source_ngram_overlap`` — shingle-level cross-source leakage.
  ``source_overlap`` (llm_queries6) counts EXACT shared contents; a
  benchmark rarely leaks verbatim — it leaks as near-verbatim
  passages. This measures the partial-leakage matrix: for every
  source pair, how many DISTINCT 3-token shingles appear in both.
  Same scale shape as source_overlap: one distinct on
  (shingle, source), one groupBy whose per-shingle source set is
  bounded by the source count, pairs generated array-side, one
  final count shuffle. Never a doc-pair join.
- ``k_anonymity_audit`` — the privacy gate a corpus/feature release
  runs before publishing: over the quasi-identifier tuple
  (nation, market segment, account-balance decile), how many
  customers sit in equivalence classes smaller than k=5, per class
  size. One groupBy on the quasi-identifier, one bounded histogram
  aggregate — the report is class-size-bucketed so the output never
  enumerates the at-risk individuals themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.text import (
    shingles_duck,
    shingles_spark,
)
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shared 3-shingles per source pair (upper triangle +
    diagonal), plus the Jaccard-style overlap coefficient against
    the smaller side's shingle vocabulary."""
    from parquet_generator_spark.operators import cache as _cache

    docs = load_table(spark, "documents", sf_dir)
    hs = (docs.select(F.explode(F.expr(shingles_spark("text", 3)))
                      .alias("sh"), "source")
          .distinct())
    grouped = (hs.groupBy("sh")
               .agg(F.array_sort(F.collect_set("source")).alias("ss")))
    pairs = grouped.select(F.explode(F.expr(
        "flatten(transform(sequence(0, size(ss) - 1), "
        "i -> transform(sequence(i, size(ss) - 1), "
        "j -> struct(ss[i] AS src_a, ss[j] AS src_b))))")).alias("p"))
    # ONE corpus pass (round 13): the per-source shingle-vocabulary
    # counts are exactly the DIAGONAL of the shared-pair table
    # (shared(s, s) counts every distinct shingle s belongs to), so
    # instead of re-running the explode+distinct chain once per
    # branch (three heavy passes / six scans in the before-plan) the
    # pair aggregate materializes once — a source^2-bounded frame —
    # and both denominator sides are filters over it.
    shared = _cache.checkpoint(
        pairs.groupBy("p.src_a", "p.src_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .select("src_a", "src_b", "shared_shingles"))
    a = (shared.filter(F.col("src_a") == F.col("src_b"))
         .select("src_a", F.col("shared_shingles").alias("n_a")))
    b = (shared.filter(F.col("src_a") == F.col("src_b"))
         .select(F.col("src_b"), F.col("shared_shingles").alias("n_b")))
    # the diagonal is source-cardinality (bounded) — broadcast is
    # safe at any corpus size
    return (shared.join(F.broadcast(a), "src_a")
            .join(F.broadcast(b), "src_b")
            .select("src_a", "src_b", "shared_shingles",
                    F.round(F.col("shared_shingles")
                            / F.least("n_a", "n_b"), 4)
                    .alias("containment"))
            .orderBy("src_a", "src_b"))


SOURCE_NGRAM_OVERLAP_ORACLE = f"""
WITH hs AS (
  SELECT DISTINCT unnest({shingles_duck('text', 3)}) AS sh, source
  FROM documents),
per_src AS (SELECT source, count(*) AS n_sh FROM hs GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_shingles
  FROM hs a JOIN hs b ON a.sh = b.sh AND a.source <= b.source
  GROUP BY src_a, src_b)
SELECT s.src_a, s.src_b, s.shared_shingles,
       round(s.shared_shingles /
             CAST(least(pa.n_sh, pb.n_sh) AS DOUBLE), 4) AS containment
FROM shared s
JOIN per_src pa ON pa.source = s.src_a
JOIN per_src pb ON pb.source = s.src_b
ORDER BY s.src_a, s.src_b
"""


K_ANON = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-size histogram over the quasi-identifier
    (c_nationkey, c_mktsegment, acctbal decile): rows = class size
    1..k-1 (the at-risk classes) plus a single k+ bucket, with class
    and customer counts — the release gate that says how many people
    a joiner could single out."""
    cust = load_table(spark, "customer", sf_dir)
    qid = cust.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long")
        .alias("bal_bucket"))
    classes = (qid.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
               .agg(F.count(F.lit(1)).alias("sz")))
    return (classes.select(
        F.when(F.col("sz") >= K_ANON, F.lit(K_ANON))
        .otherwise(F.col("sz")).cast("long").alias("class_size"),
        "sz")
        .groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"),
             F.sum("sz").alias("n_customers"))
        .orderBy("class_size"))


K_ANONYMITY_AUDIT_ORACLE = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         count(*) AS sz
  FROM customer
  GROUP BY 1, 2, 3)
SELECT CAST(CASE WHEN sz >= {K_ANON} THEN {K_ANON} ELSE sz END
            AS BIGINT) AS class_size,
       count(*) AS n_classes,
       CAST(sum(sz) AS BIGINT) AS n_customers
FROM classes
GROUP BY class_size
ORDER BY class_size
"""


QUERIES.update({
    "source_ngram_overlap": source_ngram_overlap,
    "k_anonymity_audit": k_anonymity_audit,
})
ORACLES.update({
    "source_ngram_overlap": SOURCE_NGRAM_OVERLAP_ORACLE,
    "k_anonymity_audit": K_ANONYMITY_AUDIT_ORACLE,
})


# ------------------------------------------------------ corpus_data_card

def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row data card a corpus release ships: scale (docs,
    sources, languages), length profile (mean/median chars), token
    volume, exact-duplicate rate, and language mix headline (share
    of the majority language). One scan, one aggregate — the exact
    percentile is the only ordering cost and it rides the same
    grouped pass. Every number is independently recomputable by the
    oracle, so the published card can't drift from the corpus."""
    from parquet_generator_spark.operators.text import toks_spark

    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        "doc_id", "source", "lang",
        F.length("text").alias("chars"),
        F.expr(f"size({toks_spark('text')})").cast("long")
        .alias("toks"),
        F.md5("text").alias("h"))
    return (per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("chars"), 2).alias("mean_chars"),
        F.expr("percentile(chars, 0.5)").alias("median_chars"),
        F.sum("toks").alias("total_tokens"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("h"))
            / F.count(F.lit(1)), 4).alias("exact_dup_rate"),
        F.round(F.countDistinct("h") / F.count(F.lit(1)), 4)
        .alias("unique_content_share")))


CORPUS_DATA_CARD_ORACLE = """
SELECT count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT lang) AS n_langs,
       round(avg(length(text)), 2) AS mean_chars,
       median(length(text)) AS median_chars,
       CAST(sum(len(list_filter(string_split_regex(lower(text),
           '[^a-z0-9]+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
       round((count(*) - count(DISTINCT md5(text)))
             / CAST(count(*) AS DOUBLE), 4) AS exact_dup_rate,
       round(count(DISTINCT md5(text))
             / CAST(count(*) AS DOUBLE), 4) AS unique_content_share
FROM documents
"""

QUERIES.update({"corpus_data_card": corpus_data_card})
ORACLES.update({"corpus_data_card": CORPUS_DATA_CARD_ORACLE})
