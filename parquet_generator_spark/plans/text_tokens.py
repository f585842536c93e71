"""Tokenization and n-gram statistics over ``documents.text``: token
counts, vocabularies, BPE training and encoding, n-gram frequencies,
co-occurrence, Zipf and lexical-diversity measures, and keyword
extraction.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators import text as tx
from parquet_generator_spark.operators.text import (
    shingles_spark,
    toks_duck,
    toks_spark,
)
from parquet_generator_spark.operators.util import (
    broadcast_scalars,
    widen_if_narrow,
)
from parquet_generator_spark.sources.catalog import load_table


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


# --- corpus n-gram statistics ---------------------------------------

NGRAM_TOPK = 20


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trigram shingles by document frequency: explode the
    per-doc distinct shingle set, one count shuffle, deterministic
    top-k. The explode keeps partial aggregation map-side, so the
    shuffle carries (shingle, partial_count), not raw text."""
    docs = load_table(spark, "documents", sf_dir)
    sh = widen_if_narrow(docs).select(
        F.explode(F.expr(tx.shingles_spark("text", 3))).alias("shingle"))
    return (sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .orderBy(F.desc("doc_freq"), F.asc("shingle"))
            .limit(NGRAM_TOPK))


NGRAM_TOPK_ORACLE = f"""
SELECT sh AS shingle, count(*) AS doc_freq
FROM (SELECT unnest({tx.shingles_duck('text', 3)}) AS sh FROM documents)
GROUP BY sh ORDER BY doc_freq DESC, shingle ASC
LIMIT {NGRAM_TOPK}
"""

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


# - span_dedup: exact substring-duplication profile (Lee et al. 2021,
#   "Deduplicating Training Data Makes Language Models Better"): for
#   every K-token span occurrence, is the same span text present
#   anywhere else in the corpus? Distributed as a shuffle on the span
#   hash — no pairwise comparison anywhere, so it survives 100 TB
#   (the span->count aggregate is map-side partial; the per-doc
#   rollup joins span counts back on the same shuffle key).
# - seq_packing: greedy fixed-token-budget sequence packing (the
#   batch-construction step of LLM training): documents pack in
#   doc_id order within each source shard; sequential by definition,
#   so it runs as one applyInPandas per source group — at scale each
#   shard packs independently in parallel, which is exactly how
#   packing is done in practice.
# - source_temperature_sample: temperature-based mixture rebalancing
#   ((n_s)^alpha source weights, deterministic md5-ranked selection)
#   — reproducible across engines, layouts, and runs.
# - char_entropy: per-document character-distribution Shannon entropy
#   (gibberish / low-diversity detector). Pure explode+groupBy.
# - cooccurrence_pmi: windowed word co-occurrence with PMI (the
#   statistic count-based embeddings factorize); array-side pair
#   generation, so no self-join — only keyed count aggregations.


# ------------------------------------------------ cooccurrence_pmi

PMI_WINDOW = 3          # max token distance within a doc
PMI_MIN_COUNT = 50      # report pairs seen at least this often


def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed word co-occurrence with pointwise mutual information
    — the statistic under every count-based embedding (word2vec SGNS
    factorizes a shifted PMI matrix). Pair generation is ARRAY-SIDE
    (per-doc transform over positions x window offsets), so there is
    no self-join anywhere; the only shuffles are the pair-count and
    unigram-count aggregations, both map-side partial. Rows are
    ordered by the word pair (integers + strings), never by the
    float PMI, so engine ulp differences cannot reorder the output.
    """
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    # ONE corpus tokenize pass emits, per document, a (w, NULL)
    # marker row per token occurrence AND one (w1 <= w2) pair row
    # per in-window position pair (round 14 — the basket_lift
    # one-pass trick: the former shape paid TWO corpus passes, one
    # for the pair table and one for the unigram table, plus two
    # checkpoints and two scalar-collect jobs). A single grouped
    # count is then simultaneously the unigram model (NULL w2) and
    # the pair model; both corpus totals fall out of one aggregate
    # over the checkpointed model. The model is pair-vocab/vocab
    # cardinality — never the raw pair stream — so the barrier cost
    # stays model-sized at any corpus scale.
    # sequence(a, b) runs DESCENDING when a > b, so both levels are
    # guarded: no outer position past size-2, and the inner range is
    # empty-array'd out when the window would start beyond the end
    combined_expr = (
        f"concat("
        f"transform(t, w -> struct(w AS w1, "
        f"CAST(NULL AS STRING) AS w2)), "
        f"CASE WHEN size(t) >= 2 THEN "
        f"flatten(transform(sequence(0, size(t) - 2), i -> "
        f"transform(sequence(i + 1, least(i + {PMI_WINDOW},"
        f" size(t) - 1)), "
        f"j -> struct(least(t[i], t[j]) AS w1, "
        f"greatest(t[i], t[j]) AS w2)))) "
        f"ELSE array() END)")
    # EAGER: the final job reads the model through three
    # subtrees (pair branch + both unigram join sides)
    model = cache.checkpoint(
        docs.select(F.expr(toks_spark("text")).alias("t"))
        .select(F.explode(F.expr(combined_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt")))
    tot = model.agg(
        F.sum(F.when(F.col("w2").isNull(), F.col("cnt")))
        .alias("t_w"),
        F.sum(F.when(F.col("w2").isNotNull(), F.col("cnt")))
        .alias("t_p"))
    pair_cnt = (model.filter(F.col("w2").isNotNull()
                             & (F.col("cnt") >= PMI_MIN_COUNT))
                .select("w1", "w2", F.col("cnt").alias("c_xy")))
    uni = (model.filter(F.col("w2").isNull())
           .select(F.col("w1").alias("w"),
                   F.col("cnt").alias("c_w")))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y"))
    t_w, t_p = F.col("t_w"), F.col("t_p")
    pmi = (F.log2((F.col("c_xy").cast("double") / t_p)
                  / ((F.col("c_x").cast("double") / t_w)
                     * (F.col("c_y").cast("double") / t_w))))
    # u1/u2 are VOCAB-cardinality unigram tables — no broadcast hint
    # (billions of distinct tokens at web scale); the w1/w2 equi-joins
    # shuffle on the word key, and AQE still broadcasts small vocabs.
    return (broadcast_scalars(pair_cnt.join(u1, "w1").join(u2, "w2"), tot)
            .select("w1", "w2", "c_xy",
                    F.round(pmi, 3).alias("pmi"))
            .orderBy("w1", "w2"))


COOCCURRENCE_PMI_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
pr AS (
  SELECT least(tk[i + 1], tk[j + 1]) AS w1,
         greatest(tk[i + 1], tk[j + 1]) AS w2
  FROM t,
       unnest(range(0, len(tk))) AS a(i),
       unnest(range(0, len(tk))) AS b(j)
  WHERE j > i AND j <= least(i + {PMI_WINDOW}, len(tk) - 1)),
pc AS (SELECT w1, w2, count(*) AS c_xy FROM pr GROUP BY w1, w2
       HAVING count(*) >= {PMI_MIN_COUNT}),
uni AS (
  SELECT u.w, count(*) AS c_w
  FROM (SELECT unnest(tk) AS w FROM t) u GROUP BY u.w),
tot AS (SELECT (SELECT CAST(sum(c_w) AS DOUBLE) FROM uni) AS t_w,
               (SELECT CAST(count(*) AS DOUBLE) FROM pr) AS t_p)
SELECT pc.w1, pc.w2, CAST(pc.c_xy AS BIGINT) AS c_xy,
       round(log2((pc.c_xy / tot.t_p) /
                  ((ux.c_w / tot.t_w) * (uy.c_w / tot.t_w))), 3)
         AS pmi
FROM pc
JOIN uni ux ON ux.w = pc.w1
JOIN uni uy ON uy.w = pc.w2
CROSS JOIN tot
ORDER BY w1, w2
"""


# ------------------------------------------------- tfidf_topterms

TFIDF_TOP = 3


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic sparse
    retrieval/feature representation. tf = in-doc count, idf =
    ln((N+1)/(df+1)) + 1 (smoothed). Two keyed aggregations (term
    frequencies per doc; document frequencies per term — both
    map-side partial), then a term-keyed equi-join of tf against the
    idf table. The idf frame is VOCAB-cardinality — web corpora reach
    billions of distinct tokens (typos, URLs), so no broadcast hint:
    tf is already (doc, term)-keyed and a term-keyed shuffle join is
    the safe default (AQE still broadcasts when runtime stats say the
    vocab is actually small). One per-doc window takes the top-k.
    Ranking compares the ROUNDED score with the term as tie-break, so
    float ulp differences between engines cannot flip an ordering."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id",
                       F.explode(F.expr(toks_spark("text"))).alias("term"))
    # ONE corpus tokenize pass builds tf, checkpointed (eager — the
    # final job reads it through two subtrees: the df aggregate and
    # the join probe side; the batch-3 lazy-barrier rule). df is
    # then a vocab-bounded groupBy with map-side partial aggregation
    # joined back on the term key — round 14: the round-13
    # count-over-Window(term) carried the ENTIRE (doc, term) tf
    # stream through one sort exchange with no partial aggregation
    # and regressed the bench 1.3x; this keeps the single corpus
    # scan AND the partial agg. No broadcast hint on df (billions
    # of distinct tokens at web scale); AQE broadcasts small vocabs.
    tf = cache.checkpoint(
        toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")))
    n_docs = docs.count()   # one scalar; parquet footer-stats count
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
    scored = tf.join(dft, "term").select(
        "doc_id", "term",
        F.round(F.col("tf") * idf, 4).alias("tfidf"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TFIDF_TOP)
            .select("doc_id", "rk", "term", "tfidf")
            .orderBy("doc_id", "rk"))


def _tfidf_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks_duck('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0),
               4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, rk, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored)
WHERE rk <= {TFIDF_TOP}
ORDER BY doc_id, rk
"""


TFIDF_TOPTERMS_ORACLE = _tfidf_oracle()


# Embedding quantization (ANN storage prep), cross-source
# duplicate-leakage matrix, and a Zipf-fit corpus health check. DuckDB
# oracles mirror every step bit-for-bit (shared float64 inputs +
# identical arithmetic order), so all three are hash-gated like exact
# queries.


# ------------------------------------------------------ zipf_slope

ZIPF_TOP = 1000


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health check: the log-log slope of frequency vs rank
    over the top-K vocabulary (natural text ~ -1; synthetic or
    template-heavy corpora drift flat). The top-K comes from
    ``orderBy().limit()`` (TakeOrderedAndProject — no vocab-wide
    sort or window); the rank window and the regr_slope fold then
    run over K bounded rows."""
    docs = load_table(spark, "documents", sf_dir)
    counts = (docs.select(
        F.explode(F.expr(toks_spark("text"))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    top = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.round(F.expr("regr_slope(ln(cnt), ln(rank))"), 3)
        .alias("zipf_slope"),
        F.count(F.lit(1)).alias("n_terms"))


ZIPF_SLOPE_ORACLE = f"""
WITH toks AS (
  SELECT unnest({toks_duck('text')}) AS word FROM documents),
c AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
t AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
      FROM c ORDER BY cnt DESC, word ASC LIMIT {ZIPF_TOP})
SELECT round(regr_slope(ln(cnt), ln(rank)), 3) AS zipf_slope,
       count(*) AS n_terms
FROM t
"""


# ------------------------------------------------------ bpe_merge_candidates

BPE_TOP = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE vocabulary induction: corpus-frequency
    counts of adjacent character pairs within words (with word
    multiplicity — exactly what the first merge rule is chosen
    from). Two explodes (word, then its character bigrams generated
    array-side), one keyed count shuffle, top-k via
    TakeOrderedAndProject."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.expr(toks_spark("text"))).alias("w"))
    pairs = words.select(F.explode(F.expr(
        "CASE WHEN length(w) >= 2 THEN "
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) "
        "ELSE array() END")).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(BPE_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "pair", "n").orderBy("rank"))


BPE_MERGE_ORACLE = f"""
WITH words AS (
  SELECT unnest({toks_duck('text')}) AS w FROM documents),
pairs AS (
  SELECT unnest(CASE WHEN length(w) >= 2 THEN
           list_transform(generate_series(1, length(w) - 1),
                          i -> substr(w, i, 2))
         ELSE [] END) AS pair
  FROM words),
c AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair),
ranked AS (
  SELECT pair, n,
         row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
  FROM c)
SELECT rank, pair, n FROM ranked WHERE rank <= {BPE_TOP}
ORDER BY rank
"""


# Corpus bigram language-model scoring, lexical diversity, robust
# (median/MAD) length outliers, per-dimension embedding statistics,
# distributed k-means, and an exact hierarchical peak-concurrency sweep.
#
# Scale posture: every query is one or two keyed shuffles with map-side
# partial aggregation; the only driver traffic is k-means' bounded
# k x dim centroid matrix (the MLlib posture) and the usual one-row
# scalars. No pairwise joins, no Python in a hot path, no global sort.


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
    model = cache.checkpoint(
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


# Corpus monitoring operators — batch-over-batch n-gram novelty,
# tokenizer fertility, source-mixture Gini inequality, and SimHash
# signature bit-balance QA.
#
# Scale posture: one (doc,token)- or hash-keyed shuffle each; scalar
# totals attach as scalar subqueries (broadcast_scalars); nothing touches
# the driver beyond bounded group-cardinality rows.


NOVELTY_K = 5
NOVELTY_BATCH = 100


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus freshness monitor: ingest batches (doc_id ranges) and,
    per batch, the fraction of its distinct 5-gram shingles never
    seen in ANY earlier batch — the signal that tells a crawl
    pipeline it has started re-reading the same web. First-occurrence
    trick (the cumulative_cardinality recipe): min(batch) per
    shingle, one shingle-keyed shuffle, no batch-over-batch scan."""
    docs = load_table(spark, "documents", sf_dir)
    # bound shingler (no Pandas UDF in this pipeline): the token
    # array binds once per row instead of re-tokenizing per shingle
    # index — the same 3x win measured on containment_pairs
    sh = (docs.select(
        (F.col("doc_id") / NOVELTY_BATCH).cast("long").alias("batch"),
        F.explode(F.expr(shingles_spark("text", NOVELTY_K)))
        .alias("s"))
        .distinct())
    # first-batch as a WINDOW over the shingle partition (round 13:
    # this was a join of the distinct-shingle frame against its own
    # groupBy — the explode+distinct chain ran twice, two corpus
    # scans in the before-plan; the window computes the identical
    # per-shingle min on ONE pass, guide §2.4)
    per = (sh.withColumn("first_batch",
                         F.min("batch").over(Window.partitionBy("s")))
           .groupBy("batch")
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum((F.col("batch") == F.col("first_batch"))
                      .cast("long")).alias("n_new")))
    return (per.select("batch", "n_grams", "n_new",
                       F.round(F.col("n_new") / F.col("n_grams"), 4)
                       .alias("novelty"))
            .orderBy("batch"))


NGRAM_NOVELTY_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT CAST(floor(doc_id / {NOVELTY_BATCH}) AS BIGINT)
           AS batch, s.s
  FROM documents,
       unnest(list_distinct(list_transform(
         range(len({toks_duck('text')}) - {NOVELTY_K - 1}),
         i -> array_to_string(list_slice({toks_duck('text')},
                                         i + 1, i + {NOVELTY_K}), ' '))))
         s(s)),
first AS (SELECT s, min(batch) AS first_batch FROM sh GROUP BY s)
SELECT sh.batch, count(*) AS n_grams,
       CAST(sum(CASE WHEN sh.batch = f.first_batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       round(sum(CASE WHEN sh.batch = f.first_batch THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS novelty
FROM sh JOIN first f USING (s)
GROUP BY sh.batch ORDER BY sh.batch
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: analyzed-tokens per whitespace
    word (the subword blow-up factor a tokenizer change shifts) and
    characters per token — the go/no-go numbers before re-tokenizing
    a 100 TB corpus. One narrow map + one grouped pass."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source",
        F.size(F.expr(toks_spark("text"))).alias("n_tok"),
        F.size(F.expr("filter(split(text, '\\\\s+'), x -> x != '')"))
        .alias("n_words"),
        F.length("text").alias("n_chars"))
    return (per.groupBy("source")
            .agg(F.sum("n_tok").alias("tokens"),
                 F.sum("n_words").alias("words"),
                 F.round(F.sum("n_tok") / F.sum("n_words").cast("double"),
                         4).alias("fertility"),
                 F.round(F.sum("n_chars") / F.sum("n_tok").cast("double"),
                         4).alias("chars_per_token"))
            .orderBy("source"))


TOKENIZER_FERTILITY_ORACLE = f"""
WITH per AS (
  SELECT source, len({toks_duck('text')}) AS n_tok,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS n_words,
         length(text) AS n_chars
  FROM documents)
SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens,
       CAST(sum(n_words) AS BIGINT) AS words,
       round(sum(n_tok) / CAST(sum(n_words) AS DOUBLE), 4)
         AS fertility,
       round(sum(n_chars) / CAST(sum(n_tok) AS DOUBLE), 4)
         AS chars_per_token
FROM per GROUP BY source ORDER BY source
"""


# ------------------------------------------------- windowed_topk_types

WINDOWED_TOPK = 3


def windowed_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types: top-3 types per DAY by event count —
    the dashboard query every event pipeline ships. One grouped pass
    to (day, type) counts, then a rank window PARTITIONED BY DAY
    (parallel across days; each day's frame is type-cardinality)."""
    ev = load_table(spark, "events", sf_dir)
    daily = (ev.groupBy(F.to_date("ts").alias("day"),
                        F.col("event_type"))
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("day").orderBy(F.desc("n"),
                                          F.asc("event_type"))
    return (daily.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= WINDOWED_TOPK)
            .select("day", F.col("rk").cast("int").alias("rk"),
                    "event_type", "n")
            .orderBy("day", "rk"))


WINDOWED_TOPK_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT day, event_type, n,
         CAST(row_number() OVER (PARTITION BY day
                                 ORDER BY n DESC, event_type ASC)
              AS INT) AS rk
  FROM daily)
SELECT day, rk, event_type, n FROM ranked
WHERE rk <= {WINDOWED_TOPK}
ORDER BY day, rk
"""


# --------------------------------------------------- hapax_doc_flags

HAPAX_MAX_DF = 1       # a hapax legomenon: appears in exactly 1 doc


def hapax_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token quality signal: per-source counts of documents
    containing hapax legomena (corpus df = 1 tokens — on web corpora
    these are typos, codes and mojibake, a standard noise indicator).
    Plan: one (doc, distinct token) explode feeds BOTH the df count
    and the doc flag via a token-keyed join — token-cardinality
    frames meet on the token key (no corpus broadcast), then one
    bounded per-source rollup."""
    docs = load_table(spark, "documents", sf_dir)
    dt = docs.select(
        "doc_id", "source",
        F.explode(F.expr(f"array_distinct({tx.toks_spark('text')})"))
        .alias("term"))
    df_counts = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    hapax = df_counts.filter(F.col("df") <= HAPAX_MAX_DF)
    flagged = (dt.join(hapax, "term")
               .groupBy("doc_id", "source")
               .agg(F.count(F.lit(1)).alias("n_hapax")))
    per_doc = (docs.select("doc_id", "source")
               .join(flagged.select("doc_id", "n_hapax"), "doc_id",
                     "left")
               .select("source",
                       F.coalesce("n_hapax", F.lit(0))
                       .alias("n_hapax")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("n_hapax") > 0).cast("long"))
                 .alias("docs_with_hapax"),
                 F.sum("n_hapax").alias("total_hapax"))
            .orderBy("source"))


def _hapax_oracle() -> str:
    return f"""
WITH dt AS (
  SELECT doc_id, source, unnest(list_distinct({tx.toks_duck('text')}))
           AS term
  FROM documents),
hapax AS (
  SELECT term FROM dt GROUP BY term
  HAVING count(*) <= {HAPAX_MAX_DF}),
flagged AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hapax
  FROM dt WHERE term IN (SELECT term FROM hapax)
  GROUP BY doc_id),
per_doc AS (
  SELECT d.source, coalesce(f.n_hapax, 0) AS n_hapax
  FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_hapax > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_hapax,
       CAST(sum(n_hapax) AS BIGINT) AS total_hapax
FROM per_doc GROUP BY source ORDER BY source
"""


# ------------------------------------------------------ doc_keywords

KW_TOPK = 3


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF
    (tf * ln(N/df)). Two grouped passes build tf and df; the scalar
    doc count enters as a scalar subquery; scores are ROUNDED TO 4
    BEFORE ranking so the rank window (partitioned per doc — fully
    parallel) breaks ties on the term, immune to cross-engine ln()
    last-ulp differences."""
    docs = load_table(spark, "documents", sf_dir)
    dw = docs.select(
        "doc_id",
        F.explode(F.expr(tx.toks_spark("text"))).alias("w"))
    tf = dw.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (dw.distinct().groupBy("w")
             .agg(F.count(F.lit(1)).alias("df")))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = broadcast_scalars(tf.join(dfreq, "w"), n_docs)
    score = F.round(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")),
        4)
    w = (Window.partitionBy("doc_id")
         .orderBy(F.desc("score"), F.asc("w")))
    return (scored.withColumn("score", score)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= KW_TOPK)
            .select("doc_id", "rank", F.col("w").alias("term"),
                    "score")
            .orderBy("doc_id", "rank"))


def _doc_keywords_oracle() -> str:
    return f"""
WITH dw AS (
  SELECT doc_id, unnest({tx.toks_duck('text')}) AS w
  FROM documents),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM dw GROUP BY doc_id, w),
dfreq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, w FROM dw) GROUP BY w),
n_docs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w,
         round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 4)
           AS score
  FROM tf JOIN dfreq USING (w) CROSS JOIN n_docs n),
ranked AS (
  SELECT doc_id, w, score,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, w ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, rank, w AS term, score
FROM ranked WHERE rank <= {KW_TOPK}
ORDER BY doc_id, rank
"""


# BPE vocabulary TRAINING and ENCODE.
#
# ``bpe_merge_candidates`` (below) is step 1 of BPE, one
# pair-count pass. This section trains the full merge table (Sennrich et
# al. 2016, "Neural Machine Translation of Rare Words with Subword
# Units") and encodes the corpus with it.
#
# Shape:
# - the corpus-sized work stays distributed: one scan tokenizes the
#   documents and one groupBy counts the unique words; that frequency
#   table is the classic BPE training input, and it is collected to the
#   driver once (31 words at sf0.01 and at sf0.1);
# - ``train_merges`` runs the K merge rounds in plain Python over that
#   table, one in-memory pass per merge, as in the paper: adjacent-pair
#   counts weighted by word frequency, the argmax pair with ties broken
#   on the ascending pair string (tokens are ``[a-z0-9]+``, so Python's
#   code-point order is Spark's byte order), and an early stop when no
#   pair is left;
# - a word is the space-delimited symbol string (``"low"`` ->
#   ``" l o w "``) and a merge is a DOUBLE-pass plain string
#   ``replace``. For left != right two passes make leftmost
#   non-overlapping replacement equal to greedy left-to-right merging (a
#   single pass misses every second adjacent occurrence, because the
#   shared delimiter space is consumed; the missed ones are never
#   adjacent, so pass 2 gets them all). KNOWN DEVIATION from
#   Sennrich-greedy BPE: for SELF-OVERLAPPING pairs (left == right) on
#   symbol runs >= 5 the double replace groups differently
#   (['a']*5 -> ['aa','a','aa'] vs greedy ['aa','aa','a']; runs >= 6
#   differ in token count), pinned in tests/test_bpe_property.py;
# - ``bpe_encode_stats`` applies the merges as 2K replaces inside one
#   projection over the corpus, then one per-source aggregate. The merge
#   pairs enter the plan as literals through the column API, not as SQL
#   text.
#
# Python, Spark and DuckDB share the double-replace semantics, so the
# DuckDB oracle replays the same K rounds as unrolled CTEs with scalar
# subqueries, with no Spark result leaking into it.
#
# Cost (SCALE.md): the driver holds the vocabulary, O(|V|), and training
# takes O(K * sum |w|) Python steps over it; building either key runs
# two jobs (the shuffle and the result of the one vocabulary collect)
# and no checkpoint.


BPE_TRAIN_MERGES = 12

_MERGES_SCHEMA = T.StructType([
    T.StructField("rank", T.IntegerType()),
    T.StructField("merge_left", T.StringType()),
    T.StructField("merge_right", T.StringType()),
    T.StructField("merged", T.StringType()),
    T.StructField("n", T.LongType()),
])

# symbol string: sentinel-space-delimited chars, e.g. "low" -> " l o w "
_CHARS_DUCK = ("' ' || array_to_string(list_transform("
               "generate_series(1, length(w)), i -> substr(w, i, 1)), "
               "' ') || ' '")

# adjacent symbol pairs of the delimited string, as 'a b' strings
_PAIRS_DUCK = (
    "CASE WHEN len(l) >= 2 THEN list_transform("
    "generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1]) "
    "ELSE [] END")

_SPLIT_DUCK = "list_filter(string_split(s, ' '), t -> t <> '')"


def train_merges(vocab: list[tuple[str, int]],
                 k: int = BPE_TRAIN_MERGES) -> list[tuple]:
    """Train up to ``k`` merges over a (word, freq) table: rows of
    (rank, merge_left, merge_right, merged, n), where n is the
    weighted frequency the pair had when selected. Stops early when
    no word has two symbols left."""
    words = [(" " + " ".join(w) + " ", freq) for w, freq in vocab]
    merges: list[tuple] = []
    for rank in range(1, k + 1):
        counts: Counter = Counter()
        for s, freq in words:
            syms = s.split()
            for left, right in zip(syms, syms[1:]):
                counts[f"{left} {right}"] += freq
        if not counts:
            break
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = pair.split(" ")
        pat, rep = f" {pair} ", f" {left}{right} "
        words = [(s.replace(pat, rep).replace(pat, rep), freq)
                 for s, freq in words]
        merges.append((rank, left, right, left + right, n))
    return merges


def _word_counts(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """The corpus's unique-word frequency table, collected once."""
    docs = load_table(spark, "documents", sf_dir)
    rows = (docs.select(F.explode(F.expr(toks_spark("text"))).alias("w"))
            .groupBy("w").count().collect())
    return [(r["w"], r["count"]) for r in rows]


def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table (K=12 rounds) over the documents
    corpus: rank, the merged pair (left/right/merged), and the
    weighted corpus frequency the pair had when selected. Ties break
    on ascending pair string in both engines."""
    merges = train_merges(_word_counts(spark, sf_dir))
    return spark.createDataFrame(merges, _MERGES_SCHEMA).orderBy("rank")


def _merge_duck(r: int) -> tuple[str, str]:
    """Round r's replace pattern and replacement as DuckDB scalar
    subqueries on b{r}. Once no pair is left b{r} has no row, and both
    coalesce to two spaces, which never occur in a delimited string,
    so the replace is a no-op."""
    pat = f"' ' || coalesce((SELECT pair FROM b{r}), '') || ' '"
    rep = (f"' ' || coalesce((SELECT replace(pair, ' ', '') "
           f"FROM b{r}), '') || ' '")
    return pat, rep


def _train_ctes_duck(k: int) -> str:
    """The unrolled K-round replay as CTEs: w{r} is the vocabulary
    after round r, b{r} round r's argmax pair (no row once no pair is
    left)."""
    parts = [
        "WITH w0 AS MATERIALIZED (\n"
        f"  SELECT {_CHARS_DUCK} AS s, freq FROM (\n"
        f"    SELECT w, count(*) AS freq FROM (\n"
        f"      SELECT unnest({toks_duck('text')}) AS w FROM documents)\n"
        f"    GROUP BY w))"]
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        pat, rep = _merge_duck(r)
        parts.append(
            f"p{r} AS MATERIALIZED (\n"
            f"  SELECT unnest({_PAIRS_DUCK}) AS pair, freq FROM (\n"
            f"    SELECT {_SPLIT_DUCK} AS l, freq FROM {prev})),\n"
            f"b{r} AS MATERIALIZED (\n"
            f"  SELECT pair, sum(freq) AS n FROM p{r} GROUP BY pair\n"
            f"  ORDER BY n DESC, pair ASC LIMIT 1),\n"
            f"w{r} AS MATERIALIZED (\n"
            f"  SELECT replace(replace(s,\n"
            f"           {pat},\n"
            f"           {rep}),\n"
            f"           {pat},\n"
            f"           {rep}) AS s, freq\n"
            f"  FROM {prev})")
    return ",\n".join(parts)


def bpe_vocab_train_duck_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled K-round replay: one rank row per round that found a
    pair; the merge is the same double-pass replace."""
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS rank,\n"
        f"  split_part(pair, ' ', 1) AS merge_left,\n"
        f"  split_part(pair, ' ', 2) AS merge_right,\n"
        f"  replace(pair, ' ', '') AS merged,\n"
        f"  CAST(n AS BIGINT) AS n FROM b{r}"
        for r in range(1, k + 1))
    return _train_ctes_duck(k) + "\n" + rows + "\nORDER BY rank"


# ------------------------------------------------------ bpe_encode_stats

def _symbols(w: Column) -> Column:
    """``"low"`` -> ``" l o w "``, the delimited symbol string."""
    chars = F.transform(F.sequence(F.lit(1), F.length(w)),
                        lambda i: F.substring(w, i, F.lit(1)))
    return F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" "))


def _apply_merges(s: Column, merges: list[tuple]) -> Column:
    """Apply the trained merge sequence to the delimited symbol string
    ``s``: the same double-pass replace per merge as training."""
    for _r, left, right, merged, _n in merges:
        pat, rep = F.lit(f" {left} {right} "), F.lit(f" {merged} ")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    return s


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained merge table: trains the K=12 merges
    (``train_merges`` over one vocabulary collect), applies them to
    every word of every document, and reports the tokenizer's effect
    per source — docs, total chars (pre-BPE symbol count), post-BPE
    token count, and chars per token (the compression/fertility
    report a tokenizer change ships with; the trained-BPE twin of
    tokenizer_fertility).

    Scale shape: the merge table is O(K) literals; encoding is 2K
    string replaces inside ONE projection over the corpus — no
    shuffle beyond the final per-source aggregate."""
    merges = train_merges(_word_counts(spark, sf_dir))
    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(toks_spark("text"))

    def word_stats(w: Column) -> Column:
        pieces = F.split(_apply_merges(_symbols(w), merges), " ")
        n_toks = F.size(F.filter(pieces, lambda t: t != "")).cast("bigint")
        return F.struct(F.length(w).alias("chars"), n_toks.alias("toks"))

    zero = F.struct(F.lit(0).cast("bigint").alias("c"),
                    F.lit(0).cast("bigint").alias("t"))
    per_doc = F.aggregate(
        F.transform(toks, word_stats), zero,
        lambda a, x: F.struct((a["c"] + x["chars"]).alias("c"),
                              (a["t"] + x["toks"]).alias("t")))
    stats = docs.filter(F.size(toks) >= 1).select(
        "source", per_doc.alias("agg"))
    return (stats.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("agg.c").alias("chars"),
                 F.sum("agg.t").alias("bpe_tokens"),
                 F.round(F.sum("agg.c") / F.sum("agg.t"), 4)
                 .alias("chars_per_token"))
            .orderBy("source"))


def bpe_encode_stats_duck_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Replay: re-train the merges in SQL (the bpe_vocab_train CTE
    chain), then apply the SAME double-pass replaces to every word
    via the b{r} scalar subqueries."""
    enc = _CHARS_DUCK
    for r in range(1, k + 1):
        pat, rep = _merge_duck(r)
        enc = (f"replace(replace({enc}, {pat}, {rep}), {pat}, {rep})")
    return f"""{_train_ctes_duck(k)},
words AS (
  SELECT doc_id, source, unnest({toks_duck('text')}) AS w
  FROM documents),
encw AS (
  SELECT doc_id, source, length(w) AS chars,
         len(list_filter(string_split({enc}, ' '), t -> t <> ''))
           AS toks
  FROM words)
SELECT source, count(DISTINCT doc_id) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(sum(toks) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(chars) AS DOUBLE) / sum(toks), 4)
         AS chars_per_token
FROM encw
GROUP BY source
ORDER BY source
"""


# -------------------------------------------------- text_tokens_cjk

# the synthetic corpus is ASCII-only, so the zh documents get a
# deterministic planted Chinese payload (literal constants shared by
# plan and oracle) — the honest simulation of a multilingual crawl
_CJK_SNIPPETS = ["数据处理引擎分析", "分散式数据流计算", "向量检索与排序"]


def text_tokens_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK-aware token accounting (the bigram fallback every text op
    can opt into): zh documents carry planted Chinese payloads; the
    tokenizer (operators/text.toks_cjk_spark) emits Latin alnum runs
    as-is and character BIGRAMS for CJK runs (Lucene CJKAnalyzer
    semantics), so token counts stop silently dropping non-Latin
    scripts. Per language: docs, total tokens, CJK-bigram tokens,
    Latin tokens — the zh rows are the proof the fallback engages
    (the plain analyzer counts 0 of the planted payload).

    Scale: one narrow projection + one grouped aggregate, identical
    shape to text_tokens."""
    docs = load_table(spark, "documents", sf_dir)
    snip = ("CASE CAST(doc_id % 3 AS INT) "
            + " ".join(f"WHEN {i} THEN '{s}'"
                       for i, s in enumerate(_CJK_SNIPPETS))
            + " END")
    mixed = (f"CASE WHEN lang = 'zh' THEN "
             f"concat({snip}, ' ', substr(text, 1, 60)) "
             f"ELSE substr(text, 1, 60) END")
    toks = tx.toks_cjk_spark("mixed")
    cjk_pat = f"^[{tx.CJK_RANGES}]"
    return (docs.select("lang", F.expr(mixed).alias("mixed"))
            .select(
                "lang",
                F.expr(f"size({toks})").alias("n_toks"),
                F.expr(f"size(filter({toks}, "
                       f"t -> t rlike '{cjk_pat}'))").alias("n_cjk"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_toks").cast("long").alias("total_tokens"),
                 F.sum("n_cjk").cast("long").alias("cjk_tokens"),
                 (F.sum("n_toks") - F.sum("n_cjk")).cast("long")
                 .alias("latin_tokens"))
            .orderBy("lang"))


def _cjk_oracle() -> str:
    snip = ("CASE CAST(doc_id % 3 AS INT) "
            + " ".join(f"WHEN {i} THEN '{s}'"
                       for i, s in enumerate(_CJK_SNIPPETS))
            + " END")
    mixed = (f"CASE WHEN lang = 'zh' THEN "
             f"concat({snip}, ' ', substr(text, 1, 60)) "
             f"ELSE substr(text, 1, 60) END")
    toks = tx.toks_cjk_duck("mixed")
    cjk_pat = f"^[{tx.CJK_RANGES}]"
    return f"""
WITH m AS (SELECT lang, {mixed} AS mixed FROM documents),
t AS (SELECT lang, len({toks}) AS n_toks,
             len(list_filter({toks},
                 t -> regexp_matches(t, '{cjk_pat}'))) AS n_cjk
      FROM m)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_cjk) AS BIGINT) AS cjk_tokens,
       CAST(sum(n_toks) - sum(n_cjk) AS BIGINT) AS latin_tokens
FROM t GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "text_tokens": text_tokens,
    "ngram_topk": ngram_topk,
    "vocab_coverage": vocab_coverage,
    "tfidf_topterms": tfidf_topterms,
    "cooccurrence_pmi": cooccurrence_pmi,
    "bpe_merge_candidates": bpe_merge_candidates,
    "zipf_slope": zipf_slope,
    "bigram_logprob": bigram_logprob,
    "lexical_diversity": lexical_diversity,
    "ngram_novelty": ngram_novelty,
    "tokenizer_fertility": tokenizer_fertility,
    "windowed_topk_types": windowed_topk_types,
    "hapax_doc_flags": hapax_doc_flags,
    "doc_keywords": doc_keywords,
    "bpe_vocab_train": bpe_vocab_train,
    "bpe_encode_stats": bpe_encode_stats,
    "text_tokens_cjk": text_tokens_cjk,
}


ORACLES = {
    "text_tokens": TEXT_TOKENS_ORACLE,
    "ngram_topk": NGRAM_TOPK_ORACLE,
    "vocab_coverage": VOCAB_COVERAGE_ORACLE,
    "tfidf_topterms": TFIDF_TOPTERMS_ORACLE,
    "cooccurrence_pmi": COOCCURRENCE_PMI_ORACLE,
    "bpe_merge_candidates": BPE_MERGE_ORACLE,
    "zipf_slope": ZIPF_SLOPE_ORACLE,
    "bigram_logprob": BIGRAM_LOGPROB_ORACLE,
    "lexical_diversity": LEXICAL_DIVERSITY_ORACLE,
    "ngram_novelty": NGRAM_NOVELTY_ORACLE,
    "tokenizer_fertility": TOKENIZER_FERTILITY_ORACLE,
    "windowed_topk_types": WINDOWED_TOPK_ORACLE,
    "hapax_doc_flags": _hapax_oracle(),
    "doc_keywords": _doc_keywords_oracle(),
    "bpe_vocab_train": bpe_vocab_train_duck_sql(),
    "bpe_encode_stats": bpe_encode_stats_duck_sql(),
    "text_tokens_cjk": _cjk_oracle(),
}
