"""Text-quality signals and filters for training-data curation:
Gopher, C4 and CCNet heuristics, language identification,
readability, PII and URL hygiene, boilerplate, length diagnostics and
quality-classifier scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators import text as tx
from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.operators.util import widen_if_narrow
from parquet_generator_spark.plans.text_tokens import bigram_logprob_frame
from parquet_generator_spark.sources.catalog import load_table


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


# --- pattern scrub (PII-redaction shape) -----------------------------
# On real corpora the patterns are emails/phones/SSNs; the synthetic
# corpus has no digits, so the term pattern demonstrates the hit path
# while the digit pattern exercises the zero-hit path.

TERM_PAT = r"\b(spark|hash|key)\b"
DIGIT_PAT = r"[0-9]{2,}"


def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    term_hits = F.size(F.regexp_extract_all("text", F.lit(TERM_PAT), F.lit(0)))
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("text").rlike(TERM_PAT), 1).otherwise(0))
                 .alias("docs_with_term"),
                 F.sum(term_hits.cast("bigint")).alias("total_term_hits"),
                 F.sum(F.when(F.col("text").rlike(DIGIT_PAT), 1).otherwise(0))
                 .alias("docs_with_digits"),
                 F.round(F.avg(F.length(
                     F.regexp_replace("text", TERM_PAT, "[X]"))), 2)
                 .alias("avg_redacted_len"))
            .orderBy("source"))


TEXT_SCRUB_ORACLE = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE regexp_matches(text, '{TERM_PAT}')) AS BIGINT)
         AS docs_with_term,
       CAST(sum(len(regexp_extract_all(text, '{TERM_PAT}'))) AS BIGINT)
         AS total_term_hits,
       CAST(count(*) FILTER (WHERE regexp_matches(text, '{DIGIT_PAT}')) AS BIGINT)
         AS docs_with_digits,
       round(avg(length(regexp_replace(text, '{TERM_PAT}', '[X]', 'g'))), 2)
         AS avg_redacted_len
FROM documents GROUP BY source ORDER BY source
"""


# --- end-to-end quality filter pipeline ------------------------------

QUALITY_MIN = 0.38
TOKENS_MIN, TOKENS_MAX = 20, 1000


def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data filter chain as ONE plan: exact
    dedup (keep min doc_id per content hash, via a window over the
    digest — no second scan), language-ID, quality score, token-count
    bounds; per-source kept-corpus report."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy(F.md5("text"))
    prof = tx.profile_struct_spark("text")
    d = (widen_if_narrow(docs).select(
        "doc_id", "source",
        prof["n_tokens"].alias("n_tokens"),
        prof["quality"].alias("quality"),
        prof["pred_lang"].alias("pred_lang"),
        F.min("doc_id").over(w).alias("keep_id")))
    kept = ((F.col("doc_id") == F.col("keep_id"))
            & (F.col("pred_lang") == "en")
            & (F.col("quality") >= QUALITY_MIN)
            & F.col("n_tokens").between(TOKENS_MIN, TOKENS_MAX))
    return (d.withColumn("kept", kept)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
                 F.round(F.avg(F.when(F.col("kept"), F.col("quality"))), 4)
                 .alias("avg_quality_kept"))
            .orderBy("source"))


QUALITY_PIPELINE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         {_qd['n_tokens']} AS n_tokens,
         {_qd['quality']} AS quality,
         {tx.langid_duck('text')} AS pred_lang,
         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
  FROM documents),
k AS (
  SELECT *, (doc_id = keep_id AND pred_lang = 'en'
             AND quality >= {QUALITY_MIN}
             AND n_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}) AS kept
  FROM d)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(avg(CASE WHEN kept THEN quality END), 4) AS avg_quality_kept
FROM k GROUP BY source ORDER BY source
"""


# ----------------------------------------------------- gopher_quality

GOPHER_MIN_WORDS = 20
GOPHER_TTR_MIN = 0.4
GOPHER_TOP_WORD_MAX = 0.15
GOPHER_TOP_BIGRAM_MAX = 0.05
GOPHER_WLEN_LO = 4.0
GOPHER_WLEN_HI = 5.0


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition/quality profile with a keep flag.

    ONE scan, ONE explode, two grouped passes: unigrams and bigrams
    (built array-side with a transform-over-sequence — no window
    sort) are tagged and unioned into a single exploded term list, so
    the text column is read once; groupBy(doc_id, kind, term) with
    map-side combine collapses token counts before the shuffle, and
    conditional aggregates split the two profiles back apart at doc
    granularity. All ratios are exact integer-count divisions, so
    they are bit-identical across engines."""
    docs = (widen_if_narrow(load_table(spark, "documents", sf_dir))
            .select("doc_id", F.split("text", " ").alias("a")))
    # kind 'w' = unigram, 'b' = bigram, tagged structs in one array
    terms = docs.select("doc_id", F.explode(F.expr(
        "concat("
        "  transform(a, w -> struct('w' AS kind, w AS term)),"
        "  transform(sequence(1, size(a) - 1),"
        "    i -> struct('b' AS kind,"
        "                concat(element_at(a, i), ' ',"
        "                       element_at(a, i + 1)) AS term)))"))
        .alias("t")).select("doc_id", "t.kind", "t.term")
    is_w = F.col("kind") == "w"
    stats = (terms.groupBy("doc_id", "kind", "term").count()
             .groupBy("doc_id")
             .agg(F.sum(F.when(is_w, F.col("count"))).alias("n_words"),
                  F.count(F.when(is_w, 1)).alias("n_distinct"),
                  F.max(F.when(is_w, F.col("count"))).alias("max_wc"),
                  (F.sum(F.when(is_w, F.col("count") * F.length("term")))
                   / F.sum(F.when(is_w, F.col("count"))))
                  .alias("mean_wlen"),
                  F.sum(F.when(~is_w, F.col("count"))).alias("n_bg"),
                  F.max(F.when(~is_w, F.col("count"))).alias("max_bg")))
    ttr = F.col("n_distinct") / F.col("n_words")
    top_word = F.col("max_wc") / F.col("n_words")
    top_bigram = F.col("max_bg") / F.col("n_bg")
    keep = ((F.col("n_words") >= GOPHER_MIN_WORDS)
            & (ttr >= GOPHER_TTR_MIN)
            & (top_word <= GOPHER_TOP_WORD_MAX)
            & (top_bigram <= GOPHER_TOP_BIGRAM_MAX)
            & F.col("mean_wlen").between(GOPHER_WLEN_LO, GOPHER_WLEN_HI))
    return (stats
            .select("doc_id", "n_words", "n_distinct",
                    F.round(ttr, 4).alias("ttr"),
                    F.round(top_word, 4).alias("top_word_frac"),
                    F.round(top_bigram, 4).alias("top_bigram_frac"),
                    F.round("mean_wlen", 4).alias("mean_wlen"),
                    keep.alias("keep"))
            .orderBy("doc_id"))


GOPHER_CTES = f"""
w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
ws AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS max_wc,
         CAST(sum(c * length(word)) AS BIGINT) AS wlen_sum
  FROM wc GROUP BY 1),
ba AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bi AS (SELECT doc_id, a,
              unnest(generate_series(1, len(a) - 1)) AS i
       FROM ba),
bg AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS b FROM bi),
bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
              CAST(max(c) AS BIGINT) AS max_bg
       FROM bc GROUP BY 1)"""

GOPHER_KEEP_PRED = f"""(n_words >= {GOPHER_MIN_WORDS}
        AND n_distinct / n_words >= {GOPHER_TTR_MIN}
        AND max_wc / n_words <= {GOPHER_TOP_WORD_MAX}
        AND max_bg / n_bg <= {GOPHER_TOP_BIGRAM_MAX}
        AND wlen_sum / n_words BETWEEN {GOPHER_WLEN_LO} AND {GOPHER_WLEN_HI})"""

GOPHER_ORACLE = f"""
WITH {GOPHER_CTES}
SELECT ws.doc_id, n_words, n_distinct,
       round(n_distinct / n_words, 4) AS ttr,
       round(max_wc / n_words, 4) AS top_word_frac,
       round(max_bg / n_bg, 4) AS top_bigram_frac,
       round(wlen_sum / n_words, 4) AS mean_wlen,
       {GOPHER_KEEP_PRED}
         AS keep
FROM ws JOIN bs ON ws.doc_id = bs.doc_id
ORDER BY ws.doc_id
"""


# ----------------------------------------------------- char_entropy

ENTROPY_LOW = 3.5


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    cheap gibberish / low-diversity detector (random keyboard mash
    and single-char spam both collapse the distribution). Explode
    one row per character -> two grouped aggregations; both are
    map-side partial, the shuffle carries (doc, char) counts."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    chars = docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, length(text)), "
            "i -> substring(text, i, 1))")).alias("ch"))
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c"))
    tot = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.sum("c").over(tot)
    ent = (counts.withColumn("term", -p * F.log2(p))
           .groupBy("doc_id")
           .agg(F.round(F.sum("term"), 4).alias("entropy"),
                F.sum("c").alias("n_chars_text")))
    return (ent.select("doc_id", "n_chars_text", "entropy",
                       (F.col("entropy") < ENTROPY_LOW)
                       .alias("low_entropy"))
            .orderBy("doc_id"))


CHAR_ENTROPY_ORACLE = f"""
WITH ch AS (
  SELECT doc_id, substr(text, i, 1) AS ch
  FROM documents, unnest(range(1, len(text) + 1)) AS u(i)),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt
        GROUP BY doc_id)
SELECT c.doc_id, t.n AS n_chars_text,
       round(sum(-(CAST(c.c AS DOUBLE) / t.n)
                 * log2(CAST(c.c AS DOUBLE) / t.n)), 4) AS entropy,
       round(sum(-(CAST(c.c AS DOUBLE) / t.n)
                 * log2(CAST(c.c AS DOUBLE) / t.n)), 4)
         < {ENTROPY_LOW} AS low_entropy
FROM cnt c JOIN tot t USING (doc_id)
GROUP BY c.doc_id, t.n
ORDER BY c.doc_id
"""


# ------------------------------------------------------ dup_ngram_fraction

DUP_NGRAM_K = 3
DUP_NGRAM_MAX = 0.3


def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText duplicate-n-gram rule as its own filter:
    the fraction of a document's 3-grams that are repeats of an
    earlier 3-gram in the SAME document (1 - distinct/total).
    Template spam scores high; clean prose stays near 0. One narrow
    map per doc — the raw (non-deduped) shingle list and both sizes
    are computed inside a single struct binding so the tokenizer
    runs once per row."""
    docs = load_table(spark, "documents", sf_dir)
    k = DUP_NGRAM_K
    raw_ng = (f"CASE WHEN size(s.t) >= {k} THEN "
              f"transform(sequence(0, size(s.t) - {k}), "
              f"i -> array_join(slice(s.t, i + 1, {k}), ' ')) "
              f"ELSE array() END")
    stats = (f"transform(array(struct({toks_spark('text')} AS t)), s -> "
             f"transform(array(struct({raw_ng} AS g)), v -> "
             f"struct(size(v.g) AS n, size(array_distinct(v.g)) AS nd)"
             f")[0])[0]")
    return (docs
            .select("doc_id", F.expr(stats).alias("st"))
            .select("doc_id",
                    F.col("st.n").alias("n_ngrams"),
                    F.when(F.col("st.n") > 0,
                           F.round(1.0 - F.col("st.nd").cast("double")
                                   / F.col("st.n"), 4))
                    .otherwise(0.0).alias("dup_frac"))
            .withColumn("keep", F.col("dup_frac") <= DUP_NGRAM_MAX)
            .orderBy("doc_id"))


DUP_NGRAM_FRACTION_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= {DUP_NGRAM_K} THEN
           list_transform(generate_series(1, len(tk) - {DUP_NGRAM_K - 1}),
             i -> array_to_string(tk[i:i + {DUP_NGRAM_K - 1}], ' '))
         ELSE [] END AS ng
  FROM t)
SELECT doc_id,
       len(ng) AS n_ngrams,
       CASE WHEN len(ng) > 0
            THEN round(1.0 - CAST(len(list_distinct(ng)) AS DOUBLE)
                       / len(ng), 4)
            ELSE 0.0 END AS dup_frac,
       (CASE WHEN len(ng) > 0
             THEN round(1.0 - CAST(len(list_distinct(ng)) AS DOUBLE)
                        / len(ng), 4)
             ELSE 0.0 END) <= {DUP_NGRAM_MAX} AS keep
FROM g ORDER BY doc_id
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

# ------------------------------------------------ ccnet_quality_buckets

# CCNet-style perplexity cutoffs: computed once on a reference corpus
# and applied as CONSTANTS (exactly how CCNet ships its per-language
# cutoff files) — so the bucketing is a pure projection, no global
# percentile pass at scoring time. Chosen from the sf0.1 avg_lp
# distribution (roughly terciles).
CCNET_HEAD_LP = -4.88   # avg bigram log2-prob above this = head
CCNET_MIDDLE_LP = -4.93  # above this = middle, else tail


def ccnet_quality_buckets(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """CCNet-style LM-quality bucketing: every document scored by
    the add-one corpus bigram model (bigram_logprob's exact recipe),
    then assigned head/middle/tail by fixed cutoffs; reported per
    (source, bucket) with counts and mean score — the mixture table
    a CCNet-style curation run feeds into sampling weights. Scoring
    is the bigram pipeline's two keyed shuffles; the bucket label is
    arithmetic on the ROUNDED score (both engines compare the same
    4-decimal value, so the cut can't flip on an ulp)."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    scored = bigram_logprob_frame(docs).select("doc_id", "avg_lp")
    bucket = (F.when(F.col("avg_lp") >= CCNET_HEAD_LP, "head")
              .when(F.col("avg_lp") >= CCNET_MIDDLE_LP, "middle")
              .otherwise("tail"))
    return (docs.select("doc_id", "source")
            .join(scored, "doc_id")
            .withColumn("bucket", bucket)
            .groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 # quantize-then-average: sum the exact scaled
                 # integers so both engines divide the SAME integers
                 # into the SAME double — and emit that double
                 # UN-rounded (a final round(x, 4) can land exactly on
                 # a decimal half, where Spark's HALF_UP and DuckDB
                 # disagree; the bit-identical quotient needs no
                 # rounding to hash equal)
                 (F.sum(F.round(F.col("avg_lp") * 10000).cast("long"))
                  / (F.count(F.lit(1)) * 10000.0)).alias("mean_lp"))
            .orderBy("source", "bucket"))


CCNET_QUALITY_BUCKETS_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
bg AS (
  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
  FROM t, unnest(range(0, len(tk) - 1)) AS a(i)
  WHERE len(tk) >= 2),
model AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
lft AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
vocab AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(tk) AS w FROM t)),
scored AS (
  SELECT b.doc_id,
         round(avg(log2((c12 + 1.0) / (c1 + v))), 4) AS avg_lp
  FROM bg b
  JOIN model USING (w1, w2) JOIN lft USING (w1) CROSS JOIN vocab
  GROUP BY b.doc_id)
SELECT d.source,
       CASE WHEN s.avg_lp >= {CCNET_HEAD_LP} THEN 'head'
            WHEN s.avg_lp >= {CCNET_MIDDLE_LP} THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       sum(CAST(round(s.avg_lp * 10000) AS BIGINT))
         / (count(*) * 10000.0) AS mean_lp
FROM documents d JOIN scored s USING (doc_id)
GROUP BY 1, 2 ORDER BY source, bucket
"""


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def winsorize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized length statistics: clamp doc lengths at
    the source's p5/p95 (group quantiles from one grouped pass,
    joined back on the source key — group-cardinality broadcast) and
    report the robust mean/std beside the clamp counts — the
    outlier-immune scale estimate a length-filter threshold should
    be tuned on."""
    docs = load_table(spark, "documents", sf_dir)
    qs = (docs.groupBy("source")
          .agg(F.expr(f"percentile(n_chars, array({WINSOR_LO}, "
                      f"{WINSOR_HI}))").alias("q")))
    clamped = (docs.join(F.broadcast(qs), "source")
               .select("source", "n_chars",
                       F.col("q")[0].alias("lo"),
                       F.col("q")[1].alias("hi"))
               .select("source", "lo", "hi",
                       F.greatest(F.least(F.col("n_chars"),
                                          F.col("hi")),
                                  F.col("lo")).alias("w"),
                       (F.col("n_chars") < F.col("lo")).cast("long")
                       .alias("low_clip"),
                       (F.col("n_chars") > F.col("hi")).cast("long")
                       .alias("high_clip")))
    return (clamped.groupBy("source")
            .agg(F.round(F.avg("w"), 4).alias("w_mean"),
                 F.round(F.stddev_samp("w"), 4).alias("w_std"),
                 F.sum("low_clip").alias("n_low"),
                 F.sum("high_clip").alias("n_high"))
            .orderBy("source"))


WINSORIZE_LENGTHS_ORACLE = f"""
WITH qs AS (
  SELECT source, quantile_cont(n_chars, {WINSOR_LO}) AS lo,
         quantile_cont(n_chars, {WINSOR_HI}) AS hi
  FROM documents GROUP BY source),
c AS (
  SELECT d.source,
         greatest(least(CAST(d.n_chars AS DOUBLE), q.hi), q.lo) AS w,
         CASE WHEN d.n_chars < q.lo THEN 1 ELSE 0 END AS low_clip,
         CASE WHEN d.n_chars > q.hi THEN 1 ELSE 0 END AS high_clip
  FROM documents d JOIN qs q USING (source))
SELECT source, round(avg(w), 4) AS w_mean,
       round(stddev_samp(w), 4) AS w_std,
       CAST(sum(low_clip) AS BIGINT) AS n_low,
       CAST(sum(high_clip) AS BIGINT) AS n_high
FROM c GROUP BY source ORDER BY source
"""


def charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile: fractions of whitespace,
    digits, punctuation (non-alnum non-space), and uppercase — the
    cheap first-pass encoding/garbage screen before any tokenizer
    runs. Pure regexp_replace length arithmetic, one narrow map +
    one grouped pass, no explode."""
    docs = load_table(spark, "documents", sf_dir)

    def frac(pattern: str) -> F.Column:
        kept = F.length(F.regexp_replace("text", pattern, ""))
        return (F.length("text") - kept).cast("double")

    per = docs.select(
        "source", F.length("text").alias("n"),
        frac(r"\s").alias("ws"),
        frac("[0-9]").alias("dig"),
        frac(r"[^a-zA-Z0-9\s]").alias("punct"),
        frac("[A-Z]").alias("upper"))
    return (per.groupBy("source")
            .agg(F.sum("n").alias("chars"),
                 F.round(F.sum("ws") / F.sum("n"), 4).alias("ws_frac"),
                 F.round(F.sum("dig") / F.sum("n"), 4)
                 .alias("digit_frac"),
                 F.round(F.sum("punct") / F.sum("n"), 4)
                 .alias("punct_frac"),
                 F.round(F.sum("upper") / F.sum("n"), 4)
                 .alias("upper_frac"))
            .orderBy("source"))


CHARSET_PROFILE_ORACLE = r"""
WITH per AS (
  SELECT source, length(text) AS n,
         length(text) - length(regexp_replace(text, '\s', '', 'g'))
           AS ws,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS dig,
         length(text)
           - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))
           AS punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
           AS upper
  FROM documents)
SELECT source, CAST(sum(n) AS BIGINT) AS chars,
       round(sum(ws) / CAST(sum(n) AS DOUBLE), 4) AS ws_frac,
       round(sum(dig) / CAST(sum(n) AS DOUBLE), 4) AS digit_frac,
       round(sum(punct) / CAST(sum(n) AS DOUBLE), 4) AS punct_frac,
       round(sum(upper) / CAST(sum(n) AS DOUBLE), 4) AS upper_frac
FROM per GROUP BY source ORDER BY source
"""


# Boilerplate detection, data-card length histogram, and windowed
# trending types.
#
# Scale posture: boilerplate grouping shuffles on the prefix hash
# (map-side partial agg, group cardinality bounded by distinct
# prefixes); the length histogram is pure log arithmetic + one grouped
# pass; windowed top-k is a keyed window PARTITIONED by the day bucket
# (parallel across days, never global).


# ------------------------------------------- boilerplate_prefix_groups

PREFIX_K = 6  # first K analyzed tokens define the boilerplate key
BOILERPLATE_MIN = 2


def boilerplate_prefix_groups(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Boilerplate/header detection: documents sharing their first
    PREFIX_K analyzed tokens (the shared-template signature scraped
    corpora exhibit — identical page headers, license banners, forum
    signatures). One md5 of the joined prefix -> groupBy on the hash;
    groups below BOILERPLATE_MIN members drop. Reports each group's
    size, the repeated prefix, and the member span (min/max doc_id)
    so a curation run can strip or keep-one."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    toks = toks_spark("text")
    pref = (docs.select(
        "doc_id",
        F.expr(f"array_join(slice({toks}, 1, {PREFIX_K}), ' ')")
        .alias("prefix"))
        .filter(F.expr(f"size({toks}) >= {PREFIX_K}")))
    return (pref.groupBy("prefix")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .filter(F.col("n_docs") >= BOILERPLATE_MIN)
            .orderBy(F.desc("n_docs"), F.asc("prefix")))


BOILERPLATE_PREFIX_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
p AS (
  SELECT doc_id,
         list_aggr(tk[1 : {PREFIX_K}], 'string_agg', ' ') AS prefix
  FROM t WHERE len(tk) >= {PREFIX_K})
SELECT prefix, count(*) AS n_docs,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY prefix
HAVING count(*) >= {BOILERPLATE_MIN}
ORDER BY n_docs DESC, prefix ASC
"""


# ------------------------------------------------ length_log_histogram

def length_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card length distribution: per-source histogram of doc
    lengths in power-of-2 character buckets (floor(log2(n_chars))) —
    the standard long-tail-friendly length chart. Pure per-row log
    arithmetic, one grouped pass."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.floor(F.log2(F.col("n_chars").cast("double")))
    return (docs.filter(F.col("n_chars") > 0)
            .groupBy("source", bucket.cast("long").alias("log2_bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"))
            .orderBy("source", "log2_bucket"))


LENGTH_LOG_HISTOGRAM_ORACLE = """
SELECT source,
       CAST(floor(log2(CAST(n_chars AS DOUBLE))) AS BIGINT)
         AS log2_bucket,
       count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents
WHERE n_chars > 0
GROUP BY source, log2_bucket
ORDER BY source, log2_bucket
"""


# ------------------------------------------- length_quality_heatmap

LQ_LEN_BUCKETS = 6      # power-of-2 length axis, capped
LQ_Q_BUCKETS = 5        # distinct-token-ratio axis, 0.2-wide bins


def length_quality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card 2D histogram: doc-length bucket (power-of-2 token
    count, capped) x lexical-quality bucket (distinct-token ratio in
    0.2-wide bins). The axes are pure arithmetic on two per-doc
    scalars, so the whole heatmap is ONE grouped pass; bucket ids
    are exact integers on both engines (floor of a single division —
    no float accumulation)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(tx.toks_spark("text"))
    n = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    len_b = F.least(
        F.lit(LQ_LEN_BUCKETS - 1),
        F.floor(F.log2(F.greatest(n, F.lit(1)).cast("double") / 16))
        .cast("int"))
    len_b = F.greatest(F.lit(0), len_b)
    # ratio in (0,1]: bucket floor(r*5), r=1 folds into the top bin
    q_b = F.least(F.lit(LQ_Q_BUCKETS - 1),
                  F.floor(n_dist * LQ_Q_BUCKETS / F.greatest(
                      n, F.lit(1))).cast("int"))
    return (docs.select(len_b.alias("len_bucket"),
                        q_b.alias("quality_bucket"))
            .groupBy("len_bucket", "quality_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("len_bucket", "quality_bucket"))


def _lq_heatmap_oracle() -> str:
    toks = tx.toks_duck("text")
    return f"""
WITH per_doc AS (
  SELECT len({toks}) AS n, len(list_distinct({toks})) AS n_dist
  FROM documents),
b AS (
  SELECT greatest(0, least({LQ_LEN_BUCKETS - 1},
           CAST(floor(log2(CAST(greatest(n, 1) AS DOUBLE) / 16))
                AS INT))) AS len_bucket,
         least({LQ_Q_BUCKETS - 1},
           CAST(floor(n_dist * {LQ_Q_BUCKETS} / greatest(n, 1))
                AS INT)) AS quality_bucket
  FROM per_doc)
SELECT len_bucket, quality_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b GROUP BY len_bucket, quality_bucket
ORDER BY len_bucket, quality_bucket
"""


# -------------------------------------------------- readability_scores

_FRE = ("cast(206.835 as double) "
        "- cast(1.015 as double) * (cast(words as double) "
        "/ cast(sentences as double)) "
        "- cast(84.6 as double) * (cast(syllables as double) "
        "/ cast(words as double))")
_FKG = ("cast(0.39 as double) * (cast(words as double) "
        "/ cast(sentences as double)) "
        "+ cast(11.8 as double) * (cast(syllables as double) "
        "/ cast(words as double)) - cast(15.59 as double)")


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease and Flesch-Kincaid grade
    over regex-counted words / vowel-group syllables / sentence
    marks ([.!?]+, min 1 — the corpus has unpunctuated docs). One
    narrow projection pass, formulas evaluated per row (no
    aggregation, so no cross-engine float-sum-order hazard)."""
    docs = load_table(spark, "documents", sf_dir)
    return (docs
            .withColumn("words", F.regexp_count("text", F.lit("[a-z]+")))
            .withColumn("syllables",
                        F.regexp_count("text", F.lit("[aeiouy]+")))
            .withColumn("sentences", F.greatest(
                F.lit(1),
                F.regexp_count("text", F.lit("[.!?]+"))))
            .filter(F.col("words") > 0)
            .select("doc_id", "words", "syllables", "sentences",
                    F.expr(_FRE).alias("fre"),
                    F.expr(_FKG).alias("fk_grade"))
            .orderBy("doc_id"))


READABILITY_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(text, '[a-z]+')) AS INT)
           AS words,
         CAST(length(regexp_extract_all(text, '[aeiouy]+')) AS INT)
           AS syllables,
         CAST(greatest(1,
              length(regexp_extract_all(text, '[.!?]+'))) AS INT)
           AS sentences
  FROM documents)
SELECT doc_id, words, syllables, sentences,
       {_FRE} AS fre,
       {_FKG} AS fk_grade
FROM c WHERE words > 0 ORDER BY doc_id
"""


# ------------------ planted URLs (url_domain_stats, url_blocklist_filter)

_URL_DOMAINS = ["alpha.example", "beta.example", "gamma.dev",
                "delta.io", "epsilon.net"]
_URL_RE = "https?://([a-z0-9.-]+)"


def _url_page():
    """Documents carry no URLs (word-salad corpus), so links are
    planted deterministically — one https link per doc, plus an
    http mirror link on every third doc — and then extracted with
    the REAL corpus regex, so the extraction path is exercised
    end-to-end and the oracle can recompute the histogram."""
    dom = F.element_at(F.array(*[F.lit(d) for d in _URL_DOMAINS]),
                       (F.col("doc_id") % 5 + 1).cast("int"))
    page = F.concat(F.col("text"), F.lit(" see https://"), dom,
                    F.lit("/p/"), F.col("doc_id").cast("string"))
    mirror = F.concat(F.lit(" and http://mirror."), dom, F.lit("/x"))
    return F.when(F.col("doc_id") % 3 == 0,
                  F.concat(page, mirror)).otherwise(page)


# Provenance-grade corpus hygiene.
#
# Four passes a web-scale training pipeline runs between crawl and
# tokenizer, none expressible by the earlier waves:
#
# - ``dedup_edit_distance``: blocked near-dup detection by EDIT
#   distance — the verification tier behind minhash (Jaccard is
#   order-blind; Levenshtein catches the in-place edits Jaccard
#   under-counts). Candidates come from a (length-bucket, 24-char
#   prefix) blocking key, so the quadratic kernel runs only inside
#   tiny blocks — the classic record-linkage blocking design.
# - ``url_dedup_normalized``: canonical-URL dedup — the FIRST dedup
#   any crawl pipeline runs (far cheaper than content dedup). Strips
#   tracking params / fragments / trailing slashes, lowercases
#   scheme+host, groups variants.
# - ``pii_density``: PII surface profiling per source (emails, dial
#   strings, private IPv4s per 10k chars) — the go/no-go audit before
#   a source enters the training mix.
# - ``url_blocklist_filter``: domain blocklist filtering with
#   subdomain-suffix semantics ('gamma.dev' also blocks
#   'mirror.gamma.dev') — CommonCrawl-style URL filtering, counted
#   per source.
#
# The word-salad corpus carries no URLs/PII, so both are planted
# in-query as deterministic functions of doc_id (house convention of
# the media/url waves: multimodal.py) and then extracted with the
# REAL production regexes, end-to-end.
#
# Scale posture: dedup_edit_distance joins on the blocking key (an
# equi-join; block sizes are data-bounded, and the distance evaluates
# on 200-char prefixes so the per-pair cost is constant);
# url_dedup / pii / blocklist are one-scan regex projections plus one
# bounded groupBy each. No UDFs anywhere — levenshtein, regex and list
# lambdas are all JVM built-ins.


# ----------------------------------------------------- pii_density

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"
_PRIVIP_RE = r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _pii_page():
    """Plant PII deterministically: an email on every 3rd doc, a
    dial string on every 5th, a private IPv4 on every 4th."""
    did = F.col("doc_id")
    page = F.col("text")
    email = F.concat(F.lit(" contact user"), did.cast("string"),
                     F.lit("@mail"), (did % 7).cast("string"),
                     F.lit(".example"))
    phone = F.concat(F.lit(" call +1-555-"),
                     (did % 9000 + 1000).cast("string"))
    ip = F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                  F.lit("."), ((did / 7).cast("long") % 256)
                  .cast("string"),
                  F.lit("."), (did % 250).cast("string"))
    page = F.when(did % 3 == 0, F.concat(page, email)).otherwise(page)
    page = F.when(did % 5 == 0, F.concat(page, phone)).otherwise(page)
    page = F.when(did % 4 == 0, F.concat(page, ip)).otherwise(page)
    return page


def pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII density audit per source: email / dial-string / private-
    IPv4 hits per 10k chars, over planted PII extracted with the
    production regexes. One narrow scan, one 20-bucket groupBy."""
    docs = load_table(spark, "documents", sf_dir)
    page = docs.select("doc_id", "source", _pii_page().alias("page"))
    counted = page.select(
        "source",
        F.length("page").alias("chars"),
        F.regexp_count("page", F.lit(_EMAIL_RE)).alias("emails"),
        F.regexp_count("page", F.lit(_PHONE_RE)).alias("phones"),
        F.regexp_count("page", F.lit(_PRIVIP_RE)).alias("ips"))
    per10k = [
        F.round(F.sum(c) * 10000.0 / F.sum("chars"), 4)
        .alias(f"{c}_per_10k")
        for c in ("emails", "phones", "ips")]
    return (counted.groupBy("source")
            .agg(F.sum("chars").alias("chars"),
                 F.sum("emails").cast("long").alias("emails"),
                 F.sum("phones").cast("long").alias("phones"),
                 F.sum("ips").cast("long").alias("ips"),
                 *per10k)
            .orderBy("source"))


PII_DENSITY_ORACLE = f"""
WITH page AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                      || '.example' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1-555-'
                      || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 250 AS VARCHAR)
                 ELSE '' END AS page
  FROM documents),
counted AS (
  SELECT source, length(page) AS chars,
         len(regexp_extract_all(page, '{_EMAIL_RE}')) AS emails,
         len(regexp_extract_all(page, '{_PHONE_RE}')) AS phones,
         len(regexp_extract_all(page, '{_PRIVIP_RE}')) AS ips
  FROM page)
SELECT source,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(sum(emails) AS BIGINT) AS emails,
       CAST(sum(phones) AS BIGINT) AS phones,
       CAST(sum(ips) AS BIGINT) AS ips,
       round(sum(emails) * 10000.0 / sum(chars), 4)
         AS emails_per_10k,
       round(sum(phones) * 10000.0 / sum(chars), 4)
         AS phones_per_10k,
       round(sum(ips) * 10000.0 / sum(chars), 4) AS ips_per_10k
FROM counted GROUP BY source ORDER BY source
"""


# --------------------------------------------- url_blocklist_filter

_BLOCKED = ["gamma.dev", "mirror.delta.io"]


def url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering: a doc is dropped when ANY of its
    extracted link hosts is a blocked domain or a subdomain of one
    ('gamma.dev' blocks 'mirror.gamma.dev' too — registrable-domain
    suffix semantics). The blocklist is a plan-time literal (real
    blocklists broadcast); host extraction + the ANY-match are an
    array lambda over the regexp_extract_all result — no explode,
    the row count never changes before the final groupBy."""
    docs = load_table(spark, "documents", sf_dir)
    pages = docs.select("doc_id", "source",
                        _url_page().alias("page"))
    checks = " OR ".join(
        f"h = '{b}' OR endswith(h, '.{b}')" for b in _BLOCKED)
    blocked = F.expr(
        f"exists(regexp_extract_all(page, '{_URL_RE}', 1), "
        f"h -> {checks})")
    return (pages.select("source", blocked.alias("blocked"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("blocked"), 1).otherwise(0))
                 .cast("long").alias("n_dropped"),
                 F.sum(F.when(F.col("blocked"), 0).otherwise(1))
                 .cast("long").alias("n_kept"))
            .orderBy("source"))


def _blocklist_oracle() -> str:
    case = " ".join(f"WHEN {i} THEN '{d}'"
                    for i, d in enumerate(_URL_DOMAINS))
    checks = " OR ".join(
        f"h = '{b}' OR suffix(h, '.{b}')" for b in _BLOCKED)
    return f"""
WITH pages AS (
  SELECT doc_id, source,
         concat(text, ' see https://',
                CASE doc_id % 5 {case} END,
                '/p/', CAST(doc_id AS VARCHAR)) ||
         CASE WHEN doc_id % 3 = 0
              THEN concat(' and http://mirror.',
                          CASE doc_id % 5 {case} END, '/x')
              ELSE '' END AS page
  FROM documents),
flagged AS (
  SELECT source,
         len(list_filter(regexp_extract_all(page, '{_URL_RE}', 1),
                         h -> {checks})) > 0 AS blocked
  FROM pages)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE blocked) AS BIGINT) AS n_dropped,
       CAST(count(*) FILTER (WHERE NOT blocked) AS BIGINT) AS n_kept
FROM flagged GROUP BY source ORDER BY source
"""


# ------------------------------------------------ lexicon_filter_stats

# tier-0 blocklist screening: real pipelines run a profanity /
# unsafe-content lexicon before any model-based filter. The corpus
# is word salad, so the "lexicon" is drawn from its own vocabulary —
# the OPERATOR (token-anchored lexicon hits, per-doc flagging at a
# hit threshold, per-source rates) is the production shape.
_LEXICON = ["slow", "error"]
_LEX_FLAG_MIN = 3     # docs with >= 3 total lexicon hits get flagged


def lexicon_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon screening stats per source: total lexicon hits, hit
    density per 10k tokens, and how many docs the >= 3-hits rule
    would drop. Hits are TOKEN-anchored regex counts (substring
    matches would flag 'slower' for 'slow' — the classic lexicon
    false positive), all codegen, one scan, one 20-bucket groupBy."""
    from parquet_generator_spark.operators.esdsl import _B_L, _B_R

    docs = load_table(spark, "documents", sf_dir)
    hit_cols = [
        F.regexp_count(F.lower(F.col("text")),
                       F.lit(f"{_B_L}{w}{_B_R}")).alias(f"h_{w}")
        for w in _LEXICON]
    toks = F.size(F.split(F.col("text"), " "))
    per_doc = docs.select("source", toks.alias("n_toks"), *hit_cols)
    total_hits = sum(F.col(f"h_{w}") for w in _LEXICON)
    per_doc = per_doc.withColumn("hits", total_hits)
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("hits").cast("long").alias("lexicon_hits"),
                 F.round(F.sum("hits") * 10000.0 / F.sum("n_toks"), 4)
                 .alias("hits_per_10k_tokens"),
                 F.sum(F.when(F.col("hits") >= _LEX_FLAG_MIN, 1)
                       .otherwise(0)).cast("long").alias("n_flagged"))
            .orderBy("source"))


def _lexicon_oracle() -> str:
    from parquet_generator_spark.operators.esdsl import _B_L, _B_R

    hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '{_B_L}{w}{_B_R}'))"
        for w in _LEXICON)
    return f"""
WITH per_doc AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_toks,
         {hits} AS hits
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(hits) AS BIGINT) AS lexicon_hits,
       round(sum(hits) * 10000.0 / sum(n_toks), 4)
         AS hits_per_10k_tokens,
       CAST(count(*) FILTER (WHERE hits >= {_LEX_FLAG_MIN}) AS BIGINT)
         AS n_flagged
FROM per_doc GROUP BY source ORDER BY source
"""


# --------------------------------------------------- quality_model_score

# exported linear quality model (the shape a distilled fasttext-style
# doc-quality classifier has after export): literal weights over
# cheap codegen features, sigmoid score. Weights are plan literals.
_QM_BIAS = -1.1
_QM_W_LOGLEN = 0.55      # log(1+chars): longer docs score higher
_QM_W_STOP = 2.8         # stopword ratio: fluent prose marker
_QM_W_WLEN = -0.35       # very long avg tokens: code/garbage marker
_QM_W_DIGIT = -4.0       # digit density: boilerplate/table marker
_QM_STOPS = ("the", "a", "of", "to", "and", "in", "is", "that")


def _qm_z_spark() -> str:
    toks = toks_spark("text")
    stops = ", ".join(f"'{s}'" for s in _QM_STOPS)
    return (
        f"{_QM_BIAS} "
        f"+ {_QM_W_LOGLEN} * ln(1 + length(text)) "
        f"+ {_QM_W_STOP} * (size(filter({toks}, t -> t IN ({stops}))) "
        f"  / cast(greatest(size({toks}), 1) AS DOUBLE)) "
        f"+ {_QM_W_WLEN} * (aggregate({toks}, cast(0 AS BIGINT), "
        f"  (a, t) -> a + length(t)) "
        f"  / cast(greatest(size({toks}), 1) AS DOUBLE)) "
        f"+ {_QM_W_DIGIT} * (length(regexp_replace(text, '[^0-9]', '')) "
        f"  / cast(greatest(length(text), 1) AS DOUBLE))")


def _qm_z_duck() -> str:
    toks = toks_duck("text")
    stops = ", ".join(f"'{s}'" for s in _QM_STOPS)
    return (
        f"{_QM_BIAS} "
        f"+ {_QM_W_LOGLEN} * ln(1 + length(text)) "
        f"+ {_QM_W_STOP} * (len(list_filter({toks}, t -> t IN ({stops}))) "
        f"  / CAST(greatest(len({toks}), 1) AS DOUBLE)) "
        f"+ {_QM_W_WLEN} * (list_sum(list_transform({toks}, "
        f"  t -> length(t))) "
        f"  / CAST(greatest(len({toks}), 1) AS DOUBLE)) "
        f"+ {_QM_W_DIGIT} * (length(regexp_replace(text, '[^0-9]', '', "
        f"  'g')) / CAST(greatest(length(text), 1) AS DOUBLE))")


def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the exported quality model (sigmoid
    over literal-weight codegen features — no UDF, no shuffle before
    the per-source aggregate) and report per source: doc count, mean
    quality, and the share passing the 0.5 keep-gate. This is the
    model-based filter stage of a curation pipeline (the
    heuristic-rule stages are gopher_quality / ccnet_quality_buckets;
    this is their trained-classifier sibling)."""
    docs = load_table(spark, "documents", sf_dir)
    z = _qm_z_spark()
    p = f"1.0 / (1.0 + exp(-({z})))"
    return (docs.filter(F.col("text").isNotNull())
            .select("source", F.expr(p).alias("p"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("p"), 4).alias("avg_quality"),
                 F.round(F.avg((F.col("p") >= 0.5).cast("double")), 4)
                 .alias("keep_share"))
            .orderBy("source"))


QUALITY_MODEL_SCORE_ORACLE = f"""
WITH scored AS (
  SELECT source, 1.0 / (1.0 + exp(-({_qm_z_duck()}))) AS p
  FROM documents WHERE text IS NOT NULL)
SELECT source, count(*) AS n_docs,
       round(avg(p), 4) AS avg_quality,
       round(avg(CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END), 4)
         AS keep_share
FROM scored
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------- langid_margin

# confidence-margin cutoffs on the (top1 - top2) marker-hit ratio
_MARGIN_HI = 0.05
_MARGIN_LO = 0.02


def langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFIDENCE accounting (the CCNet-style gate: docs
    whose language call is ambiguous get quarantined, not mislabeled):
    per doc the four marker-hit counts, margin = (top1 - top2) /
    tokens, bucketed high/medium/low. Per (pred_lang, bucket):
    doc count + mean margin. Pure codegen — the sorted-hits trick
    (sort_array / list_sort) gives top-2 without branching."""
    docs = load_table(spark, "documents", sf_dir)
    hits = {lg: tx.lang_hits_spark("text", lg)
            for lg in ("en", "de", "fr", "es")}
    arr = "array(" + ", ".join(
        f"CAST({hits[lg]} AS DOUBLE)" for lg in
        ("en", "de", "fr", "es")) + ")"
    ntok = f"greatest(size({tx.toks_spark('text')}), 1)"
    margin = (f"round((sort_array({arr})[3] - sort_array({arr})[2])"
              f" / {ntok}, 6)")
    bucket = (f"CASE WHEN {margin} >= {_MARGIN_HI} THEN 'high' "
              f"WHEN {margin} >= {_MARGIN_LO} THEN 'medium' "
              f"ELSE 'low' END")
    return (docs.select(
        tx.langid_spark("text").alias("pred_lang"),
        F.expr(margin).alias("margin"),
        F.expr(bucket).alias("confidence"))
        .groupBy("pred_lang", "confidence")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("margin"), 6).alias("avg_margin"))
        .orderBy("pred_lang", "confidence"))


def _langid_margin_oracle() -> str:
    hits = {lg: tx.lang_hits_duck("text", lg)
            for lg in ("en", "de", "fr", "es")}
    arr = "[" + ", ".join(
        f"CAST({hits[lg]} AS DOUBLE)" for lg in
        ("en", "de", "fr", "es")) + "]"
    ntok = f"greatest(len({tx.toks_duck('text')}), 1)"
    margin = (f"round((list_sort({arr})[4] - list_sort({arr})[3])"
              f" / {ntok}, 6)")
    bucket = (f"CASE WHEN {margin} >= {_MARGIN_HI} THEN 'high' "
              f"WHEN {margin} >= {_MARGIN_LO} THEN 'medium' "
              f"ELSE 'low' END")
    return f"""
WITH d AS (
  SELECT {tx.langid_duck('text')} AS pred_lang,
         {margin} AS margin, {bucket} AS confidence
  FROM documents)
SELECT pred_lang, confidence, count(*) AS n_docs,
       round(avg(margin), 6) AS avg_margin
FROM d GROUP BY pred_lang, confidence
ORDER BY pred_lang, confidence
"""


# Gopher char-coverage repetition signals, consecutive-token repetition
# runs, the incremental ANN index append as a driver-verified key, and
# CDC changelog compaction.
#
# Reference parity: Gopher/MassiveText repetition filters (Rae et al.
# 2021, table A1) and the CDC last-write-wins compaction every
# Delta/Hudi/Iceberg-style pipeline runs; the reference repo
# (liujiawinds/parquet-generator) is an ETL tool — these generalize
# the curation ops its corpus consumers run.
#
# Scale notes:
# - gopher_repetition: one explode per corpus (all four n-gram sizes
#   tagged into a single array before the explode), groupBy with
#   map-side combine on (doc, n, gram), two bounded reduction layers,
#   one co-partitioned doc_id join to re-attach gram-less docs. No
#   windows, no Python. The per-doc state is a handful of longs.
# - repetition_runs: the islands trick — row_number windows
#   partitioned by (doc_id, token), never unpartitioned; everything
#   after the explode is integer arithmetic.
# - ann_ivfpq_appended: train on the head slice, commit, encode ONLY
#   the tail batch with the STORED quantizers (no retrain — the
#   incremental ingest path at 100 TB), serve from the merged codes
#   snapshot. The full-corpus oracle is valid because the head slice
#   contains the smallest-id rows the reproducible quantizer
#   construction uses — training on base vs full corpus yields
#   IDENTICAL centroids/codebooks, so append-then-serve must equal
#   the one-shot build (also pinned in tests/test_ann_index.py).
# - changelog_apply: one window pass partitioned by the changelog
#   key; at 100 TB this is the standard merge-on-read compaction
#   shape (shuffle on key, no global sort).


# ---------------------------------------------- gopher_repetition

# published MassiveText thresholds: fraction of characters covered
# by the top {2,3,4}-gram and by all duplicated 5-grams
GR_TOP_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
GR_DUP5_THRESH = 0.15
_GR_NS = (2, 3, 4, 5)


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals as CHARACTER-coverage fractions
    (the complement of gopher_quality's count fractions): per doc,
    the fraction of token characters covered by the heaviest
    {2,3,4}-gram (deterministic variant: max over grams of
    count x gram_chars — no most-frequent tie-break needed) and by
    all DUPLICATED 5-grams (capped at 1; overlaps counted per
    occurrence, documented), rolled up per source with the published
    threshold flags."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", F.expr(toks_spark("text")).alias("t"))

    # Round-13 optimization: the gram accounting is strictly
    # per-document (the groupBy keys all started with doc_id), so
    # the explode -> 3-level aggregation -> re-attach join chain —
    # four exchanges carrying every n-gram string of the corpus —
    # collapses into ONE narrow Arrow map (guide §4.2 / §2.3
    # "aggregate before you shuffle"): a Counter per doc over token
    # tuples (tokens are [a-z0-9]+ runs, so tuple identity ==
    # joined-gram identity; cover weight = cnt x gram token chars,
    # exactly cnt x (length(gram) - (n-1)) of the expression form).
    # Only the per-source rollup shuffles, and it carries 5 doubles
    # per doc.
    def per_doc(batches):
        from collections import Counter

        import pandas as pd

        th2, th3, th4 = (GR_TOP_THRESH[2], GR_TOP_THRESH[3],
                         GR_TOP_THRESH[4])
        for pdf in batches:
            out = {"source": pdf["source"],
                   "t2": [], "t3": [], "t4": [], "d5": [],
                   "flag": []}
            for tok in pdf["t"]:
                t = tuple(tok) if tok is not None else ()
                total = max(sum(len(x) for x in t), 1)
                fr = {}
                for n in _GR_NS:
                    if len(t) < n:
                        fr[n] = 0.0
                        continue
                    cnt = Counter(t[i:i + n]
                                  for i in range(len(t) - n + 1))
                    if n < 5:
                        cover = max(c * sum(len(x) for x in g)
                                    for g, c in cnt.items())
                    else:
                        cover = sum(c * sum(len(x) for x in g)
                                    for g, c in cnt.items() if c > 1)
                    fr[n] = min(cover / total, 1.0)
                out["t2"].append(fr[2])
                out["t3"].append(fr[3])
                out["t4"].append(fr[4])
                out["d5"].append(fr[5])
                out["flag"].append(
                    fr[2] > th2 or fr[3] > th3 or fr[4] > th4
                    or fr[5] > GR_DUP5_THRESH)
            yield pd.DataFrame(out)

    scored = toks.mapInPandas(
        per_doc,
        schema=("source string, t2 double, t3 double, t4 double, "
                "d5 double, flag boolean"))
    return (scored
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.round(F.avg("t2"), 4).alias("avg_top2"),
                 F.round(F.avg("t3"), 4).alias("avg_top3"),
                 F.round(F.avg("t4"), 4).alias("avg_top4"),
                 F.round(F.avg("d5"), 4).alias("avg_dup5"),
                 F.sum(F.col("flag").cast("long")).alias("flagged"))
            .orderBy("source"))


def _gr_gram_branch(n: int) -> str:
    return f"""
  SELECT doc_id, {n} AS n, unnest(
    CASE WHEN len(t) >= {n} THEN
      list_transform(generate_series(1, len(t) - {n - 1}),
        i -> array_to_string(t[i:i + {n - 1}], ' '))
    ELSE [] END) AS gram
  FROM tk"""


def _gopher_repetition_oracle() -> str:
    branches = " UNION ALL ".join(_gr_gram_branch(n) for n in _GR_NS)
    fr = {n: (f"least(CAST(coalesce(top{n}_cover, 0) AS DOUBLE)"
              f" / total_chars, 1.0)") for n in (2, 3, 4)}
    fd = ("least(CAST(coalesce(dup5_cover, 0) AS DOUBLE)"
          " / total_chars, 1.0)")
    flag = (f"({fr[2]} > {GR_TOP_THRESH[2]} OR "
            f"{fr[3]} > {GR_TOP_THRESH[3]} OR "
            f"{fr[4]} > {GR_TOP_THRESH[4]} OR "
            f"{fd} > {GR_DUP5_THRESH})")
    return f"""
WITH tk AS (SELECT doc_id, source, {toks_duck('text')} AS t
            FROM documents),
base AS (SELECT doc_id, source,
                greatest(length(array_to_string(t, '')), 1)
                  AS total_chars
         FROM tk),
grams AS ({branches}),
counts AS (SELECT doc_id, n, gram, count(*) AS cnt
           FROM grams GROUP BY doc_id, n, gram),
perdoc_n AS (
  SELECT doc_id, n,
         max(cnt * (length(gram) - (n - 1))) AS top_cover,
         sum(CASE WHEN cnt > 1
                  THEN cnt * (length(gram) - (n - 1))
                  ELSE 0 END) AS dup_cover
  FROM counts GROUP BY doc_id, n),
perdoc AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN top_cover END) AS top2_cover,
         max(CASE WHEN n = 3 THEN top_cover END) AS top3_cover,
         max(CASE WHEN n = 4 THEN top_cover END) AS top4_cover,
         max(CASE WHEN n = 5 THEN dup_cover END) AS dup5_cover
  FROM perdoc_n GROUP BY doc_id),
scored AS (
  SELECT b.source, b.total_chars, p.top2_cover, p.top3_cover,
         p.top4_cover, p.dup5_cover
  FROM base b LEFT JOIN perdoc p USING (doc_id))
SELECT source, count(*) AS docs,
       round(avg({fr[2]}), 4) AS avg_top2,
       round(avg({fr[3]}), 4) AS avg_top3,
       round(avg({fr[4]}), 4) AS avg_top4,
       round(avg({fd}), 4) AS avg_dup5,
       CAST(sum(CASE WHEN {flag} THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged
FROM scored GROUP BY source ORDER BY source
"""


# ----------------------------------------------- repetition_runs

RUN_FLAG_LEN = 3


def repetition_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-token stutter runs (the 'the the the' generation
    artifact every cleaning pipeline screens): per document, the
    longest run of one token repeated at adjacent positions and the
    number of runs of length >= 3, via the gaps-and-islands trick —
    pos - row_number() within (doc, token) is constant exactly on a
    consecutive run. Windows are partitioned by (doc_id, token),
    never global."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(toks_spark("text")))
        .alias("pos", "tok"))
    w = Window.partitionBy("doc_id", "tok").orderBy("pos")
    runs = toks.withColumn("grp",
                           F.col("pos") - F.row_number().over(w))
    rc = (runs.groupBy("doc_id", "tok", "grp")
          .agg(F.count(F.lit(1)).alias("rlen")))
    perdoc = (rc.groupBy("doc_id")
              .agg(F.sum("rlen").alias("n_tokens"),
                   F.max("rlen").alias("max_run"),
                   F.count(F.when(F.col("rlen") >= RUN_FLAG_LEN, 1))
                   .alias("runs3")))
    return (docs.select("doc_id", "source")
            .join(perdoc, "doc_id", "left")
            .select("doc_id", "source",
                    F.coalesce("n_tokens", F.lit(0))
                    .alias("n_tokens"),
                    F.coalesce("max_run", F.lit(0)).alias("max_run"),
                    F.coalesce("runs3", F.lit(0)).alias("runs3"),
                    (F.coalesce("max_run", F.lit(0))
                     >= RUN_FLAG_LEN).alias("flagged"))
            .orderBy("doc_id"))


REPETITION_RUNS_ORACLE = f"""
WITH tk AS (SELECT doc_id, {toks_duck('text')} AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(1, len(t))) AS pos
      FROM tk),
r AS (SELECT doc_id, tok,
             pos - row_number() OVER (PARTITION BY doc_id, tok
                                      ORDER BY pos) AS grp
      FROM e),
rc AS (SELECT doc_id, tok, grp, count(*) AS rlen
       FROM r GROUP BY doc_id, tok, grp),
pd AS (SELECT doc_id,
              CAST(sum(rlen) AS BIGINT) AS n_tokens,
              CAST(max(rlen) AS BIGINT) AS max_run,
              CAST(count(CASE WHEN rlen >= {RUN_FLAG_LEN} THEN 1 END)
                   AS BIGINT) AS runs3
       FROM rc GROUP BY doc_id)
SELECT d.doc_id, d.source,
       coalesce(n_tokens, 0) AS n_tokens,
       coalesce(max_run, 0) AS max_run,
       coalesce(runs3, 0) AS runs3,
       coalesce(max_run, 0) >= {RUN_FLAG_LEN} AS flagged
FROM documents d LEFT JOIN pd USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------- quality_prune_curve

PRUNE_THRESHOLDS = [0.3, 0.4, 0.5, 0.6, 0.7, 0.8]


def quality_prune_curve(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Operating-point selection for the quality filter: the
    keep-rate (docs AND tokens) at each candidate threshold of the
    text_quality score, as one table — the curve a curation run
    reads before pinning its cutoff. The per-doc profile is
    computed ONCE (the fused struct), then a 6-literal explode
    turns the sweep into a single grouped pass; comparisons are
    exact because the score is round4'd identically on both
    engines."""
    docs = load_table(spark, "documents", sf_dir)
    prof = tx.profile_struct_spark("text")
    base = docs.select(prof["quality"].alias("q"),
                       prof["n_tokens"].alias("ntok"))
    ths = F.array(*[F.lit(t) for t in PRUNE_THRESHOLDS])
    sw = base.select("q", "ntok", F.explode(ths).alias("thresh"))
    kept = (F.col("q") >= F.col("thresh")).cast("long")
    return (sw.groupBy("thresh")
            .agg(F.sum(kept).alias("kept_docs"),
                 F.round(F.sum(kept).cast("double")
                         / F.count(F.lit(1)), 4).alias("keep_rate"),
                 F.sum(F.when(F.col("q") >= F.col("thresh"),
                              F.col("ntok")).otherwise(F.lit(0)))
                 .cast("long").alias("kept_tokens"),
                 F.round(F.sum(F.when(F.col("q") >= F.col("thresh"),
                                      F.col("ntok"))
                               .otherwise(F.lit(0))).cast("double")
                         / F.sum("ntok"), 4)
                 .alias("token_keep_rate"))
            .orderBy("thresh"))


def _quality_prune_oracle() -> str:
    qd = tx.quality_components_duck("text")
    lits = ", ".join(repr(t) for t in PRUNE_THRESHOLDS)
    return f"""
WITH prof AS (
  SELECT {qd['quality']} AS q, {qd['n_tokens']} AS ntok
  FROM documents),
sw AS (SELECT q, ntok, unnest([{lits}]::DOUBLE[]) AS thresh
       FROM prof)
SELECT thresh,
       CAST(sum(CASE WHEN q >= thresh THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_docs,
       round(CAST(sum(CASE WHEN q >= thresh THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 4) AS keep_rate,
       CAST(sum(CASE WHEN q >= thresh THEN ntok ELSE 0 END)
            AS BIGINT) AS kept_tokens,
       round(CAST(sum(CASE WHEN q >= thresh THEN ntok ELSE 0 END)
                  AS DOUBLE) / sum(ntok), 4) AS token_keep_rate
FROM sw GROUP BY thresh ORDER BY thresh
"""


# The C4 cleaning heuristics (Raffel et al. 2020, "Exploring the Limits
# of Transfer Learning" — the published line/page filter stack behind
# the C4 corpus) over the documents table.
#
# Scale notes: the whole filter stack is per-document codegen over
# one documents scan — split + higher-order filter + a handful of
# contains() probes, no UDF, no join; the only shuffle is the bounded
# per-source rollup, so the operator is a pure map at 100 TB.


# ------------------------------------------------ c4_line_filters

# the synthetic corpus is one line of clean tokens, so a
# deterministic multi-line "page" is planted per doc (literal
# constants shared by plan and oracle — the analyzer-query posture):
# doc_id slices inject each C4 failure mode
_C4_PAGE_EXPR = """
concat_ws(chr(10),
  substr(text, 1, 60) || ' tail sentence one.',
  'and the second sentence keeps going.',
  'a third sentence for the page.',
  'fourth sentence of the page here.',
  CASE WHEN doc_id % 4 = 0
       THEN 'fifth good sentence present.'
       ELSE 'too short' END,
  CASE WHEN doc_id % 5 = 1
       THEN 'please enable javascript to continue.'
       ELSE 'another fine sentence appears.' END,
  CASE WHEN doc_id % 11 = 3
       THEN 'lorem ipsum dolor sit amet.'
       ELSE 'closing sentence of the page.' END,
  CASE WHEN doc_id % 13 = 5
       THEN 'var f = function() { return 1; }'
       ELSE 'really the last sentence.' END)
"""

# C4 line rules (kept iff ALL hold): terminal punctuation, >= 3
# words, no "javascript". Page rules: no "lorem ipsum", no curly
# brace, and >= 5 retained sentences (line-granular here: the
# kept-LINE count stands in for the sentence count — documented
# approximation; the planted pages are one sentence per line).
_C4_MIN_WORDS = 3
_C4_MIN_SENTENCES = 5

_LINE_KEEP_SPARK = (
    "l -> right(l, 1) IN ('.', '!', '?', '\"') "
    f"AND size(filter(split(l, ' '), w -> w != '')) "
    f">= {_C4_MIN_WORDS} "
    "AND NOT contains(lower(l), 'javascript')")
_LINE_KEEP_DUCK = (
    "l -> right(l, 1) IN ('.', '!', '?', '\"') "
    f"AND len(list_filter(string_split(l, ' '), w -> w != '')) "
    f">= {_C4_MIN_WORDS} "
    "AND NOT contains(lower(l), 'javascript')")


def c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2) as one codegen pass:
    line filter (terminal punctuation + >= 3 words + no
    "javascript"), then page filter (no "lorem ipsum", no curly
    brace, >= 5 retained sentences). Reports the per-source funnel
    a curation run reads before committing the config."""
    docs = load_table(spark, "documents", sf_dir)
    staged = docs.select(
        "source",
        F.expr(_C4_PAGE_EXPR).alias("page"))
    lines = F.expr("split(page, '\\n')")
    kept = F.expr(f"filter(split(page, '\\n'), {_LINE_KEEP_SPARK})")
    per_doc = staged.select(
        "source",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        (~F.expr("contains(lower(page), 'lorem ipsum')")
         & ~F.expr("contains(page, '{')")).alias("clean_page"))
    page_keep = (F.col("clean_page")
                 & (F.col("n_kept") >= _C4_MIN_SENTENCES))
    return (per_doc
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("pages"),
                 F.sum(page_keep.cast("long")).alias("pages_kept"),
                 F.sum("n_lines").cast("long").alias("lines"),
                 F.sum(F.when(page_keep, F.col("n_kept"))
                       .otherwise(F.lit(0)))
                 .cast("long").alias("lines_kept"))
            .select("source", "pages", "pages_kept", "lines",
                    "lines_kept",
                    F.round(F.col("pages_kept").cast("double")
                            / F.col("pages"), 4).alias("keep_rate"))
            .orderBy("source"))


C4_LINE_FILTERS_ORACLE = f"""
WITH staged AS (
  SELECT source, {_C4_PAGE_EXPR} AS page FROM documents),
per_doc AS (
  SELECT source,
         len(string_split(page, chr(10))) AS n_lines,
         len(list_filter(string_split(page, chr(10)),
                         {_LINE_KEEP_DUCK})) AS n_kept,
         (NOT contains(lower(page), 'lorem ipsum')
          AND NOT contains(page, '{{')) AS clean_page
  FROM staged),
flagged AS (
  SELECT source, n_lines, n_kept,
         (clean_page AND n_kept >= {_C4_MIN_SENTENCES}) AS keep
  FROM per_doc)
SELECT source,
       count(*) AS pages,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS pages_kept,
       CAST(sum(n_lines) AS BIGINT) AS lines,
       CAST(sum(CASE WHEN keep THEN n_kept ELSE 0 END) AS BIGINT)
         AS lines_kept,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS keep_rate
FROM flagged GROUP BY source ORDER BY source
"""


# ------------------------------------------- filter_ablation_grid

# ablation thresholds: gopher-lite (length + lexical diversity),
# the planted-page C4 keep, and the fused quality score
_ABL_MIN_TOKENS = 15
_ABL_MIN_DISTINCT = 0.4
_ABL_MIN_QUALITY = 0.45


def filter_ablation_grid(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Filter-stack ablation: the 2^3 survival grid over three
    independent curation filters — gopher-lite (>= 15 tokens AND
    distinct-token ratio >= 0.4), the C4 page keep (the
    c4_line_filters rule over the same planted pages), and the
    fused quality score (>= 0.45) — with doc and token mass per
    cell. This is the table a curation team reads to see each
    filter's marginal bite and their overlap BEFORE composing the
    stack (the standard ablation practice in corpus papers).

    Scale: all three predicates and the token count come from ONE
    pass over the documents scan (the C4 page is a planted literal
    expression, the quality components bind the token array once);
    the grid groupBy has 8 cells — a free exchange."""
    docs = load_table(spark, "documents", sf_dir)
    q = tx.quality_components_spark("text")
    staged = docs.select(
        "source",
        q["n_tokens"].alias("ntok"),
        q["distinct_ratio"].alias("dr"),
        q["quality"].alias("qual"),
        F.expr(_C4_PAGE_EXPR).alias("page"))
    kept = F.expr(f"size(filter(split(page, '\\n'), "
                  f"{_LINE_KEEP_SPARK}))")
    g = ((F.col("ntok") >= _ABL_MIN_TOKENS)
         & (F.col("dr") >= _ABL_MIN_DISTINCT))
    c = (~F.expr("contains(lower(page), 'lorem ipsum')")
         & ~F.expr("contains(page, '{')")
         & (kept >= _C4_MIN_SENTENCES))
    qq = F.col("qual") >= _ABL_MIN_QUALITY
    return (staged
            .select(g.alias("gopher"), c.alias("c4"),
                    qq.alias("quality"), "ntok")
            .groupBy("gopher", "c4", "quality")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("ntok").cast("long").alias("tokens"))
            .orderBy("gopher", "c4", "quality"))


def _ablation_oracle() -> str:
    q = tx.quality_components_duck("text")
    return f"""
WITH staged AS (
  SELECT source, {q['n_tokens']} AS ntok,
         {q['distinct_ratio']} AS dr, {q['quality']} AS qual,
         {_C4_PAGE_EXPR} AS page
  FROM documents),
flags AS (
  SELECT ntok,
         (ntok >= {_ABL_MIN_TOKENS}
          AND dr >= {_ABL_MIN_DISTINCT}) AS gopher,
         (NOT contains(lower(page), 'lorem ipsum')
          AND NOT contains(page, '{{')
          AND len(list_filter(string_split(page, chr(10)),
                              {_LINE_KEEP_DUCK}))
              >= {_C4_MIN_SENTENCES}) AS c4,
         (qual >= {_ABL_MIN_QUALITY}) AS quality
  FROM staged)
SELECT gopher, c4, quality, count(*) AS docs,
       CAST(sum(ntok) AS BIGINT) AS tokens
FROM flags GROUP BY gopher, c4, quality
ORDER BY gopher, c4, quality
"""


# ---------------------------------------- quality_classifier_gd

# batch logistic regression trained IN-ENGINE: learn to mimic the
# C4 page gate from the cheap per-doc quality features (the
# fast-classifier-distills-expensive-filter move; quality_model_score
# is the serving side of exactly such a model). Deterministic by
# construction: every GD step's weights are ROUNDED to 6 decimals
# in both engines (the VWH/kmeans quantized-iteration posture), so
# the per-iteration driver literals are bit-identical across
# engines and the unrolled-SQL oracle can replay the same steps.
_GD_ITERS = 3
_GD_LR = 2.0


def _gd_feature_exprs(engine: str) -> tuple[str, str, str, str]:
    """(x1, x2, x3, y) texts over a staged frame with columns
    ntok/dr/sr/c4keep — identical values in both engines (dr/sr
    are round4'd by the quality components; x1 is an exact
    rational of the integer token count)."""
    x1 = "least(CAST(ntok AS DOUBLE) / 100.0, 1.0)"
    return x1, "dr", "sr", "CASE WHEN c4keep THEN 1.0 ELSE 0.0 END"


def quality_classifier_gd(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Train a logistic-regression quality classifier in-engine
    (3 full-batch GD steps, lr=2): features = (bias, saturating
    length, distinct ratio, stopword ratio), label = the C4 page
    gate over the planted pages. Each step is ONE aggregation
    returning 4 gradient sums + a count (bounded driver literals,
    the kmeans posture); weights are quantized to 6 decimals per
    step so the oracle's unrolled-WITH replay is exact. Output:
    per-source mean predicted keep-probability, accuracy against
    the label it distills, and the learned weights as constant
    columns."""
    docs = load_table(spark, "documents", sf_dir)
    q = tx.quality_components_spark("text")
    kept = F.expr(f"size(filter(split(page, '\\n'), "
                  f"{_LINE_KEEP_SPARK}))")
    staged = (docs
              .select("source",
                      q["n_tokens"].alias("ntok"),
                      q["distinct_ratio"].alias("dr"),
                      q["stop_ratio"].alias("sr"),
                      F.expr(_C4_PAGE_EXPR).alias("page"))
              .withColumn(
                  "c4keep",
                  ~F.expr("contains(lower(page), 'lorem ipsum')")
                  & ~F.expr("contains(page, '{')")
                  & (kept >= _C4_MIN_SENTENCES))
              .drop("page"))
    staged = cache.checkpoint(staged)  # 3 reuses of the features

    x1, x2, x3, y = _gd_feature_exprs("spark")
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(_GD_ITERS):
        z = (f"({w[0]!r} + {w[1]!r} * ({x1}) + {w[2]!r} * ({x2}) "
             f"+ {w[3]!r} * ({x3}))")
        resid = f"(1.0 / (1.0 + exp(-{z})) - ({y}))"
        # eager: each round's weights are the next round's literals
        row = staged.agg(
            F.expr(f"sum({resid})").alias("g0"),
            F.expr(f"sum({resid} * ({x1}))").alias("g1"),
            F.expr(f"sum({resid} * ({x2}))").alias("g2"),
            F.expr(f"sum({resid} * ({x3}))").alias("g3"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        n = float(row["n"])
        w = [round(w[j] - _GD_LR * float(row[f"g{j}"]) / n, 6)
             for j in range(4)]

    z = (f"({w[0]!r} + {w[1]!r} * ({x1}) + {w[2]!r} * ({x2}) "
         f"+ {w[3]!r} * ({x3}))")
    p = f"(1.0 / (1.0 + exp(-{z})))"
    return (staged
            .select("source", F.expr(p).alias("p"),
                    F.expr(y).alias("yy"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.round(F.avg("p"), 4).alias("mean_p"),
                 F.round(F.avg(
                     (F.expr("CASE WHEN p >= 0.5 THEN 1.0 "
                             "ELSE 0.0 END") == F.col("yy"))
                     .cast("double")), 4).alias("acc"))
            .select("source", "docs", "mean_p", "acc",
                    *[F.lit(w[j]).alias(f"w{j}") for j in range(4)])
            .orderBy("source"))


def _gd_oracle() -> str:
    q = tx.quality_components_duck("text")
    x1, x2, x3, y = _gd_feature_exprs("duck")

    def zexpr(pre: str) -> str:
        return (f"({pre}.w0 + {pre}.w1 * ({x1}) "
                f"+ {pre}.w2 * ({x2}) + {pre}.w3 * ({x3}))")

    sql = f"""
WITH staged AS (
  SELECT source, {q['n_tokens']} AS ntok,
         {q['distinct_ratio']} AS dr, {q['stop_ratio']} AS sr,
         (NOT contains(lower({_C4_PAGE_EXPR}), 'lorem ipsum')
          AND NOT contains({_C4_PAGE_EXPR}, '{{')
          AND len(list_filter(string_split({_C4_PAGE_EXPR},
                chr(10)), {_LINE_KEEP_DUCK}))
              >= {_C4_MIN_SENTENCES}) AS c4keep
  FROM documents),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    for i in range(_GD_ITERS):
        resid = (f"(1.0 / (1.0 + exp(-{zexpr(f'w{i}')})) - ({y}))")
        sql += f""",
w{i + 1} AS (
  SELECT round(w{i}.w0 - {_GD_LR} * sum({resid}) / count(*), 6)
           AS w0,
         round(w{i}.w1 - {_GD_LR} * sum({resid} * ({x1}))
               / count(*), 6) AS w1,
         round(w{i}.w2 - {_GD_LR} * sum({resid} * ({x2}))
               / count(*), 6) AS w2,
         round(w{i}.w3 - {_GD_LR} * sum({resid} * ({x3}))
               / count(*), 6) AS w3
  FROM staged CROSS JOIN w{i}
  GROUP BY w{i}.w0, w{i}.w1, w{i}.w2, w{i}.w3)"""
    wf = f"w{_GD_ITERS}"
    sql += f"""
SELECT source, count(*) AS docs,
       round(avg(1.0 / (1.0 + exp(-{zexpr(wf)}))), 4) AS mean_p,
       round(avg(CASE WHEN (CASE WHEN 1.0 / (1.0 +
               exp(-{zexpr(wf)})) >= 0.5 THEN 1.0 ELSE 0.0 END)
             = ({y}) THEN 1.0 ELSE 0.0 END), 4) AS acc,
       {wf}.w0 AS w0, {wf}.w1 AS w1, {wf}.w2 AS w2, {wf}.w3 AS w3
FROM staged CROSS JOIN {wf}
GROUP BY {wf}.w0, {wf}.w1, {wf}.w2, {wf}.w3, source
ORDER BY source
"""
    return sql


QUERIES = {
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_scrub": text_scrub,
    "quality_filter_pipeline": quality_filter_pipeline,
    "gopher_quality": gopher_quality,
    "char_entropy": char_entropy,
    "dup_ngram_fraction": dup_ngram_fraction,
    "robust_length_outliers": robust_length_outliers,
    "ccnet_quality_buckets": ccnet_quality_buckets,
    "winsorize_lengths": winsorize_lengths,
    "charset_profile": charset_profile,
    "boilerplate_prefix_groups": boilerplate_prefix_groups,
    "length_log_histogram": length_log_histogram,
    "length_quality_heatmap": length_quality_heatmap,
    "readability_scores": readability_scores,
    "pii_density": pii_density,
    "url_blocklist_filter": url_blocklist_filter,
    "lexicon_filter_stats": lexicon_filter_stats,
    "quality_model_score": quality_model_score,
    "langid_margin": langid_margin,
    "gopher_repetition": gopher_repetition,
    "repetition_runs": repetition_runs,
    "quality_prune_curve": quality_prune_curve,
    "c4_line_filters": c4_line_filters,
    "filter_ablation_grid": filter_ablation_grid,
    "quality_classifier_gd": quality_classifier_gd,
}


ORACLES = {
    "text_quality": TEXT_QUALITY_ORACLE,
    "text_langid": TEXT_LANGID_ORACLE,
    "text_scrub": TEXT_SCRUB_ORACLE,
    "quality_filter_pipeline": QUALITY_PIPELINE_ORACLE,
    "gopher_quality": GOPHER_ORACLE,
    "char_entropy": CHAR_ENTROPY_ORACLE,
    "dup_ngram_fraction": DUP_NGRAM_FRACTION_ORACLE,
    "robust_length_outliers": ROBUST_LENGTH_OUTLIERS_ORACLE,
    "ccnet_quality_buckets": CCNET_QUALITY_BUCKETS_ORACLE,
    "winsorize_lengths": WINSORIZE_LENGTHS_ORACLE,
    "charset_profile": CHARSET_PROFILE_ORACLE,
    "boilerplate_prefix_groups": BOILERPLATE_PREFIX_ORACLE,
    "length_log_histogram": LENGTH_LOG_HISTOGRAM_ORACLE,
    "length_quality_heatmap": _lq_heatmap_oracle(),
    "readability_scores": READABILITY_ORACLE,
    "pii_density": PII_DENSITY_ORACLE,
    "url_blocklist_filter": _blocklist_oracle(),
    "lexicon_filter_stats": _lexicon_oracle(),
    "quality_model_score": QUALITY_MODEL_SCORE_ORACLE,
    "langid_margin": _langid_margin_oracle(),
    "gopher_repetition": _gopher_repetition_oracle(),
    "repetition_runs": REPETITION_RUNS_ORACLE,
    "quality_prune_curve": _quality_prune_oracle(),
    "c4_line_filters": C4_LINE_FILTERS_ORACLE,
    "filter_ablation_grid": _ablation_oracle(),
    "quality_classifier_gd": _gd_oracle(),
}
