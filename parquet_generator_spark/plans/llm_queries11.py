"""Eleventh pipeline wave (round 6): evaluation and calibration
operators — k-NN confusion matrix, MinHash estimator calibration,
per-source winsorized robust stats, charset profiling, and the
pairwise Jensen-Shannon source-divergence matrix.

Scale posture: everything is grouped aggregates and key-cardinality
joins; the JS matrix shuffles on the token key (a token in k sources
contributes k^2 bounded pair rows, never a doc-level cross join);
the calibration queries ride the shared near-dup edge stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup
from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.plans.llm_queries import near_dup_edges
from parquet_generator_spark.plans import llm_queries14 as _L14
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


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
    from pyspark.sql import Window

    from parquet_generator_spark.plans.llm_queries14 import (
        knn_classify_ivf,
    )

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
WITH pred AS ({_L14.ORACLES["knn_classify_ivf"].strip()}),
per_true AS (SELECT true_label, count(*) AS n_true
             FROM pred GROUP BY true_label)
SELECT p.true_label, p.pred_label, count(*) AS n,
       round(count(*) / CAST(min(t.n_true) AS DOUBLE), 4) AS rate
FROM pred p JOIN per_true t USING (true_label)
GROUP BY p.true_label, p.pred_label
ORDER BY p.true_label, p.pred_label
"""


def _sig_expr() -> tuple:
    """(spark signature builder, duck signature CTE) sharing dedup's
    exact permutation constants so the estimate is bit-identical on
    both engines."""
    p = dedup._MERSENNE
    mins = ", ".join(
        f"coalesce(list_min(list_transform(bh, x -> "
        f"(x * {int(a)} + {int(b)}) % {p})), {p})"
        for a, b in zip(dedup._PERM_A, dedup._PERM_B))
    duck = f"""
d AS (SELECT doc_id AS id, {dedup.shingles_duck('text', 3)} AS sh
      FROM documents),
h AS (SELECT id, list_transform(sh, s ->
        CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {p}) AS bh
      FROM d),
sig AS (SELECT id, [{mins}] AS sig FROM h)"""
    return mins, duck


def minhash_estimate_error(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """MinHash estimator calibration: for every verified near-dup
    pair, the signature-based Jaccard estimate (fraction of the 128
    permutation minima that agree — the number the banding actually
    thresholds on) next to the exact Jaccard, with the absolute
    error. Both engines rebuild the identical signature (same md5
    base hashes, same permutation literals), so the estimate hashes
    exactly — no tolerance booleans needed. Signature pass over the
    pair-involved ids only (bounded by the verified pair list)."""
    from parquet_generator_spark.operators.text import (
        shingles_spark_inline,
    )
    pairs = near_dup_edges(spark, sf_dir)
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .union(pairs.select(F.col("id_b")))
           .distinct())
    docs = load_table(spark, "documents", sf_dir) \
        .join(ids, "doc_id", "left_semi")
    sig = (docs.select(
        F.col("doc_id").alias("id"),
        F.expr(shingles_spark_inline("text", 3)).alias("sh"))
        .withColumn("bh", F.expr(dedup.shingle_hashes_spark("sh")))
        .withColumn("sig", dedup.minhash_signature("bh"))
        .select("id", "sig"))
    a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    est = (F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y),
                           lambda v: v))
           / F.lit(float(dedup._N_PERM)))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", "jaccard",
                    F.round(est, 4).alias("estimate"),
                    F.round(F.abs(est - F.col("jaccard")), 4)
                    .alias("abs_err"))
            .orderBy("id_a", "id_b"))


def _minhash_estimate_oracle() -> str:
    from parquet_generator_spark.plans.llm_queries import (
        JACCARD_THRESHOLD,
    )
    pairs_sql = dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD).strip()
    _, duck_sig = _sig_expr()
    return f"""
WITH pairs AS ({pairs_sql}),{duck_sig},
j AS (
  SELECT p.id_a, p.id_b, p.jaccard,
         round(len(list_filter(list_zip(a.sig, b.sig),
                               s -> s[1] = s[2]))
               / {float(dedup._N_PERM)}, 4) AS estimate
  FROM pairs p JOIN sig a ON a.id = p.id_a
               JOIN sig b ON b.id = p.id_b)
SELECT id_a, id_b, jaccard, estimate,
       round(abs(estimate - jaccard), 4) AS abs_err
FROM j ORDER BY id_a, id_b
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


def js_divergence_sources(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Vocabulary-drift matrix: Jensen-Shannon divergence (bits)
    between every source pair's token distributions. Shared-token
    terms come from ONE token-keyed self-join of the per-(source,
    token) probability table (a token in k sources emits k^2 bounded
    rows); tokens exclusive to one side contribute exactly
    0.5 * (1 - shared probability mass), added in closed form — so
    the union vocabulary is never materialized per pair."""
    docs = load_table(spark, "documents", sf_dir)
    cnt = (docs.select("source",
                       F.explode(F.expr(toks_spark("text")))
                       .alias("t"))
           .groupBy("source", "t")
           .agg(F.count(F.lit(1)).alias("c")))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    prob = (cnt.join(F.broadcast(tot), "source")
            .select("source", "t",
                    (F.col("c") / F.col("n")).alias("p")))
    a = prob.select(F.col("source").alias("s1"), "t",
                    F.col("p").alias("pa"))
    b = prob.select(F.col("source").alias("s2"), "t",
                    F.col("p").alias("pb"))
    shared = (a.join(b, "t").filter(F.col("s1") < F.col("s2"))
              .groupBy("s1", "s2")
              .agg(F.sum("pa").alias("ma"), F.sum("pb").alias("mb"),
                   F.sum(0.5 * F.col("pa")
                         * F.log2(2.0 * F.col("pa")
                                  / (F.col("pa") + F.col("pb")))
                         + 0.5 * F.col("pb")
                         * F.log2(2.0 * F.col("pb")
                                  / (F.col("pa") + F.col("pb"))))
                   .alias("terms")))
    # the matrix must include pairs sharing ZERO tokens (true JS = 1
    # bit) — the inner join above drops them. Pair axis generated
    # array-side from the bounded source list (source_overlap
    # pattern: no cross join, no BNLJ), then left-join the shared
    # terms, defaulting the overlap masses to 0.
    pairs = (tot.agg(F.sort_array(F.collect_set("source")).alias("ss"))
             .select(F.explode("ss").alias("s1"), "ss")
             .select("s1", F.explode(
                 F.expr("filter(ss, x -> x > s1)")).alias("s2")))
    full = (pairs.join(shared, ["s1", "s2"], "left")
            .select("s1", "s2",
                    F.coalesce("terms", F.lit(0.0)).alias("terms"),
                    F.coalesce("ma", F.lit(0.0)).alias("ma"),
                    F.coalesce("mb", F.lit(0.0)).alias("mb")))
    js = (F.col("terms") + 0.5 * (1.0 - F.col("ma"))
          + 0.5 * (1.0 - F.col("mb")))
    return (full.select("s1", "s2", F.round(js, 4).alias("js_bits"))
            .orderBy("s1", "s2"))


JS_DIVERGENCE_ORACLE = f"""
WITH cnt AS (
  SELECT source, t.t, count(*) AS c
  FROM documents, unnest({toks_duck('text')}) t(t)
  GROUP BY source, t.t),
tot AS (SELECT source, CAST(sum(c) AS DOUBLE) AS n
        FROM cnt GROUP BY source),
prob AS (SELECT c.source, c.t, c.c / t.n AS p
         FROM cnt c JOIN tot t USING (source)),
shared AS (
  SELECT a.source AS s1, b.source AS s2,
         sum(a.p) AS ma, sum(b.p) AS mb,
         sum(0.5 * a.p * log2(2.0 * a.p / (a.p + b.p))
             + 0.5 * b.p * log2(2.0 * b.p / (a.p + b.p))) AS terms
  FROM prob a JOIN prob b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2),
pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM tot a JOIN tot b ON a.source < b.source)
SELECT s1, s2,
       round(coalesce(terms, 0) + 0.5 * (1.0 - coalesce(ma, 0))
             + 0.5 * (1.0 - coalesce(mb, 0)), 4) AS js_bits
FROM pairs LEFT JOIN shared USING (s1, s2)
ORDER BY s1, s2
"""

QUERIES.update({
    "knn_eval_confusion": knn_eval_confusion,
    "minhash_estimate_error": minhash_estimate_error,
    "winsorize_lengths": winsorize_lengths,
    "charset_profile": charset_profile,
    "js_divergence_sources": js_divergence_sources,
})
ORACLES.update({
    "knn_eval_confusion": KNN_EVAL_CONFUSION_ORACLE,
    "minhash_estimate_error": _minhash_estimate_oracle(),
    "winsorize_lengths": WINSORIZE_LENGTHS_ORACLE,
    "charset_profile": CHARSET_PROFILE_ORACLE,
    "js_divergence_sources": JS_DIVERGENCE_ORACLE,
})
