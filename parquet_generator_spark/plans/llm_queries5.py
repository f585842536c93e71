"""Fifth wave of LLM-training-data pipeline operators.

- span_dedup: exact substring-duplication profile (Lee et al. 2021,
  "Deduplicating Training Data Makes Language Models Better"): for
  every K-token span occurrence, is the same span text present
  anywhere else in the corpus? Distributed as a shuffle on the span
  hash — no pairwise comparison anywhere, so it survives 100 TB
  (the span->count aggregate is map-side partial; the per-doc
  rollup joins span counts back on the same shuffle key).
- seq_packing: greedy fixed-token-budget sequence packing (the
  batch-construction step of LLM training): documents pack in
  doc_id order within each source shard; sequential by definition,
  so it runs as one applyInPandas per source group — at scale each
  shard packs independently in parallel, which is exactly how
  packing is done in practice.
- source_temperature_sample: temperature-based mixture rebalancing
  ((n_s)^alpha source weights, deterministic md5-ranked selection)
  — reproducible across engines, layouts, and runs.
- char_entropy: per-document character-distribution Shannon entropy
  (gibberish / low-diversity detector). Pure explode+groupBy.
- cooccurrence_pmi: windowed word co-occurrence with PMI (the
  statistic count-based embeddings factorize); array-side pair
  generation, so no self-join — only keyed count aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache as _cache
from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.operators.util import (
    broadcast_scalars,
    widen_if_narrow,
)
from parquet_generator_spark.sources.catalog import load_table

# ------------------------------------------------------- span_dedup

SPAN_K = 8


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication profile: of the
    doc's K-token span occurrences, how many have span text that
    occurs >= 2 times corpus-wide (another doc or another position)?

    Plan: span explode -> (doc, span) occurrence counts (shuffle on
    (doc, span); map-side partial agg collapses repeats) -> span
    totals as a WINDOW over the span partition (round 13: this was a
    self-join of the counted frame against its own groupBy, which
    re-ran the explode+count chain twice — two full corpus scans in
    the before-plan; the window computes the identical per-span sum
    on ONE pass sharing the span exchange, guide §2.4) -> per-doc
    rollup. Every stage is keyed on the span hash; nothing is
    pairwise, and no window is ever unpartitioned.
    """
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    toks = toks_spark("text")
    spans = docs.select(
        F.col("doc_id"),
        F.explode(F.expr(
            f"CASE WHEN size({toks}) >= {SPAN_K} THEN "
            f"transform(sequence(0, size({toks}) - {SPAN_K}), "
            f"i -> array_join(slice({toks}, i + 1, {SPAN_K}), ' ')) "
            f"ELSE array() END")).alias("span"))
    per_doc_span = spans.groupBy("doc_id", "span").agg(
        F.count(F.lit(1)).alias("cnt"))
    with_total = per_doc_span.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("span")))
    dup = (with_total
           .groupBy("doc_id")
           .agg(F.sum("cnt").alias("n_spans"),
                F.sum(F.when(F.col("total") >= 2, F.col("cnt"))
                      .otherwise(F.lit(0))).alias("n_dup_spans")))
    return (docs.select("doc_id").join(dup, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
                F.round(F.when(F.coalesce("n_spans", F.lit(0)) > 0,
                               F.coalesce("n_dup_spans", F.lit(0))
                               .cast("double") / F.col("n_spans"))
                        .otherwise(0.0), 4).alias("dup_frac"))
            .orderBy("doc_id"))


SPAN_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
sp AS (
  SELECT doc_id,
         list_aggr(tk[i + 1 : i + {SPAN_K}], 'string_agg', ' ') AS span
  FROM t, unnest(CASE WHEN len(tk) >= {SPAN_K}
                 THEN range(0, len(tk) - {SPAN_K} + 1)
                 ELSE [] END) AS u(i)),
pds AS (SELECT doc_id, span, count(*) AS cnt FROM sp
        GROUP BY doc_id, span),
tot AS (SELECT span, CAST(sum(cnt) AS BIGINT) AS total FROM pds
        GROUP BY span),
agg AS (
  SELECT p.doc_id,
         CAST(sum(p.cnt) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN t.total >= 2 THEN p.cnt ELSE 0 END)
              AS BIGINT) AS n_dup_spans
  FROM pds p JOIN tot t USING (span) GROUP BY p.doc_id)
SELECT d.doc_id,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
       round(CASE WHEN COALESCE(a.n_spans, 0) > 0
             THEN CAST(a.n_dup_spans AS DOUBLE) / a.n_spans
             ELSE 0.0 END, 4) AS dup_frac
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


# ------------------------------------------------------ seq_packing

PACK_BUDGET = 128


def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing: documents in doc_id order pack
    into training sequences of <= PACK_BUDGET tokens per source
    shard (a doc longer than the budget gets its own bin). Output:
    one row per (source, bin) with doc count, token total, fill.

    Packing is sequential by definition, so it runs as a per-source
    applyInPandas (numpy loop over the shard's token counts); at
    scale every shard packs in parallel and nothing crosses shards.
    """
    import pandas as pd

    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    counted = docs.select(
        "source", "doc_id",
        F.size(F.expr(toks_spark("text"))).alias("n_tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bins, acc, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if acc > 0 and acc + n > PACK_BUDGET:
                cur += 1
                acc = 0
            acc += int(n)
            bins.append(cur)
        out = pdf.assign(bin=bins)
        return (out.groupby(["source", "bin"], as_index=False)
                .agg(n_docs=("doc_id", "size"),
                     sum_tokens=("n_tokens", "sum")))

    return (counted.groupBy("source").applyInPandas(
                pack,
                schema="source string, bin long, n_docs long, "
                       "sum_tokens long")
            .select("source", "bin", "n_docs", "sum_tokens",
                    F.round(F.col("sum_tokens").cast("double")
                            / PACK_BUDGET, 4).alias("fill"))
            .orderBy("source", "bin"))


SEQ_PACKING_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id, len({toks_duck('text')}) AS n,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents),
packed AS (
  SELECT source, rn, n, 0 AS bin, n AS acc FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.n,
         CASE WHEN p.acc > 0 AND p.acc + t.n > {PACK_BUDGET}
              THEN p.bin + 1 ELSE p.bin END AS bin,
         CASE WHEN p.acc > 0 AND p.acc + t.n > {PACK_BUDGET}
              THEN t.n ELSE p.acc + t.n END AS acc
  FROM t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1)
SELECT source, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens,
       round(CAST(sum(n) AS DOUBLE) / {PACK_BUDGET}, 4) AS fill
FROM packed GROUP BY source, bin ORDER BY source, bin
"""


# ----------------------------------- source_temperature_sample

TEMP_ALPHA = 0.5
TEMP_TARGET = 1000


def source_temperature_sample(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing: source s gets weight
    (n_s)^alpha (alpha<1 upweights small sources), a floor-rounded
    share of TEMP_TARGET docs, and a DETERMINISTIC selection — docs
    ranked by md5(doc_id) within source, smallest first — so the
    same sample comes out of any engine, any layout, any run.
    Output per source: available, target, kept, and the kept-id sum
    (proves the exact same docs were selected, not just as many).
    """
    docs = load_table(spark, "documents", sf_dir)
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.pow(F.col("n_docs").cast("double"), F.lit(TEMP_ALPHA))
    w_sum = sizes.agg(F.sum(w).alias("w_sum"))  # one row, broadcast
    weights = broadcast_scalars(sizes, w_sum).select(
        "source", "n_docs", w.alias("w"), "w_sum")
    targets = weights.select(
        "source", "n_docs",
        F.floor(F.lit(TEMP_TARGET) * F.col("w") / F.col("w_sum"))
        .cast("long").alias("target"))
    rk = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    ranked = docs.select("source", "doc_id",
                         F.row_number().over(rk).alias("rk"))
    kept = (ranked.join(F.broadcast(targets), "source")
            .filter(F.col("rk") <= F.col("target"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("kept"),
                 F.sum("doc_id").alias("kept_id_sum")))
    return (targets.join(kept, "source", "left")
            .select("source", "n_docs", "target",
                    F.coalesce("kept", F.lit(0)).alias("kept"),
                    F.coalesce("kept_id_sum", F.lit(0))
                    .alias("kept_id_sum"))
            .orderBy("source"))


SOURCE_TEMPERATURE_ORACLE = f"""
WITH sizes AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
wt AS (
  SELECT source, n_docs, pow(n_docs, {TEMP_ALPHA}) AS w,
         sum(pow(n_docs, {TEMP_ALPHA})) OVER () AS w_sum
  FROM sizes),
tg AS (
  SELECT source, n_docs,
         CAST(floor({TEMP_TARGET} * w / w_sum) AS BIGINT) AS target
  FROM wt),
rk AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rk
  FROM documents),
kept AS (
  SELECT r.source, count(*) AS kept,
         CAST(sum(r.doc_id) AS BIGINT) AS kept_id_sum
  FROM rk r JOIN tg USING (source) WHERE r.rk <= tg.target
  GROUP BY r.source)
SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs, t.target,
       CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept,
       COALESCE(k.kept_id_sum, 0) AS kept_id_sum
FROM tg t LEFT JOIN kept k ON t.source = k.source
ORDER BY t.source
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
    model = _cache.checkpoint(
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
    tf = _cache.checkpoint(
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
    per_doc = _cache.checkpoint(per_doc, eager=False)
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


QUERIES = {
    "span_dedup": span_dedup,
    "tfidf_topterms": tfidf_topterms,
    "bm25_topk": bm25_topk,
    "seq_packing": seq_packing,
    "source_temperature_sample": source_temperature_sample,
    "char_entropy": char_entropy,
    "cooccurrence_pmi": cooccurrence_pmi,
}

ORACLES = {
    "span_dedup": SPAN_DEDUP_ORACLE,
    "tfidf_topterms": TFIDF_TOPTERMS_ORACLE,
    "bm25_topk": BM25_TOPK_ORACLE,
    "seq_packing": SEQ_PACKING_ORACLE,
    "source_temperature_sample": SOURCE_TEMPERATURE_ORACLE,
    "char_entropy": CHAR_ENTROPY_ORACLE,
    "cooccurrence_pmi": COOCCURRENCE_PMI_ORACLE,
}
