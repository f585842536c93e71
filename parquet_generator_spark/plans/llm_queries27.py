"""Round-11 tranche eight (curation): the C4 cleaning heuristics
(Raffel et al. 2020, "Exploring the Limits of Transfer Learning" —
the published line/page filter stack behind the C4 corpus) over the
documents table.

Scale notes: the whole filter stack is per-document codegen over
one documents scan — split + higher-order filter + a handful of
contains() probes, no UDF, no join; the only shuffle is the bounded
per-source rollup, so the operator is a pure map at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


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


QUERIES.update({"c4_line_filters": c4_line_filters})
ORACLES.update({"c4_line_filters": C4_LINE_FILTERS_ORACLE})


# ---------------------------------------- dsir_importance_weights

# DSIR (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling"): hashed n-gram features, importance
# weight = log-likelihood ratio between the target and raw hashed
# unigram distributions. B buckets keeps the distribution frame a
# broadcastable literal-sized table.
DSIR_BUCKETS = 128
DSIR_TARGET = ("src0", "src1", "src2")  # the "high-quality" slice
_DSIR_SMOOTH = 0.5

_BUCKET_SPARK = ("CAST(conv(substr(md5(t), 1, 8), 16, 10) "
                 f"AS BIGINT) % {DSIR_BUCKETS}")
_BUCKET_DUCK = ("CAST(concat('0x', substr(md5(t), 1, 8)) "
                f"AS BIGINT) % {DSIR_BUCKETS}")


def dsir_importance_weights(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """DSIR importance weights over the documents corpus: hashed
    unigram features (md5 -> one of B=128 buckets, the same
    portable hash as hash_sample), target distribution from the
    designated high-quality sources, raw distribution from the
    whole corpus, add-0.5 smoothing, per-doc weight = sum of
    per-token log ratios. Reports the per-source mean weight and
    the fraction that importance resampling would favor (w > 0).

    Scale: ONE token explode feeds both the B-row distribution agg
    and the scoring join; the distribution frame is 128 rows and
    BROADCAST, totals enter as a scalar subquery (broadcast_scalars),
    so the only wide shuffle is the per-doc rollup — the same
    two-pass shape DSIR runs over its full corpus."""
    from parquet_generator_spark.operators.util import (
        broadcast_scalars,
    )

    docs = load_table(spark, "documents", sf_dir)
    tok = (docs
           .select("doc_id", "source",
                   F.explode(F.expr(
                       "filter(split(lower(text), '[^a-z0-9]+'), "
                       "x -> x != '')")).alias("t"))
           .withColumn("b", F.expr(_BUCKET_SPARK)))
    is_t = F.col("source").isin(*DSIR_TARGET).cast("long")
    # the B-row distribution is the aggregated model table: without
    # a barrier the totals collect, the log-ratio broadcast AND the
    # scoring join each re-ran the corpus explode+md5 chain (three
    # corpus passes in the before-plan; round 13, guide §1.2) — the
    # checkpoint pins it at 128 rows so only the model build and the
    # scoring pass scan the corpus
    dist = cache.checkpoint(
        tok.groupBy("b").agg(F.sum(is_t).alias("nt"),
                             F.count(F.lit(1)).alias("nr")), eager=False)
    totals = dist.agg(F.sum("nt").alias("_tt"),
                      F.sum("nr").alias("_tr"))
    sb = _DSIR_SMOOTH * DSIR_BUCKETS
    lr = (broadcast_scalars(dist, totals)
          .select("b",
                  (F.log((F.col("nt") + _DSIR_SMOOTH)
                         / (F.col("_tt") + sb))
                   - F.log((F.col("nr") + _DSIR_SMOOTH)
                           / (F.col("_tr") + sb))).alias("lr")))
    dw = (tok.join(F.broadcast(lr), "b")
          .groupBy("doc_id", "source")
          .agg(F.sum("lr").alias("w")))
    return (dw.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.round(F.avg("w"), 4).alias("avg_weight"),
                 F.round(F.avg((F.col("w") > 0)
                               .cast("double")), 4)
                 .alias("pos_frac"))
            .orderBy("source"))


_DSIR_TARGET_SQL = ", ".join(f"'{s}'" for s in DSIR_TARGET)

DSIR_IMPORTANCE_WEIGHTS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(text),
                '[^a-z0-9]+'), x -> x <> '')) AS t
  FROM documents),
tb AS (
  SELECT doc_id, source, {_BUCKET_DUCK} AS b FROM tok),
dist AS (
  SELECT b,
         sum(CASE WHEN source IN ({_DSIR_TARGET_SQL})
             THEN 1 ELSE 0 END) AS nt,
         count(*) AS nr
  FROM tb GROUP BY b),
tot AS (SELECT sum(nt) AS tt, sum(nr) AS tr FROM dist),
lr AS (
  SELECT b,
         ln((nt + {_DSIR_SMOOTH}) / (tt + {_DSIR_SMOOTH
                                           * DSIR_BUCKETS}))
         - ln((nr + {_DSIR_SMOOTH}) / (tr + {_DSIR_SMOOTH
                                             * DSIR_BUCKETS}))
           AS lr
  FROM dist CROSS JOIN tot),
dw AS (
  SELECT doc_id, source, sum(lr) AS w
  FROM tb JOIN lr USING (b) GROUP BY doc_id, source)
SELECT source, count(*) AS docs,
       round(avg(w), 4) AS avg_weight,
       round(avg(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END), 4)
         AS pos_frac
FROM dw GROUP BY source ORDER BY source
"""


QUERIES.update({"dsir_importance_weights": dsir_importance_weights})
ORACLES.update(
    {"dsir_importance_weights": DSIR_IMPORTANCE_WEIGHTS_ORACLE})


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
    from parquet_generator_spark.operators import text as tx

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
    from parquet_generator_spark.operators import text as tx

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


QUERIES.update({"filter_ablation_grid": filter_ablation_grid})
ORACLES.update({"filter_ablation_grid": _ablation_oracle()})


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
    from parquet_generator_spark.operators import text as tx

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
    from parquet_generator_spark.operators import text as tx

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


QUERIES.update({"quality_classifier_gd": quality_classifier_gd})
ORACLES.update({"quality_classifier_gd": _gd_oracle()})


# ------------------------------------------- dedup_index_served

def dedup_index_served(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """incremental_dedup SERVED from a persisted index: the corpus
    side's content hashes, band keys, per-bucket counts and shingle
    sets are built ONCE (train-if-stale on the corpus fingerprint)
    and committed through the snapshot table format; classification
    of the incoming batch then pays one signature pass over the
    BATCH only — the corpus side is pure snapshot reads.
    Value-identical to the in-query cross classification (same
    signatures, band keys, TOTAL-bucket-cap semantics, round-3
    exact-Jaccard verify), so the oracle IS incremental_dedup's
    from-scratch rebuild. The dedup analog of ann_ivfpq_served."""
    from parquet_generator_spark.operators import dedup_index
    from parquet_generator_spark.plans.llm_queries8 import INC_TAU
    from parquet_generator_spark.sinks import stores

    docs = load_table(spark, "documents", sf_dir)

    def build(root: str) -> None:
        dedup_index.train_dedup_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), root,
            id_col="doc_id", content_col="text")

    root = stores.ensure("dedup_index", sf_dir, ["documents.parquet"],
                         build)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = dedup_index.classify_served(
        spark, root, batch, INC_TAU, id_col="doc_id",
        content_col="text")
    return (out.select(F.col("id").alias("doc_id"), "status")
            .orderBy("doc_id"))


def _dedup_index_oracle() -> str:
    from parquet_generator_spark.plans.llm_queries8 import (
        INCREMENTAL_DEDUP_ORACLE,
    )

    return INCREMENTAL_DEDUP_ORACLE


QUERIES.update({"dedup_index_served": dedup_index_served})
ORACLES.update({"dedup_index_served": _dedup_index_oracle()})


# ------------------------------------------------ audio_pcm_stats

_PCM_N = 48        # samples per synthesized clip
_PCM_RATE = 16000


def audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio decode (image_decode_stats' audio
    sibling): synthesize genuine PCM-16 WAV bytes per doc (canonical
    44-byte header + a deterministic sample ramp), then decode them
    back through the stdlib RIFF chunk walk + numpy int16 view in
    mapInPandas (operators/multimodal.decode_wav) and report peak /
    DC offset / RMS. The oracle recomputes the same numbers from
    the sample-generating formula — an endianness, offset, stride
    or chunk-walk bug shifts every statistic and fails the hash.
    Integer sums are exact in float64, so dc/rms are
    bit-deterministic across engines."""
    from parquet_generator_spark.operators.multimodal import (
        decode_wav_pcm_stats,
    )

    docs = load_table(spark, "documents", sf_dir)

    # Round-13 optimization: the byte assembly used to be a
    # ~500-node hex/unhex Catalyst expression (96 sample bytes, each
    # an unhex(lpad(hex(shiftright...)))), which dominated the key's
    # cost as codegen + per-row expression work. The identical bytes
    # come out of one numpy vectorized synthesizer in the SAME
    # Python stage the decoder already runs in (guide §4.2); the
    # decode path stays genuine — decode_wav still walks the RIFF
    # chunks of real bytes.
    import struct

    n, rate = _PCM_N, _PCM_RATE
    data_size = n * 2
    header = (b"RIFF" + struct.pack("<I", data_size + 36) + b"WAVE"
              + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                      rate * 2, 2, 16)
              + b"data" + struct.pack("<I", data_size))

    def synth(batches):
        import numpy as np
        import pandas as pd

        offs = np.arange(n, dtype=np.int64) * 97
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            v = (ids[:, None] * 31 + offs[None, :]) % 4096 - 2048
            u = ((v + 65536) % 65536).astype("<u2")
            yield pd.DataFrame({
                "media_id": ids,
                "payload": [header + row.tobytes() for row in u]})

    media = docs.select("doc_id").mapInPandas(
        synth, schema="media_id long, payload binary")
    return decode_wav_pcm_stats(media).orderBy("media_id")


AUDIO_PCM_STATS_ORACLE = f"""
WITH v AS (
  SELECT d.doc_id,
         ((d.doc_id * 31 + i.i * 97) % 4096) - 2048 AS v
  FROM documents d
  CROSS JOIN (SELECT unnest(range({_PCM_N})) AS i) i)
SELECT doc_id AS media_id,
       CAST({_PCM_RATE} AS BIGINT) AS sample_rate,
       count(*) AS n_samples,
       CAST(max(abs(v)) AS BIGINT) AS peak,
       round(sum(CAST(v AS DOUBLE)) / count(*), 4) AS dc_offset,
       round(sqrt(sum(CAST(v AS DOUBLE) * v) / count(*)), 4) AS rms
FROM v GROUP BY doc_id ORDER BY media_id
"""


QUERIES.update({"audio_pcm_stats": audio_pcm_stats})
ORACLES.update({"audio_pcm_stats": AUDIO_PCM_STATS_ORACLE})


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
    from parquet_generator_spark.operators import similarity
    from parquet_generator_spark.plans.llm_queries24 import (
        IVFPQ_QUERY,
    )

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
    from parquet_generator_spark.operators.similarity import (
        cosine_to_literal_duck_sql,
    )
    from parquet_generator_spark.plans.llm_queries24 import (
        IVFPQ_QUERY,
    )

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


QUERIES.update({"ann_int8_rescore": ann_int8_rescore})
ORACLES.update({"ann_int8_rescore": _int8_rescore_oracle()})
