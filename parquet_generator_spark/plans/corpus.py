"""Corpus composition for training data: chunking, packing, sampling and
mixing, decontamination, source balance, profiling, and release
audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache
from parquet_generator_spark.operators.text import (
    shingles_duck,
    shingles_spark,
    toks_duck,
    toks_spark,
)
from parquet_generator_spark.operators.util import (
    broadcast_scalars,
    widen_if_narrow,
)
from parquet_generator_spark.plans.reference_etl import (
    SPLIT_BUCKETS,
    _bucket_spark,
)
from parquet_generator_spark.plans.text_quality import (
    GOPHER_CTES,
    GOPHER_KEEP_PRED,
    _URL_DOMAINS,
    _URL_RE,
    _url_page,
    gopher_quality,
)
from parquet_generator_spark.sources.catalog import load_table


# Corpus vocabulary coverage (tokenizer-design input) and per-label
# embedding centroid quality (embedding-space health check).
#
# Both stay declarative end-to-end. The vocabulary cumsum runs over
# post-aggregation vocab-cardinality rows (a global window over ~1e5-1e6
# words, not the corpus); the centroid computation is the standard
# posexplode -> (label, dim) average -> re-assemble shape, all shuffles
# on bounded-cardinality keys.


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


# Gopher-style repetition quality rules, funnel analysis, and cohort
# retention.
#
# gopher_quality adapts the Gopher/MassiveText repetition filters
# (Rae et al. 2021, "Scaling Language Models", App. A) to the word-
# stream documents table: type-token ratio, top-word and top-bigram
# mass fractions, mean word length — all computed with built-in
# explode/groupBy (map-side partial aggregation keeps the shuffle at
# distinct-terms-per-doc, not token count; no Python in the hot path).
#
# funnel_stages / cohort_retention are the standard product-analytics
# operators over the events table, built as staged aggregate joins
# (each stage collapses to user-cardinality before the next join).


# ------------------------------------------------- stratified_sample

STRATUM_SIZE = 10


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size-per-stratum sample: the first
    STRATUM_SIZE documents of each source, ordered by an md5 hash of
    the doc id — a reproducible balanced training mixture independent
    of engine, layout, and partitioning (same contract as
    train_test_split). One shuffle on the stratum key; a skewed
    stratum can salt the window into ranges at scale."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.asc("doc_id"))
    return (docs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= STRATUM_SIZE)
            .select("source", "doc_id", "rk")
            .orderBy("source", "rk"))


STRATIFIED_ORACLE = f"""
SELECT source, doc_id, rk
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC) AS rk
  FROM documents)
WHERE rk <= {STRATUM_SIZE}
ORDER BY source, rk
"""


# ----------------------------------------------- corpus_prep_pipeline


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation, composed from the
    individually-oracle-checked stages: Gopher quality keep + exact
    dedup (canonical copy only) + benchmark decontamination (drop any
    doc sharing a 5-shingle with the held-out source, and the
    held-out source itself) + deterministic hash split — reporting
    docs and whitespace tokens per (split, source).

    Each stage reduces to a doc-id set, so the composition is three
    semi/anti joins on the corpus scan plus one aggregate. In
    production the stage outputs are staged tables (computed once,
    reused); here they recompute from the shared scan, which AQE
    handles at test scale."""
    from parquet_generator_spark.operators import dedup as dedup_ops
    docs = load_table(spark, "documents", sf_dir)
    # quality stage carries its word count along: n_words from the
    # gopher profile IS size(split(text, ' ')), so the final pass
    # never re-reads text (round 13 — the before-plan re-scanned and
    # re-split every kept document just to count tokens, guide §2.3)
    quality = (gopher_quality(spark, sf_dir)
               .filter(F.col("keep")).select("doc_id", "n_words"))
    canonical = (dedup_ops.exact_dedup_groups(docs, "doc_id", "text")
                 .select(F.col("keep_id").alias("doc_id")))
    # lean contamination set: the composition only needs the doc ids
    # sharing >= 1 shingle with the bench source — the standalone
    # decontaminate query's per-doc countDistinct and global orderBy
    # added two exchanges and a range sort the anti-join discards
    sh = F.expr(shingles_spark("text", DECON_K))
    bench = (docs.filter(F.col("source") == BENCH_SOURCE)
             .select(F.explode(sh).alias("s")).distinct())
    contaminated = (docs.filter(F.col("source") != BENCH_SOURCE)
                    .select("doc_id", F.explode(sh).alias("s"))
                    .join(F.broadcast(bench), "s")
                    .select("doc_id").distinct())
    b = _bucket_spark("doc_id")
    split = (F.when(b < SPLIT_BUCKETS[0], "train")
             .when(b < SPLIT_BUCKETS[1], "val")
             .otherwise("test"))
    final = (docs.filter(F.col("source") != BENCH_SOURCE)
             .select("doc_id", "source")
             .join(quality, "doc_id")
             .join(canonical, "doc_id", "left_semi")
             .join(contaminated, "doc_id", "left_anti")
             .withColumn("split", split))
    return (final.groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").alias("n_tokens"))
            .orderBy("split", "source"))


def _corpus_prep_oracle() -> str:
    bucket = ("CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),"
              " 1, 8)) AS BIGINT) % 100")
    return f"""
WITH {GOPHER_CTES},
keepq AS (
  SELECT ws.doc_id FROM ws JOIN bs ON ws.doc_id = bs.doc_id
  WHERE {GOPHER_KEEP_PRED}),
canonical AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
sh AS (
  SELECT doc_id, source, {shingles_duck('text', DECON_K)} AS shs
  FROM documents),
bench AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh
  WHERE source = '{BENCH_SOURCE}'),
corpus AS (
  SELECT doc_id, unnest(shs) AS s FROM sh
  WHERE source <> '{BENCH_SOURCE}'),
contaminated AS (
  SELECT DISTINCT doc_id FROM corpus JOIN bench USING (s)),
final AS (
  SELECT doc_id, source, text,
         CASE WHEN {bucket} < {SPLIT_BUCKETS[0]} THEN 'train'
              WHEN {bucket} < {SPLIT_BUCKETS[1]} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
  WHERE source <> '{BENCH_SOURCE}'
    AND doc_id IN (SELECT doc_id FROM keepq)
    AND doc_id IN (SELECT doc_id FROM canonical)
    AND doc_id NOT IN (SELECT doc_id FROM contaminated))
SELECT split, source, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM final GROUP BY split, source ORDER BY split, source
"""


CORPUS_PREP_ORACLE = _corpus_prep_oracle()


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


# ------------------------------------------------------ source_overlap

def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every source pair
    (incl. the diagonal), how many DISTINCT contents appear in both.
    The report that catches a benchmark split leaking into training
    sources. No pairwise doc scan: one distinct on (md5, source),
    one groupBy(md5) whose per-hash source set is bounded by the
    number of sources, pairs generated array-side, one final count
    shuffle keyed on the (src_a, src_b) pair."""
    docs = load_table(spark, "documents", sf_dir)
    hs = docs.select(F.md5("text").alias("h"), "source").distinct()
    grouped = (hs.groupBy("h")
               .agg(F.array_sort(F.collect_set("source")).alias("ss")))
    pairs = grouped.select(F.explode(F.expr(
        "flatten(transform(sequence(0, size(ss) - 1), "
        "i -> transform(sequence(i, size(ss) - 1), "
        "j -> struct(ss[i] AS src_a, ss[j] AS src_b))))")).alias("p"))
    return (pairs.groupBy("p.src_a", "p.src_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .select(F.col("src_a"), F.col("src_b"), "n_shared")
            .orderBy("src_a", "src_b"))


SOURCE_OVERLAP_ORACLE = """
WITH hs AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
FROM hs a JOIN hs b ON a.h = b.h AND a.source <= b.source
GROUP BY src_a, src_b ORDER BY src_a, src_b
"""


def data_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus 'data card': per-source document / token / byte
    counts with mixture shares — the report every training-data
    readme publishes. One grouped pass; the totals for the share
    columns are a one-row scalar aggregate attached as a scalar
    subquery."""
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


PROFILE_COLS = ("l_orderkey", "l_quantity", "l_extendedprice",
                "l_returnflag", "l_shipdate", "l_linestatus")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time data profiler: one row per column with row/null/
    distinct counts and min/max (stringified) — the report a data
    catalog shows on registration. ONE aggregate pass computes every
    per-column statistic (count_distinct included, one Expand across
    the profiled columns), then a map-side unpivot reshapes to long
    form; nothing rescans per column."""
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


# Scale-path variants and shared stages for the heaviest round-5
# operators — the sketch-based table profiler (the 100-TB default the
# exact profiler can't be), and the materialized near-dup candidate-edge
# stage reused by the iterative graph queries.


PROFILE_RSD = 0.02


def profile_frame_approx(li: DataFrame) -> DataFrame:
    """The production profiler plan: ONE aggregate pass over the fact
    table computing rows / nulls / min / max / approx-distinct for
    every profiled column. ``approx_count_distinct`` (HLL++) buffers
    aggregate beside the plain stats WITHOUT the Expand that exact
    multi-distinct forces (C x N expanded rows through the
    aggregation — the r5 profiler's scale-killer), so the whole
    profile is one partial-aggregated codegen pass: the shape that
    survives a 100x fact table. Plan-asserted Expand-free in
    tests/test_plans.py."""
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.approx_count_distinct(c, rsd=PROFILE_RSD)
            .alias(f"{c}__approx"),
        ]
    return li.agg(*aggs)


def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table_profile`'s 100-TB path: sketched distinct counts. The
    HLL estimate is engine-specific, so (the approx_sketches recipe)
    the OUTPUT carries the exact stats plus an in-bound boolean
    ``hll_ok`` (|approx - exact| <= 3*rsd*exact) — the exact
    multi-distinct here exists only to judge the sketch for the
    correctness gate; at scale you ship the sketch column alone and
    drop the exact aggregate.

    Crossover note (don't "optimize" this backwards at small scale):
    at sf0.1 this is SLOWER than the exact `table_profile` (~3.1s vs
    ~2.4s) because the HLL sketch buffers dominate below the Expand
    crossover. The point is the asymptote: exact multi-distinct
    forces an Expand (row multiplication by the number of distinct
    aggs) whose cost grows with data; the sketch pass stays one
    Expand-free aggregate with constant-size state per column, which
    is the only shape that survives 100 TB."""
    li = load_table(spark, "lineitem", sf_dir)
    distincts = li.agg(*[F.countDistinct(c).alias(f"{c}__exact")
                         for c in PROFILE_COLS])
    one = broadcast_scalars(distincts, profile_frame_approx(li))
    structs = ", ".join(
        f"struct('{c}' AS column_name, {c}__rows AS n_rows, "
        f"{c}__nulls AS n_nulls, "
        f"abs({c}__approx - {c}__exact) "
        f"<= {c}__exact * {3 * PROFILE_RSD!r} AS hll_ok, "
        f"{c}__min AS vmin, {c}__max AS vmax)"
        for c in PROFILE_COLS)
    return (one.select(F.explode(F.expr(f"array({structs})"))
                       .alias("p"))
            .select("p.*").orderBy("column_name"))


def _profile_approx_oracle() -> str:
    parts = []
    for c in PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_nulls, "
            f"TRUE AS hll_ok, "
            f"CAST(min({c}) AS VARCHAR) AS vmin, "
            f"CAST(max({c}) AS VARCHAR) AS vmax FROM lineitem")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


TABLE_PROFILE_APPROX_ORACLE = _profile_approx_oracle()


def gini_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-inequality report: the Gini coefficient of token mass
    across sources (0 = perfectly balanced corpus, 1 = one source
    owns everything) plus each source's share. Group count is
    source-cardinality, so the rank window is over a handful of rows
    — the corpus only pays one grouped aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    per = (docs.groupBy("source")
           .agg(F.sum(F.size(F.expr(toks_spark("text"))))
                .alias("tokens")))
    w = Window.partitionBy(F.lit(1)).orderBy("tokens", "source")
    # the ranked frame is SOURCE-cardinality (a handful of rows) and
    # feeds the totals subquery AND the output — checkpoint it so
    # the corpus tokenize+groupBy runs once. Lazy: the first consumer
    # is the full-scan totals aggregate.
    ranked = cache.checkpoint(per.withColumn("rk", F.row_number().over(w)),
                              eager=False)
    tot = ranked.agg(
        F.sum("tokens").alias("t"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("rk") * F.col("tokens")).alias("rt"))
    t, k, rt = F.col("t"), F.col("k"), F.col("rt")
    # Gini = (2*sum(rank_i * x_i)) / (k * sum(x)) - (k+1)/k
    gini = F.round((2.0 * rt) / (k * t) - (k + 1.0) / k, 4)
    return (broadcast_scalars(ranked, tot)
            .select("source", "tokens",
                    F.round(F.col("tokens") / t, 4).alias("share"),
                    gini.alias("gini"))
            .orderBy("source"))


GINI_SOURCE_BALANCE_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(sum(len({toks_duck('text')})) AS BIGINT) AS tokens
  FROM documents GROUP BY source),
rk AS (SELECT source, tokens,
              row_number() OVER (ORDER BY tokens, source) AS rk
       FROM per),
g AS (SELECT round((2.0 * sum(rk * tokens))
                   / (count(*) * sum(tokens))
                   - (count(*) + 1.0) / count(*), 4) AS gini,
             CAST(sum(tokens) AS DOUBLE) AS t
      FROM rk)
SELECT p.source, p.tokens, round(p.tokens / g.t, 4) AS share, g.gini
FROM per p, g ORDER BY p.source
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


def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain histogram, the link-graph profiling
    pass of a web-corpus pipeline: regex-extract every URL host,
    explode, group by host — link count, distinct linking docs, and
    the secure fraction (https links / all links) per host. One
    narrow scan, one groupBy shuffle on the (tiny) host key."""
    docs = load_table(spark, "documents", sf_dir)
    pages = docs.select("doc_id", _url_page().alias("page"))
    url = pages.select(
        "doc_id",
        F.explode(F.expr(
            f"regexp_extract_all(page, '{_URL_RE}', 0)")).alias("url"))
    host = F.regexp_extract("url", _URL_RE, 1)
    return (url
            .select("doc_id", host.alias("host"),
                    F.col("url").startswith("https").alias("secure"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum(F.when(F.col("secure"), 1).otherwise(0))
                 .alias("n_https"))
            .orderBy("host"))


def _url_domain_oracle() -> str:
    case = " ".join(f"WHEN {i} THEN '{d}'"
                    for i, d in enumerate(_URL_DOMAINS))
    return f"""
WITH pages AS (
  SELECT doc_id,
         concat(text, ' see https://',
                CASE doc_id % 5 {case} END,
                '/p/', CAST(doc_id AS VARCHAR)) ||
         CASE WHEN doc_id % 3 = 0
              THEN concat(' and http://mirror.',
                          CASE doc_id % 5 {case} END, '/x')
              ELSE '' END AS page
  FROM documents),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(page, '{_URL_RE}', 0))
           AS url
  FROM pages)
SELECT regexp_extract(url, '{_URL_RE}', 1) AS host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN url LIKE 'https%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_https
FROM urls GROUP BY host ORDER BY host
"""


# ------------------------------------------------- lang_source_chi2

def lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of lang x source: per language,
    the doc count and its chi2 contribution sum((o-e)^2/e) across
    sources, with e = row_total*col_total/N. One corpus aggregate
    builds the contingency cells; row/col totals re-aggregate from
    the CELLS (label-cardinality, no second corpus scan), join back
    on the label keys, and N attaches as a scalar subquery."""
    docs = load_table(spark, "documents", sf_dir)
    cells = (docs.groupBy("lang", "source")
             .agg(F.count(F.lit(1)).alias("o")))
    rows = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt") * F.col("ct") / F.col("n")
    contrib = (F.col("o") - e) * (F.col("o") - e) / e
    return (broadcast_scalars(
        cells.join(rows, "lang").join(cols, "source"), n)
        .groupBy("lang")
        .agg(F.sum("o").cast("long").alias("n_docs"),
             F.round(F.sum(contrib), 4).alias("chi2_contrib"))
        .orderBy("lang"))


LANG_SOURCE_CHI2_ORACLE = """
WITH cells AS (
  SELECT lang, source, count(*) AS o
  FROM documents GROUP BY lang, source),
rows_ AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY lang),
cols_ AS (SELECT source, sum(o) AS ct FROM cells GROUP BY source),
n_ AS (SELECT sum(o) AS n FROM cells)
SELECT lang,
       CAST(sum(o) AS BIGINT) AS n_docs,
       round(sum((o - rt * ct / CAST(n AS DOUBLE))
                 * (o - rt * ct / CAST(n AS DOUBLE))
                 / (rt * ct / CAST(n AS DOUBLE))), 4) AS chi2_contrib
FROM cells JOIN rows_ USING (lang) JOIN cols_ USING (source), n_
GROUP BY lang ORDER BY lang
"""


# Release-gate audits.
#
# - ``source_ngram_overlap`` — shingle-level cross-source leakage.
#   ``source_overlap`` (corpus.py) counts EXACT shared contents; a
#   benchmark rarely leaks verbatim — it leaks as near-verbatim
#   passages. This measures the partial-leakage matrix: for every
#   source pair, how many DISTINCT 3-token shingles appear in both.
#   Same scale shape as source_overlap: one distinct on
#   (shingle, source), one groupBy whose per-shingle source set is
#   bounded by the source count, pairs generated array-side, one
#   final count shuffle. Never a doc-pair join.
# - ``k_anonymity_audit`` — the privacy gate a corpus/feature release
#   runs before publishing: over the quasi-identifier tuple
#   (nation, market segment, account-balance decile), how many
#   customers sit in equivalence classes smaller than k=5, per class
#   size. One groupBy on the quasi-identifier, one bounded histogram
#   aggregate — the report is class-size-bucketed so the output never
#   enumerates the at-risk individuals themselves.


def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shared 3-shingles per source pair (upper triangle +
    diagonal), plus the Jaccard-style overlap coefficient against
    the smaller side's shingle vocabulary."""
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
    shared = cache.checkpoint(
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


# ------------------------------------------------------ corpus_data_card

def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row data card a corpus release ships: scale (docs,
    sources, languages), length profile (mean/median chars), token
    volume, exact-duplicate rate, and language mix headline (share
    of the majority language). One scan, one aggregate — the exact
    percentile is the only ordering cost and it rides the same
    grouped pass. Every number is independently recomputable by the
    oracle, so the published card can't drift from the corpus."""
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


# ----------------------------------------------- domain_cap_sample

DOMAIN_CAP = 10  # max docs kept per source (domain rate limiting)


def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs-per-domain cap (the crawl-balance op every web pipeline
    runs so one hub domain cannot dominate the mix): keep at most
    DOMAIN_CAP docs per source, deterministically the LONGEST first
    (doc_id tie-break). Per-source report: available, kept, kept
    characters, and the kept-id sum (proves the exact same docs were
    selected in any engine). The rank window partitions on source —
    parallel across domains, frame bounded by the domain's own
    docs."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc(F.length("text")), F.asc("doc_id"))
    ranked = docs.select(
        "source", "doc_id", F.length("text").alias("chars"),
        F.row_number().over(w).alias("rk"))
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_available"),
                 F.sum(F.when(F.col("rk") <= DOMAIN_CAP, 1)
                       .otherwise(0)).cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("rk") <= DOMAIN_CAP,
                              F.col("chars")).otherwise(0))
                 .cast("long").alias("kept_chars"),
                 F.sum(F.when(F.col("rk") <= DOMAIN_CAP,
                              F.col("doc_id")).otherwise(0))
                 .cast("long").alias("kept_id_sum"))
            .orderBy("source"))


DOMAIN_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source, doc_id, length(text) AS chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY length(text) DESC, doc_id ASC)
           AS rk
  FROM documents)
SELECT source, count(*) AS n_available,
       CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN chars ELSE 0 END)
            AS BIGINT) AS kept_chars,
       CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN doc_id ELSE 0 END)
            AS BIGINT) AS kept_id_sum
FROM ranked GROUP BY source ORDER BY source
"""


# -------------------------------------------------------- epoch_plan

EPOCH_BUDGET = 1_000_000  # target training tokens
EPOCH_ALPHA = 0.6         # mixture temperature (<1 upweights small)


def epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-per-source plan (the data-mixture table a training run
    is configured from): source s holds c_s tokens and receives a
    temperature share w_s = c_s^alpha / sum(c^alpha) of the token
    budget; epochs_s = alloc_s / c_s says how many times the source
    repeats (>1 = upsampled). One grouped pass + a one-row scalar
    aggregate attached as a scalar subquery (broadcast_scalars — no
    unpartitioned window)."""
    from parquet_generator_spark.operators import text as tx

    docs = load_table(spark, "documents", sf_dir)
    per = (docs.groupBy("source")
           .agg(F.sum(F.expr(f"size({tx.toks_spark('text')})"))
                .cast("long").alias("n_tokens")))
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(EPOCH_ALPHA))
    tot = per.agg(F.sum(w).alias("w_sum"))
    return (broadcast_scalars(per, tot)
            .select(
                "source", "n_tokens",
                F.round(w / F.col("w_sum"), 6).alias("share"),
                F.floor(F.lit(EPOCH_BUDGET) * w / F.col("w_sum"))
                .cast("long").alias("alloc_tokens"),
                F.round(F.floor(F.lit(EPOCH_BUDGET) * w
                                / F.col("w_sum"))
                        / F.col("n_tokens"), 4).alias("epochs"))
            .orderBy("source"))


def _epoch_plan_oracle() -> str:
    from parquet_generator_spark.operators import text as tx

    return f"""
WITH per AS (
  SELECT source,
         CAST(sum(len({tx.toks_duck('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), {EPOCH_ALPHA}))
          AS w_sum FROM per)
SELECT source, n_tokens,
       round(pow(CAST(n_tokens AS DOUBLE), {EPOCH_ALPHA}) / w_sum, 6)
         AS share,
       CAST(floor({EPOCH_BUDGET} * pow(CAST(n_tokens AS DOUBLE),
            {EPOCH_ALPHA}) / w_sum) AS BIGINT) AS alloc_tokens,
       round(floor({EPOCH_BUDGET} * pow(CAST(n_tokens AS DOUBLE),
            {EPOCH_ALPHA}) / w_sum) / n_tokens, 4) AS epochs
FROM per, tot ORDER BY source
"""


# ------------------------------------------------ decontaminate_bloom

BLOOM_M = 1 << 16          # bits (1024 packed longs as plan literals)
BLOOM_K = 4                # double-hashed probes per shingle
_BLOOM_WORDS = BLOOM_M // 64


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memory-bounded benchmark decontamination — the 100 TB shape:
    instead of broadcasting the full benchmark shingle SET (the
    decontaminate query), the bench shingles insert into a FIXED
    m-bit Bloom filter (double hashing, Kirsch-Mitzenmacher: probe j
    hits (a + j*b) mod m with a, b the two md5 halves), shipped as
    1024 packed-long PLAN LITERALS — constant memory no matter how
    the eval suite grows. Per source: corpus docs, exact-flagged
    docs, bloom-flagged docs, and the false-positive overcount
    (bloom - exact >= 0 always; the filter never misses).

    The oracle rebuilds the SAME filter in SQL as the distinct
    inserted-position set (a Bloom bitset IS that union, so
    membership = all k probe positions present) — no Spark value
    leaks into it. Size m to the deployed eval suite: at the gate
    SFs the FP term is ~0; headroom shrinks as n/m grows
    (documented, not hidden)."""
    import hashlib

    docs = load_table(spark, "documents", sf_dir)
    sh = F.expr(shingles_spark("text", DECON_K))
    bench = (docs.filter(F.col("source") == BENCH_SOURCE)
             .select(F.explode(sh).alias("s")).distinct())

    # build the filter driver-side from the (bounded) eval suite
    words = [0] * _BLOOM_WORDS
    for row in bench.collect():
        h = hashlib.md5(row["s"].encode()).hexdigest()
        a, b = int(h[:8], 16), int(h[8:16], 16)
        for j in range(BLOOM_K):
            pos = (a + j * b) % BLOOM_M
            words[pos // 64] |= 1 << (pos % 64)
    # Spark longs are signed 64-bit: wrap to two's complement
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    corpus = (docs.filter(F.col("source") != BENCH_SOURCE)
              .select("doc_id", "source", F.explode(sh).alias("s")))
    # the words array and the (a, b) hash pair each bind ONCE via
    # single-element transform; F.shiftright only takes literal
    # shift counts, so the bit test renders as SQL
    warr_sql = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    hit_body = " AND ".join(
        f"((shiftright(element_at(W, CAST(((h.a + {j} * h.b) "
        f"% {BLOOM_M}) / 64 AS INT) + 1), "
        f"CAST((h.a + {j} * h.b) % 64 AS INT)) & 1) = 1)"
        for j in range(BLOOM_K))
    hit = F.expr(
        f"element_at(transform(array({warr_sql}), W -> "
        f"element_at(transform(array(named_struct("
        f"'a', CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT), "
        f"'b', CAST(conv(substr(md5(s), 9, 8), 16, 10) AS BIGINT)"
        f")), h -> {hit_body}), 1)), 1)")
    # ONE corpus explode pass carries BOTH probes (round 13: the
    # before-plan ran the corpus explode+md5 chain twice — once
    # under the bloom projection, once under the exact-match join —
    # guide §1.2): the bloom test is a projection on the shingle
    # stream, the exact test a broadcast LEFT join against the
    # bench-bounded shingle set, and one per-doc rollup folds both
    # flags. The bench subtree still evaluates twice (driver filter
    # build + broadcast) but it is the eval suite, never the corpus.
    per_doc = (corpus.withColumn("bloom_hit", hit.cast("int"))
               .join(F.broadcast(bench.withColumn("exact_s",
                                                  F.lit(1))),
                     "s", "left")
               .groupBy("doc_id", "source")
               .agg(F.max("bloom_hit").alias("bloom"),
                    F.max(F.coalesce("exact_s", F.lit(0)))
                    .alias("exact_hit")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("exact_hit").cast("long").alias("n_exact"),
                 F.sum("bloom").cast("long").alias("n_bloom"),
                 (F.sum("bloom") - F.sum("exact_hit")).cast("long")
                 .alias("n_false_pos"))
            .orderBy("source"))


def _bloom_oracle() -> str:
    probes = ", ".join(str(j) for j in range(BLOOM_K))
    return f"""
WITH sh AS (
  SELECT doc_id, source, {shingles_duck('text', DECON_K)} AS shs
  FROM documents),
bench AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh
  WHERE source = '{BENCH_SOURCE}'),
bh AS (
  SELECT CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS a,
         CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS b
  FROM bench),
bits AS (
  SELECT DISTINCT (a + j * b) % {BLOOM_M} AS pos
  FROM bh CROSS JOIN (SELECT unnest([{probes}]) AS j)),
corpus AS (
  SELECT doc_id, source, unnest(shs) AS s FROM sh
  WHERE source <> '{BENCH_SOURCE}'),
ch AS (
  SELECT doc_id, source, s,
         CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS a,
         CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS b
  FROM corpus),
cprobe AS (
  SELECT doc_id, source, s, (a + j * b) % {BLOOM_M} AS pos
  FROM ch CROSS JOIN (SELECT unnest([{probes}]) AS j)),
cpos AS (
  SELECT doc_id, source, s,
         count(*) FILTER (pos IN (SELECT pos FROM bits)) AS n_in
  FROM cprobe GROUP BY doc_id, source, s),
per_doc AS (
  SELECT c.doc_id, any_value(c.source) AS source,
         max(CASE WHEN c.n_in = {BLOOM_K} THEN 1 ELSE 0 END)
           AS bloom,
         max(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
           AS exact_hit
  FROM cpos c LEFT JOIN bench b ON c.s = b.s
  GROUP BY c.doc_id)
SELECT source, count(*) AS n_docs,
       CAST(sum(exact_hit) AS BIGINT) AS n_exact,
       CAST(sum(bloom) AS BIGINT) AS n_bloom,
       CAST(sum(bloom) - sum(exact_hit) AS BIGINT) AS n_false_pos
FROM per_doc GROUP BY source ORDER BY source
"""


# ------------------------------------------------ changelog_apply

def changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC last-write-wins compaction (the merge-on-read snapshot
    every Delta/Hudi/Iceberg-shaped pipeline materializes): the
    events stream is read as a changelog keyed by user_id —
    'error' rows are delete tombstones, everything else upserts —
    and compacted to the current state: latest surviving row per
    key by (ts, event_id), keys whose final entry is a tombstone
    dropped, each with its total change count. One window pass
    partitioned by the key."""
    ev = load_table(spark, "events", sf_dir)
    wo = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    wp = Window.partitionBy("user_id")
    return (ev
            .withColumn("rn", F.row_number().over(wo))
            .withColumn("n_changes", F.count(F.lit(1)).over(wp))
            .filter((F.col("rn") == 1)
                    & (F.col("event_type") != "error"))
            .select("user_id",
                    F.col("event_type").alias("last_op"),
                    F.round("value", 4).alias("last_value"),
                    F.col("ts").alias("last_ts"),
                    "n_changes")
            .orderBy("user_id"))


CHANGELOG_APPLY_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events)
SELECT user_id, event_type AS last_op,
       round(value, 4) AS last_value, ts AS last_ts,
       CAST(n_changes AS BIGINT) AS n_changes
FROM c
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


# -------------------------------------------- context_window_fill

CTX_WINDOW = 32  # tokens per training context window


def context_window_fill(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Training-batch packing economics: how many context windows
    the corpus occupies and how full they are — per source, the
    window count at W=32 tokens (ceil division, pure integer
    codegen), the fill ratio (tokens / window capacity), and the
    largest single document in windows. The epoch_plan /
    seq_packing companion: this is the number a batch-size planner
    actually multiplies. One narrow scan, one grouped pass."""
    docs = load_table(spark, "documents", sf_dir)
    w = CTX_WINDOW
    t = docs.select(
        "source",
        F.expr(f"size({toks_spark('text')})").alias("ntok"))
    t = t.withColumn(
        "windows",
        F.expr(f"CAST((ntok + {w - 1}) DIV {w} AS BIGINT)"))
    return (t.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("windows").alias("total_windows"),
                 F.round(
                     F.sum("ntok").cast("double")
                     / F.greatest(F.sum("windows") * w, F.lit(1))
                     .cast("double"), 4).alias("avg_fill"),
                 F.max("windows").alias("max_windows"))
            .orderBy("source"))


CONTEXT_WINDOW_FILL_ORACLE = f"""
WITH t AS (
  SELECT source, len({toks_duck('text')}) AS ntok FROM documents),
ww AS (
  SELECT source, ntok,
         CAST((ntok + {CTX_WINDOW - 1}) // {CTX_WINDOW} AS BIGINT)
           AS windows
  FROM t)
SELECT source, count(*) AS docs,
       CAST(sum(windows) AS BIGINT) AS total_windows,
       round(CAST(sum(ntok) AS DOUBLE)
             / CAST(greatest(sum(windows) * {CTX_WINDOW}, 1)
                    AS DOUBLE), 4) AS avg_fill,
       CAST(max(windows) AS BIGINT) AS max_windows
FROM ww GROUP BY source ORDER BY source
"""


# -------------------------------------------------- hash_sample

HASH_SAMPLE_PERMILLE = 100  # deterministic 10% Bernoulli


def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-Bernoulli sampling — the sampler that
    scales (stratified_sample's rank windows need a per-stratum
    sort; this is ONE stateless codegen predicate, reproducible
    across runs and engines, usable straight in a 100 TB scan
    filter): keep a doc iff md5(doc_id) mod 1000 < 100. Reports
    per-source realized rates so drift from the nominal 10% is
    visible."""
    docs = load_table(spark, "documents", sf_dir)
    keep = F.expr(
        f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), "
        f"16, 10) AS BIGINT) % 1000 < {HASH_SAMPLE_PERMILLE}")
    return (docs
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("total"),
                 F.sum(keep.cast("long")).alias("kept"))
            .select("source", "total", "kept",
                    F.round(F.col("kept").cast("double")
                            / F.col("total"), 4).alias("rate"))
            .orderBy("source"))


HASH_SAMPLE_ORACLE = f"""
WITH k AS (
  SELECT source,
         (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 1000
          < {HASH_SAMPLE_PERMILLE}) AS keep
  FROM documents)
SELECT source, count(*) AS total,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS kept,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS rate
FROM k GROUP BY source ORDER BY source
"""


# ---------------------------------------------- temperature_sweep

SWEEP_TAUS = [0.5, 0.7, 1.0]


def temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-temperature sweep (the table a data-mixture review
    compares before pinning epoch_plan's single alpha): per
    (tau, source), the temperature share c^tau / sum(c^tau) and the
    implied epochs at the fixed token budget. One grouped token
    count, a 3-literal explode, per-tau denominators joined back as
    a broadcast (3 rows)."""
    from parquet_generator_spark.operators import text as tx

    docs = load_table(spark, "documents", sf_dir)
    per = (docs.groupBy("source")
           .agg(F.sum(F.expr(f"size({tx.toks_spark('text')})"))
                .cast("long").alias("n_tokens")))
    taus = F.array(*[F.lit(t) for t in SWEEP_TAUS])
    sw = (per.select("source", "n_tokens",
                     F.explode(taus).alias("tau"))
          .withColumn("w", F.pow(F.col("n_tokens").cast("double"),
                                 F.col("tau"))))
    sums = sw.groupBy("tau").agg(F.sum("w").alias("w_sum"))
    alloc = F.floor(F.lit(EPOCH_BUDGET) * F.col("w")
                    / F.col("w_sum"))
    return (sw.join(F.broadcast(sums), "tau")
            .select("tau", "source", "n_tokens",
                    F.round(F.col("w") / F.col("w_sum"), 6)
                    .alias("share"),
                    F.round(alloc / F.col("n_tokens"), 4)
                    .alias("epochs"))
            .orderBy("tau", "source"))


def _temperature_sweep_oracle() -> str:
    from parquet_generator_spark.operators import text as tx

    lits = ", ".join(repr(t) for t in SWEEP_TAUS)
    return f"""
WITH per AS (
  SELECT source,
         CAST(sum(len({tx.toks_duck('text')})) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source),
sw AS (
  SELECT source, n_tokens, unnest([{lits}]::DOUBLE[]) AS tau
  FROM per),
sw2 AS (
  SELECT source, n_tokens, tau,
         pow(CAST(n_tokens AS DOUBLE), tau) AS w
  FROM sw),
sums AS (SELECT tau, sum(w) AS w_sum FROM sw2 GROUP BY tau)
SELECT sw2.tau, source, n_tokens,
       round(w / w_sum, 6) AS share,
       round(floor({EPOCH_BUDGET} * w / w_sum) / n_tokens, 4)
         AS epochs
FROM sw2 JOIN sums ON sw2.tau = sums.tau
ORDER BY sw2.tau, source
"""


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


# --------------------------------------------- chat_template_pack

def chat_template_pack(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """SFT data prep: render per-user event sequences as multi-turn
    chat-template text (``<|role|>content<|end|>`` segments,
    user/assistant alternating by turn index) and account the
    LOSS-MASK split — assistant-segment characters are the trained
    tokens, everything else is masked. Reports, per conversation
    length, the mask economics a fine-tuning run budgets from:
    conversations, mean rendered length, mean trainable ratio.

    Spark-first: one row_number window keyed by the conversation id
    (the same shuffle any per-conversation op pays), segments
    rendered per-row in codegen, two grouped passes — no collect_list
    of whole conversations on the driver, no UDF. At 100 TB the
    render is a scan-stage map and the only wide exchange is the
    conversation-key shuffle."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = F.concat(
        F.lit("<|"),
        F.when((F.row_number().over(w) - 1) % 2 == 0, "user")
        .otherwise("assistant").alias("role"),
        F.lit("|>"), F.col("event_type"), F.lit("#"),
        F.col("event_id").cast("string"), F.lit("<|end|>"))
    role_is_asst = ((F.row_number().over(w) - 1) % 2 == 1)
    turns = ev.select(
        "user_id", F.length(seg).alias("seg_len"),
        F.when(role_is_asst, F.length(seg))
        .otherwise(F.lit(0)).alias("asst_len"))
    conv = (turns.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.sum("seg_len").alias("chars"),
                 F.sum("asst_len").alias("asst_chars")))
    return (conv.groupBy("n_turns")
            .agg(F.count(F.lit(1)).alias("conversations"),
                 F.round(F.avg("chars"), 4).alias("avg_chars"),
                 F.round(F.avg(F.col("asst_chars").cast("double")
                               / F.col("chars")), 4)
                 .alias("avg_trainable_ratio"))
            .orderBy("n_turns"))


CHAT_TEMPLATE_PACK_ORACLE = """
WITH t AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS ti,
         '<|' || CASE WHEN (row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1) % 2 = 0
                      THEN 'user' ELSE 'assistant' END
         || '|>' || event_type || '#' || CAST(event_id AS VARCHAR)
         || '<|end|>' AS seg
  FROM events),
conv AS (
  SELECT user_id, count(*) AS n_turns,
         sum(length(seg)) AS chars,
         sum(CASE WHEN ti % 2 = 1 THEN length(seg) ELSE 0 END)
           AS asst_chars
  FROM t GROUP BY user_id)
SELECT CAST(n_turns AS BIGINT) AS n_turns,
       count(*) AS conversations,
       round(avg(chars), 4) AS avg_chars,
       round(avg(CAST(asst_chars AS DOUBLE) / chars), 4)
         AS avg_trainable_ratio
FROM conv GROUP BY n_turns ORDER BY n_turns
"""


QUERIES = {
    "decontaminate": decontaminate,
    "doc_chunks": doc_chunks,
    "corpus_prep_pipeline": corpus_prep_pipeline,
    "stratified_sample": stratified_sample,
    "seq_packing": seq_packing,
    "source_temperature_sample": source_temperature_sample,
    "source_overlap": source_overlap,
    "data_mixture_report": data_mixture_report,
    "table_profile": table_profile,
    "table_profile_approx": table_profile_approx,
    "gini_source_balance": gini_source_balance,
    "js_divergence_sources": js_divergence_sources,
    "url_domain_stats": url_domain_stats,
    "lang_source_chi2": lang_source_chi2,
    "source_ngram_overlap": source_ngram_overlap,
    "k_anonymity_audit": k_anonymity_audit,
    "corpus_data_card": corpus_data_card,
    "domain_cap_sample": domain_cap_sample,
    "epoch_plan": epoch_plan,
    "decontaminate_bloom": decontaminate_bloom,
    "changelog_apply": changelog_apply,
    "context_window_fill": context_window_fill,
    "hash_sample": hash_sample,
    "temperature_sweep": temperature_sweep,
    "dsir_importance_weights": dsir_importance_weights,
    "chat_template_pack": chat_template_pack,
}


ORACLES = {
    "decontaminate": DECONTAMINATE_ORACLE,
    "doc_chunks": DOC_CHUNKS_ORACLE,
    "corpus_prep_pipeline": CORPUS_PREP_ORACLE,
    "stratified_sample": STRATIFIED_ORACLE,
    "seq_packing": SEQ_PACKING_ORACLE,
    "source_temperature_sample": SOURCE_TEMPERATURE_ORACLE,
    "source_overlap": SOURCE_OVERLAP_ORACLE,
    "data_mixture_report": DATA_MIXTURE_REPORT_ORACLE,
    "table_profile": TABLE_PROFILE_ORACLE,
    "table_profile_approx": TABLE_PROFILE_APPROX_ORACLE,
    "gini_source_balance": GINI_SOURCE_BALANCE_ORACLE,
    "js_divergence_sources": JS_DIVERGENCE_ORACLE,
    "url_domain_stats": _url_domain_oracle(),
    "lang_source_chi2": LANG_SOURCE_CHI2_ORACLE,
    "source_ngram_overlap": SOURCE_NGRAM_OVERLAP_ORACLE,
    "k_anonymity_audit": K_ANONYMITY_AUDIT_ORACLE,
    "corpus_data_card": CORPUS_DATA_CARD_ORACLE,
    "domain_cap_sample": DOMAIN_CAP_ORACLE,
    "epoch_plan": _epoch_plan_oracle(),
    "decontaminate_bloom": _bloom_oracle(),
    "changelog_apply": CHANGELOG_APPLY_ORACLE,
    "context_window_fill": CONTEXT_WINDOW_FILL_ORACLE,
    "hash_sample": HASH_SAMPLE_ORACLE,
    "temperature_sweep": _temperature_sweep_oracle(),
    "dsir_importance_weights": DSIR_IMPORTANCE_WEIGHTS_ORACLE,
    "chat_template_pack": CHAT_TEMPLATE_PACK_ORACLE,
}
