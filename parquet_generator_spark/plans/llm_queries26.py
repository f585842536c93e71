"""LLM-pipeline twenty-sixth tranche: Gopher char-coverage
repetition signals, consecutive-token repetition runs, the
incremental ANN index append as a driver-verified key, and CDC
changelog compaction.

Reference parity: Gopher/MassiveText repetition filters (Rae et al.
2021, table A1) and the CDC last-write-wins compaction every
Delta/Hudi/Iceberg-style pipeline runs; the reference repo
(liujiawinds/parquet-generator) is an ETL tool — these generalize
the curation ops its corpus consumers run.

Scale notes:
- gopher_repetition: one explode per corpus (all four n-gram sizes
  tagged into a single array before the explode), groupBy with
  map-side combine on (doc, n, gram), two bounded reduction layers,
  one co-partitioned doc_id join to re-attach gram-less docs. No
  windows, no Python. The per-doc state is a handful of longs.
- repetition_runs: the islands trick — row_number windows
  partitioned by (doc_id, token), never unpartitioned; everything
  after the explode is integer arithmetic.
- ann_ivfpq_appended: train on the head slice, commit, encode ONLY
  the tail batch with the STORED quantizers (no retrain — the
  incremental ingest path at 100 TB), serve from the merged codes
  snapshot. The full-corpus oracle is valid because the head slice
  contains the smallest-id rows the reproducible quantizer
  construction uses — training on base vs full corpus yields
  IDENTICAL centroids/codebooks, so append-then-serve must equal
  the one-shot build (also pinned in tests/test_ann_index.py).
- changelog_apply: one window pass partitioned by the changelog
  key; at 100 TB this is the standard merge-on-read compaction
  shape (shuffle on key, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


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


# -------------------------------------------- ann_ivfpq_appended

def ann_ivfpq_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index ingest, served: train the IVF-PQ artifact
    on the head ~75% of the corpus (which contains the smallest-id
    rows the reproducible quantizer construction uses, so the
    quantizers equal the full-corpus build's), append the tail batch
    through `append_ivfpq_batch` — encoded with the STORED
    quantizers, no retrain — and serve the same literal query from
    the merged codes snapshot. Value-identical to `ann_ivfpq`; the
    oracle is the full from-corpus rebuild."""
    from parquet_generator_spark.operators import ann_index
    from parquet_generator_spark.plans.llm_queries15 import PQ_K, PQ_M
    from parquet_generator_spark.plans.llm_queries24 import (
        IVFPQ_CELLS,
        IVFPQ_PROBE,
        IVFPQ_QUERY,
        IVFPQ_TOPK,
    )
    from parquet_generator_spark.sinks import stores

    def build(root: str) -> None:
        emb = load_table(spark, "embeddings", sf_dir)
        cnt = emb.count()
        k = max(PQ_K, IVFPQ_CELLS, (3 * cnt) // 4)
        # eager: a store build, run once per source fingerprint
        cut = (emb.orderBy("vec_id").limit(int(k))
               .agg(F.max("vec_id")).collect()[0][0])
        base = emb.filter(F.col("vec_id") <= cut)
        batch = emb.filter(F.col("vec_id") > cut)
        ann_index.train_ivfpq_index(
            spark, base, root, n_cells=IVFPQ_CELLS, n_sub=PQ_M,
            n_codes=PQ_K)
        if batch.limit(1).count():
            ann_index.append_ivfpq_batch(spark, root, batch)

    root = stores.ensure("ivfpq_index_appended", sf_dir,
                         ["embeddings.parquet"], build, tag="appended")
    return ann_index.serve_ivfpq(spark, root, IVFPQ_QUERY,
                                 IVFPQ_TOPK, n_probe=IVFPQ_PROBE)


def _appended_oracle() -> str:
    from parquet_generator_spark.plans.llm_queries24 import (
        _ivfpq_oracle,
    )

    return _ivfpq_oracle()


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
    from parquet_generator_spark.operators import text as tx

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
    from parquet_generator_spark.operators import text as tx

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
    from parquet_generator_spark.plans.llm_queries24 import (
        EPOCH_BUDGET,
    )

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
    from parquet_generator_spark.plans.llm_queries24 import (
        EPOCH_BUDGET,
    )

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


QUERIES.update({
    "gopher_repetition": gopher_repetition,
    "repetition_runs": repetition_runs,
    "ann_ivfpq_appended": ann_ivfpq_appended,
    "changelog_apply": changelog_apply,
    "context_window_fill": context_window_fill,
    "hash_sample": hash_sample,
    "quality_prune_curve": quality_prune_curve,
    "temperature_sweep": temperature_sweep,
})
ORACLES.update({
    "gopher_repetition": _gopher_repetition_oracle(),
    "repetition_runs": REPETITION_RUNS_ORACLE,
    "ann_ivfpq_appended": _appended_oracle(),
    "changelog_apply": CHANGELOG_APPLY_ORACLE,
    "context_window_fill": CONTEXT_WINDOW_FILL_ORACLE,
    "hash_sample": HASH_SAMPLE_ORACLE,
    "quality_prune_curve": _quality_prune_oracle(),
    "temperature_sweep": _temperature_sweep_oracle(),
})
