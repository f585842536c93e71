"""Deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding and span dedup; near-duplicate clusters and graph keys; and
the sweeps and error estimates that tune them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache, dedup, similarity
from parquet_generator_spark.operators import text as tx
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
from parquet_generator_spark.sources.catalog import load_table


# LLM-training-data pipeline queries (SURVEY.md §2.4) with DuckDB
# oracles, over the documents/embeddings tables.


JACCARD_THRESHOLD = 0.5
EMB_DUP_THRESHOLD = 0.3


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
    dedup_embedding_lsh_hi and SCALE.md for the
    re-tuned production regime."""
    emb = load_table(spark, "embeddings", sf_dir)
    planes = similarity.make_hyperplanes(64, 16, seed=7)
    return similarity.embedding_dup_pairs_lsh(
        emb, EMB_DUP_THRESHOLD, planes, EMB_LSH_BANDS)


DEDUP_EMBEDDING_LSH_ORACLE = similarity.embedding_dup_pairs_lsh_duck_sql(
    "embeddings", EMB_DUP_THRESHOLD,
    similarity.make_hyperplanes(64, 16, seed=7), EMB_LSH_BANDS)


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


# Near-dup cluster assignment (connected components), corpus n-gram
# stats, pattern scrubbing (the PII-redaction shape), and the end-to-end
# quality-filter pipeline that strings dedup + language-ID + quality
# scoring into one kept-corpus report.


# --- near-dup cluster assignment ------------------------------------

def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's near-dup cluster id (min doc_id reachable via
    jaccard >= 0.5 pairs; singletons cluster to themselves).

    Pairs come from MinHash-LSH (verified-exact at this threshold —
    see dedup_minhash); components via distributed min-label
    propagation. The corpus only pays one left join at the end.
    """
    docs = load_table(spark, "documents", sf_dir)
    pairs = near_dup_edges(spark, sf_dir)
    cc = dedup.connected_components(pairs)
    return (docs.join(cc, docs["doc_id"] == cc["id"], "left")
            .select("doc_id",
                    F.coalesce("cluster", "doc_id").alias("cluster_id"))
            .orderBy("doc_id"))


_PAIRS_CTE = dedup.jaccard_pairs_duck_sql(
    "documents", "doc_id", "text", JACCARD_THRESHOLD).strip().rstrip()

DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE jp AS ({_PAIRS_CTE}),
e AS (SELECT id_a AS a, id_b AS b FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
lab AS (SELECT a AS id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a)
SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
ORDER BY d.doc_id
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
    cand = cache.checkpoint(embedding_dup_pairs(emb, SEM_THRESHOLD))
    cand_ids = (cand.select(F.col("id_a").alias("doc_id"))
                .union(cand.select(F.col("id_b").alias("doc_id")))
                .distinct())
    sh = cache.checkpoint(
        docs.join(cand_ids, "doc_id", "left_semi")
        .select(F.col("doc_id"),
                F.expr(shingles_spark("text", 3)).alias("sh")))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", "cos",
                    dedup.jaccard("sh_a", "sh_b").alias("jaccard"))
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


# The production-ingest loop and its reporting — incremental
# new-batch-vs-corpus dedup, canonical-copy selection, power-iteration
# PCA, the data-mixture card, hashing-trick retrieval, an ingest-time
# table profiler, and per-source quantile score normalization.


INC_TAU = 0.5


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify an INCOMING batch (odd doc_ids) against the existing
    CORPUS (even doc_ids): exact_dup (content hash already indexed,
    one semi-join on md5), near_dup (MinHash banding between the two
    sides only — `dedup.classify_cross`, never corpus x corpus), else
    new. Exact wins over near. The incremental shape is
    what a streaming/batch ingest runs every cycle: the corpus side's
    signatures would be precomputed and persisted; here both sides
    run through the one signature pass."""
    docs = load_table(spark, "documents", sf_dir)
    sided = docs.withColumn("side", (F.col("doc_id") % 2).cast("int"))
    return (dedup.classify_cross(sided, "doc_id", "text", "side", INC_TAU)
            .select(F.col("id").alias("doc_id"), "status")
            .orderBy("doc_id"))


_CROSS_SQL = dedup.minhash_cross_duck_sql(
    "documents", "doc_id", "text", "CAST(doc_id % 2 AS INT)", INC_TAU)

INCREMENTAL_DEDUP_ORACLE = f"""
WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
ex AS (SELECT DISTINCT i.doc_id
       FROM inc i JOIN corp c ON md5(i.text) = md5(c.text)),
near AS (SELECT DISTINCT id_in AS doc_id FROM ({_CROSS_SQL}) p)
SELECT i.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM inc i
LEFT JOIN ex e ON i.doc_id = e.doc_id
LEFT JOIN near n ON i.doc_id = n.doc_id
ORDER BY i.doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection for exact-duplicate groups: one
    groupBy on the content hash with a max_by((n_chars, -doc_id))
    aggregate — keep the longest copy, smallest doc_id on ties. No
    window, no second scan; output is one row per distinct content."""
    docs = load_table(spark, "documents", sf_dir)
    return (docs.groupBy(F.md5("text").alias("h"))
            .agg(F.expr("max_by(doc_id, struct(n_chars, -doc_id))")
                 .alias("doc_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("doc_id", "n_copies")
            .orderBy("doc_id"))


DEDUP_KEEP_BEST_ORACLE = """
WITH r AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS n_copies
  FROM documents)
SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies
FROM r WHERE rn = 1 ORDER BY doc_id
"""


PAGERANK_TOP = 20


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash near-dup graph: which
    documents sit at the center of duplication clusters (the ones a
    curation pass should inspect first). Edge generation is the
    bucketed MinHash pipeline; the rank iteration is 3 rounds of
    equi-join + keyed aggregation with node-cardinality state — see
    operators.graph.pagerank."""
    from parquet_generator_spark.operators import graph
    pairs = near_dup_edges(spark, sf_dir).select("id_a", "id_b")
    pr = graph.pagerank(pairs)
    return (pr.select("id", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("id"))
            .limit(PAGERANK_TOP))


def _pagerank_oracle() -> str:
    from parquet_generator_spark.operators.graph import pagerank_duck_sql
    edges = dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD)
    return pagerank_duck_sql(edges, top=PAGERANK_TOP)


DEDUP_PAGERANK_ORACLE = _pagerank_oracle()


CONTAIN_TAU = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: pairs where the smaller document's
    shingles are >= 90% contained in the larger's — the quote/
    inclusion case Jaccard-based near-dup misses. See
    dedup.containment_pairs for the prefix-filtered inverted-index
    plan and the stopword-shingle df cap (skipped, mirrored in the
    DuckDB oracle)."""
    docs = load_table(spark, "documents", sf_dir)
    return (dedup.containment_pairs(docs, "doc_id", "text",
                                    CONTAIN_TAU)
            .orderBy("id_small", "id_big"))


DEDUP_CONTAINMENT_ORACLE = dedup.containment_pairs_duck_sql(
    "documents", "doc_id", "text", CONTAIN_TAU)


def simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-health QA: the set-rate of each of the 60 SimHash
    bits across the corpus — a healthy hash sits near 0.5 everywhere;
    a skewed bit weakens the hamming-band guarantee. One signature
    pass (the same batch vote, ``simhash_vote``, the dedup path
    uses) + a map-side bit explode; output is 60 bounded rows with an
    in-balance boolean so the gate pins health, not noise."""
    docs = load_table(spark, "documents", sf_dir)
    sig = docs.select(dedup.simhash_spark("text").alias("sig"))
    bits = sig.select(F.explode(F.expr(
        "transform(sequence(0, 59), "
        "b -> struct(b AS bit, CAST(shiftright(sig, b) % 2 AS LONG) "
        "AS v))")).alias("p")).select("p.*")
    per = (bits.groupBy("bit")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("n_set")))
    return (per.select(
        "bit",
        F.round(F.col("n_set") / F.col("n"), 4).alias("set_rate"),
        ((F.col("n_set") / F.col("n") >= 0.2)
         & (F.col("n_set") / F.col("n") <= 0.8)).alias("balanced"))
        .orderBy("bit"))


def _simhash_bit_balance_oracle() -> str:
    sig = dedup.simhash_duck("text")
    return f"""
WITH s AS (SELECT {sig} AS sig FROM documents),
bits AS (
  SELECT b.b AS bit, (s.sig >> b.b) % 2 AS v
  FROM s, (SELECT unnest(range(60)) AS b) b)
SELECT bit, round(sum(v) / CAST(count(*) AS DOUBLE), 4) AS set_rate,
       (sum(v) / CAST(count(*) AS DOUBLE)) BETWEEN 0.2 AND 0.8
         AS balanced
FROM bits GROUP BY bit ORDER BY bit
"""


# Dial-tuning sweeps — the near-dup threshold sweep and the IVF
# probe/recall curve. Both turn a "what should this knob be?" question
# into ONE query whose expensive stage runs once.
#
# Scale posture: the threshold sweep reuses the shared near-dup edge
# stage (one signature+banding+verify pass at the loosest threshold,
# then pure aggregation); the recall curve runs the corpus-scan
# kernels once per probe setting over the bounded query set and joins
# on the (query, neighbor) key — query-cardinality frames throughout.


SWEEP_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Near-dup pair counts at every candidate threshold from ONE
    verified pair pass: the banding runs at the loosest tau (0.5,
    where 64x2 banding recall is ~1), and each tighter threshold is
    a pure filter over the exact-Jaccard-verified pairs — the curve
    a dedup rollout reads to pick its operating point without
    re-running the pipeline per setting."""
    pairs = near_dup_edges(spark, sf_dir)
    taus = F.array(*[F.lit(t) for t in SWEEP_TAUS])
    return (pairs.select(F.explode(taus).alias("threshold"), "jaccard")
            .filter(F.col("jaccard") >= F.col("threshold"))
            .groupBy("threshold")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("threshold"))


def _sweep_oracle() -> str:
    pairs = dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD).strip()
    taus = ", ".join(repr(t) for t in SWEEP_TAUS)
    return f"""
WITH pairs AS ({pairs}),
sweep AS (SELECT t.t AS threshold, p.jaccard
          FROM pairs p, unnest([{taus}]) t(t)
          WHERE p.jaccard >= t.t)
SELECT threshold, count(*) AS n_pairs
FROM sweep GROUP BY threshold ORDER BY threshold
"""


# Clustering-quality evaluation — external cluster validity (purity +
# normalized mutual information of embedding cells vs true labels) and
# the near-dup cluster-size distribution (the shape report a dedup
# rollout reads before deciding keep-one-per-cluster policy).
#
# Scale posture: purity/NMI reduce a (cells x labels)-cardinality
# contingency table (bounded, not data-scale) built from one narrow
# cell-assignment map + one grouped pass; the size distribution rides
# the shared near-dup edge stage and the existing CC operator, then
# aggregates cluster-cardinality rows.


PURITY_CELLS = 8


def cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External validity of the embedding-space cells against the
    true labels: purity (fraction of vectors whose cell's majority
    label is theirs) and NMI (mutual information normalized by
    sqrt(H(cell) * H(label)), in bits). Cell = nearest of the
    smallest-id coarse centroids (the oracle-reproducible quantizer
    ann_ivf uses); every statistic reduces the bounded contingency
    table, with the total as a scalar subquery."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = similarity.make_centroids_from_corpus(emb, PURITY_CELLS)
    assign = (similarity.ivf_assign_cells(emb, cents, 1)
              .select("vec_id", "cell"))
    labeled = assign.join(emb.select("vec_id", "label"), "vec_id")
    cnt = cache.checkpoint(  # bounded: cells x labels rows
        labeled.groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n")))
    per_cell = cnt.groupBy("cell").agg(F.sum("n").alias("nc"))
    per_label = cnt.groupBy("label").agg(F.sum("n").alias("nl"))
    tot = cnt.agg(F.sum("n").cast("double").alias("n_total"))
    n_total = F.col("n_total")
    one = (cnt.groupBy("cell").agg(F.max("n").alias("mx"))
           .agg(F.sum("mx").alias("mx")))
    mi = (broadcast_scalars(cnt, tot).join(F.broadcast(per_cell), "cell")
          .join(F.broadcast(per_label), "label")
          .agg(F.sum((F.col("n") / n_total)
                     * F.log2(F.col("n") * n_total
                              / (F.col("nc") * F.col("nl"))))
               .alias("mi")))
    hc = broadcast_scalars(per_cell, tot).agg(
        (-F.sum((F.col("nc") / n_total)
                * F.log2(F.col("nc") / n_total))).alias("hc"))
    hl = broadcast_scalars(per_label, tot).agg(
        (-F.sum((F.col("nl") / n_total)
                * F.log2(F.col("nl") / n_total))).alias("hl"))
    for part in (tot, mi, hc, hl):
        one = broadcast_scalars(one, part)
    return one.select(
        F.lit(PURITY_CELLS).alias("n_cells"),
        F.round(F.col("mx") / n_total, 4).alias("purity"),
        F.round(F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")), 4)
        .alias("nmi"))


CLUSTER_PURITY_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
  FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT {PURITY_CELLS})),
sims AS (
  SELECT v.vec_id, v.label, cent.cell,
         list_dot_product(v.e, cent.ce)
           / sqrt(list_dot_product(v.e, v.e)) AS sim
  FROM v CROSS JOIN cent),
asg AS (
  SELECT vec_id, label, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell ASC) AS pr
    FROM sims) WHERE pr = 1),
cnt AS (SELECT cell, label, count(*) AS n FROM asg GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM cnt),
pc AS (SELECT cell, CAST(sum(n) AS DOUBLE) AS nc FROM cnt GROUP BY 1),
pl AS (SELECT label, CAST(sum(n) AS DOUBLE) AS nl FROM cnt GROUP BY 1),
pur AS (SELECT sum(mx) / min(t.nt) AS purity
        FROM (SELECT cell, max(n) AS mx FROM cnt GROUP BY cell), tot t),
mi AS (SELECT sum((c.n / t.nt)
                  * log2(c.n * t.nt / (pc.nc * pl.nl))) AS mi
       FROM cnt c JOIN pc USING (cell) JOIN pl USING (label), tot t),
hc AS (SELECT -sum((nc / t.nt) * log2(nc / t.nt)) AS hc FROM pc, tot t),
hl AS (SELECT -sum((nl / t.nt) * log2(nl / t.nt)) AS hl FROM pl, tot t)
SELECT {PURITY_CELLS} AS n_cells,
       round(pur.purity, 4) AS purity,
       round(mi.mi / sqrt(hc.hc * hl.hl), 4) AS nmi
FROM pur, mi, hc, hl
"""


def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Near-dup cluster-size distribution: how many clusters of each
    size the corpus contains and how many documents each size class
    would delete under keep-one-per-cluster — the report that decides
    whether near-dup removal is worth a corpus rewrite. Rides the
    shared edge stage; singleton docs count as size-1 clusters via
    the total as a plan literal (never joined back to the corpus)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = near_dup_edges(spark, sf_dir)
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    dist = (sizes.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))
    n_docs = docs.count()  # bounded scalar
    in_clusters = cc.count()
    singletons = spark.createDataFrame(
        [(1, n_docs - in_clusters)], "size long, n_clusters long")
    return (dist.unionByName(singletons)
            .groupBy("size")
            .agg(F.sum("n_clusters").alias("n_clusters"))
            .filter(F.col("n_clusters") > 0)
            .select("size", "n_clusters",
                    ((F.col("size") - 1) * F.col("n_clusters"))
                    .alias("docs_removed"))
            .orderBy("size"))


def _size_dist_oracle() -> str:
    pairs = dedup.jaccard_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD).strip()
    return f"""
WITH RECURSIVE jp AS ({pairs}),
e AS (SELECT id_a AS a, id_b AS b FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
lab AS (SELECT a AS id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a),
sizes AS (SELECT cluster, count(*) AS size FROM lab GROUP BY cluster),
dist AS (SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size
         UNION ALL
         SELECT 1, (SELECT count(*) FROM documents)
                   - (SELECT count(*) FROM lab))
SELECT size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
       CAST((size - 1) * sum(n_clusters) AS BIGINT) AS docs_removed
FROM dist GROUP BY size
HAVING sum(n_clusters) > 0
ORDER BY size
"""


# Maximal-span exact substring dedup.
#
# `span_dedup` implements the fixed-K-window variant of
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better"): which K-token windows occur >= 2 times corpus-wide. The
# suffix-array formulation the dedup literature ships at corpus scale
# reports the LONGEST duplicated span instead. This query closes that
# gap at the span-merge level: every duplicated K-window is an interval
# [i, i+K) of token positions; duplicated windows whose intervals
# OVERLAP (offset gap < K) merge into islands (gaps-and-islands via a
# lagged new-island flag + running sum), and an island spanning
# offsets [first, last] is a maximal duplicated span of
# last - first + K tokens — exactly the union of its windows, and
# islands' intervals are disjoint by construction so the covered-token
# sum never double-counts. Equivalent to the suffix-array answer whenever the true
# longest duplicated substring is >= K tokens (shorter duplicates are
# below the K-token floor by design, as in Lee et al.'s minimum match
# length).
#
# Scale posture: the span explode + (span)-keyed totals are the same
# two keyed shuffles as span_dedup (nothing pairwise — text never
# compares against text); the island window partitions by doc_id
# (keyed, parallel across docs); every downstream frame is
# doc-cardinality.


def maximal_dup_spans(docs: DataFrame) -> DataFrame:
    """Per-document maximal duplicated spans over a (doc_id, text)
    frame: longest duplicated span length (tokens; 0 if none reaches
    the K floor), number of maximal spans (islands), and the total
    tokens covered by duplicated spans (union length,
    double-count-free)."""
    toks = toks_spark("text")
    spans = docs.select(
        F.col("doc_id"),
        F.posexplode(F.expr(
            f"CASE WHEN size({toks}) >= {SPAN_K} THEN "
            f"transform(sequence(0, size({toks}) - {SPAN_K}), "
            f"i -> array_join(slice({toks}, i + 1, {SPAN_K}), ' ')) "
            f"ELSE array() END")).alias("off", "span"))
    # span totals as a WINDOW over the span partition (round 13: this
    # was a self-join of the exploded frame against its own groupBy,
    # which re-ran the tokenize+explode chain twice — the same shape
    # span_dedup shed, guide §2.4: the window computes the identical
    # per-span count on ONE pass sharing the span exchange)
    dup_off = (spans
               .withColumn("total", F.count(F.lit(1)).over(
                   Window.partitionBy("span")))
               .filter(F.col("total") >= 2)
               .select("doc_id", "off"))
    # islands merge on WINDOW OVERLAP, not mere offset adjacency: two
    # duplicated windows at offsets i < j cover overlapping token
    # intervals whenever j - i < K, so they belong to one maximal
    # span. A new island starts only when the gap reaches K — which
    # also makes islands' [min, max + K) intervals disjoint, so the
    # covered-token sum is a true union (never exceeds the doc).
    w = Window.partitionBy("doc_id").orderBy("off")
    new_isl = F.when(
        F.lag("off").over(w).isNull()
        | (F.col("off") - F.lag("off").over(w) >= SPAN_K),
        1).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (dup_off
               .withColumn("isl", F.sum(new_isl).over(wrun))
               .groupBy("doc_id", "isl")
               .agg((F.max("off") - F.min("off") + F.lit(SPAN_K))
                    .alias("span_len")))
    per_doc = (islands.groupBy("doc_id")
               .agg(F.max("span_len").alias("max_dup_span"),
                    F.count(F.lit(1)).alias("n_spans"),
                    F.sum("span_len").alias("dup_tokens")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("max_dup_span", F.lit(0))
                    .cast("long").alias("max_dup_span"),
                    F.coalesce("n_spans", F.lit(0))
                    .cast("long").alias("n_spans"),
                    F.coalesce("dup_tokens", F.lit(0))
                    .cast("long").alias("dup_tokens"))
            .orderBy("doc_id"))


def span_dedup_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    return maximal_dup_spans(docs)


SPAN_DEDUP_MAXIMAL_ORACLE = f"""
WITH t AS (SELECT doc_id, {toks_duck('text')} AS tk FROM documents),
sp AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS off,
         list_aggr(tk[u.i + 1 : u.i + {SPAN_K}], 'string_agg', ' ')
           AS span
  FROM t, unnest(CASE WHEN len(tk) >= {SPAN_K}
                 THEN range(0, len(tk) - {SPAN_K} + 1)
                 ELSE [] END) AS u(i)),
tot AS (SELECT span, count(*) AS total FROM sp GROUP BY span),
dup AS (
  SELECT s.doc_id, s.off FROM sp s JOIN tot USING (span)
  WHERE tot.total >= 2),
flagged AS (
  SELECT doc_id, off,
         CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY off)
                   IS NULL
              OR off - lag(off) OVER (PARTITION BY doc_id
                                      ORDER BY off) >= {SPAN_K}
              THEN 1 ELSE 0 END AS new_isl
  FROM dup),
isl AS (
  SELECT doc_id, off,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY off
                            ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged),
runs AS (
  SELECT doc_id, grp,
         max(off) - min(off) + {SPAN_K} AS span_len
  FROM isl GROUP BY doc_id, grp),
agg AS (
  SELECT doc_id,
         CAST(max(span_len) AS BIGINT) AS max_dup_span,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_len) AS BIGINT) AS dup_tokens
  FROM runs GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.max_dup_span, 0) AS max_dup_span,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.dup_tokens, 0) AS dup_tokens
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


# Evaluation and calibration operators — k-NN confusion matrix, MinHash
# estimator calibration, per-source winsorized robust stats, charset
# profiling, and the pairwise Jensen-Shannon source-divergence matrix.
#
# Scale posture: everything is grouped aggregates and key-cardinality
# joins; the JS matrix shuffles on the token key (a token in k sources
# contributes k^2 bounded pair rows, never a doc-level cross join);
# the calibration queries ride the shared near-dup edge stage.


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
    sig = dedup.minhash_stage(docs.select(
        F.col("doc_id").alias("id"),
        F.expr(shingles_spark_inline("text", 3)).alias("sh")))
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
    pairs_sql = dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD).strip()
    return f"""
WITH pairs AS ({pairs_sql}),
d AS (SELECT doc_id AS id, {shingles_duck('text', 3)} AS sh
      FROM documents),
{dedup.sig_ctes_duck(keep_sh=False)},
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


# ------------------------------------------- dedup_embedding_lsh_hi
# The production near-dup regime. The 0.3-threshold twin
# (dedup_embedding_lsh) is OUTPUT-bound: on this corpus ~0.7% of all
# cross pairs clear cos>=0.3, so the result set itself grows
# quadratically and banding cannot beat the exact GEMM (at p=0.6 per
# sign bit, b*n^2/2^r >= n^2/2 for every (r, b) with usable recall).
# Real near-dups sit at cos>=0.95 (p~0.95+ per bit), where 8-bit
# bands give 256 buckets/band: GEMM work drops to 8*n^2/256 = n^2/32
# vs n^2/2 exact (16x), recall ~1 for true dups. Measured at sf1 in
# SCALE.md. Twins are planted IN-QUERY with a deterministic LCG
# perturbation (pure int64/double arithmetic, identical in Spark and
# DuckDB), so the entry returns real rows at every SF.

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2147483648
_TWIN_EPS = 0.06          # +/-3% multiplicative => cos ~ 0.9995
_TWIN_OFFSET = 1_000_000
HI_THRESHOLD = 0.95


def _twin_factor(x_expr: str) -> str:
    """Engine-neutral U(-0.5, 0.5) from an int64 index expression."""
    h = f"({_LCG_A} * ({x_expr}) + {_LCG_C}) % {_LCG_M}"
    return (f"(1.0 + ((CAST({h} AS DOUBLE) / {_LCG_M}.0) - 0.5)"
            f" * {_TWIN_EPS})")


def dedup_embedding_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-regime embedding near-dup: corpus = originals +
    deterministically perturbed twins, banded hyperplane LSH at
    cos>=0.95 with 8 bands x 8 bits (the tuned scale configuration),
    exact-cosine verified. Every original/twin pair (cos ~ 0.9995)
    must survive banding; random cross pairs (cos < 0.5 on this
    corpus) never reach the verify stage."""
    emb = load_table(spark, "embeddings", sf_dir)
    orig = emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
        .alias("embedding"))
    twin = emb.select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"),
        F.expr(
            "transform(embedding, (v, i) -> CAST(v AS DOUBLE) * "
            + _twin_factor("vec_id * 64 + i") + ")").alias("embedding"))
    corpus = orig.unionAll(twin)
    planes = similarity.make_hyperplanes(64, 64, seed=9)
    return similarity.embedding_dup_pairs_lsh(
        corpus, HI_THRESHOLD, planes, 8)


def _lsh_hi_oracle() -> str:
    planes = similarity.make_hyperplanes(64, 64, seed=9)
    factor = _twin_factor(f"vec_id * 64 + (i - 1)")
    corpus = (
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding "
        "FROM embeddings "
        "UNION ALL "
        f"SELECT vec_id + {_TWIN_OFFSET} AS vec_id, "
        "list_transform(range(1, 65), i -> embedding[i] * "
        + factor + ") AS embedding FROM embeddings)")
    return similarity.embedding_dup_pairs_lsh_duck_sql(
        corpus, HI_THRESHOLD, planes, 8)


# --------------------------------------------------- lsh_bands_planner

BANDS_GRID = [(128, 1), (64, 2), (32, 4), (16, 8), (8, 16)]
PLANNER_MAX_ID = 200      # bounded, deterministic calibration sample
PLANNER_T = 0.5           # the near-dup threshold being tuned for


def lsh_bands_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven MinHash banding tuner: for each (bands, rows)
    split of a 128-perm signature, the expected candidate load and
    the recall at the target threshold, computed against the
    OBSERVED pair-similarity distribution of a bounded calibration
    sample (exact k-shingle Jaccard over docs with id <= 200 —
    constant cost regardless of corpus size). P(candidate | s) =
    1-(1-s^r)^b; summing it over observed sims prices each dial
    setting in actual pairs rather than textbook curves. Emits
    per-config: expected candidate pairs, recall over true pairs
    (s >= T), and the false-candidate rate. The exact-jaccard
    kernel over the bounded sample is deliberately pairwise
    (PAIRWISE_KERNELS allow-list, like ivf_recall_curve) — its cost
    is a constant set by PLANNER_MAX_ID, not the corpus."""
    docs = (load_table(spark, "documents", sf_dir)
            .filter(F.col("doc_id") <= PLANNER_MAX_ID))
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", 0.0)
    # the (b, r) grid is a CONSTANT: explode a literal struct array
    # instead of cross-joining a grid frame (no nested-loop join in
    # the plan; the fan-out is len(BANDS_GRID) per pair)
    grid = F.explode(F.array(*[
        F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
        for b, r in BANDS_GRID]))
    j = F.col("jaccard")
    p = F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(j, F.col("r")),
                           F.col("b"))
    x = (pairs.select("jaccard", grid.alias("g"))
         .select("jaccard", "g.b", "g.r"))
    true_pair = (j >= PLANNER_T).cast("int")
    return (x.groupBy("b", "r")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(true_pair.cast("long")).alias("n_true"),
                 F.round(F.sum(p), 3).alias("expected_candidates"),
                 # try_divide: a calibration sample with no true
                 # pairs at T (data-dependent) reports NULL recall
                 # instead of failing under ANSI mode — the oracle
                 # mirrors with an explicit zero-divisor CASE
                 F.round(F.try_divide(
                     F.sum(p * true_pair),
                     F.sum(true_pair.cast("double"))), 4)
                 .alias("recall_at_t"),
                 F.round(F.try_divide(
                     F.sum(p * (1 - true_pair)),
                     F.sum((1 - true_pair).cast("double"))), 6)
                 .alias("false_cand_rate"))
            .orderBy("r"))


def _bands_planner_oracle() -> str:
    sh = tx.shingles_duck("text", 3)
    grid = ", ".join(f"({b}, {r})" for b, r in BANDS_GRID)
    return f"""
WITH s AS (
  SELECT doc_id AS id, {sh} AS sh FROM documents
  WHERE doc_id <= {PLANNER_MAX_ID}),
p AS (
  SELECT round(CASE WHEN len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh)) > 0
               THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh)))
               ELSE 0.0 END, 3) AS j
  FROM s a, s b WHERE a.id < b.id),
grid(b, r) AS (VALUES {grid}),
x AS (
  SELECT g.b, g.r, p.j,
         1.0 - pow(1.0 - pow(p.j, g.r), g.b) AS pc,
         CASE WHEN p.j >= {PLANNER_T} THEN 1 ELSE 0 END AS tp
  FROM p CROSS JOIN grid g)
SELECT b, r,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(tp) AS BIGINT) AS n_true,
       round(sum(pc), 3) AS expected_candidates,
       round(CASE WHEN sum(tp) = 0 THEN NULL
             ELSE sum(pc * tp) / sum(CAST(tp AS DOUBLE)) END, 4)
         AS recall_at_t,
       round(CASE WHEN sum(1 - tp) = 0 THEN NULL
             ELSE sum(pc * (1 - tp)) / sum(CAST(1 - tp AS DOUBLE))
             END, 6) AS false_cand_rate
FROM x GROUP BY b, r ORDER BY r
"""


# ----------------------------------------------- dedup_edit_distance

_ED_PREFIX = 24      # blocking: first 24 chars must agree exactly
_ED_LEN_BUCKET = 64  # ... and length within the same 64-char bucket
_ED_CMP = 200        # distance evaluated on 200-char prefixes
_ED_MAX = 24         # near-dup threshold


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by Levenshtein distance within blocking
    groups. Block key = (floor(n_chars/64), first 24 chars): near
    dups by edit distance almost always agree on both (a diverging
    prefix already costs its length in edits), so the O(n^2) kernel
    runs per-block, not per-corpus. Distance compares 200-char
    prefixes (constant per-pair cost; a prefix distance <= t lower-
    bounds nothing but IS the standard cheap screen — full-text
    confirmation would run on the surviving pairs). The join is a
    plain equi-join on the block key (AQE broadcasts at test SFs,
    shuffle-hash on blk at corpus scale): at 100 TB it
    hash-partitions by block and never materializes cross-block
    pairs. widen_if_narrow spreads the small-file scan across cores
    (a no-op at real scale); the sf1 checkpoint measured 34s -> ~2s
    from this alone."""
    docs = widen_if_narrow(load_table(spark, "documents", sf_dir))
    d = docs.select(
        "doc_id",
        F.substring("text", 1, _ED_CMP).alias("head"),
        F.concat_ws(
            ":",
            F.floor(F.col("n_chars") / _ED_LEN_BUCKET).cast("string"),
            F.substring("text", 1, _ED_PREFIX)).alias("blk"))
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"),
                    dist.alias("edit_dist"))
            .filter(F.col("edit_dist") <= _ED_MAX)
            .orderBy("a_id", "b_id"))


DEDUP_EDIT_DISTANCE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         substr(text, 1, {_ED_CMP}) AS head,
         CAST(n_chars // {_ED_LEN_BUCKET} AS VARCHAR) || ':' ||
           substr(text, 1, {_ED_PREFIX}) AS blk
  FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       levenshtein(a.head, b.head) AS edit_dist
FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= {_ED_MAX}
ORDER BY a_id, b_id
"""


# --------------------------------------------- url_dedup_normalized

_N_SITES = 40


def _raw_url():
    """Four deterministic variants of one canonical URL per group of
    four docs: clean, Case+trailing-slash, utm-tracking, ref+fragment
    — the exact noise URL canonicalization exists to remove."""
    g = (F.col("doc_id") / 4).cast("long")
    k = (g % _N_SITES).cast("string")
    base = F.concat(F.lit("https://site"), k, F.lit(".example/page/"),
                    g.cast("string"))
    cased = F.concat(F.lit("https://Site"), k, F.lit(".Example/page/"),
                     g.cast("string"), F.lit("/"))
    utm = F.concat(base, F.lit("?utm_source=feed&utm_medium=rss"))
    ref = F.concat(base, F.lit("?ref=tw#frag"))
    v = F.col("doc_id") % 4
    return (F.when(v == 0, base).when(v == 1, cased)
            .when(v == 2, utm).otherwise(ref))


def url_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: lowercase scheme+host, strip the
    fragment, drop tracking params (utm_*, ref), strip the trailing
    slash — then group raw variants by canonical form. Everything is
    regex/string arithmetic in one projection; the only shuffle is
    the groupBy on the canonical key (exactly the dedup shuffle a
    100-TB crawl runs first, before any content hashing)."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select("doc_id", _raw_url().alias("raw"))
    host = F.lower(F.regexp_extract("raw", r"^https?://([^/?#]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract("raw", r"^https?://[^/?#]+([^?#]*)", 1),
        r"/$", "")
    q = F.regexp_extract("raw", r"\?([^#]*)", 1)
    cq = F.regexp_replace(
        F.regexp_replace(q, r"(^|&)(utm_[a-z]+|ref)=[^&]*", ""),
        r"^&", "")
    canon = F.concat(
        F.lit("https://"), host, path,
        F.when(cq != "", F.concat(F.lit("?"), cq)).otherwise(F.lit("")))
    return (raw.select("raw", canon.alias("canonical"))
            .groupBy("canonical")
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.countDistinct("raw").alias("n_distinct_raw"))
            .orderBy("canonical"))


URL_DEDUP_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://site' || CAST((doc_id // 4) % {_N_SITES}
                AS VARCHAR) || '.example/page/'
                || CAST(doc_id // 4 AS VARCHAR)
           WHEN 1 THEN 'https://Site' || CAST((doc_id // 4) % {_N_SITES}
                AS VARCHAR) || '.Example/page/'
                || CAST(doc_id // 4 AS VARCHAR) || '/'
           WHEN 2 THEN 'https://site' || CAST((doc_id // 4) % {_N_SITES}
                AS VARCHAR) || '.example/page/'
                || CAST(doc_id // 4 AS VARCHAR)
                || '?utm_source=feed&utm_medium=rss'
           ELSE 'https://site' || CAST((doc_id // 4) % {_N_SITES}
                AS VARCHAR) || '.example/page/'
                || CAST(doc_id // 4 AS VARCHAR) || '?ref=tw#frag'
         END AS raw
  FROM documents),
norm AS (
  SELECT raw,
         'https://'
         || lower(regexp_extract(raw, '^https?://([^/?#]+)', 1))
         || regexp_replace(
              regexp_extract(raw, '^https?://[^/?#]+([^?#]*)', 1),
              '/$', '')
         || CASE WHEN regexp_replace(regexp_replace(
                   regexp_extract(raw, '\\?([^#]*)', 1),
                   '(^|&)(utm_[a-z]+|ref)=[^&]*', '', 'g'), '^&', '')
                 <> ''
            THEN '?' || regexp_replace(regexp_replace(
                   regexp_extract(raw, '\\?([^#]*)', 1),
                   '(^|&)(utm_[a-z]+|ref)=[^&]*', '', 'g'), '^&', '')
            ELSE '' END AS canonical
  FROM raw)
SELECT canonical,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT raw) AS BIGINT) AS n_distinct_raw
FROM norm GROUP BY canonical ORDER BY canonical
"""


# -------------------------------------------------- dup_rate_by_source

def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication impact — the data-card line a source
    negotiation actually uses: of each source's docs, how many sit
    in a multi-member exact-content group (md5), how many would
    survive keep-one dedup, and the duplicate rate. One hash groupBy
    (the exact-dedup shuffle) re-joined to the doc frame on the
    hash key; all frames stay hash/doc-cardinality, no pairs."""
    docs = load_table(spark, "documents", sf_dir)
    hashed = docs.select("source", F.md5("text").alias("h"))
    groups = (hashed.groupBy("h")
              .agg(F.count(F.lit(1)).alias("gsize")))
    return (hashed.join(groups, "h")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("gsize") > 1, 1).otherwise(0))
                 .cast("long").alias("n_in_dup_groups"),
                 F.countDistinct("h").alias("n_unique_contents"),
                 F.round(F.sum(F.when(F.col("gsize") > 1, 1)
                               .otherwise(0))
                         / F.count(F.lit(1)), 4).alias("dup_rate"))
            .orderBy("source"))


DUP_RATE_BY_SOURCE_ORACLE = """
WITH hashed AS (SELECT source, md5(text) AS h FROM documents),
groups AS (SELECT h, count(*) AS gsize FROM hashed GROUP BY h)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE gsize > 1) AS BIGINT)
         AS n_in_dup_groups,
       CAST(count(DISTINCT hashed.h) AS BIGINT) AS n_unique_contents,
       round(count(*) FILTER (WHERE gsize > 1)
             / CAST(count(*) AS DOUBLE), 4) AS dup_rate
FROM hashed JOIN groups ON hashed.h = groups.h
GROUP BY source ORDER BY source
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "text_fingerprint": text_fingerprint,
    "dedup_clusters": dedup_clusters,
    "semantic_dedup": semantic_dedup,
    "span_dedup": span_dedup,
    "incremental_dedup": incremental_dedup,
    "dedup_keep_best": dedup_keep_best,
    "dedup_pagerank": dedup_pagerank,
    "dedup_containment": dedup_containment,
    "simhash_bit_balance": simhash_bit_balance,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "cluster_purity": cluster_purity,
    "dedup_cluster_size_dist": dedup_cluster_size_dist,
    "span_dedup_maximal": span_dedup_maximal,
    "minhash_estimate_error": minhash_estimate_error,
    "dedup_embedding_lsh_hi": dedup_embedding_lsh_hi,
    "lsh_bands_planner": lsh_bands_planner,
    "dedup_edit_distance": dedup_edit_distance,
    "url_dedup_normalized": url_dedup_normalized,
    "dup_rate_by_source": dup_rate_by_source,
}


ORACLES = {
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_ngram_jaccard": DEDUP_NGRAM_ORACLE,
    "dedup_minhash": dedup.minhash_lsh_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD),
    "dedup_simhash": DEDUP_SIMHASH_ORACLE,
    "dedup_embedding": DEDUP_EMBEDDING_ORACLE,
    "dedup_embedding_lsh": DEDUP_EMBEDDING_LSH_ORACLE,
    "text_fingerprint": TEXT_FINGERPRINT_ORACLE,
    "dedup_clusters": DEDUP_CLUSTERS_ORACLE,
    "semantic_dedup": SEMANTIC_DEDUP_ORACLE,
    "span_dedup": SPAN_DEDUP_ORACLE,
    "incremental_dedup": INCREMENTAL_DEDUP_ORACLE,
    "dedup_keep_best": DEDUP_KEEP_BEST_ORACLE,
    "dedup_pagerank": DEDUP_PAGERANK_ORACLE,
    "dedup_containment": DEDUP_CONTAINMENT_ORACLE,
    "simhash_bit_balance": _simhash_bit_balance_oracle(),
    "dedup_threshold_sweep": _sweep_oracle(),
    "cluster_purity": CLUSTER_PURITY_ORACLE,
    "dedup_cluster_size_dist": _size_dist_oracle(),
    "span_dedup_maximal": SPAN_DEDUP_MAXIMAL_ORACLE,
    "minhash_estimate_error": _minhash_estimate_oracle(),
    "dedup_embedding_lsh_hi": _lsh_hi_oracle(),
    "lsh_bands_planner": _bands_planner_oracle(),
    "dedup_edit_distance": DEDUP_EDIT_DISTANCE_ORACLE,
    "url_dedup_normalized": URL_DEDUP_ORACLE,
    "dup_rate_by_source": DUP_RATE_BY_SOURCE_ORACLE,
}
