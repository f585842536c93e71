"""Twelfth pipeline wave (round 6): dial-tuning sweeps — the
near-dup threshold sweep and the IVF probe/recall curve. Both turn a
"what should this knob be?" question into ONE query whose expensive
stage runs once.

Scale posture: the threshold sweep reuses the shared near-dup edge
stage (one signature+banding+verify pass at the loosest threshold,
then pure aggregation); the recall curve runs the corpus-scan
kernels once per probe setting over the bounded query set and joins
on the (query, neighbor) key — query-cardinality frames throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import similarity
from parquet_generator_spark.plans.llm_queries import (
    ANN_K,
    ANN_QUERY_PRED,
    near_dup_edges,
)
from parquet_generator_spark.sources.catalog import load_table
from parquet_generator_spark.operators import cache as _cache

QUERIES: dict = {}
ORACLES: dict = {}

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
    from parquet_generator_spark.operators import dedup
    from parquet_generator_spark.plans.llm_queries import (
        JACCARD_THRESHOLD,
    )
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


IVF_CURVE_CELLS = 32
IVF_PROBES = (1, 2, 4, 8)


def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@k against brute-force truth for
    several n_probe settings in one result — the number that decides
    the latency/recall trade before an index ships. Truth computes
    once; recall joins on the (query, neighbor) key
    (query-cardinality).

    Round-13 shape (same results, fewer passes): the per-probe loop
    used to call ``ivf_topk`` once per setting, re-assigning the
    CORPUS to cells (a mapInPandas pass over every vector) four
    times and running four separate count actions.  Cell assignment
    does not depend on n_probe, and a query's top-p probe cells are
    by construction the first p rows of its top-max(p) stable
    argsort — so both assignments now materialize ONCE
    (localCheckpoint) and each probe setting is a pure
    ``probe_rank < p`` filter over the shared query assignment.

    Round-13 optimization pass, step two: the four per-probe
    branches each re-joined corpus-to-query, re-deduplicated and
    re-ranked the SAME scored pairs (a pair is a p-candidate iff its
    minimum shared probe_rank is < p — the candidate sets are
    nested).  Now the join+score runs ONCE at max(probes); a single
    groupBy(qid, nid) keeps the min probe_rank (replacing the four
    dropDuplicates), an array filter explodes each pair to exactly
    the probe settings it belongs to, and ONE window over
    (n_probe, qid) ranks all four curves together — 4 joins + 4
    window exchanges collapse into 1 + 1 (guide §1.2 / §2.4).
    Value-identity with the per-probe ``ivf_topk`` calls is pinned
    in tests/test_ann_recall_curve.py."""
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(ANN_QUERY_PRED)
    truth = _cache.checkpoint(
        similarity.brute_force_topk(emb, queries, ANN_K)
        .select("qid", "nid"))
    n_truth = truth.count()  # bounded: queries x k
    cents = similarity.make_centroids_from_corpus(emb, IVF_CURVE_CELLS)
    c = _cache.checkpoint(
        similarity.ivf_assign_cells(emb, cents, 1)
        .select(F.col("vec_id").alias("nid"),
                F.col("embedding").alias("nvec"),
                similarity.norm("embedding").alias("nn"), "cell"))
    qmax = _cache.checkpoint(
        similarity.ivf_assign_cells(queries, cents,
                                    max(IVF_PROBES))
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"),
                similarity.norm("embedding").alias("qn"),
                "cell", "probe_rank"))
    # one corpus-to-query join at the loosest setting; min shared
    # probe_rank decides every tighter setting's membership
    scored = (c.join(F.broadcast(qmax), "cell")
              .filter(F.col("qid") != F.col("nid"))
              .groupBy("qid", "nid")
              .agg(F.min("probe_rank").alias("pr"),
                   F.min(F.round(similarity.dot("qvec", "nvec")
                                 / (F.col("qn") * F.col("nn")), 4))
                   .alias("cos")))
    probes_lit = ", ".join(str(p) for p in IVF_PROBES)
    exploded = scored.select(
        "qid", "nid", "cos",
        F.explode(F.expr(
            f"filter(array({probes_lit}), p -> p > pr)"))
        .alias("n_probe"))
    w = Window.partitionBy("n_probe", "qid").orderBy(F.desc("cos"),
                                                     F.asc("nid"))
    got_all = (exploded.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= ANN_K)
               .select("qid", "nid", "n_probe"))
    hit_rows = (got_all.join(truth, ["qid", "nid"], "left_semi")
                .groupBy("n_probe")
                .agg(F.count(F.lit(1)).alias("n_hits")).collect())
    hit_map = {int(r["n_probe"]): int(r["n_hits"]) for r in hit_rows}
    rows = [(p, hit_map.get(p, 0), n_truth,
             round(hit_map.get(p, 0) / n_truth, 4))
            for p in IVF_PROBES]
    return spark.createDataFrame(
        rows, "n_probe int, n_hits bigint, n_truth bigint, "
              "recall double")


def _ivf_curve_oracle() -> str:
    parts = []
    for probe in IVF_PROBES:
        ivf = similarity.ivf_topk_duck_sql(
            "embeddings", ANN_K, ANN_QUERY_PRED, IVF_CURVE_CELLS,
            probe).strip().rstrip(";")
        bf = similarity.brute_force_topk_duck_sql(
            "embeddings", ANN_K, ANN_QUERY_PRED).strip().rstrip(";")
        parts.append(f"""
SELECT {probe} AS n_probe,
       (SELECT count(*) FROM ({ivf}) g
        WHERE EXISTS (SELECT 1 FROM ({bf}) t
                      WHERE t.qid = g.qid AND t.nid = g.nid))
         AS n_hits,
       (SELECT count(*) FROM ({bf})) AS n_truth""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH curve AS ({union})
SELECT CAST(n_probe AS INTEGER) AS n_probe, n_hits, n_truth,
       round(n_hits / CAST(n_truth AS DOUBLE), 4) AS recall
FROM curve ORDER BY n_probe
"""


QUERIES.update({
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "ivf_recall_curve": ivf_recall_curve,
})
ORACLES.update({
    "dedup_threshold_sweep": _sweep_oracle(),
    "ivf_recall_curve": _ivf_curve_oracle(),
})
