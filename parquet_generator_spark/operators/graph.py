"""Distributed PageRank over an undirected edge set.

The iterative-join pattern shared with connected components
(dedup.py): each round is one equi-join of the edge list with the
current rank frame plus one keyed aggregation — rank state is
node-cardinality and stays IN the DataFrames (never the driver);
localCheckpoint cuts the growing lineage per round exactly as the CC
loop does.

Reproducibility contract (same as kmeans / PCA): ranks are quantized
in-plan each round, so the DuckDB oracle from `pagerank_duck_sql`
replays the iteration bit-for-bit. The symmetrized undirected graph
has no dangling nodes (every node has out-degree >= 1), so the
simple update r' = (1-d)/N + d * sum(r_in/deg_in) is exact — no
dangling-mass redistribution term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from parquet_generator_spark.operators import cache as _cache
from parquet_generator_spark.operators.util import broadcast_scalars

PR_QUANT = 8


def pagerank(pairs: DataFrame, iters: int = 3,
             damping: float = 0.85) -> DataFrame:
    """``pairs``: undirected edges (id_a, id_b), one row per
    unordered pair. Returns (id, rank) for every node in the edge
    set, ranks summing to ~1."""
    # Round 13 (guide §2.4/§1.2): the symmetrized edges checkpoint
    # hash-partitioned on u, so the per-round degree rebuild and the
    # edge-side exchange of every iteration's join disappear — deg
    # derives exchange-free from the partitioned edges, is attached
    # ONCE as (u, v, deg), and each round shuffles only the
    # node-bounded rank frame plus the one unavoidable contribution
    # aggregation (the matvec).
    edges = _cache.checkpoint(
        pairs.select(F.col("id_a").alias("u"),
                     F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"),
                                  F.col("id_a").alias("v")))
        .repartition("u"))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # undirected: out-degree = degree; co-partitioned join, no
    # exchange, and the checkpoint frees the loop from re-deriving it
    edgesd = _cache.checkpoint(
        edges.join(deg, "u").select("u", "v", "deg"))
    # the node count n rides along every rank row: attached once as a
    # scalar subquery instead of an eager count, and read by each
    # round's (1 - d) / n. An empty graph flows through to zero rows.
    ranks = (broadcast_scalars(deg, deg.agg(F.count(F.lit(1)).alias("n")))
             .select("u", F.round(F.lit(1.0) / F.col("n"), PR_QUANT)
                     .alias("rank"), "n"))
    for _ in range(iters):
        contrib = (edgesd.join(ranks, "u")
                   .select(F.col("v").alias("u"),
                           (F.col("rank") / F.col("deg")).alias("c"),
                           "n"))
        ranks = _cache.checkpoint(
            contrib.groupBy("u")
            .agg(F.round(F.lit(1.0 - damping) / F.max("n")
                         + F.lit(damping) * F.sum("c"),
                         PR_QUANT).alias("rank"),
                 F.max("n").alias("n")), eager=False)
    return ranks.select(F.col("u").alias("id"), "rank")


def pagerank_duck_sql(edges_sql: str, iters: int = 3,
                      damping: float = 0.85, top: int = 20) -> str:
    """DuckDB replay of `pagerank` over the edge set produced by
    ``edges_sql`` (a SELECT yielding id_a, id_b), ending in the
    top-``top`` ranking with id tie-break."""
    sql = [f"""
WITH pr_pairs AS ({edges_sql}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pr_pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pr_pairs),
deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT u, round(1.0 / n, {PR_QUANT}) AS rank FROM deg, nn)"""]
    prev = "r0"
    for it in range(1, iters + 1):
        sql.append(f""",
r{it} AS (
  SELECT e.v AS u,
         round((1.0 - {damping}) / any_value(nn.n)
               + {damping} * sum(r.rank / d.deg), {PR_QUANT}) AS rank
  FROM edges e
  JOIN {prev} r ON r.u = e.u
  JOIN deg d ON d.u = e.u
  CROSS JOIN nn
  GROUP BY e.v)""")
        prev = f"r{it}"
    sql.append(f"""
SELECT u AS id, round(rank, 6) AS rank FROM {prev}
ORDER BY rank DESC, id ASC LIMIT {top}""")
    return "".join(sql)
