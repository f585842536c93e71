"""PageRank semantics: hand-checked star graph plus a python
replica of the exact quantized iteration."""

from __future__ import annotations

from parquet_generator_spark.operators.graph import PR_QUANT, pagerank


def _python_pagerank(pairs, iters=3, damping=0.85):
    edges = {}
    for a, b in pairs:
        edges.setdefault(a, []).append(b)
        edges.setdefault(b, []).append(a)
    n = len(edges)
    ranks = {u: round(1.0 / n, PR_QUANT) for u in edges}
    base = (1.0 - damping) / n
    for _ in range(iters):
        incoming = {u: 0.0 for u in edges}
        for u, outs in edges.items():
            share = ranks[u] / len(outs)
            for v in outs:
                incoming[v] += share
        ranks = {u: round(base + damping * incoming[u], PR_QUANT)
                 for u in edges}
    return ranks


def test_pagerank_star_center_wins(spark):
    pairs = [(0, i) for i in range(1, 6)]  # star: 0 at the center
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    assert max(got, key=got.get) == 0
    leaf_ranks = {v for k, v in got.items() if k != 0}
    assert len(leaf_ranks) == 1  # symmetric leaves tie exactly


def test_pagerank_matches_python_replica(spark):
    import random

    rng = random.Random(5)
    pairs = list({tuple(sorted((rng.randrange(12), rng.randrange(12))))
                  for _ in range(20)})
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    exp = _python_pagerank(pairs)
    assert got == exp
    assert abs(sum(got.values()) - 1.0) < 1e-3


def test_pagerank_rounds_like_duckdb_replay(spark):
    """At n = 512 the first rank 1/512 is an exact half at 8
    decimals: every round, the first one included, must round it half
    away from zero as `pagerank_duck_sql` does (0.00195313, not
    Python's half-even 0.00195312). An empty pair list yields no
    rows on both sides."""
    import duckdb

    from parquet_generator_spark.operators.graph import pagerank_duck_sql

    for n_pairs in (256, 0):
        pairs = [(2 * i, 2 * i + 1) for i in range(n_pairs)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
        sql = pagerank_duck_sql(
            "SELECT 2 * i AS id_a, 2 * i + 1 AS id_b "
            f"FROM range({n_pairs}) t(i)")
        # the same three iterations, without the top-20 6-decimal cut
        sql = sql[:sql.rindex("\nSELECT")] + "\nSELECT u, rank FROM r3"
        exp = dict(duckdb.sql(sql).fetchall())
        assert got == exp
        assert len(got) == 2 * n_pairs
