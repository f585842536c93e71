"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline. Expressed with
  zip_with/aggregate so the arithmetic stays in the JVM; the
  query-set side is broadcast, so the plan is a single pass over the
  corpus with no shuffle (then a small top-k per query).
- Random-hyperplane LSH: the scale path. Hyperplanes are literal
  arrays baked into the plan (deterministic, seed=7), bucketing is a
  JVM expression; candidate generation shuffles on the bucket key
  only. At 100 TB the bucketed variant turns O(N*Q) into
  O(N + sum(bucket^2)).
- Embedding near-dup pairs: same cosine kernel under a threshold.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS DOUBLE) * y), "
        f"cast(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def norm(a: str) -> Column:
    return F.sqrt(F.expr(
        f"aggregate({a}, cast(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + cast(x AS DOUBLE) * x)"))


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


COSINE_DUCK = ("list_dot_product({a}, {b}) / "
               "sqrt(list_dot_product({a}, {a}) * "
               "list_dot_product({b}, {b}))")


def cosine_to_literal(vec_col, query_vector: list[float]) -> Column:
    """Cosine of an array column against ONE literal query vector,
    rounded to 4 — the single definition every literal-query ranking
    leg (rrf / hybrid / multi-knn / matryoshka / retriever pipeline)
    uses, so rounding and null/cast behavior cannot drift between
    plans. Pure codegen fold (zip_with + aggregate), no UDF.

    Zero-vector guard (the esql_knn convention, round 13): a
    zero-magnitude document vector scores NULL in BOTH engines —
    unguarded, Spark's 0.0/0.0 yields NaN (which sorts as the
    LARGEST double under desc) while DuckDB yields NULL. The
    driver corpus contains no zero vectors at any SF (pinned in
    tests/test_similarity.py), so this is a contract for real
    corpora (padding rows, failed encoders), not a value change."""
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    qv = [float(x) for x in query_vector]
    qlit = F.array(*[F.lit(x) for x in qv])
    qn = float(np.sqrt(sum(x * x for x in qv)))
    sq = F.aggregate(
        vec_col, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"))
    cos = F.round(
        F.aggregate(F.zip_with(vec_col, qlit,
                               lambda a, b: a.cast("double") * b),
                    F.lit(0.0), lambda acc, x: acc + x)
        / (F.sqrt(sq) * F.lit(qn)), 4)
    return F.when(sq > 0, cos)


def cosine_to_literal_duck_sql(vec_expr: str,
                               query_vector: list[float]) -> str:
    """DuckDB mirror of cosine_to_literal (same literal, same
    rounding, same zero-vector NULL guard) for the oracle side.
    ``vec_expr`` must already be a DOUBLE[] expression."""
    qv = [float(x) for x in query_vector]
    qlit = "[" + ", ".join(f"{x!r}" for x in qv) + "]::DOUBLE[]"
    qn = float(np.sqrt(sum(x * x for x in qv)))
    return (f"(CASE WHEN list_dot_product({vec_expr}, {vec_expr})"
            f" > 0 THEN "
            f"round(list_dot_product({vec_expr}, {qlit}) / "
            f"(sqrt(list_dot_product({vec_expr}, {vec_expr})) "
            f"* {qn!r}), 4) END)")


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus
    is scanned once. Ties broken by neighbor id for determinism.
    """
    # norms are per-ROW, not per-pair: compute them once on each side
    # before the join (corpus norm would otherwise be re-evaluated
    # once per query — a |Q|x blowup of the aggregate expression)
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("qvec"),
                       norm(vec_col).alias("qn"))
    c = corpus.select(F.col(id_col).alias("nid"),
                      F.col(vec_col).alias("nvec"),
                      norm(vec_col).alias("nn"))
    scored = (c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
              .select("qid", "nid",
                      F.round(dot("qvec", "nvec")
                              / (F.col("qn") * F.col("nn")), 4)
                      .alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("qid", "rank"))


def brute_force_topk_duck_sql(table: str, k: int, query_pred: str,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> str:
    # cast to DOUBLE[] so DuckDB accumulates in double like Spark does
    cos = COSINE_DUCK.format(a=f"CAST(q.{vec_col} AS DOUBLE[])",
                             b=f"CAST(c.{vec_col} AS DOUBLE[])")
    return f"""
WITH q AS (SELECT * FROM {table} WHERE {query_pred}),
scored AS (
  SELECT q.{id_col} AS qid, c.{id_col} AS nid,
         round({cos}, 4) AS cos
  FROM q, {table} c WHERE q.{id_col} != c.{id_col}),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid ASC) AS rank
  FROM scored)
SELECT qid, nid, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY qid, rank
"""


# ------------------------------------------------------------------
# Random-hyperplane LSH
# ------------------------------------------------------------------

def make_hyperplanes(dim: int, n_planes: int = 16,
                     seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _plane_dot_sql(vec_col: str, plane: np.ndarray) -> str:
    """Spark-SQL expression for dot(vec, plane-literal); sequential
    left-to-right float64 fold (mirrors DuckDB's list_dot_product
    closely enough that sign bits agree)."""
    arr = "array(" + ", ".join(f"cast({float(x)!r} AS DOUBLE)"
                               for x in plane) + ")"
    return (f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, y) -> cast(x AS DOUBLE) * y), cast(0.0 AS DOUBLE), "
            f"(acc, v) -> acc + v)")


def lsh_bucket(vec_col: str, planes: np.ndarray) -> Column:
    """Bucket id = sign bits of the vector against each hyperplane.
    Plane coefficients are literals in the plan — shipped once with
    the task binary, not per row."""
    bits = [f"(CASE WHEN {_plane_dot_sql(vec_col, plane)} >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)]
    return F.expr(" + ".join(bits)).cast("long")


def lsh_band_buckets(vec_col: str, planes: np.ndarray,
                     n_bands: int) -> list[Column]:
    """One bucket Column per band: the sign bits of the band's
    ``len(planes)/n_bands`` hyperplanes packed into an int."""
    r = len(planes) // n_bands
    out = []
    for band in range(n_bands):
        bits = [f"(CASE WHEN {_plane_dot_sql(vec_col, planes[band * r + p])}"
                f" >= 0 THEN {1 << p} ELSE 0 END)"
                for p in range(r)]
        out.append(F.expr(" + ".join(bits)).cast("long"))
    return out


def band_buckets_np(mat: np.ndarray, planes: np.ndarray,
                    n_bands: int) -> np.ndarray:
    """(rows, n_bands) int64 band buckets for a vector batch — the
    vectorized twin of :func:`lsh_band_buckets`, BIT-IDENTICAL by
    construction: the plane dot is evaluated as the same exact
    left-to-right float64 fold (acc <- acc + x_d * y_d, d ascending,
    one elementwise step per dimension — numpy ufuncs round each
    element exactly like the scalar fold, and nothing fuses into an
    FMA), so every sign bit matches the SQL expression and the
    DuckDB mirror on every input. Pinned by
    tests/test_operators.py::test_band_buckets_np_matches_sql."""
    mat = np.ascontiguousarray(mat, dtype=np.float64)
    pt = planes.T  # (dim, n_planes)
    acc = np.zeros((mat.shape[0], planes.shape[0]), dtype=np.float64)
    for d in range(pt.shape[0]):
        acc += mat[:, d:d + 1] * pt[d]
    bits = (acc >= 0.0).astype(np.int64)
    r = planes.shape[0] // n_bands
    weights = 1 << np.arange(r, dtype=np.int64)
    out = np.empty((mat.shape[0], n_bands), dtype=np.int64)
    for band in range(n_bands):
        out[:, band] = bits[:, band * r:(band + 1) * r] @ weights
    return out


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int,
             planes: np.ndarray, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: rank only within the query's LSH bucket.
    Recall < 1 by construction; measured against brute force in
    tests/test_similarity.py."""
    bucket = lsh_bucket(vec_col, planes)
    c = corpus.select(F.col(id_col).alias("nid"),
                      F.col(vec_col).alias("nvec"),
                      norm(vec_col).alias("nn"),
                      bucket.alias("bucket"))
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("qvec"),
                       norm(vec_col).alias("qn"),
                       bucket.alias("bucket"))
    scored = (c.join(F.broadcast(q), "bucket")
              .filter(F.col("qid") != F.col("nid"))
              .select("qid", "nid",
                      F.round(dot("qvec", "nvec")
                              / (F.col("qn") * F.col("nn")), 4)
                      .alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("qid", "rank"))


def lsh_topk_duck_sql(table: str, k: int, query_pred: str,
                      planes: np.ndarray, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    """DuckDB mirror of lsh_topk: identical single-bucket sign-bit
    construction (same plane literals, same bit packing), bucket
    equi-join, round(cos,4) ranking with id tie-break. Same
    plane-dot-sign-agreement contract as the (hash-green)
    embedding_dup_pairs_lsh oracle."""
    bits = " + ".join(
        f"(CASE WHEN {_plane_dot_duck('e', plane)} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes))
    return f"""
WITH v AS (
  SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS e FROM {table}),
b AS (SELECT {id_col}, e, ({bits}) AS bucket FROM v),
q AS (SELECT * FROM b WHERE {query_pred}),
scored AS (
  SELECT q.{id_col} AS qid, c.{id_col} AS nid,
         round(list_dot_product(q.e, c.e) /
               (sqrt(list_dot_product(q.e, q.e)) *
                sqrt(list_dot_product(c.e, c.e))), 4) AS cos
  FROM q JOIN b c ON q.bucket = c.bucket
  WHERE q.{id_col} != c.{id_col}),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid ASC) AS rank
  FROM scored)
SELECT qid, nid, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY qid, rank
"""


def ivf_topk_duck_sql(table: str, k: int, query_pred: str,
                      n_centroids: int, n_probe: int,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      sqrt_n_cells: bool = False) -> str:
    """DuckDB mirror of ivf_topk with the smallest-id coarse
    quantizer (make_centroids_from_corpus): cell = argmax cosine
    against the normalized centroid matrix with cell-asc tie-break
    (matching ivf_assign_cells' stable argsort), corpus in its single
    nearest cell, queries probing their n_probe nearest.

    ``sqrt_n_cells=True`` mirrors the sqrt(n)-scaled plan variant
    (knn_classify_ivf): the centroid count becomes
    ``greatest(n_centroids, floor(sqrt(count(*))))`` computed inside
    the SQL, so the oracle tracks ``max(n_centroids, int(n**0.5))``
    at EVERY scale factor instead of only where the floor wins —
    both sides take floor(sqrt) of the same integer through the same
    IEEE-double sqrt, so the counts are bit-identical."""
    cells_expr = (f"greatest({n_centroids}, "
                  f"CAST(floor(sqrt(n_all)) AS BIGINT))"
                  if sqrt_n_cells else str(n_centroids))
    return f"""
WITH v AS (
  SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS e FROM {table}),
cent AS (
  SELECT rn - 1 AS cell,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
  FROM (SELECT e, row_number() OVER (ORDER BY {id_col}) AS rn,
               count(*) OVER () AS n_all FROM v)
  WHERE rn <= {cells_expr}),
sims AS (
  SELECT v.{id_col}, v.e, cent.cell,
         list_dot_product(v.e, cent.ce)
           / sqrt(list_dot_product(v.e, v.e)) AS sim
  FROM v CROSS JOIN cent),
cells AS (
  SELECT {id_col}, e, cell,
         row_number() OVER (PARTITION BY {id_col}
                            ORDER BY sim DESC, cell ASC) AS pr
  FROM sims),
c AS (SELECT {id_col}, e, cell FROM cells WHERE pr = 1),
qc AS (SELECT {id_col}, e, cell FROM cells
       WHERE pr <= {n_probe} AND {query_pred}),
scored AS (
  SELECT DISTINCT q.{id_col} AS qid, c.{id_col} AS nid,
         round(list_dot_product(q.e, c.e) /
               (sqrt(list_dot_product(q.e, q.e)) *
                sqrt(list_dot_product(c.e, c.e))), 4) AS cos
  FROM qc q JOIN c ON q.cell = c.cell
  WHERE q.{id_col} != c.{id_col}),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid ASC) AS rank
  FROM scored)
SELECT qid, nid, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY qid, rank
"""


# ------------------------------------------------------------------
# IVF (inverted-file) ANN
# ------------------------------------------------------------------

def ivf_assign_cells(df: DataFrame, centroids: np.ndarray,
                     n_probe: int = 1, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Assign each vector its ``n_probe`` nearest coarse cells
    (cosine against the broadcast centroid matrix, one numpy matmul
    per Arrow batch inside mapInPandas — a narrow map, no shuffle).
    Output: (id, vec, cell) with one row per probed cell."""
    import pandas as pd

    spark = df.sparkSession
    cmat = centroids.astype(np.float64)
    cmat = cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]
    bc = spark.sparkContext.broadcast(cmat)
    n_probe = min(n_probe, len(centroids))

    def assign(batches):
        cm = bc.value
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.sqrt((vecs * vecs).sum(axis=1))
            sims = (vecs @ cm.T) / norms[:, None]
            # top n_probe cells per row, deterministic tie-break on
            # cell id via stable argsort of (-sim, cell)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy().repeat(n_probe),
                vec_col: [v for v in pdf[vec_col] for _ in range(n_probe)],
                "cell": order.reshape(-1),
                "probe_rank": np.tile(np.arange(n_probe), n),
            })

    out_schema = T.StructType(list(df.select(id_col, vec_col).schema)
                              + [T.StructField("cell", T.LongType()),
                                 T.StructField("probe_rank", T.LongType())])
    return df.select(id_col, vec_col).mapInPandas(assign, schema=out_schema)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             centroids: np.ndarray, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single
    nearest cell; each query probes its n_probe nearest cells and
    ranks only those candidates. With n_probe = n_centroids this
    EXACTLY equals brute force (asserted in tests); recall at
    n_probe << n_centroids is the speed/recall dial. The cell join is
    a plain equi-join => shuffle on the cell id, skew-splittable."""
    c = (ivf_assign_cells(corpus, centroids, 1, id_col, vec_col)
         .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"),
                 norm(vec_col).alias("nn"), "cell"))
    q = (ivf_assign_cells(queries, centroids, n_probe, id_col, vec_col)
         .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"),
                 norm(vec_col).alias("qn"), "cell"))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("qid") != F.col("nid"))
              .select("qid", "nid",
                      F.round(dot("qvec", "nvec")
                              / (F.col("qn") * F.col("nn")), 4)
                      .alias("cos"))
              .dropDuplicates(["qid", "nid"]))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("qid", "rank"))


def knn_literal_topk(corpus: DataFrame, query_vector: list[float],
                     k: int, centroids: np.ndarray, n_probe: int = 8,
                     pre_filter=None, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Filtered k-NN for ONE literal query vector via the IVF index
    (the ES 8.x `knn` search section). The query's probe cells are
    computed ON THE DRIVER at plan time (one vector x the small
    centroid matrix — pure numpy, no Spark job), so the executed plan
    is: pre-filter -> single-cell assignment (narrow map) -> `cell IN
    probes` -> cosine against the literal -> TakeOrderedAndProject.
    No join, no shuffle, no broadcast of anything data-sized; at
    write-time-bucketed scale the cell becomes a partition column and
    the probe filter prunes partitions. Pre-filtering (filter BEFORE
    the index probe) is ES's filtered-kNN contract: all k hits
    satisfy the filter."""
    qv = np.asarray(query_vector, dtype=np.float64)
    cm = centroids.astype(np.float64)
    cm = cm / np.sqrt((cm * cm).sum(axis=1))[:, None]
    sims = cm @ qv  # query norm is rank-constant for cell choice
    order = np.argsort(-sims, kind="stable")
    probes = [int(c) for c in order[:min(n_probe, len(cm))]]
    base = corpus if pre_filter is None else corpus.filter(pre_filter)
    cand = (ivf_assign_cells(base, centroids, 1, id_col, vec_col)
            .filter(F.col("cell").isin(probes)))
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    qn = float(np.sqrt((qv * qv).sum()))
    score = F.round(
        F.aggregate(F.zip_with(F.col(vec_col), qlit,
                               lambda a, b: a.cast("double") * b),
                    F.lit(0.0), lambda acc, x: acc + x)
        / (norm(vec_col) * F.lit(qn)), 4)
    top = (cand.select(F.col(id_col), score.alias("cos"))
           .orderBy(F.desc("cos"), F.asc(id_col)).limit(k))
    w = Window.orderBy(F.desc("cos"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", id_col, "cos").orderBy("rank"))


def knn_literal_topk_duck_sql(table: str, query_vector: list[float],
                              k: int, n_centroids: int,
                              n_probe: int = 8,
                              pre_filter_sql: str | None = None,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> str:
    """DuckDB mirror of knn_literal_topk with the smallest-id coarse
    quantizer: centroids, the query's probe cells, corpus cell
    assignment, and the final cosine ranking all rebuilt in SQL from
    the same literals."""
    qv = [float(x) for x in query_vector]
    qlit = "[" + ", ".join(f"{x!r}" for x in qv) + "]::DOUBLE[]"
    qn = float(np.sqrt(sum(x * x for x in qv)))
    where = f"WHERE {pre_filter_sql}" if pre_filter_sql else ""
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cell,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
  FROM (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS e
        FROM {table} ORDER BY {id_col} LIMIT {n_centroids})),
probes AS (
  SELECT cell FROM (
    SELECT cell, list_dot_product({qlit}, ce) AS sim FROM cent
    ORDER BY sim DESC, cell ASC LIMIT {n_probe})),
v AS (
  SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS e
  FROM {table} {where}),
cells AS (
  SELECT v.{id_col}, v.e, cent.cell,
         row_number() OVER (PARTITION BY v.{id_col}
                            ORDER BY list_dot_product(v.e, cent.ce)
                              / sqrt(list_dot_product(v.e, v.e)) DESC,
                            cent.cell ASC) AS pr
  FROM v CROSS JOIN cent),
cand AS (
  SELECT {id_col}, e FROM cells
  WHERE pr = 1 AND cell IN (SELECT cell FROM probes)),
top AS (
  SELECT {id_col},
         round(list_dot_product(e, {qlit})
               / (sqrt(list_dot_product(e, e)) * {qn!r}), 4) AS cos
  FROM cand ORDER BY cos DESC, {id_col} ASC LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY cos DESC, {id_col}) AS INT)
         AS rank,
       {id_col}, cos
FROM top ORDER BY rank
"""


def make_centroids_from_corpus(df: DataFrame, n_centroids: int,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> np.ndarray:
    """Deterministic coarse quantizer: the n_centroids vectors with
    the smallest ids (a fixed sample stands in for k-means; at scale
    run a few Lloyd iterations on a sample and broadcast the result —
    the query plan is identical either way)."""
    rows = (df.orderBy(id_col).limit(n_centroids)
            .select(vec_col).collect())
    return np.array([r[0] for r in rows], dtype=np.float64)


def make_centroids_kmeans(df: DataFrame, n_centroids: int,
                          n_iter: int = 5, sample_size: int = 4096,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means coarse quantizer: Lloyd iterations on a
    deterministic bounded sample (smallest ids), driver-side numpy.
    Centroid quality only affects recall, never correctness — the
    cell assignment downstream is the same plan. At 100 TB the sample
    collect is the only driver-side data (sample_size rows), and the
    result ships to executors as a broadcast literal."""
    rows = (df.orderBy(id_col).limit(sample_size)
            .select(vec_col).collect())
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x = x / np.sqrt((x * x).sum(axis=1))[:, None]
    cents = x[:n_centroids].copy()
    for _ in range(n_iter):
        cents_n = cents / np.sqrt((cents * cents).sum(axis=1))[:, None]
        assign = (x @ cents_n.T).argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def embedding_dup_pairs(df: DataFrame, threshold: float,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        n_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (round(cos,4) >= t),
    EXACT all-pairs semantics, fully distributed.

    Triangle-block similarity join: every vector hashes to one of B
    blocks; each unordered block pair {i, j} is one shuffle group
    that GEMMs its two blocks with a float64 numpy matmul inside
    applyInPandas. No driver-side materialization and no full-table
    broadcast anywhere: shuffle volume is B x input (each row ships
    to the B cells whose pair contains its block), and the
    irreducible O(N^2) compute is spread over B(B+1)/2 independent
    tasks — at 100 TB pick B so one block fits a task's memory.
    A pair (x, y) meets in exactly one cell ({blk(x), blk(y)}), so
    no cross-cell dedup is needed. The final round+threshold stays
    in the JVM so HALF_UP rounding matches the SQL oracle exactly;
    numpy only pre-filters with a small epsilon margin.
    """
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    cells = F.array(*[
        F.struct(F.least(blk, F.lit(j)).alias("ci"),
                 F.greatest(blk, F.lit(j)).alias("cj"))
        for j in range(n_blocks)])
    rep = (df.select(F.col(id_col).alias("vid"),
                     F.col(vec_col).alias("vec"),
                     blk.alias("blk"),
                     F.explode(cells).alias("cell"))
           .select("vid", "vec", "blk",
                   F.col("cell.ci").alias("ci"),
                   F.col("cell.cj").alias("cj")))
    # round(cos, 4) >= threshold admits raw values from half a
    # rounding step below the threshold — the numpy pre-filter must
    # keep those (plus an fp epsilon); the JVM round+filter decides.
    margin = threshold - 0.5e-4 - 1e-9

    def cell_pairs(key, pdf):
        ci, cj = int(key[0]), int(key[1])
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos_raw": pd.Series(dtype="float64")})

        def side(block):
            part = pdf[pdf["blk"] == block]
            if not len(part):
                return None, None, None
            ids = part["vid"].to_numpy(dtype=np.int64)
            mat = np.stack(part["vec"].to_numpy()).astype(np.float64)
            return ids, mat, np.sqrt((mat * mat).sum(axis=1))

        a_ids, a_mat, a_n = side(ci)
        if a_ids is None:
            return empty
        if ci == cj:
            cos = (a_mat @ a_mat.T) / (a_n[:, None] * a_n[None, :])
            keep = (a_ids[:, None] < a_ids[None, :]) & (cos >= margin)
            ai, bi = np.nonzero(keep)
            return pd.DataFrame({"id_a": a_ids[ai], "id_b": a_ids[bi],
                                 "cos_raw": cos[ai, bi]})
        b_ids, b_mat, b_n = side(cj)
        if b_ids is None:
            return empty
        cos = (a_mat @ b_mat.T) / (a_n[:, None] * b_n[None, :])
        ai, bi = np.nonzero(cos >= margin)
        ia, ib = a_ids[ai], b_ids[bi]
        return pd.DataFrame({"id_a": np.minimum(ia, ib),
                             "id_b": np.maximum(ia, ib),
                             "cos_raw": cos[ai, bi]})

    pairs = rep.groupBy("ci", "cj").applyInPandas(
        cell_pairs, schema="id_a bigint, id_b bigint, cos_raw double")
    return (pairs.select("id_a", "id_b",
                         F.round("cos_raw", 4).alias("cos"))
            .filter(F.col("cos") >= threshold)
            .orderBy("id_a", "id_b"))


def embedding_dup_pairs_gemm(df: DataFrame, threshold: float,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """TESTS-ONLY exactness baseline: whole-corpus driver collect +
    broadcast GEMM. Not a production path (materializes the full
    table on the driver) — kept to cross-check embedding_dup_pairs
    and the LSH variant in tests/test_operators.py."""
    import pandas as pd

    spark = df.sparkSession
    pdf = df.select(F.col(id_col), F.col(vec_col)).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    margin = threshold - 0.5e-4 - 1e-9

    def block_scores(batches):
        all_ids, all_mat, all_norms = bc.value
        for chunk in batches:
            a_ids = chunk[id_col].to_numpy(dtype=np.int64)
            a_mat = np.stack(chunk[vec_col].to_numpy()).astype(np.float64)
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            cos = (a_mat @ all_mat.T) / (a_norms[:, None] * all_norms[None, :])
            keep = (a_ids[:, None] < all_ids[None, :]) & (cos >= margin)
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame({"id_a": a_ids[ai], "id_b": all_ids[bi],
                                "cos_raw": cos[ai, bi]})

    pairs = df.select(id_col, vec_col).mapInPandas(
        block_scores, schema="id_a bigint, id_b bigint, cos_raw double")
    return (pairs.select("id_a", "id_b",
                         F.round("cos_raw", 4).alias("cos"))
            .filter(F.col("cos") >= threshold)
            .orderBy("id_a", "id_b"))


def embedding_dup_pairs_duck_sql(table: str, threshold: float,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> str:
    cos = COSINE_DUCK.format(a=f"CAST(a.{vec_col} AS DOUBLE[])",
                             b=f"CAST(b.{vec_col} AS DOUBLE[])")
    return f"""
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       round({cos}, 4) AS cos
FROM {table} a, {table} b
WHERE a.{id_col} < b.{id_col}
  AND round({cos}, 4) >= {threshold}
ORDER BY id_a, id_b
"""


def embedding_dup_pairs_lsh(df: DataFrame, threshold: float,
                            planes: np.ndarray, n_bands: int,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Sub-quadratic near-dup pairs: banded random-hyperplane LSH
    candidates, exact-cosine verified.

    A pair is a candidate iff ALL sign bits of at least one band
    agree (classic OR-of-ANDs amplification); candidates then pass
    the exact round(cos,4) >= threshold check, so precision is 1 and
    recall is 1-(1-(1-theta/pi)^r)^b for a pair at angle theta.
    Execution is a band-bucket equi-join — shuffle on (band, bucket)
    only, no all-pairs, no broadcast, no driver data; the same shape
    as minhash_lsh_pairs. Skewed mega-buckets split under AQE.
    The DuckDB oracle (embedding_dup_pairs_lsh_duck_sql) implements
    the IDENTICAL banding, so oracle equality holds by construction;
    recall vs the exact baseline is measured in tests.
    """
    # One shuffle on (band, bucket); the exact verify is a
    # bucket-LOCAL numpy GEMM inside applyInPandas with an epsilon
    # margin pre-filter, so only pairs that can pass the threshold
    # ever leave a task — candidate pairs are never materialized as
    # shuffle rows (at a low demo threshold like 0.3 the candidate
    # set is a large fraction of all pairs; emitting it would cost
    # more than the banding saves). Low thresholds imply few-bit
    # bands => wide buckets => the GEMM block inside; production
    # near-dup thresholds (>= 0.9) use more rows per band => small
    # buckets. The final round+filter stays in the JVM for HALF_UP
    # parity with the mirrored SQL oracle.
    import pandas as pd

    margin = threshold - 0.5e-4 - 1e-9

    def bucket_pairs(key, pdf):
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cos_raw": pd.Series(dtype="float64")})
        mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (nrm[:, None] * nrm[None, :])
        keep = (ids[:, None] < ids[None, :]) & (cos >= margin)
        ai, bi = np.nonzero(keep)
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bi],
                             "cos_raw": cos[ai, bi]})

    # Band buckets via the numpy fold twin (round 13): the expression
    # form bound n_planes aggregate(zip_with(vec, 64-literal-array))
    # folds per row — interpreted higher-order functions, plus ~100 KB
    # of expression text parsed at plan build. One Arrow batch matmul
    # replaces all of it, bit-identically (band_buckets_np docstring);
    # the rows were already crossing the Python boundary for the
    # bucket-local verify (guide §4.2).
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets_udf(vs):
        # PRECONDITION: embeddings are non-null, fixed-dimension
        # arrays (the embeddings table contract; enforced at
        # generation). np.array over a ragged/null batch would
        # raise where the replaced SQL fold degraded to bucket 0 —
        # check so a contract break fails loudly, not obscurely.
        import pandas as pd
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        rows = vs.tolist()
        if not all(r is not None and len(r) == len(rows[0])
                   for r in rows):
            raise ValueError(
                "band_buckets: null or ragged embedding in batch")
        mat = np.array(rows, dtype=np.float64)
        return pd.Series(list(band_buckets_np(mat, planes, n_bands)))

    # asNondeterministic: posexplode plants an implicit
    # size(..)>0 filter, and the optimizer duplicates a
    # deterministic UDF below it — every row would pay the banding
    # matmul twice (guide §4.4; plan showed two ArrowEvalPython
    # nodes per branch). The marking costs nothing here: there is
    # no filter that could legitimately push past the banding.
    _buckets = _buckets_udf.asNondeterministic()

    e = (df.select(F.col(id_col).alias("vid"),
                   F.col(vec_col).alias("vec"))
         .withColumn("bks", _buckets("vec"))
         .select("vid", "vec",
                 F.posexplode("bks").alias("band", "bucket")))
    pairs = e.groupBy("band", "bucket").applyInPandas(
        bucket_pairs, schema="id_a bigint, id_b bigint, cos_raw double")
    return (pairs.dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b",
                    F.round("cos_raw", 4).alias("cos"))
            .filter(F.col("cos") >= threshold)
            .orderBy("id_a", "id_b"))


def _plane_dot_duck(vec_expr: str, plane: np.ndarray) -> str:
    arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
    return f"list_dot_product({vec_expr}, {arr})"


def embedding_dup_pairs_lsh_duck_sql(table: str, threshold: float,
                                     planes: np.ndarray, n_bands: int,
                                     id_col: str = "vec_id",
                                     vec_col: str = "embedding") -> str:
    """DuckDB mirror of embedding_dup_pairs_lsh: identical band/bucket
    construction (same plane literals, same bit packing), bucket
    equi-join for candidates, exact round(cos,4) verify."""
    r = len(planes) // n_bands
    band_selects = []
    for band in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN {_plane_dot_duck('e', planes[band * r + p])} >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(r))
        band_selects.append(
            f"SELECT {id_col} AS vid, e, {band} AS band, "
            f"({bits}) AS bucket FROM v")
    bands_sql = "\n  UNION ALL ".join(band_selects)
    return f"""
WITH v AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS e FROM {table}),
bb AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vid < b.vid)
SELECT id_a, id_b, cos FROM (
  SELECT c.id_a, c.id_b,
         round(list_dot_product(va.e, vb.e) /
               (sqrt(list_dot_product(va.e, va.e)) *
                sqrt(list_dot_product(vb.e, vb.e))), 4) AS cos
  FROM cand c
  JOIN v va ON va.{id_col} = c.id_a
  JOIN v vb ON vb.{id_col} = c.id_b)
WHERE cos >= {threshold}
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------
# Distributed Lloyd's k-means (reproducible, oracle-mirrorable)
# ------------------------------------------------------------------

def _sqdist_lit_sql(vec_col: str, center: list) -> str:
    """Spark-SQL squared euclidean distance from ``vec_col`` to a
    centroid LITERAL — a sequential float64 fold, same shape as
    `_plane_dot_sql`, so cross-engine differences stay at ulp level
    (absorbed by the per-round centroid quantization)."""
    arr = "array(" + ", ".join(f"cast({float(x)!r} AS DOUBLE)"
                               for x in center) + ")"
    return (f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, y) -> (cast(x AS DOUBLE) - y) * "
            f"(cast(x AS DOUBLE) - y)), "
            f"cast(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _kmeans_assign(vec_col: str, cents: list[list]) -> Column:
    """cid = argmin over centroid distances, smallest index on ties
    (array_min over (distance, index) structs compares
    lexicographically)."""
    structs = [F.struct(F.expr(_sqdist_lit_sql(vec_col, c)).alias("d"),
                        F.lit(i).alias("i"))
               for i, c in enumerate(cents)]
    return F.array_min(F.array(*structs)).getField("i")


def _kmeans_assign_arrow(base: DataFrame, cents: list[list]) -> DataFrame:
    """Vectorized assignment: one numpy (batch x dim) @ (dim x k)
    matmul per Arrow batch inside mapInPandas — the same narrow-map
    shape as `ivf_assign_cells`, ~10x the interpreted higher-order-
    function fold. np.argmin returns the FIRST minimal index, so the
    smallest-index tie-break matches `_kmeans_assign` exactly (exact
    float ties only occur for duplicate centroids, where both
    formulas agree bit-for-bit)."""
    import pandas as pd

    cm = np.asarray(cents, dtype=np.float64)
    bc = base.sparkSession.sparkContext.broadcast(cm)

    def assign(batches):
        c = bc.value
        c_sq = (c * c).sum(axis=1)
        for pdf in batches:
            v = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            d = ((v * v).sum(axis=1)[:, None]
                 - 2.0 * (v @ c.T) + c_sq[None, :])
            yield pd.DataFrame({"id": pdf["id"], "e": pdf["e"],
                                "cid": np.argmin(d, axis=1)})

    out_schema = T.StructType(list(base.select("id", "e").schema)
                              + [T.StructField("cid", T.LongType())])
    return base.mapInPandas(assign, schema=out_schema)


def kmeans_lloyd(df: DataFrame, k: int = 8, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 quant: int = 6, assign: str = "arrow") -> DataFrame:
    """Distributed Lloyd's k-means, the MLlib posture: centroids are
    broadcast as PLAN LITERALS each round (k x dim floats — bounded
    at any corpus size), assignment is an in-row argmin expression
    (no join, no shuffle), and the update is ONE groupBy(cid) with
    dim avg aggregates (map-side partial). Driver traffic per round
    is the k x dim centroid matrix — the same bounded-collect class
    as the IVF centroid sample (similarity.py ivf notes).

    Reproducibility: init = the k lowest-id vectors; every centroid
    coordinate is quantized to ``quant`` decimals after each update,
    which absorbs fold-order ulp differences and makes the whole
    iteration bit-reproducible across engines (the DuckDB oracle
    from `kmeans_lloyd_duck_sql` mirrors the same quantization).
    Empty clusters keep their previous centroid.

    ``iters`` counts assignment rounds; the output reports the LAST
    round's cluster sizes together with the centroids updated from
    it (so the data is scanned exactly ``iters`` times — no separate
    final re-assignment pass).

    Returns one row per cluster: cid, n, c_norm (final centroid L2
    norm, rounded).
    """
    from pyspark import StorageLevel

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("e"))
    # cache the projected (id, vec) frame across rounds — every Lloyd
    # round re-reads it, and at real scale re-scanning the source per
    # round multiplies the IO (the same dataset caching MLlib's
    # KMeans does; lazy persist, populated by the first round's pass)
    if iters > 1:
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    # eager: the centroids are the next round's assignment literals
    init_rows = base.orderBy("id").limit(k).collect()  # bounded: k rows
    if not init_rows:
        raise ValueError("kmeans_lloyd: input has no rows")
    # fewer rows than k: clamp, matching the oracle's LIMIT-k init
    # (which yields one centroid per existing row)
    k = min(k, len(init_rows))
    cents = [[round(float(x), quant) for x in r["e"]] for r in init_rows]
    dim = len(cents[0])

    def mean_cols():
        return [F.round(F.avg(F.col("e")[d].cast("double")), quant)
                .alias(f"m{d}") for d in range(dim)]

    def assigned(cs: list[list]) -> DataFrame:
        if assign == "arrow":
            return _kmeans_assign_arrow(base, cs)
        return base.withColumn("cid", _kmeans_assign("e", cs))

    for _ in range(iters - 1):
        stats = assigned(cents).groupBy("cid").agg(*mean_cols())
        got = {int(r["cid"]): [float(r[f"m{d}"]) for d in range(dim)]
               for r in stats.collect()}  # bounded: k rows
        cents = [got.get(i, cents[i]) for i in range(k)]

    per = (assigned(cents)
           .groupBy("cid")
           .agg(F.count(F.lit(1)).alias("n"), *mean_cols()))
    norm_sq = None
    for d in range(dim):
        term = F.col(f"m{d}") * F.col(f"m{d}")
        norm_sq = term if norm_sq is None else norm_sq + term
    out = (per.select("cid", "n",
                      F.round(F.sqrt(norm_sq), 4).alias("c_norm"))
           .orderBy("cid"))
    # materialize the bounded k-row result so the persisted scan
    # frame can be released NOW — without this, repeated invocations
    # in one session (bench sweeps, test suites) accumulate cached
    # blocks until executor storage evicts them
    rows = out.collect()  # bounded: k rows
    base.unpersist()
    return df.sparkSession.createDataFrame(rows, out.schema)


def kmeans_lloyd_duck_sql(table: str = "embeddings", k: int = 8,
                          iters: int = 2, dim: int = 64,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          quant: int = 6) -> str:
    """DuckDB mirror of `kmeans_lloyd`: same init (k lowest ids),
    same per-round centroid quantization, same smallest-index
    tie-break — assignment is relational (points x k centroids,
    row_number argmin) instead of a literal expression, but the
    arithmetic agrees to within the quantization grid. Each round's
    updated centroids LEFT JOIN onto the previous round's full cid
    list (coalesce to the prior centroid), so a cluster that empties
    keeps its centroid exactly as the Spark side does instead of
    vanishing from subsequent assignment rounds."""
    def mean_list(src: str) -> str:
        return "[" + ", ".join(f"round(avg({src}[{d + 1}]), {quant})"
                               for d in range(dim)) + "]"

    sqd = ("list_sum(list_transform(list_zip(p.e, c.ce), "
           "s -> (s[1] - s[2]) * (s[1] - s[2])))")
    sql = [f"WITH pts AS (SELECT {id_col} AS id, "
           f"CAST({vec_col} AS DOUBLE[]) AS e FROM {table}),"]
    sql.append(
        f"c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, "
        f"list_transform(e, x -> round(x, {quant})) AS ce "
        f"FROM (SELECT * FROM pts ORDER BY id LIMIT {k})),")
    prev = "c0"
    for it in range(1, iters):
        sql.append(
            f"d{it} AS (SELECT p.id, p.e, c.cid, {sqd} AS d "
            f"FROM pts p CROSS JOIN {prev} c),\n"
            f"a{it} AS (SELECT id, e, cid FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY id "
            f"ORDER BY d, cid) AS rn FROM d{it}) WHERE rn = 1),\n"
            f"u{it} AS (SELECT cid, {mean_list('e')} AS ce "
            f"FROM a{it} GROUP BY cid),\n"
            f"c{it} AS (SELECT p.cid, coalesce(u.ce, p.ce) AS ce "
            f"FROM {prev} p LEFT JOIN u{it} u USING (cid)),")
        prev = f"c{it}"
    sql.append(
        f"df AS (SELECT p.id, p.e, c.cid, {sqd} AS d "
        f"FROM pts p CROSS JOIN {prev} c),\n"
        f"af AS (SELECT id, e, cid FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY id "
        f"ORDER BY d, cid) AS rn FROM df) WHERE rn = 1),\n"
        f"cf AS (SELECT cid, count(*) AS n, {mean_list('e')} AS ce "
        f"FROM af GROUP BY cid)")
    sql.append(
        "SELECT cid, CAST(n AS BIGINT) AS n, "
        "round(sqrt(list_sum(list_transform(ce, x -> x * x))), 4) "
        "AS c_norm FROM cf ORDER BY cid")
    return "\n".join(sql)


# ------------------------------------------------------------------
# Top principal component via distributed power iteration
# ------------------------------------------------------------------

def _center_dot_sql(mu: list, v: list, vec_col: str = "e") -> str:
    """Codegen expression for dot(x - mu, v) with mu/v literals —
    an expanded 64-term sum (stays in whole-stage codegen, unlike an
    interpreted higher-order-function fold)."""
    return " + ".join(
        f"((cast({vec_col}[{d}] AS DOUBLE) - {float(mu[d])!r}) "
        f"* {float(v[d])!r})"
        for d in range(len(mu)))


def _sign_fix(v: list) -> list:
    """Deterministic sign convention: the first non-zero loading is
    positive (mirrored by the oracle's list_filter CASE)."""
    first = next((x for x in v if x != 0.0), 1.0)
    return [-x for x in v] if first < 0 else list(v)


def _pca_mean_arrow(base: DataFrame, quant: int) -> list:
    """Per-dimension corpus mean via an Arrow partial-sum map
    (batch column-sums + count in LONG FORM — one (pos, val) row per
    dimension per batch, so no dim-wide schema and no separate
    dim-probe job) + one tiny keyed aggregation, quantized like
    every PCA intermediate."""
    import pandas as pd

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            s = x.sum(axis=0)
            yield pd.DataFrame({
                "pos": np.concatenate(([-1], np.arange(len(s)))),
                "val": np.concatenate(([float(len(pdf))], s))})

    schema = T.StructType([T.StructField("pos", T.LongType()),
                           T.StructField("val", T.DoubleType())])
    rows = (base.select("e").mapInPandas(part, schema=schema)
            .groupBy("pos").agg(F.sum("val").alias("val")).collect())
    got = {int(r["pos"]): float(r["val"]) for r in rows}
    n = got.pop(-1, 1.0) or 1.0
    return [round(got[d] / n, quant) for d in range(len(got))]


def _pca_gram_arrow(base: DataFrame, mu: list) -> np.ndarray:
    """The centered Gram matrix G = X̃ᵀX̃ in ONE Arrow-batched pass:
    each batch contributes its (dim x dim) partial in LONG FORM
    (pos = i*dim + j, val) and a keyed sum combines them — map-side
    partial aggregation over dim^2 keys, so the shuffle carries a
    few KB per map task regardless of corpus size.

    This replaces the former per-iteration matvec passes: with G in
    hand (dim^2 doubles — 32 KB at dim=64), EVERY power-iteration
    round w = X̃ᵀ(X̃v) = G·v runs driver-side on the collected
    matrix, so the corpus is scanned once for the whole iteration
    instead of once per round (guide §1.2: fewer passes is the
    order-of-magnitude lever; at 100 TB this is iters+1 scans -> 2).
    Fold-order ulps vs the per-round formulation are absorbed by the
    caller's per-round normalize+quantize (the same contract that
    already reconciles the Spark and DuckDB fold orders)."""
    import pandas as pd

    bc = base.sparkSession.sparkContext.broadcast(
        np.asarray(mu, dtype=np.float64))

    def part(batches):
        m = bc.value
        dim = len(m)
        pos = np.arange(dim * dim)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["e"].to_numpy()).astype(np.float64) - m
            g = x.T @ x
            yield pd.DataFrame({"pos": pos, "val": g.reshape(-1)})

    schema = T.StructType([T.StructField("pos", T.LongType()),
                           T.StructField("val", T.DoubleType())])
    rows = (base.select("e").mapInPandas(part, schema=schema)
            .groupBy("pos").agg(F.sum("val").alias("val")).collect())
    dim = len(mu)
    g = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        g[int(r["pos"]) // dim, int(r["pos"]) % dim] = float(r["val"])
    return g


def pca_top_component(df: DataFrame, iters: int = 3,
                      vec_col: str = "embedding",
                      label_col: str = "label",
                      quant: int = 6) -> DataFrame:
    """Top principal component by POWER ITERATION, distributed the
    only way that scales: each round is ONE aggregate pass computing
    w = X̃ᵀ(X̃v) via dim sum-aggregates (map-side partial, no
    shuffle of vectors), with the current direction v shipped as
    plan literals — the same bounded driver traffic as k-means'
    centroids. Normalization + quantization + a first-nonzero-
    positive sign convention run on the collected dim-length vector
    each round, making the whole iteration bit-reproducible (DuckDB
    oracle from `pca_top_duck_sql` replays it exactly).

    Output: the component summarized through the data — per-label
    projection statistics of x̃·v (does the top direction separate
    the labels?).

    Round 13: the per-round distributed matvec passes collapsed into
    ONE centered-Gram pass (`_pca_gram_arrow`); each round's
    w = X̃ᵀ(X̃v) is the driver-side product G·v on the collected
    dim x dim matrix, followed by the identical normalize + quantize
    + sign steps. Corpus scans: 2 (mean + Gram) + the final
    projection, independent of ``iters``.
    """
    base = df.select(F.col(label_col).alias("label"),
                     F.col(vec_col).alias("e"))
    mu = _pca_mean_arrow(base, quant)
    dim = len(mu)
    gram = _pca_gram_arrow(base, mu)
    v = [0.125] * dim  # exact in binary; |v| = 1 for dim = 64

    for _ in range(iters):
        w = [float(x) for x in gram @ np.asarray(v, dtype=np.float64)]
        nrm = math.sqrt(sum(x * x for x in w)) or 1.0
        v = _sign_fix([round(x / nrm, quant) for x in w])

    proj = F.expr(_center_dot_sql(mu, v))
    return (base.select("label", proj.alias("p"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("p"), 4).alias("mean_proj"),
                 F.round(F.stddev_pop("p"), 4).alias("std_proj"))
            .orderBy("label"))


def pca_top_duck_sql(table: str = "embeddings", iters: int = 3,
                     dim: int = 64, vec_col: str = "embedding",
                     label_col: str = "label",
                     quant: int = 6) -> str:
    """DuckDB replay of `pca_top_component`: same mu quantization,
    same unit init, same per-round normalize/quantize/sign steps.
    The matvec is relational (sum per dimension) instead of literal
    expressions; quantization absorbs the fold-order ulps."""
    mu_list = "[" + ", ".join(
        f"round(avg(e[{d + 1}]), {quant})" for d in range(dim)) + "]"
    w_list = "[" + ", ".join(
        f"sum(x[{d + 1}] * s)" for d in range(dim)) + "]"
    v0 = "[" + ", ".join(["0.125"] * dim) + "]"
    sql = [
        f"WITH pts AS (SELECT {label_col} AS label, "
        f"CAST({vec_col} AS DOUBLE[]) AS e FROM {table}),",
        f"mu AS (SELECT {mu_list} AS m FROM pts),",
        "c AS (SELECT label, list_transform(list_zip(e, m), "
        "s -> s[1] - s[2]) AS x FROM pts, mu),",
        f"v0 AS (SELECT {v0} AS v),",
    ]
    prev = "v0"
    for it in range(1, iters + 1):
        sql.append(
            f"w{it} AS (SELECT {w_list} AS w FROM ("
            f"SELECT x, list_dot_product(x, v) AS s "
            f"FROM c, {prev})),\n"
            f"u{it} AS (SELECT list_transform(w, y -> round(y / "
            f"sqrt(list_dot_product(w, w)), {quant})) AS v FROM w{it}),\n"
            f"v{it} AS (SELECT CASE WHEN coalesce("
            f"list_filter(v, z -> z <> 0)[1], 1) < 0 "
            f"THEN list_transform(v, z -> -z) ELSE v END AS v "
            f"FROM u{it}),")
        prev = f"v{it}"
    sql.append(
        f"pr AS (SELECT label, list_dot_product(x, v) AS p "
        f"FROM c, {prev})")
    sql.append(
        "SELECT label, count(*) AS n, round(avg(p), 4) AS mean_proj, "
        "round(stddev_pop(p), 4) AS std_proj "
        "FROM pr GROUP BY label ORDER BY label")
    return "\n".join(sql)


# ------------------------------------------------------------------
# Feature-hash text vectors (model-free retrieval embeddings)
# ------------------------------------------------------------------

def feature_hash_vectors(docs: DataFrame, toks_expr: str,
                         id_col: str = "doc_id",
                         dim: int = 16) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): each token lands
    in bucket md5(token) % dim with a +-1 sign from the next hash
    bit; a document's vector is the signed term-frequency sum per
    bucket. No vocabulary, no model, fully deterministic — and the
    md5-based hash is the same one the MinHash pipeline already
    proves identical across Spark and DuckDB.

    One explode + ONE groupBy(id) with ``dim`` conditional sums (no
    pivot, no second shuffle). Zero vectors (all signs cancelled)
    are dropped — they have no direction to compare.
    """
    tok = (docs.select(F.col(id_col).alias("id"),
                       F.explode(F.expr(toks_expr)).alias("w"))
           .withColumn("h", F.expr(
               "cast(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)"))
           .select("id", (F.col("h") % dim).alias("d"),
                   F.when((F.expr(f"h div {dim}") % 2) == 0, 1)
                   .otherwise(-1).alias("s")))
    sums = [F.sum(F.when(F.col("d") == d, F.col("s")).otherwise(0))
            .cast("double").alias(f"v{d}") for d in range(dim)]
    vec = (tok.groupBy("id").agg(*sums)
           .select("id", F.array(*[F.col(f"v{d}")
                                   for d in range(dim)]).alias("e")))
    return vec.filter(F.expr(
        "aggregate(e, cast(0.0 AS DOUBLE), (a, x) -> a + x * x)") > 0)


def feature_hash_topk_duck_sql(table: str, toks_duck_expr: str,
                               k: int, query_pred: str,
                               id_col: str = "doc_id",
                               dim: int = 16) -> str:
    """DuckDB mirror: same md5 bucket + sign-bit construction, same
    zero-fill to a dense dim-vector, same cosine/rank/tie-break as
    the brute-force ANN oracle."""
    return f"""
WITH tok AS (SELECT {id_col} AS id, unnest({toks_duck_expr}) AS w
             FROM {table}),
hh AS (SELECT id,
              CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS hv
       FROM tok),
cell AS (SELECT id, hv % {dim} AS d,
                CASE WHEN (hv // {dim}) % 2 = 0 THEN 1 ELSE -1 END AS s
         FROM hh),
sums AS (SELECT id, d, sum(s) AS v FROM cell GROUP BY id, d),
grid AS (SELECT DISTINCT id FROM sums),
dense AS (
  SELECT g.id, r.d, coalesce(s.v, 0) AS v
  FROM grid g
  CROSS JOIN (SELECT unnest(range({dim})) AS d) r
  LEFT JOIN sums s ON s.id = g.id AND s.d = r.d),
vec AS (SELECT id, list(CAST(v AS DOUBLE) ORDER BY d) AS e
        FROM dense GROUP BY id),
vv AS (SELECT id, e FROM vec WHERE list_dot_product(e, e) > 0),
scored AS (
  SELECT q.id AS qid, c.id AS nid,
         round(list_dot_product(q.e, c.e) /
               (sqrt(list_dot_product(q.e, q.e)) *
                sqrt(list_dot_product(c.e, c.e))), 4) AS cos
  FROM vv q JOIN vv c ON ({query_pred.format(id='q.id')})
                      AND q.id <> c.id),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, nid ASC) AS rank
  FROM scored)
SELECT qid, nid, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY qid, rank
"""


# ------------------------------------------------------------------
# IVF-PQ asymmetric-distance (ADC) search — Jegou et al. 2011
# ------------------------------------------------------------------

def ivfpq_topk(corpus: DataFrame, query_vector: list[float], k: int,
               centroids: np.ndarray, sub_books: np.ndarray,
               n_probe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Memory-bounded ANN for ONE literal query vector: IVF cells
    pick the candidates, PQ codes + an asymmetric-distance table
    score them — the FAISS IVFPQ shape. ``sub_books`` is [M, K, d]
    (M subspaces x K codewords). The query's probe cells AND its
    M x K ADC table are computed on the driver at plan time (one
    vector x tiny matrices); executors run one narrow mapInPandas
    over the probe-filtered corpus (PQ-encode candidate, sum its M
    table entries SEQUENTIALLY — the engine-identical order
    embedding_pq pinned), then TakeOrderedAndProject. No join, no
    shuffle of anything data-sized; with ingest-time codes stored as
    a byte column the scoring pass never reads the raw vectors.

    Recall caveat (measured, tests/test_llm_queries24.py): ADC
    fidelity needs cluster structure. On the uniform-random
    synthetic corpus quantization error is the same size as the
    spread between true neighbors, so recall@10 sits at 0.2-0.3
    regardless of K; on separable data the identical plan scores
    >= 0.8. Codebook quality moves recall only — the plan is
    invariant (the ann_ivf precedent)."""
    import pandas as pd

    spark = corpus.sparkSession
    M, K, d = sub_books.shape
    qv = np.asarray(query_vector, dtype=np.float64)
    cm = centroids.astype(np.float64)
    cm = cm / np.sqrt((cm * cm).sum(axis=1))[:, None]
    sims = cm @ qv  # query norm is rank-constant for cell choice
    probes = [int(c) for c in
              np.argsort(-sims, kind="stable")[:min(n_probe, len(cm))]]

    qsub = qv.reshape(M, d)
    q2 = np.einsum("md,md->m", qsub, qsub)
    qc = np.einsum("md,mkd->mk", qsub, sub_books)
    c2 = np.einsum("mkd,mkd->mk", sub_books, sub_books)
    adc_table = q2[:, None] - 2.0 * qc + c2             # [M, K]

    bc_books = spark.sparkContext.broadcast(sub_books)
    bc_table = spark.sparkContext.broadcast(adc_table)

    def encode_score(batches):
        sb = bc_books.value
        tab = bc_table.value
        cb2 = np.einsum("mkd,mkd->mk", sb, sb)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()) \
                .astype(np.float64).reshape(-1, M, d)
            v2 = np.einsum("nmd,nmd->nm", vecs, vecs)
            cross = np.einsum("nmd,mkd->nmk", vecs, sb)
            dists = v2[:, :, None] - 2.0 * cross + cb2[None]
            codes = dists.argmin(axis=2)
            looked = np.take_along_axis(
                tab[None].repeat(len(codes), axis=0),
                codes[:, :, None], axis=2)[:, :, 0]
            adc = looked[:, 0].copy()
            for m in range(1, M):
                adc += looked[:, m]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "adc": np.round(adc, 4),
            })

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("adc", T.DoubleType()),
    ])
    cand = (ivf_assign_cells(corpus, centroids, 1, id_col, vec_col)
            .filter(F.col("cell").isin(probes))
            .select(id_col, vec_col))
    top = (cand.mapInPandas(encode_score, schema=schema)
           .orderBy(F.asc("adc"), F.asc(id_col))
           .limit(k))
    w = Window.orderBy(F.asc("adc"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("rank").cast("int").alias("rank"),
                    id_col, "adc")
            .orderBy("rank"))


def make_pq_codebooks_kmeans(df: DataFrame, n_sub: int, n_codes: int,
                             n_iter: int = 10, sample_size: int = 4096,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> np.ndarray:
    """Per-subspace Lloyd k-means codebooks [M, K, d] trained on a
    deterministic bounded sample (smallest ids) — the production
    quantizer; driver-side numpy on sample_size rows only."""
    rows = (df.orderBy(id_col).limit(sample_size)
            .select(vec_col).collect())
    X = np.array([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    d = dim // n_sub
    books = []
    for m in range(n_sub):
        S = X[:, m * d:(m + 1) * d]
        C = S[:n_codes].copy()
        for _ in range(n_iter):
            a = ((S[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            for kk in range(n_codes):
                pts = S[a == kk]
                if len(pts):
                    C[kk] = pts.mean(0)
        books.append(C)
    return np.stack(books)
