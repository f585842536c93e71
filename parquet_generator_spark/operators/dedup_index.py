"""Persisted MinHash near-dup index: build ONCE from the corpus,
commit through the snapshot table format, classify every incoming
batch against the STORED artifact — the dedup analog of the IVF-PQ
index lifecycle (operators/ann_index.py), closing
incremental_dedup's "signatures would be precomputed and persisted"
note with an actual artifact.

Artifact layout under ``root`` (each a snapshot table — versioned
manifests, time travel):

- ``hashes``    (id, h)              — md5 content hashes (exact tier)
- ``bands``     (id, band, band_key) — the 64 LSH band keys
- ``buckets``   (band, band_key, n_corp) — per-bucket corpus counts,
  pre-aggregated so the serve-time hot-bucket guard needs no pass
  over the stored band table
- ``shingles``  (id, sh)             — the sorted shingle sets the
  exact-Jaccard verify tier reads (the index stores the grams, the
  same storage class as a search engine's term index; signatures
  alone would verify on ESTIMATED similarity — a different, weaker
  contract than `minhash_lsh_pairs_cross`'s exact verify)
- ``index_meta.json`` — parameters (k, n_bands, version, appends)

Serving semantics are VALUE-IDENTICAL to running
``dedup.minhash_lsh_pairs_cross`` over corpus+batch (same
signatures, same band keys, same TOTAL-bucket-size cap semantics,
same round-3 exact-Jaccard verify), but the corpus side costs ZERO
compute: one pandas-UDF signature pass over the BATCH only, then
joins against the stored tables. At 100 TB the corpus is indexed
once and each ingest cycle touches only its own batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import cache as _cache
from parquet_generator_spark.operators.dedup import (
    DEFAULT_BUCKET_CAP,
    _N_BANDS,
    minhash_signature,
    shingle_hashes_spark,
    shingles_spark_inline,
)
from parquet_generator_spark.operators.util import widen_if_narrow
from parquet_generator_spark.sinks import snapshots


def _meta_path(root: str) -> str:
    return os.path.join(root, "index_meta.json")


def _staged(df: DataFrame, id_col: str, content_col: str,
            k: int) -> DataFrame:
    """(id, sh, bands...) for one side — the exact expression chain
    of minhash_lsh_pairs_cross."""
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("id"),
        F.col(content_col).alias("_text"),
        F.expr(shingles_spark_inline(content_col, k)).alias("sh"))
    sig = (sh.withColumn("bh", F.expr(shingle_hashes_spark("sh")))
           .withColumn("sig", minhash_signature("bh"))
           .select("id", "_text", "sh", "sig"))
    return sig


def _bands_of(sig: DataFrame) -> DataFrame:
    return sig.select(
        "id",
        F.posexplode(
            F.expr(f"transform(sequence(0, {_N_BANDS - 1}), "
                   f"b -> concat_ws(',', sig[2*b], sig[2*b+1]))")
        ).alias("band", "band_key"))


def train_dedup_index(spark: SparkSession, corpus: DataFrame,
                      root: str, id_col: str = "id",
                      content_col: str = "text", k: int = 3) -> int:
    """Build + commit the artifact. One signature pass over the
    corpus (the same pass every in-query run would pay), then three
    snapshot commits; re-train overwrites, old versions stay
    time-travelable."""
    sig = _staged(corpus, id_col, content_col, k)
    # lazy: fuses into the first consumer's job (round 13)
    sig = _cache.checkpoint(sig, eager=False)
    bands = _bands_of(sig)
    hashes = sig.select("id", F.md5("_text").alias("h"))
    shingles = sig.select("id", "sh")
    buckets = (bands.groupBy("band", "band_key")
               .agg(F.count(F.lit(1)).alias("n_corp")))

    os.makedirs(root, exist_ok=True)

    def _commit(name: str, df: DataFrame) -> int:
        path = os.path.join(root, name)
        try:
            snapshots.current_version(path)
        except FileNotFoundError:
            return snapshots.create_table(spark, path, df)
        return snapshots.commit_overwrite(spark, path, df)

    v = _commit("hashes", hashes)
    _commit("bands", bands)
    _commit("buckets", buckets)
    _commit("shingles", shingles)
    with open(_meta_path(root), "w") as fh:
        json.dump({"k": k, "n_bands": _N_BANDS, "version": v}, fh)
    return v


def append_dedup_batch(spark: SparkSession, root: str,
                       batch: DataFrame, id_col: str = "id",
                       content_col: str = "text") -> int:
    """Merge-on-append (the IVF-PQ ``append_ivfpq_batch`` analog,
    ann_index.py:241): one signature pass over the NEW batch only,
    then append its hashes/bands/shingles and MERGE the bucket
    stats (stored n_corp + the batch's per-bucket counts — the
    bucket table is band-key cardinality, far smaller than bands,
    so the merged overwrite is cheap). Daily-ingest reality: the
    corpus side never retrains; classification against the grown
    index is value-identical to a full rebuild over corpus+appends
    (pinned in tests/test_dedup_index.py::test_append_equals_rebuild).
    """
    if not os.path.exists(_meta_path(root)):
        raise FileNotFoundError(
            f"no dedup index at {root} — train_dedup_index first")
    with open(_meta_path(root)) as fh:
        meta = json.load(fh)
    sig = _staged(batch, id_col, content_col, meta["k"])
    # lazy: fuses into the first consumer's job (round 13)
    sig = _cache.checkpoint(sig, eager=False)
    bands = _bands_of(sig)

    snapshots.commit_append(
        spark, os.path.join(root, "hashes"),
        sig.select("id", F.md5("_text").alias("h")))
    v = snapshots.commit_append(
        spark, os.path.join(root, "bands"), bands)
    snapshots.commit_append(
        spark, os.path.join(root, "shingles"),
        sig.select("id", "sh"))

    new_counts = (bands.groupBy("band", "band_key")
                  .agg(F.count(F.lit(1)).alias("n_new")))
    st_buckets = snapshots.read_snapshot(
        spark, os.path.join(root, "buckets"))
    merged = (st_buckets.join(new_counts, ["band", "band_key"],
                              "full_outer")
              .select("band", "band_key",
                      (F.coalesce(F.col("n_corp"), F.lit(0))
                       + F.coalesce(F.col("n_new"), F.lit(0)))
                      .alias("n_corp")))
    snapshots.commit_overwrite(
        spark, os.path.join(root, "buckets"), merged)

    meta["version"] = v
    meta["appends"] = meta.get("appends", 0) + 1
    with open(_meta_path(root), "w") as fh:
        json.dump(meta, fh)
    return v


def classify_served(spark: SparkSession, root: str, batch: DataFrame,
                    threshold: float, id_col: str = "id",
                    content_col: str = "text", k: int = 3,
                    bucket_cap: int | None = DEFAULT_BUCKET_CAP
                    ) -> DataFrame:
    """Classify a batch against the STORED index: exact_dup /
    near_dup / new (exact wins), value-identical to the in-query
    cross classification. The batch pays one signature pass; the
    corpus side is pure snapshot reads. The hot-bucket cap is
    evaluated on stored-count + batch-count per bucket — the same
    TOTAL-size semantics as `_drop_hot_buckets` over the union."""
    sig = _staged(batch, id_col, content_col, k)
    # lazy: fuses into the first consumer's job (round 13)
    sig = _cache.checkpoint(sig, eager=False)
    inc_bands = _bands_of(sig)
    inc_h = sig.select("id", F.md5("_text").alias("h"))

    st_hashes = snapshots.read_snapshot(
        spark, os.path.join(root, "hashes"))
    st_bands = snapshots.read_snapshot(
        spark, os.path.join(root, "bands"))
    st_buckets = snapshots.read_snapshot(
        spark, os.path.join(root, "buckets"))
    st_sh = snapshots.read_snapshot(
        spark, os.path.join(root, "shingles"))

    # left_semi keeps at-most-one match per batch row by itself — a
    # distinct on the stored-hash side was a pure extra exchange
    exact_ids = (inc_h
                 .join(st_hashes.select("h"), "h", "left_semi")
                 .select("id").withColumn("e", F.lit(1)))

    keys = ["band", "band_key"]
    if bucket_cap is not None:
        inc_counts = (inc_bands.groupBy(*keys)
                      .agg(F.count(F.lit(1)).alias("n_inc")))
        tot = (inc_counts.join(st_buckets, keys, "left")
               .select(*keys,
                       (F.col("n_inc")
                        + F.coalesce(F.col("n_corp"), F.lit(0)))
                       .alias("n")))
        hot = _cache.checkpoint(
            tot.filter(F.col("n") > bucket_cap).select(*keys))
        inc_bands = inc_bands.join(F.broadcast(hot), keys,
                                   "left_anti")
        st_bands = st_bands.join(F.broadcast(hot), keys, "left_anti")

    # the batch's band set is bounded by the batch, so it BROADCASTS
    # into the stored band table — the corpus side is never shuffled
    # (guide §3.1: broadcast the small side; at 100 TB st_bands is
    # the corpus-scale side and the ingest batch is the small one)
    cand = _cache.checkpoint(
        st_bands.select(*keys, F.col("id").alias("id_corp"))
        .join(F.broadcast(inc_bands), keys)
        .select(F.col("id").alias("id_in"), "id_corp")
        .distinct())
    a = sig.select(F.col("id").alias("id_in"),
                   F.col("sh").alias("sh_a"))
    b = (st_sh.join(F.broadcast(cand.select(F.col("id_corp")
                                            .alias("id")).distinct()),
                    "id", "left_semi")
         .select(F.col("id").alias("id_corp"),
                 F.col("sh").alias("sh_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0,
                 inter.cast("double") / union).otherwise(0.0)
    # candidate pairs and batch shingles are both batch-bounded:
    # attach them to the (corpus-resident) candidate shingles via
    # broadcast joins so the verify tier shuffles nothing
    near_ids = (b.join(F.broadcast(a.join(F.broadcast(cand),
                                          "id_in")), "id_corp")
                .select("id_in", F.round(jac, 3).alias("jaccard"))
                .filter(F.col("jaccard") >= threshold)
                .select(F.col("id_in").alias("id")).distinct()
                .withColumn("nr", F.lit(1)))

    return (batch.select(F.col(id_col).alias("id"))
            .join(exact_ids, "id", "left")
            .join(near_ids, "id", "left")
            .select("id",
                    F.when(F.col("e") == 1, "exact_dup")
                    .when(F.col("nr") == 1, "near_dup")
                    .otherwise("new").alias("status")))
