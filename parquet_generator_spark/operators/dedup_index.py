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
from parquet_generator_spark.operators import dedup
from parquet_generator_spark.operators.text import shingles_spark_inline
from parquet_generator_spark.operators.util import widen_if_narrow
from parquet_generator_spark.sinks import snapshots


def _meta_path(root: str) -> str:
    return os.path.join(root, "index_meta.json")


def _read_meta(root: str) -> dict:
    if not os.path.exists(_meta_path(root)):
        raise FileNotFoundError(
            f"no dedup index at {root} — train_dedup_index first")
    with open(_meta_path(root)) as fh:
        return json.load(fh)


def _signed(df: DataFrame, id_col: str, content_col: str,
            k: int) -> DataFrame:
    """(id, _text, sh, sig) for one side, through the MinHash stage
    that `minhash_lsh_pairs_cross` runs, behind a lazy checkpoint
    that fuses into the first consumer's job (round 13)."""
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("id"),
        F.col(content_col).alias("_text"),
        F.expr(shingles_spark_inline(content_col, k)).alias("sh"))
    return _cache.checkpoint(dedup.minhash_stage(sh, "_text", "sh"),
                             eager=False)


def train_dedup_index(spark: SparkSession, corpus: DataFrame,
                      root: str, id_col: str = "id",
                      content_col: str = "text", k: int = 3) -> int:
    """Build + commit the artifact. One signature pass over the
    corpus (the same pass every in-query run would pay), then three
    snapshot commits; re-train overwrites, old versions stay
    time-travelable."""
    sig = _signed(corpus, id_col, content_col, k)
    bands = dedup.minhash_bands(sig)
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
        json.dump({"k": k, "n_bands": dedup._N_BANDS, "version": v}, fh)
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
    meta = _read_meta(root)
    sig = _signed(batch, id_col, content_col, meta["k"])
    bands = dedup.minhash_bands(sig)

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
                    content_col: str = "text",
                    bucket_cap: int | None = dedup.DEFAULT_BUCKET_CAP
                    ) -> DataFrame:
    """Classify a batch against the STORED index: exact_dup /
    near_dup / new (exact wins), value-identical to the in-query
    cross classification. The batch is shingled with the index's
    stored ``k`` and pays one signature pass; the corpus side is pure
    snapshot reads. The hot-bucket cap is evaluated on stored-count +
    batch-count per bucket — the same TOTAL-size semantics as
    `_drop_hot_buckets` over the union."""
    sig = _signed(batch, id_col, content_col, _read_meta(root)["k"])
    inc_bands = dedup.minhash_bands(sig)

    def stored(name: str) -> DataFrame:
        return snapshots.read_snapshot(spark, os.path.join(root, name))

    keys = ["band", "band_key"]
    if bucket_cap is not None:
        # a hot key always has batch rows, so dropping it from the
        # batch bands is enough: the band-key join below then finds
        # none of its stored rows. Lazy, so no job runs at build.
        hot = (inc_bands.groupBy(*keys)
               .agg(F.count(F.lit(1)).alias("n_inc"))
               .join(stored("buckets"), keys, "left")
               .filter(F.col("n_inc") + F.coalesce(F.col("n_corp"),
                                                   F.lit(0))
                       > bucket_cap)
               .select(*keys))
        inc_bands = inc_bands.join(F.broadcast(hot), keys, "left_anti")

    # the batch's band set is bounded by the batch, so it BROADCASTS
    # into the stored band table — the corpus side is never shuffled
    # (guide §3.1: broadcast the small side; at 100 TB the stored
    # bands are the corpus-scale side and the ingest batch is the
    # small one)
    cand = _cache.checkpoint(
        stored("bands").select(*keys, F.col("id").alias("id_corp"))
        .join(F.broadcast(inc_bands), keys)
        .select(F.col("id").alias("id_in"), "id_corp")
        .distinct())
    a = sig.select(F.col("id").alias("id_in"),
                   F.col("sh").alias("sh_a"))
    b = (stored("shingles")
         .join(F.broadcast(cand.select(F.col("id_corp")
                                       .alias("id")).distinct()),
               "id", "left_semi")
         .select(F.col("id").alias("id_corp"),
                 F.col("sh").alias("sh_b")))
    # candidate pairs and batch shingles are both batch-bounded:
    # attach them to the (corpus-resident) candidate shingles via
    # broadcast joins so the verify tier shuffles nothing
    near = (b.join(F.broadcast(a.join(F.broadcast(cand), "id_in")),
                   "id_corp")
            .select("id_in",
                    dedup.jaccard("sh_a", "sh_b").alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))
    # the verdict reads the batch scan, not the widened signature
    # frame: its join exchange then has the scan's splits, not the
    # widened partition count
    return dedup.classify_dups(
        batch.select(F.col(id_col).alias("id"),
                     F.md5(content_col).alias("h")),
        stored("hashes"), near)
