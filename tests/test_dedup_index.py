"""Persisted MinHash dedup-index lifecycle: build, serve,
value-identity with the in-query cross classification, merge on
append, and snapshot time travel."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup_index
from parquet_generator_spark.sinks import snapshots
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "didx")


def test_build_serve_matches_in_query(spark, root):
    from parquet_generator_spark.operators import dedup
    from parquet_generator_spark.plans.dedup import INC_TAU

    docs = load_table(spark, "documents", SF)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    dedup_index.train_dedup_index(spark, corpus, root,
                                  id_col="doc_id",
                                  content_col="text")
    served = {(r["id"], r["status"]) for r in
              dedup_index.classify_served(
                  spark, root, batch, INC_TAU, id_col="doc_id",
                  content_col="text").collect()}

    # in-query twin over the same split
    sided = docs.withColumn("side",
                            (F.col("doc_id") % 2).cast("int"))
    corpus_h = (corpus.select(F.md5("text").alias("h")).distinct())
    exact = {r["doc_id"] for r in
             batch.select("doc_id", F.md5("text").alias("h"))
             .join(corpus_h, "h", "left_semi").collect()}
    near = {r["id_in"] for r in dedup.minhash_lsh_pairs_cross(
        sided, "doc_id", "text", "side", INC_TAU).collect()}
    want = {(r["doc_id"],
             "exact_dup" if r["doc_id"] in exact
             else ("near_dup" if r["doc_id"] in near else "new"))
            for r in batch.select("doc_id").collect()}
    assert served == want
    assert any(s != "new" for _, s in served)  # non-trivial corpus


def test_retrain_is_time_travelable(spark, root):
    docs = load_table(spark, "documents", SF)
    c1 = docs.filter(F.col("doc_id") % 4 == 0)
    dedup_index.train_dedup_index(spark, c1, root, id_col="doc_id",
                                  content_col="text")
    n1 = snapshots.read_snapshot(
        spark, os.path.join(root, "hashes")).count()
    c2 = docs.filter(F.col("doc_id") % 2 == 0)
    dedup_index.train_dedup_index(spark, c2, root, id_col="doc_id",
                                  content_col="text")
    hashes = os.path.join(root, "hashes")
    assert snapshots.current_version(hashes) >= 2
    # current = the retrained corpus; version 1 still readable
    assert (snapshots.read_snapshot(spark, hashes).count()
            == c2.count())
    assert snapshots.read_snapshot(spark, hashes, 1).count() == n1


def test_append_equals_rebuild(spark, root, tmp_path):
    """Merge-on-append: train on A, append B, classify C — must be
    row-identical to classifying C against an index trained on A∪B
    in one shot (hashes, band joins AND merged bucket-cap stats all
    agree)."""
    from parquet_generator_spark.plans.dedup import INC_TAU

    docs = load_table(spark, "documents", SF)
    part_a = docs.filter(F.col("doc_id") % 4 == 0)
    part_b = docs.filter(F.col("doc_id") % 4 == 2)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    dedup_index.train_dedup_index(spark, part_a, root,
                                  id_col="doc_id",
                                  content_col="text")
    v = dedup_index.append_dedup_batch(spark, root, part_b,
                                       id_col="doc_id",
                                       content_col="text")
    assert v >= 2
    with open(os.path.join(root, "index_meta.json")) as fh:
        assert json.load(fh)["appends"] == 1
    got = {(r["id"], r["status"]) for r in
           dedup_index.classify_served(
               spark, root, batch, INC_TAU, id_col="doc_id",
               content_col="text").collect()}

    rebuilt_root = str(tmp_path / "rebuilt")
    dedup_index.train_dedup_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), rebuilt_root,
        id_col="doc_id", content_col="text")
    want = {(r["id"], r["status"]) for r in
            dedup_index.classify_served(
                spark, rebuilt_root, batch, INC_TAU,
                id_col="doc_id", content_col="text").collect()}
    assert got == want
    assert any(s != "new" for _, s in got)
    # bucket stats merged, not duplicated: total count equals the
    # rebuilt index's total
    import os as _os
    n_app = (snapshots.read_snapshot(
        spark, _os.path.join(root, "buckets"))
        .agg(F.sum("n_corp")).collect()[0][0])
    n_reb = (snapshots.read_snapshot(
        spark, _os.path.join(rebuilt_root, "buckets"))
        .agg(F.sum("n_corp")).collect()[0][0])
    assert n_app == n_reb


def test_append_requires_trained_index(spark, root):
    docs = load_table(spark, "documents", SF).limit(5)
    with pytest.raises(FileNotFoundError, match="train_dedup_index"):
        dedup_index.append_dedup_batch(spark, root, docs,
                                       id_col="doc_id",
                                       content_col="text")
