"""Snapshot/table-format layer: time travel, optimistic concurrency,
empty versions, lossless per-file stats."""

from __future__ import annotations

import pytest

from parquet_generator_spark.sinks import snapshots as snap
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _nations(spark):
    return (load_table(spark, "nation", SF)
            .select("n_nationkey", "n_name", "n_regionkey"))


def test_time_travel_reads_each_version(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = _nations(spark)
    v1 = snap.create_table(spark, t, df.filter("n_nationkey < 10"),
                           stat_cols=["n_nationkey"])
    v2 = snap.commit_append(spark, t, df.filter("n_nationkey >= 10"),
                            stat_cols=["n_nationkey"])
    v3 = snap.commit_overwrite(spark, t,
                               df.filter("n_nationkey = 0"))
    assert (v1, v2, v3) == (1, 2, 3)
    assert snap.read_snapshot(spark, t, 1).count() == 10
    assert snap.read_snapshot(spark, t, 2).count() == df.count()
    assert snap.read_snapshot(spark, t).count() == 1  # latest = v3
    # v1 is bit-stable after later commits (files are immutable)
    got = sorted(r["n_nationkey"] for r in
                 snap.read_snapshot(spark, t, 1).collect())
    assert got == list(range(10))
    ops = [h["operation"] for h in snap.history(t)]
    assert ops == ["create", "append", "overwrite"]


def test_concurrent_writer_rejected(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    df = _nations(spark)
    snap.create_table(spark, t, df)
    # two writers read the same parent (v1); the second commit from
    # that stale parent must fail loudly, not silently clobber
    snap.commit_append(spark, t, df.limit(1), expected_version=1)
    with pytest.raises(snap.ConcurrentWriteError):
        snap.commit_append(spark, t, df.limit(2), expected_version=1)
    # a commit from the CURRENT version proceeds
    snap.commit_append(spark, t, df.limit(2))
    assert snap.current_version(t) == 3


def test_empty_overwrite_reads_back_empty(spark, tmp_path):
    t = str(tmp_path / "tbl6")
    df = _nations(spark)
    snap.create_table(spark, t, df)
    snap.commit_overwrite(spark, t, df.filter("n_nationkey < 0"))
    empty = snap.read_snapshot(spark, t)
    assert empty.count() == 0
    assert empty.columns == df.columns


def test_non_utf8_key_stats_are_dropped(spark, tmp_path):
    """A manifest must not record lossy bounds: a binary key whose
    parquet min/max bytes are not valid UTF-8 used to be stored with
    U+FFFD substitution, which could put the recorded min above keys
    the file holds. Such stats are dropped entirely, while valid
    UTF-8 stats are kept and the rows read back unchanged."""
    t = str(tmp_path / "tbl_bin")
    df = spark.createDataFrame(
        [(bytearray(b"\xff\x01"), "v1"), (bytearray(b"\xfe\x02"), "v2")],
        "k binary, payload string")
    snap.create_table(spark, t, df.coalesce(1), stat_cols=["k", "payload"])
    # no stats entry may survive for the non-UTF8 binary key
    for f in snap.read_manifest(t)["files"]:
        assert "k" not in f["stats"]
        assert f["stats"]["payload"] == ["v1", "v2"]
    rows = {bytes(r["k"]): r["payload"]
            for r in snap.read_snapshot(spark, t).collect()}
    assert rows == {b"\xff\x01": "v1", b"\xfe\x02": "v2"}
