"""Kafka-shaped message-bus contract: partition fan-out, offset
resume, replay immutability, at-least-once redelivery, exactly-once
sink publication — the semantics a real broker swap-in must keep
(mirrors test_es_contract.py's fake-cluster pattern)."""

from __future__ import annotations

import os

import pytest

from parquet_generator_spark.sources import bus_source as bus


def _seed_topic(topic: str, n_parts: int = 3, per_part: int = 7):
    for p in range(n_parts):
        bus.produce(topic, p, [
            (f"k{p}-{i}", f"v{p}-{i}", f"2024-01-0{p + 1}")
            for i in range(per_part)])


def test_partition_fanout_and_per_partition_order(spark, tmp_path):
    topic = str(tmp_path / "t1")
    _seed_topic(topic)
    df, end = bus.fetch_batch(spark, topic, start={})
    rows = df.collect()
    assert len(rows) == 21
    assert end == {0: 7, 1: 7, 2: 7}
    # dense ascending offsets per partition (the Kafka invariant)
    for p in range(3):
        offs = sorted(r["offset"] for r in rows if r["partition"] == p)
        assert offs == list(range(7))
    # fan-out: at least one Spark task per bus partition
    assert df.rdd.getNumPartitions() >= 3


def test_offset_resume_no_gaps_no_dups(spark, tmp_path):
    topic = str(tmp_path / "t2")
    group = str(tmp_path / "g2")
    _seed_topic(topic, n_parts=2, per_part=10)
    seen: list[tuple] = []

    def sink(df):
        seen.extend((r["partition"], r["offset"]) for r in df.collect())

    # three bounded batches drain the topic: 4+4+2 per partition
    for _ in range(3):
        bus.consume_once(spark, topic, group, sink,
                         max_records_per_partition=4)
    assert sorted(seen) == [(p, o) for p in range(2) for o in range(10)]
    assert bus.read_committed(group) == {0: 10, 1: 10}
    # a further poll is empty (committed == end)
    n_before = len(seen)
    bus.consume_once(spark, topic, group, sink)
    assert len(seen) == n_before


def test_replay_is_immutable(spark, tmp_path):
    topic = str(tmp_path / "t3")
    _seed_topic(topic, n_parts=2, per_part=5)
    a = sorted(map(tuple, bus.fetch_batch(
        spark, topic, {0: 1, 1: 2})[0].collect()))
    # produce more AFTER the read range — replay of the old range
    # must be byte-identical (segments are immutable)
    bus.produce(topic, 0, [("late", "late", "2024-02-01")])
    b = sorted(map(tuple, bus.fetch_batch(
        spark, topic, {0: 1, 1: 2},
        max_records_per_partition=4)[0].collect()))
    a_old = [r for r in a if not (r[0] == 0 and r[1] >= 5)]
    assert b == a_old


def test_at_least_once_redelivers_after_crash(spark, tmp_path):
    topic = str(tmp_path / "t4")
    group = str(tmp_path / "g4")
    _seed_topic(topic, n_parts=1, per_part=3)
    seen: list[int] = []

    def sink(df):
        seen.extend(r["offset"] for r in df.collect())

    with pytest.raises(RuntimeError, match="simulated crash"):
        bus.consume_once(spark, topic, group, sink,
                         crash_before_commit=True)
    assert seen == [0, 1, 2]
    assert bus.read_committed(group) == {}  # commit never happened
    bus.consume_once(spark, topic, group, sink)
    assert seen == [0, 1, 2, 0, 1, 2]  # redelivered: at-least-once


def test_exactly_once_sink_is_idempotent_on_redelivery(spark, tmp_path):
    topic = str(tmp_path / "t5")
    group = str(tmp_path / "g5")
    out = str(tmp_path / "sink5")
    _seed_topic(topic, n_parts=2, per_part=6)

    bus.exactly_once_sink(spark, topic, out, group,
                          max_records_per_partition=3)
    # simulate the crash-after-publish-before-commit window: wipe the
    # advisory offset store and recover from the sink itself
    os.remove(os.path.join(group, "OFFSETS"))
    recovered = bus.recover_offsets_from_sink(out)
    assert recovered == {0: 3, 1: 3}
    bus.commit_offsets(group, recovered)
    # redeliver the SAME batch range: overwrites its own directory
    bus.commit_offsets(group, {})  # rewind to force redelivery
    bus.exactly_once_sink(spark, topic, out, group,
                          max_records_per_partition=3)
    bus.exactly_once_sink(spark, topic, out, group,
                          max_records_per_partition=3)
    got = spark.read.parquet(f"{out}/batch=*").drop("batch")
    rows = sorted((r["partition"], r["offset"]) for r in got.collect())
    assert rows == [(p, o) for p in range(2) for o in range(6)], \
        "no duplicates after redelivery, full topic exactly once"


def test_empty_topic_yields_empty_frame(spark, tmp_path):
    topic = str(tmp_path / "t6")
    os.makedirs(topic)
    df, end = bus.fetch_batch(spark, topic, {})
    assert df.count() == 0
    assert end == {}

