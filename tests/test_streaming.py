"""Structured Streaming tests: watermarked window aggregations,
stateful operators, stream joins and foreachBatch sinks, drained with
availableNow."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.sources.catalog import load_table
from parquet_generator_spark.streaming.windowed import windowed_event_counts

SF = "/root/testdata/sf0.001"


def test_windowed_agg_stream_matches_batch(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    batch = windowed_event_counts(ev).collect()

    # stream the same events from parquet files with a watermark
    ev.write.parquet(str(tmp_path / "events"))
    stream = (spark.readStream.schema(ev.schema)
              .parquet(str(tmp_path / "events")))
    agg = windowed_event_counts(stream, watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("winagg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from winagg").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_session_window_stream_matches_batch(spark, tmp_path):
    from parquet_generator_spark.streaming.stateful import session_window_agg

    ev = load_table(spark, "events", SF)
    batch = session_window_agg(ev).collect()

    ev.write.parquet(str(tmp_path / "events_sw"))
    stream = (spark.readStream.schema(ev.schema)
              .parquet(str(tmp_path / "events_sw")))
    agg = session_window_agg(stream, watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("sessagg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from sessagg").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    import json as _json

    from parquet_generator_spark.streaming.stateful import stream_dedup

    src = tmp_path / "dedup_in"
    src.mkdir()
    # the same 5 keys appear in every file; only the first batch's
    # rows should survive
    for batch in range(3):
        with open(src / f"b{batch}.json", "w") as fh:
            for k in range(5):
                fh.write(_json.dumps({
                    "key": f"k{k}",
                    "ts": f"2024-01-01 00:{batch:02d}:00",
                    "payload": batch}) + "\n")

    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.LongType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    deduped = stream_dedup(stream, ["key"], watermark="10 minutes")
    q = (deduped.writeStream.format("memory").queryName("dedupq")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("select * from dedupq").collect()
    # one survivor per key (whichever micro-batch arrived first);
    # without the dedup all 15 rows would appear
    assert len(rows) == 5
    assert len({r["key"] for r in rows}) == 5


def test_stateful_running_totals_across_batches(spark, tmp_path):
    from parquet_generator_spark.streaming.stateful import (
        running_purchase_totals,
    )

    ev = load_table(spark, "events", SF)
    expected = {
        (r["user_id"], r["n"], round(r["s"], 6))
        for r in (ev.filter(F.col("event_type") == "purchase")
                  .groupBy("user_id")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("value").alias("s")).collect())
    }

    # 4 files -> 4 micro-batches; state must carry across them
    ev.repartition(4).write.parquet(str(tmp_path / "events_state"))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "events_state")))
    q = (running_purchase_totals(stream)
         .writeStream.format("memory").queryName("runtot")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    # update mode emits one row per (user, batch); the LAST emission
    # per user is the final running total
    final = spark.sql("""
        select user_id, n_purchases, total_spend from (
          select *, row_number() over (partition by user_id
                                       order by n_purchases desc) rk
          from runtot) where rk = 1""").collect()
    got = {(r["user_id"], r["n_purchases"], round(r["total_spend"], 6))
           for r in final}
    assert got == expected


def test_foreachbatch_upsert_latest_wins(spark, tmp_path):
    import json as _json

    from parquet_generator_spark.streaming.upsert import upsert_writer

    src = tmp_path / "upsert_in"
    src.mkdir()
    # three versions of the same 4 keys arrive across micro-batches
    for version in range(3):
        with open(src / f"v{version}.json", "w") as fh:
            for k in range(4):
                fh.write(_json.dumps({
                    "key": f"k{k}", "version": version,
                    "payload": f"k{k}-v{version}"}) + "\n")

    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("payload", T.StringType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = upsert_writer(stream, str(tmp_path / "upsert_out"),
                      str(tmp_path / "upsert_ckpt"),
                      key_cols=["key"], order_cols=["version"])
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "upsert_out")).collect()
    # one row per key, and regardless of file arrival order the
    # highest version won
    assert {(r["key"], r["version"], r["payload"]) for r in out} == {
        (f"k{k}", 2, f"k{k}-v2") for k in range(4)}


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    from parquet_generator_spark.streaming.enrich import (
        enrich_events_with_customer,
    )

    ev = load_table(spark, "events", SF)
    cust = load_table(spark, "customer", SF)
    batch = enrich_events_with_customer(ev, cust).collect()

    ev.repartition(3).write.parquet(str(tmp_path / "enrich_in"))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "enrich_in")))
    agg = enrich_events_with_customer(stream, cust)
    q = (agg.writeStream.format("memory").queryName("enrichq")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from enrichq").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from parquet_generator_spark.streaming.stream_join import (
        view_click_pairs,
    )

    ev = load_table(spark, "events", SF)
    batch = view_click_pairs(ev, ev).collect()
    assert batch  # the interval join must actually produce pairs

    ev.repartition(3).write.parquet(str(tmp_path / "ssj_in"))
    v_stream = (spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(tmp_path / "ssj_in")))
    c_stream = (spark.readStream.schema(ev.schema)
                .parquet(str(tmp_path / "ssj_in")))
    # files carry unordered 30-day-spread event times; the watermark
    # must exceed that spread or cross-batch rows are dropped as late
    pairs = view_click_pairs(v_stream, c_stream, watermark="40 days")
    q = (pairs.writeStream.format("memory").queryName("ssjq")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from ssjq").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    from parquet_generator_spark.streaming.stream_join import (
        view_click_pairs,
    )

    ev = load_table(spark, "events", SF)
    batch = view_click_pairs(ev, ev, how="left_outer").collect()
    n_unmatched = sum(1 for r in batch if r["c_ts"] is None)
    assert n_unmatched > 0  # data must exercise the outer path

    ev.repartition(2).write.parquet(str(tmp_path / "sslo_in"))
    v_stream = (spark.readStream.schema(ev.schema)
                .parquet(str(tmp_path / "sslo_in")))
    c_stream = (spark.readStream.schema(ev.schema)
                .parquet(str(tmp_path / "sslo_in")))
    pairs = view_click_pairs(v_stream, c_stream, watermark="40 days",
                             how="left_outer")
    q = (pairs.writeStream.format("memory").queryName("ssloq")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from ssloq").collect()
    # matched pairs always emit; unmatched views flush only when the
    # watermark passes their interval — availableNow's final no-data
    # batch advances it past max(event time) - 40d, which here leaves
    # them pending, so assert the inner subset matches batch exactly
    # and no spurious unmatched row appears
    s_inner = sorted(tuple(r) for r in streamed if r["c_ts"] is not None)
    b_inner = sorted(tuple(r) for r in batch if r["c_ts"] is not None)
    assert s_inner == b_inner
    s_unmatched = {tuple(r) for r in streamed if r["c_ts"] is None}
    b_unmatched = {tuple(r) for r in batch if r["c_ts"] is None}
    assert s_unmatched <= b_unmatched


def test_timeout_sessions_emit_on_watermark_expiry(spark, tmp_path):
    import json as _json

    from parquet_generator_spark.streaming.stateful import timeout_sessions

    src = tmp_path / "sess_in"
    src.mkdir()
    # user 1: two sessions separated by > 30 min; user 2: one session.
    # Files arrive in time order so the watermark rises monotonically.
    batches = [
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
         (2, "2024-01-01 10:05:00")],
        [(1, "2024-01-01 12:00:00"),   # closes user 1's first session
         (2, "2024-01-01 12:01:00")],  # closes user 2's only session
        [(1, "2024-01-01 23:00:00"),   # closes user 1's second session
         (2, "2024-01-01 23:00:01")],
    ]
    import os as _os
    import time as _time
    now = _time.time()
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        with open(p, "w") as fh:
            for uid, ts in rows:
                fh.write(_json.dumps({"user_id": uid, "ts": ts}) + "\n")
        # the file source orders micro-batches by mtime; same-second
        # writes tie and arrive out of order, so pin distinct mtimes
        _os.utime(p, (now + i * 10, now + i * 10))

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = (timeout_sessions(stream)
         .writeStream.format("memory").queryName("tosess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["user_id"], str(r["session_start"]), str(r["session_end"]),
            r["n_events"])
           for r in spark.sql("select * from tosess").collect()}
    # sessions whose (end + 30 min) the final watermark passed; the
    # 23:00 sessions stay open in state (no later watermark advance)
    assert got == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2),
        (2, "2024-01-01 10:05:00", "2024-01-01 10:05:00", 1),
        (1, "2024-01-01 12:00:00", "2024-01-01 12:00:00", 1),
        (2, "2024-01-01 12:01:00", "2024-01-01 12:01:00", 1),
    }


def test_stream_near_dedup_collapses_reformatted_payloads(spark, tmp_path):
    """Signature dedup must suppress payloads that are identical
    modulo tokenization (key order / whitespace) across micro-batches
    — byte-level dedup would keep them all."""
    import json as _json

    from parquet_generator_spark.streaming.stateful import (
        near_dedup_by_signature,
    )

    src = tmp_path / "neardedup_in"
    src.mkdir()
    variants = ['{"k": 7, "tag": "alpha"}',
                '{ "tag":"alpha",  "k":7 }',      # same tokens, reordered
                '{"k":7,"tag":"alpha"}']          # same tokens, compact
    with open(src / "b0.json", "w") as fh:
        fh.write(_json.dumps({"props": variants[0],
                              "ts": "2024-01-01 00:00:00"}) + "\n")
        fh.write(_json.dumps({"props": '{"k": 9, "tag": "beta"}',
                              "ts": "2024-01-01 00:00:30"}) + "\n")
    for b, v in enumerate(variants[1:], start=1):
        with open(src / f"b{b}.json", "w") as fh:
            fh.write(_json.dumps({"props": v,
                                  "ts": f"2024-01-01 00:0{b}:00"}) + "\n")

    schema = T.StructType([
        T.StructField("props", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    deduped = near_dedup_by_signature(stream, "props",
                                      watermark="10 minutes")
    q = (deduped.writeStream.format("memory").queryName("neardedupq")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("select * from neardedupq").collect()
    # the three reformattings share one signature: 2 survivors total
    assert len(rows) == 2
    assert len({r["sig"] for r in rows}) == 2


def test_sliding_agg_stream_matches_batch(spark, tmp_path):
    from parquet_generator_spark.streaming.windowed import (
        sliding_event_counts,
    )

    ev = load_table(spark, "events", SF)
    batch = sliding_event_counts(ev).collect()

    ev.write.parquet(str(tmp_path / "events"))
    stream = (spark.readStream.schema(ev.schema)
              .parquet(str(tmp_path / "events")))
    agg = sliding_event_counts(stream, watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("slideagg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from slideagg").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    # overlap invariant: total windowed rows = 2x the event count
    total = sum(r["n"] for r in streamed)
    assert total == 2 * ev.count()


def test_rate_anomalies_stream_matches_batch_and_flags_spike(
        spark, tmp_path):
    import datetime

    from parquet_generator_spark.streaming.stateful import (
        rate_anomalies,
    )

    base = datetime.datetime(2024, 5, 1)
    rows = []
    # user 1: steady values 100 +- 2, then a 500 spike at event 20
    for i in range(25):
        v = 500.0 if i == 20 else 100.0 + (i % 5) - 2.0
        rows.append((i, 1, base + datetime.timedelta(minutes=i), v))
    # user 2: wildly varying from the start — the spike-sized value
    # is NOT anomalous for this user
    for i in range(25):
        rows.append((100 + i, 2, base + datetime.timedelta(minutes=i),
                     float((i * 997) % 700)))
    schema = "event_id long, user_id long, ts timestamp, value double"
    df = spark.createDataFrame(rows, schema)

    # python Welford replica = the expected verdicts
    # (applyInPandasWithState itself only runs on streams)
    from parquet_generator_spark.streaming.stateful import (
        ANOMALY_MIN_N,
        ANOMALY_Z,
    )
    expected = set()
    by_user = {}
    for eid, uid, ts, v in sorted(rows, key=lambda r: (r[2], r[0])):
        n, mean, m2 = by_user.get(uid, (0, 0.0, 0.0))
        if n >= ANOMALY_MIN_N:
            var = m2 / n
            if var > 0 and abs((v - mean) / var ** 0.5) > ANOMALY_Z:
                expected.add((uid, eid))
        n += 1
        d = v - mean
        mean += d / n
        m2 += d * (v - mean)
        by_user[uid] = (n, mean, m2)
    assert (1, 20) in expected
    assert all(u != 1 or e == 20 for u, e in expected)

    # stream the events in two batches; verdicts must match
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = tmp_path / "in"
    src.mkdir()
    half = sorted(rows, key=lambda r: (r[2], r[0]))
    for name, part in (("b0", half[:25]), ("b1", half[25:])):
        pq.write_table(pa.table({
            "event_id": [r[0] for r in part],
            "user_id": [r[1] for r in part],
            "ts": [r[2] for r in part],
            "value": [r[3] for r in part]}), str(src / f"{name}.parquet"))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (rate_anomalies(stream)
         .writeStream.format("memory").queryName("anom")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = spark.sql("select * from anom").collect()
    assert {(r["user_id"], r["event_id"]) for r in streamed} == expected


def test_window_distinct_stream_matches_batch(spark, tmp_path):
    """HLL++ buffers merge associatively and deterministically, so
    the streaming incremental approx-distinct equals the batch
    aggregate EXACTLY (same estimates, not just in-bound)."""
    from parquet_generator_spark.streaming.windowed import (
        windowed_distinct_users,
    )

    ev = load_table(spark, "events", SF)
    batch = windowed_distinct_users(ev).collect()

    ev.write.parquet(str(tmp_path / "events_wd"))
    stream = (spark.readStream.schema(ev.schema)
              .parquet(str(tmp_path / "events_wd")))
    agg = windowed_distinct_users(stream, watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("windist")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from windist").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert len(batch) > 0


def test_stream_percolate_matches_batch(spark, tmp_path):
    """Streaming percolation (the alerting engine) emits exactly the
    batch percolator's (query_id, doc_id) pairs, across multiple
    micro-batches, with no state."""
    import json

    from parquet_generator_spark.streaming.percolate import (
        percolate_stream,
    )

    registry = [
        ("hot", {"bool": {"must": [{"match": {"text": "spark"}},
                                   {"range": {"n": {"gte": 5}}}]}}),
        ("any_merge", {"match": {"text": "merge"}}),
    ]
    docs = [
        {"doc_id": 1, "text": "spark row", "n": 9},
        {"doc_id": 2, "text": "spark row", "n": 1},
        {"doc_id": 3, "text": "merge batch", "n": 0},
        {"doc_id": 4, "text": "spark merge", "n": 7},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # two micro-batches
    (in_dir / "b0.json").write_text("\n".join(
        json.dumps(d) for d in docs[:2]))
    (in_dir / "b1.json").write_text("\n".join(
        json.dumps(d) for d in docs[2:]))

    schema = "doc_id long, text string, n long"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(in_dir)))
    out = percolate_stream(stream, registry)
    q = (out.writeStream.format("memory")
         .queryName("percolated").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["query_id"], r["doc_id"])
           for r in spark.sql("SELECT * FROM percolated").collect()}
    batch = percolate_stream(
        spark.createDataFrame([tuple(d.values()) for d in docs],
                              schema), registry)
    want = {(r["query_id"], r["doc_id"]) for r in batch.collect()}
    assert got == want
    assert got == {("hot", 1), ("hot", 4), ("any_merge", 3),
                   ("any_merge", 4)}


def test_stream_percolate_empty_registry_streams(spark, tmp_path):
    """The empty-registry guard must stay valid on the STREAMING
    plan: limit(0) is unsupported on streaming Datasets, so the guard
    uses filter(lit(False)) — zero rows, both execution modes."""
    import json

    from parquet_generator_spark.streaming.percolate import (
        percolate_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b0.json").write_text(
        json.dumps({"doc_id": 1, "text": "spark", "n": 1}))
    schema = "doc_id long, text string, n long"
    stream = (spark.readStream.schema(schema).json(str(in_dir)))
    out = percolate_stream(stream, [])
    q = (out.writeStream.format("memory")
         .queryName("percolated_empty").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM percolated_empty").count() == 0
    # batch twin: same zero-row typed frame
    batch = percolate_stream(
        spark.createDataFrame([(1, "spark", 1)], schema), [])
    assert batch.count() == 0
    assert batch.columns == ["query_id", "doc_id"]


def test_scripted_fold_stream_matches_batch(spark, tmp_path):
    """The scripted_metric painless-fold subset compiles to
    associative aggregates, so the identical columns must produce
    the same windows incrementally under Structured Streaming."""
    from parquet_generator_spark.streaming.scripted import (
        windowed_scripted_folds,
    )

    ev = load_table(spark, "events", SF)
    batch = windowed_scripted_folds(ev).collect()

    ev.write.parquet(str(tmp_path / "events"))
    stream = (spark.readStream.schema(ev.schema)
              .parquet(str(tmp_path / "events")))
    agg = windowed_scripted_folds(stream, watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("scriptedfold")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    streamed = spark.sql("select * from scriptedfold").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_windowed_topk_stream_matches_batch(spark, tmp_path):
    """The foreachBatch top-k runner's FINAL table equals the batch
    twin: complete mode hands the last micro-batch the full counts,
    so the last rank-and-replace is the converged answer."""
    from parquet_generator_spark.streaming.windowed import (
        run_topk_stream,
        windowed_type_topk,
    )

    ev = load_table(spark, "events", SF)
    batch = windowed_type_topk(ev).collect()

    ev.write.parquet(str(tmp_path / "events_topk"))
    stream = (spark.readStream.schema(ev.schema)
              .parquet(str(tmp_path / "events_topk")))
    q = run_topk_stream(stream, "topk_stream")
    q.awaitTermination(120)

    streamed = spark.sql(
        "select * from global_temp.topk_stream").collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_windowed_topk_update_mode_matches_batch(spark, tmp_path):
    """The UNBOUNDED-safe runner (update mode + watermark + keyed-sink
    merge) converges to the batch answer AND its state stays bounded
    by open windows — the eviction complete mode cannot do. Chunks
    arrive in event-time order (explicit mtimes; FileStreamSource
    processes oldest-first), so the 1h watermark drops nothing."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from parquet_generator_spark.streaming.windowed import (
        run_topk_stream_update,
        windowed_type_topk,
    )

    ev = load_table(spark, "events", SF)
    batch = windowed_type_topk(ev).collect()
    n_windows = ev.select(
        F.window("ts", "6 hours")).distinct().count()

    src = str(tmp_path / "ev_ordered")
    os.makedirs(src)
    bounds = [f"2024-01-{d:02d}" for d in
              (1, 4, 7, 10, 13, 16, 19, 22, 25, 28)] + ["2024-02-01"]
    for i in range(10):
        stage = str(tmp_path / f"w{i}")
        (ev.filter((F.col("ts") >= bounds[i])
                   & (F.col("ts") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(stage))
        part = glob.glob(stage + "/part-*.parquet")[0]
        dst = f"{src}/chunk{i:02d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1700000000 + i * 60,) * 2)

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    counts = str(tmp_path / "topk_counts")
    topk = str(tmp_path / "topk_table")
    q = run_topk_stream_update(
        stream, counts, topk, str(tmp_path / "topk_ckpt"),
        watermark="1 hour")
    q.awaitTermination(240)
    progresses = [p for p in q.recentProgress
                  if p["stateOperators"]]

    got = spark.read.parquet(topk).select(
        "win_start", "rk", "event_type", "n", "sum_value").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))

    # state boundedness: the watermark evicted closed windows, so the
    # peak state row count stays well under ALL windows x keys (which
    # is what complete mode would retain by the final batch)
    peak = max(p["stateOperators"][0]["numRowsTotal"]
               for p in progresses)
    n_keys = 5
    assert peak < n_windows * n_keys * 0.5, (peak, n_windows * n_keys)


def test_swap_crash_recovery_never_loses_table(spark, tmp_path):
    """The keyed-sink publish protocol must not have a lost-table
    crash window: the old delete-then-rename left the path missing
    between rmtree and replace, so a micro-batch replay would read
    existing=None and silently discard all accumulated counts. The
    rename-aside protocol leaves either the old or the new complete
    version recoverable at every step."""
    import os
    import shutil

    from parquet_generator_spark.streaming.windowed import (
        _recover_swap,
        _swap,
    )

    path = str(tmp_path / "tbl")
    v1 = spark.range(3).withColumnRenamed("id", "n")
    _swap(v1, path)
    assert spark.read.parquet(path).count() == 3
    assert not os.path.exists(path + "_old")

    # normal re-publish replaces content and leaves no aside copy
    _swap(spark.range(5).withColumnRenamed("id", "n"), path)
    assert spark.read.parquet(path).count() == 5
    assert not os.path.exists(path + "_old")

    # crash between rename-aside and promote: path missing, _old has
    # the last complete version -> recovery restores it
    os.replace(path, path + "_old")
    assert not os.path.exists(path)
    _recover_swap(path)
    assert spark.read.parquet(path).count() == 5

    # crash after promote, before the final delete: both exist ->
    # recovery keeps the published version, next swap cleans up
    shutil.copytree(path, path + "_old")
    _recover_swap(path)
    assert spark.read.parquet(path).count() == 5
    _swap(spark.range(2).withColumnRenamed("id", "n"), path)
    assert spark.read.parquet(path).count() == 2
    assert not os.path.exists(path + "_old")
    assert not os.path.exists(path + "_staging")


def test_counter_rate_stream_matches_batch(spark, tmp_path):
    """The stateful streaming counter-rate (per-series last-value
    state bridging micro-batches) sums to the batch twin's per-day
    totals: every event's reconstructed increase is emitted exactly
    once even when a series' rows split across batches."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from parquet_generator_spark.streaming.stateful import (
        counter_rate_stream,
    )
    import __spark_entry__ as em

    ev = load_table(spark, "events", SF)
    # the stored-counter column, identical to the batch query's
    # synthesis (cumsum of a per-event weight, mod 1000)
    w_cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    ctr = ev.select(
        "user_id", "ts", "event_id",
        (F.sum(F.col("event_id") % 5 + 1).over(w_cum) % 1000)
        .alias("ctr"))

    src = str(tmp_path / "ctr_src")
    os.makedirs(src)
    bounds = ["2024-01-01", "2024-01-11", "2024-01-21", "2024-02-01"]
    for i in range(3):
        stage = str(tmp_path / f"c{i}")
        (ctr.filter((F.col("ts") >= bounds[i])
                    & (F.col("ts") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(stage))
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.move(part, f"{src}/chunk{i}.parquet")
        os.utime(f"{src}/chunk{i}.parquet", (1700000000 + i * 60,) * 2)

    stream = (spark.readStream.schema(ctr.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (counter_rate_stream(stream)
         .writeStream.format("memory").queryName("ctr_rate")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = (spark.sql("select * from ctr_rate")
           .groupBy("day")
           .agg(F.sum("n_events").alias("n_events"),
                F.sum("n_resets").alias("n_resets"),
                F.sum("inc").alias("total_increase"))
           .orderBy("day"))
    batch = (em.queries()["dsl_counter_rate"](spark, SF)
             .select("day", "n_events", "n_resets", "total_increase")
             .orderBy("day"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_foreachbatch_changelog_tombstones(spark, tmp_path):
    import json as _json

    from parquet_generator_spark.streaming.upsert import (
        changelog_writer,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    # batch 0: insert k0..k3 v0; batch 1: delete k1, update k2;
    # batch 2: re-insert k1 (resurrection), delete k3
    batches = [
        [{"key": f"k{k}", "version": 0, "op": "upsert",
          "payload": f"k{k}-v0"} for k in range(4)],
        [{"key": "k1", "version": 1, "op": "delete", "payload": None},
         {"key": "k2", "version": 1, "op": "upsert",
          "payload": "k2-v1"}],
        [{"key": "k1", "version": 2, "op": "upsert",
          "payload": "k1-v2"},
         {"key": "k3", "version": 2, "op": "delete", "payload": None}],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("payload", T.StringType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = changelog_writer(stream, str(tmp_path / "cdc_out"),
                         str(tmp_path / "cdc_ckpt"),
                         key_cols=["key"], order_cols=["version"])
    q.awaitTermination(120)

    from parquet_generator_spark.streaming.upsert import read_live

    table = spark.read.parquet(str(tmp_path / "cdc_out"))
    out = read_live(table).collect()
    got = {(r["key"], r["version"], r["payload"]) for r in out}
    # k0 untouched v0; k1 resurrected at v2; k2 updated v1;
    # k3 deleted (absent from the LIVE view regardless of the
    # order maxFilesPerTrigger happened to deliver the files in —
    # its tombstone is retained in storage)
    assert got == {("k0", 0, "k0-v0"), ("k1", 2, "k1-v2"),
                   ("k2", 1, "k2-v1")}
    stored = {(r["key"], r["op"]) for r in table.collect()}
    assert ("k3", "delete") in stored


def test_merge_changelog_batch_semantics(spark):
    from parquet_generator_spark.streaming.upsert import (
        merge_changelog,
        read_live,
    )

    existing = spark.createDataFrame(
        [("a", 1, "upsert", "a1"), ("b", 1, "upsert", "b1")],
        ["key", "version", "op", "payload"])
    batch = spark.createDataFrame(
        [("a", 2, "delete", None), ("c", 1, "upsert", "c1"),
         ("b", 0, "upsert", "b0")],  # stale update loses
        ["key", "version", "op", "payload"])
    merged = merge_changelog(existing, batch, ["key"], ["version"])
    got = {(r["key"], r["version"]) for r in
           read_live(merged).collect()}
    assert got == {("b", 1), ("c", 1)}
    # the tombstone is retained in the table itself
    assert {(r["key"], r["op"]) for r in merged.collect()} == {
        ("a", "delete"), ("b", "upsert"), ("c", "upsert")}
    # out-of-order protection: a STALE upsert arriving after the
    # delete must NOT resurrect the key
    stale = spark.createDataFrame(
        [("a", 1, "upsert", "a1-late")],
        ["key", "version", "op", "payload"])
    again = merge_changelog(merged, stale, ["key"], ["version"])
    assert ("a",) not in {(r["key"],) for r in
                          read_live(again).collect()}
