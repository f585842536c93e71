"""Cache hygiene: plan-internal localCheckpoint blocks are tracked
and released deterministically, so a long-lived session (the
single-session driver bench, a production curation service) does not
accumulate storage blocks query-over-query — the round-8 verdict's
mid-session slowdown mechanism (33 checkpoint sites, 1 unpersist)."""

from __future__ import annotations

from parquet_generator_spark.operators import cache

SF = "/root/testdata/sf0.001"


def _run(spark, key):
    import __spark_entry__ as em
    return sorted(map(tuple, em.queries()[key](spark, SF).collect()))


def test_checkpoint_blocks_release_and_stay_stable(spark):
    """Two passes over checkpoint-heavy queries: after release_all the
    storage-block count returns to the starting floor both times (the
    floor is whatever other suites persisted in the shared session;
    no query keeps a block of its own)."""
    cache.release_all(spark)
    base = cache.storage_block_count(spark)

    rows1 = _run(spark, "dedup_clusters")  # CC loop: many checkpoints
    during = cache.storage_block_count(spark)
    assert cache.tracked_count() > 0, "CC loop should track checkpoints"
    released = cache.release_all(spark)
    assert released > 0
    floor1 = cache.storage_block_count(spark)
    assert floor1 < during
    assert floor1 == base

    rows2 = _run(spark, "dedup_clusters")
    cache.release_all(spark)
    floor2 = cache.storage_block_count(spark)
    assert floor2 == floor1, "second pass must not grow the floor"
    assert rows1 == rows2, "release must not change results"


def test_release_is_idempotent_and_safe_when_empty(spark):
    cache.release_all(spark)
    assert cache.release_all(spark) == 0
    assert cache.tracked_count() == 0


def test_scope_releases_only_inner_checkpoints(spark):
    """`with cache.scope():` is the structural per-query boundary:
    checkpoints registered inside release on exit (success or error);
    pre-existing tracked frames are untouched."""
    cache.release_all(spark)
    outer = cache.checkpoint(spark.range(10))
    assert cache.tracked_count() == 1
    with cache.scope():
        inner = cache.checkpoint(spark.range(20))
        assert inner.count() == 20
        assert cache.tracked_count() == 2
    assert cache.tracked_count() == 1  # inner released, outer kept
    assert outer.count() == 10  # outer blocks still alive
    # release on error paths too
    try:
        with cache.scope():
            cache.checkpoint(spark.range(5)).count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert cache.tracked_count() == 1
    cache.release_all(spark)


def test_unreleased_accumulation_warns(spark):
    """A long-lived caller that never releases gets an explicit
    ResourceWarning once the registry outgrows any single query."""
    import warnings as _w

    cache.release_all(spark)
    df = spark.range(1)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        for _ in range(cache._WARN_THRESHOLD + 1):
            cache.checkpoint(df, eager=False)
        msgs = [r for r in rec if issubclass(r.category, ResourceWarning)]
    assert len(msgs) == 1, "warn exactly once per accumulation episode"
    assert "release_all" in str(msgs[0].message)
    cache.release_all(spark)
