"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition a too-narrow input so compute-bound
    narrow transformations (shingling, hashing, signatures) use every
    core.

    A small file arrives as ONE scan split, which would serialize the
    whole pipeline behind a single task; at real scale the scan
    already has >= cluster-parallelism splits and this is a no-op —
    so the shuffle this inserts only ever moves tiny inputs.

    It pays only for heavy per-row work. MinHash signatures (128
    permutations per shingle) at sf0.1 ran in about 5.8 s with it
    and about 15 s without; the SimHash kernel (a few numpy ops per
    document) spent more on the round-robin shuffle and the extra
    Python workers than it saved, so ``simhash_pairs`` does not call
    this.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def broadcast_scalars(df: DataFrame, scalars: DataFrame) -> DataFrame:
    """Attach the columns of a ONE-ROW aggregate to every row of
    ``df`` — the scalar-subquery decorrelation pattern (corpus total,
    global max, ...).

    The one-row frame is evaluated eagerly (a bounded scalar
    collect, like every other scalar aggregate in this repo) and its
    values enter the main plan as LITERALS shipped with the task
    closure. This beats the two plan-side alternatives: an
    empty-partition-spec window funnels the input through one
    partition, and crossJoin(broadcast(one_row)) compiles to
    BroadcastNestedLoopJoin — indistinguishable in plan text from a
    real pairwise explosion, which would blind the tripwire tests
    that assert no nested-loop join appears anywhere. (A constant-key
    equi-join doesn't survive either: Catalyst constant-folds the key
    and rewrites it back to a nested-loop cross join.)
    """
    from pyspark.sql import functions as F

    row = scalars.first()
    if row is None:
        raise ValueError("scalar frame produced no row")
    return df.select(
        "*", *[F.lit(v).alias(c) for c, v in row.asDict().items()])
