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

    The one-row frame is packed into one struct and planned as ONE
    uncorrelated scalar subquery: building the plan runs no job, the
    subquery is evaluated once when the caller's action runs, and
    each column is a field of its result. A zero-row frame attaches
    NULLs; more than one row fails the action. This beats the two
    join-side alternatives: an empty-partition-spec window funnels
    the input through one partition, and
    crossJoin(broadcast(one_row)) compiles to BroadcastNestedLoopJoin
    — indistinguishable in plan text from a real pairwise explosion,
    which would blind the tripwire tests that assert no nested-loop
    join appears anywhere.

    Keep a multi-distinct aggregate on the ``df`` side: the
    subquery's copy of a relation the outer plan also reads gets
    fresh attribute ids on every build, a multi-distinct Expand
    orders its projections by them, and the generated code then
    misses the codegen cache on every run (table_profile at sf0.1:
    about 0.4 s slower with its distinct counts as the subquery).
    """
    from pyspark.sql import functions as F

    packed = "__scalars"
    s = scalars.select(F.struct(*scalars.columns)).scalar()
    # ONE reference to the subquery, unpacked by a second projection:
    # a field select per column plans one subquery instance each, and
    # those are reused only when their plans canonicalize alike
    return (df.select("*", s.alias(packed))
            .select("*", f"{packed}.*").drop(packed))
