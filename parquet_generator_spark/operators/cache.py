"""Session cache hygiene for plan-internal materialization barriers.

Several operators cut lineage with ``localCheckpoint()`` (iterative
connected components, the banded-LSH edge stage, centroid builds).
``localCheckpoint`` eagerly persists the frame's partitions as RDD
storage blocks that live until the JVM garbage-collects the RDD — in
a long-lived session running hundreds of queries (the driver bench,
a production curation service) those blocks accumulate and squeeze
the executor storage pool (round-8 verdict: 33 checkpoint sites,
1 unpersist, and a non-reproducing 2-4.7x mid-session slowdown band).

Fix: every barrier in ``plans/`` and ``operators/`` routes through
:func:`checkpoint`, which registers the frame; a harness (bench.py,
verify scripts, any long-lived caller) calls :func:`release_all`
AFTER materializing a query's results, dropping the checkpointed
blocks deterministically instead of waiting for GC. No frame is
kept across queries, so after a release the session holds no
storage block any query created.

IMPORTANT contract: ``localCheckpoint`` TRUNCATES lineage — once a
tracked frame's blocks are dropped it cannot be recomputed. Callers
must release only after every dependent result is collected/written,
which is exactly the per-query boundary the harnesses use.
"""

from __future__ import annotations

import contextlib
import warnings
from typing import Iterator, List

from pyspark.sql import DataFrame

_TRACKED: List[DataFrame] = []

# A caller that keeps invoking checkpoint-using operators without
# ever releasing is re-creating the leak this module exists to fix —
# warn once the registry clearly outgrows any single query's needs.
_WARN_THRESHOLD = 64
_warned = False


def _register(df: DataFrame) -> DataFrame:
    global _warned
    _TRACKED.append(df)
    if len(_TRACKED) > _WARN_THRESHOLD and not _warned:
        _warned = True
        warnings.warn(
            f"cache registry holds {len(_TRACKED)} tracked "
            f"checkpoints — a long-lived caller is accumulating "
            f"storage blocks without releasing. Wrap each query in "
            f"`with cache.scope(): ...` or call release_all() at "
            f"query boundaries.", ResourceWarning, stacklevel=3)
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + registration for later
    deterministic release via :func:`release_all` — the one way a
    plan cuts lineage.

    ``eager=False`` keeps the lineage cut and compute-once sharing,
    but materialization FUSES into the first downstream job instead
    of running a dedicated job at plan-build time (round 13, guide
    §1.2: don't run jobs you can fuse). Use it for barriers whose
    first consumer reads every partition (aggregations, joins); keep
    the eager form where the first consumer is partial
    (limit/take)."""
    return _register(df.localCheckpoint(eager))


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Structural release: drop every checkpoint REGISTERED INSIDE
    the block when it exits (success or error) — the per-query
    boundary as a context manager, so long-lived callers don't have
    to adopt the harnesses' manual release discipline.

    Checkpoints tracked before entry are left untouched; the usual
    contract applies — everything derived from in-scope checkpoints
    must be collected/written before the block ends."""
    mark = len(_TRACKED)
    try:
        yield
    finally:
        global _warned
        while len(_TRACKED) > mark:
            _drop_blocks(_TRACKED.pop())
        _warned = False


def tracked_count() -> int:
    return len(_TRACKED)


def _drop_blocks(df: DataFrame) -> bool:
    """Unpersist the checkpointed RDD behind a localCheckpointed
    DataFrame. The analyzed plan of such a frame is a ``LogicalRDD``
    whose ``rdd()`` is the persisted (lineage-truncated) RDD;
    ``unpersist`` drops its storage blocks immediately (verified:
    ``sc.getRDDStorageInfo()`` returns to baseline)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        return False


def release(df: DataFrame) -> bool:
    """Drop one frame's checkpoint blocks immediately (no registry) —
    for self-contained scopes like a foreachBatch body that must not
    touch checkpoints tracked by an enclosing query."""
    return _drop_blocks(df)


def release_all(spark=None) -> int:
    """Drop storage blocks of every tracked checkpoint; returns the
    number released. Call AFTER the consuming query's results are
    materialized (the frames are not recomputable afterwards)."""
    global _warned
    n = 0
    while _TRACKED:
        if _drop_blocks(_TRACKED.pop()):
            n += 1
    _warned = False
    return n


def storage_block_count(spark) -> int:
    """Number of RDDs currently holding storage blocks — the
    instrument the cache-hygiene test asserts on."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
