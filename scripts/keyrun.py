"""One way to run a registry key and to check it against its oracle,
for bench.py, the key scripts and tests/test_oracle_parity.py.

``KeyRunner.run_key`` runs one key under a job group of its own, times
plan build and action apart, reads the group's status-store counters
through ``perfbench.layers`` and releases the key's checkpoints.

The oracle comparison is ``canon`` plus two typed checks, because the
driver's value hash is TYPED: a DuckDB column typed HUGEINT (uncast
integer ``sum()``) hash-fails against a Spark BIGINT even when every
value is identical, and the ``%.6g`` string canon cannot see that.
``oracle_type_problems`` flags oracle output types Spark cannot emit;
``type_class_mismatches`` flags int-vs-float fetched values per column
(float-vs-Decimal is tolerated: DECIMAL-typed oracles such as
dsl_geo_distance are driver-green).
"""
from __future__ import annotations

import datetime
import decimal
import math
import time
from typing import NamedTuple

import duckdb

from parquet_generator_spark.operators import cache
from parquet_generator_spark.sources.catalog import TABLES
from perfbench.layers import STAGE_COUNTERS, Tracer

# JVM/codegen JIT plus the one-time Python-worker spawn (numpy/pandas
# import) for the Pandas-UDF operators, so the first timed UDF key is
# not charged for startup.
WARMUP_DIR = "/root/testdata/sf0.001"
WARMUP_KEYS = ("q1_pricing_summary", "dedup_minhash", "dedup_embedding")

# counters that StageReader leaves out when no stage produced them
_ZERO = ("exec.stages", "exec.python_stages", "exec.tasks",
         "exec.spill_bytes", *STAGE_COUNTERS)

# DuckDB output types the driver cannot hash-match against any Spark
# type (no Spark equivalent; pandas fetch renders them as float/object).
FORBIDDEN_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
                        "USMALLINT", "UTINYINT")


class KeyRun(NamedTuple):
    columns: list[str]
    rows: list
    layers: dict

    @property
    def total_s(self) -> float:
        return self.layers["plans.build_s"] + self.layers["exec.collect_s"]


class KeyRunner:
    """Runs registry keys in one session, each run in a job group of
    its own."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer = Tracer(spark)

    def warm_up(self, queries) -> None:
        for key in WARMUP_KEYS:
            self.run_key(key, queries[key], WARMUP_DIR)

    def run_key(self, name, build, sf_dir) -> KeyRun:
        """Build ``build(spark, sf_dir)`` and collect it. ``layers`` holds
        the build and collect seconds, the jobs fired while the plan was
        built, and the action's jobs, stages and stage counters.

        The key's checkpoint blocks are released afterwards, also when
        it fails: no key keeps a frame for a later one, and a long
        session would otherwise accumulate storage blocks."""
        group = self.tracer.begin(name)
        try:
            t0 = time.perf_counter()
            df = build(self.spark, sf_dir)
            build_s = time.perf_counter() - t0
            build_jobs = self.tracer.build_jobs(group)
            t1 = time.perf_counter()
            rows = df.collect()
            collect_s = time.perf_counter() - t1
        finally:
            cache.release_all(self.spark)
        layers = dict.fromkeys(_ZERO, 0)
        layers.update({"plans.build_s": build_s, "exec.collect_s": collect_s})
        return KeyRun(df.columns, rows,
                      self.tracer.end(group, layers, build_jobs))


def median_run(runs: list[KeyRun]) -> KeyRun:
    return sorted(runs, key=lambda r: r.total_s)[len(runs) // 2]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    """Rows as sorted tuples of normalized values, columns in name
    order: equal for two results that hold the same values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per catalog table over
    ``sf_dir``'s parquet files."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def oracle_type_problems(con, sql):
    """Return [(col, type)] for oracle output columns whose DuckDB
    type Spark cannot emit. Empty list = safe."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) _q").fetchall()
    return [(row[0], row[1]) for row in desc
            if any(f in str(row[1]).upper() for f in FORBIDDEN_DUCK_TYPES)]


def _tclass(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, (float, decimal.Decimal)):
        return "float"  # Decimal tolerated: driver-green precedent
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, str):
        return "str"
    return type(v).__name__


def type_class_mismatches(srows, scols, drows, dcols):
    """Compare per-column fetched type classes (sorted by column
    name, None-ignoring). Returns [(col, spark_classes, duck_classes)]
    for columns whose non-null class sets differ."""
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    out = []
    for si, di in zip(sorder, dorder):
        sc = {_tclass(r[si]) for r in srows} - {None}
        dc = {_tclass(r[di]) for r in drows} - {None}
        if sc != dc:
            out.append((scols[si], sorted(sc), sorted(dc)))
    return out
