"""Asserts every queries() entry matches its oracle_sql() in DuckDB —
the same comparison the driver's correctness gate performs (row count,
sorted-by-name columns, order-insensitive values) — at sf0.001 so the
sf0.01 gate never surprises us.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from scripts.keyrun import KeyRunner, canon, duck_views, oracle_type_problems

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def runner(spark):
    return KeyRunner(spark)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(runner, duck, name):
    run = runner.run_key(name, QUERIES[name], SF_DIR)
    if name not in ORACLES:
        assert len(run.rows) >= 0  # rows-only check, like the driver
        return
    scols, srows = run.columns, run.rows

    cur = duck.execute(ORACLES[name])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}")
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duck={len(drows)}")
    assert canon(srows, scols) == canon(drows, dcols), (
        f"{name}: value mismatch")


def test_no_hugeint_oracle_outputs(duck):
    """Registry-wide typed-hash tripwire (round-5 multimodal_meta,
    round-9 bpe/k_anonymity/data_card/counter_rate regressions): the
    driver's value hash is TYPED, and a DuckDB output column typed
    HUGEINT (uncast integer ``sum()``) hash-fails against Spark's
    BIGINT even when every value is identical.  DESCRIBE every oracle
    and reject any output type Spark cannot emit."""
    offenders = [(name, col, typ)
                 for name, sql in sorted(ORACLES.items())
                 for col, typ in oracle_type_problems(duck, sql)]
    assert not offenders, (
        f"oracle output columns not Spark-emittable (wrap in "
        f"CAST(... AS BIGINT)): {offenders}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0
