"""The batch SimHash vote against DuckDB's vote, no Spark.

``simhash_vote`` over hand-built 60-bit hash lists must equal
``simhash_vote_duck`` (the expression inside ``simhash_duck``, which
every SimHash oracle uses) run over the same lists, row for row."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.operators.dedup import (
    simhash_vote,
    simhash_vote_duck,
)

ALL_ONES = (1 << 60) - 1
BIT59 = 1 << 59


def duck_vote(rows: list[list[int] | None]) -> list[int]:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, th BIGINT[])")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(rows)))
    return [r[0] for r in con.sql(
        f"SELECT {simhash_vote_duck('th')} FROM t ORDER BY i").fetchall()]


def batch_vote(rows: list[list[int] | None]) -> list[int]:
    # the shape Arrow hands a pandas UDF: an object Series of int64
    # arrays, None for a NULL list
    th = pd.Series([None if r is None else np.asarray(r, dtype=np.int64)
                    for r in rows], dtype=object)
    return simhash_vote(th).tolist()


def check(rows: list[list[int] | None]) -> list[int]:
    got = batch_vote(rows)
    assert got == duck_vote(rows)
    return got


def test_empty_list_votes_all_ones():
    assert check([[]]) == [ALL_ONES]


def test_single_hash_is_its_own_signature():
    h = 0x0ABC_DEF0_1234_567
    assert check([[h]]) == [h]


def test_bit_59_set():
    assert check([[BIT59 | 3, BIT59 | 5, 6]]) == [BIT59 | 7]
    check([[BIT59], [BIT59, BIT59 | 1], [ALL_ONES, 0, BIT59]])


def test_exact_half_vote_sets_the_bit():
    # each bit is set in exactly one of the two hashes: 2 * 1 >= 2
    a = 0x5555_5555_5555_555
    assert check([[a, ALL_ONES ^ a]]) == [ALL_ONES]
    # one of four: 2 * 1 < 4, so only bits set in two or more pass
    assert check([[1, 2, 3, 0]]) == [3]


def test_batch_mixing_null_and_empty_rows():
    got = check([None, [], [9], None, [], [1, 1, 2]])
    assert got == [0, ALL_ONES, 9, 0, ALL_ONES, 1]


def test_empty_batch_is_typed():
    out = simhash_vote(pd.Series([], dtype=object))
    assert out.dtype == "int64" and out.shape == (0,)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.none() | st.lists(
    st.integers(min_value=0, max_value=ALL_ONES), max_size=12),
    max_size=8))
def test_matches_duckdb_on_random_lists(rows):
    check(rows)
