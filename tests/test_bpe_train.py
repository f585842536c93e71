"""The driver-side BPE trainer against the DuckDB replay, no Spark.

``train_merges`` over the Python word counts of a hand-built corpus
must equal ``bpe_vocab_train_duck_sql`` run over the same
``documents`` table, and encoding every word with those merges must
give ``bpe_encode_stats_duck_sql``'s per-source totals."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_generator_spark.plans.text_tokens import (
    BPE_TRAIN_MERGES,
    bpe_encode_stats_duck_sql,
    bpe_vocab_train_duck_sql,
    train_merges,
)


def words(text: str | None) -> list[str]:
    if text is None:
        return []
    return [w for w in re.split("[^a-z0-9]+", text.lower()) if w]


def encode(word: str, merges: list[tuple]) -> list[str]:
    s = " " + " ".join(word) + " "
    for _r, left, right, merged, _n in merges:
        pat, rep = f" {left} {right} ", f" {merged} "
        s = s.replace(pat, rep).replace(pat, rep)
    return s.split()


def duck(docs: list[tuple[str, str | None]], sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute("CREATE TABLE documents "
                "(doc_id BIGINT, source VARCHAR, text VARCHAR)")
    if docs:
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)",
                        [(i, src, text) for i, (src, text)
                         in enumerate(docs)])
    return con.sql(sql).fetchall()


def python_stats(docs, merges) -> list[tuple]:
    per: dict[str, list[int]] = {}
    for src, text in docs:
        ws = words(text)
        if not ws:
            continue
        acc = per.setdefault(src, [0, 0, 0])
        acc[0] += 1
        acc[1] += sum(len(w) for w in ws)
        acc[2] += sum(len(encode(w, merges)) for w in ws)
    return [(src, n, c, t) for src, (n, c, t) in sorted(per.items())]


def check(docs) -> list[tuple]:
    vocab = list(Counter(w for _s, t in docs for w in words(t)).items())
    merges = train_merges(vocab)
    assert merges == duck(docs, bpe_vocab_train_duck_sql())
    got = duck(docs, bpe_encode_stats_duck_sql())
    assert [r[:4] for r in got] == python_stats(docs, merges)
    for _src, _n, chars, toks, cpt in got:
        assert cpt == pytest.approx(chars / toks, abs=1e-4)
    return merges


def test_tie_breaks_on_ascending_pair_string():
    # "c d" and "a b" both occur twice; "a b" sorts first
    merges = check([("x", "cd cd"), ("y", "ab, AB!")])
    assert merges[0] == (1, "a", "b", "ab", 2)
    assert merges[1] == (2, "c", "d", "cd", 2)


def test_self_pair_run_of_five_or_more():
    docs = [("x", "aaaaaa aaaaa"), ("y", "aab baaaaaaa")]
    merges = check(docs)
    assert merges[0][1:3] == ("a", "a")
    # the double replace's self-pair grouping, not greedy's
    assert encode("aaaaa", merges[:1]) == ["aa", "a", "aa"]


def test_runs_out_of_pairs_before_k():
    merges = check([("x", "a b c a b"), ("y", "ab ab ba")])
    assert merges == [(1, "a", "b", "ab", 2), (2, "b", "a", "ba", 1)]
    assert len(merges) < BPE_TRAIN_MERGES


def test_empty_documents():
    assert check([]) == []
    assert train_merges([]) == []


def test_mixed_corpus_with_null_text():
    check([("web", "The lowest, the newest; the widest low-low road."),
           ("web", None),
           ("books", "Lower and newer: 2024 was wider than 2023."),
           ("code", "--- ...")])


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["x", "y"]),
                          st.text(alphabet="abc 1", max_size=30)),
                max_size=6))
def test_random_corpora_match_duckdb_replay(docs):
    check(docs)
