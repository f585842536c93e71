"""Invariant tests for the wave-5 pipeline operators (the oracle
parity suite checks value equality; these check the *semantic*
guarantees on synthetic corpora the test tables can't produce)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_generator_spark.plans.corpus import (
    PACK_BUDGET,
    TEMP_TARGET,
    seq_packing,
    source_temperature_sample,
)
from parquet_generator_spark.plans.dedup import span_dedup
from parquet_generator_spark.plans.text_quality import char_entropy


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
              " n_chars bigint")


def test_seq_packing_respects_budget_and_loses_nothing(spark, tmp_path):
    # doc 3 alone exceeds the budget -> its own bin; everything else
    # packs greedily in doc_id order
    rows = [
        (0, "w " * 50, "en", "s", 100),       # 50 tokens
        (1, "w " * 60, "en", "s", 120),       # 60 -> bin 0 (110 <= 128)
        (2, "w " * 30, "en", "s", 60),        # 30 -> bin 1 (140 > 128)
        (3, "w " * 200, "en", "s", 400),      # 200 > budget -> own bin
        (4, "w " * 10, "en", "s", 20),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    _docs(spark, rows).write.parquet(str(d / "documents.parquet"))
    out = {(r["source"], r["bin"]): (r["n_docs"], r["sum_tokens"])
           for r in seq_packing(spark, str(d)).collect()}
    assert out == {("s", 0): (2, 110),   # docs 0+1
                   ("s", 1): (1, 30),    # doc 2
                   ("s", 2): (1, 200),   # oversized doc 3 alone
                   ("s", 3): (1, 10)}    # doc 4 (after the big one)
    # nothing lost: token totals tie out
    assert sum(v[1] for v in out.values()) == 50 + 60 + 30 + 200 + 10


def test_temperature_sample_is_deterministic_and_bounded(spark):
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in
         source_temperature_sample(spark, sf).collect()]
    b = [tuple(r) for r in
         source_temperature_sample(spark, sf).collect()]
    assert a == b                      # rerun-identical incl. id sums
    for _, n_docs, target, kept, _ in a:
        assert kept == min(target, n_docs)
    # alpha < 1 compresses the mixture: no source may take a larger
    # share of the sample than it has of the corpus (within floor
    # rounding) unless it is a small source being upweighted
    total_docs = sum(r[1] for r in a)
    total_kept = sum(r[3] for r in a)
    assert 0 < total_kept <= TEMP_TARGET


def test_char_entropy_flags_degenerate_text(spark, tmp_path):
    rows = [
        (0, "aaaaaaaaaaaaaaaaaaaa", "en", "s", 20),   # entropy 0
        (1, "the quick brown fox jumps over the lazy dog",
         "en", "s", 43),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    _docs(spark, rows).write.parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           char_entropy(spark, str(d)).collect()}
    assert out[0]["entropy"] == 0.0 and out[0]["low_entropy"]
    assert out[1]["entropy"] > 3.0


def test_span_dedup_flags_copied_spans_only(spark, tmp_path):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks
    rows = [
        (0, shared + " unique tail zero", "en", "s", 10),
        (1, shared + " other ending one", "en", "s", 10),
        (2, "totally different words with no overlap at all here",
         "en", "s", 10),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    _docs(spark, rows).write.parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           span_dedup(spark, str(d)).collect()}
    # docs 0 and 1 share exactly the one 8-token prefix span
    assert out[0]["n_dup_spans"] == 1
    assert out[1]["n_dup_spans"] == 1
    assert out[2]["n_dup_spans"] == 0
    assert out[2]["n_spans"] > 0


def test_seq_packing_invariants_property(spark, tmp_path):
    """Property check over random corpora: (1) every bin's token sum
    fits the budget unless it holds a single oversized doc; (2) bins
    are contiguous 0..k per source; (3) no document is lost."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_generator_spark.plans.corpus import PACK_BUDGET, seq_packing

    case_dir = [0]

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=60),
                    min_size=1, max_size=40))
    def check(tok_counts):
        case_dir[0] += 1
        d = tmp_path / f"case{case_dir[0]}"
        d.mkdir()
        rows = [(i, "w " * n, "en", f"src{i % 2}", n * 2)
                for i, n in enumerate(tok_counts)]
        _docs(spark, rows).write.mode("overwrite").parquet(
            str(d / "documents.parquet"))
        out = seq_packing(spark, str(d)).collect()
        per_source = {}
        for r in out:
            per_source.setdefault(r["source"], []).append(r)
            assert r["sum_tokens"] <= PACK_BUDGET or r["n_docs"] == 1
        for src, bins in per_source.items():
            assert sorted(r["bin"] for r in bins) == list(
                range(len(bins)))
        assert (sum(r["sum_tokens"] for r in out)
                == sum(tok_counts))
        assert sum(r["n_docs"] for r in out) == len(tok_counts)

    check()


def test_maximal_dup_spans_merges_adjacent_windows(spark):
    """Planted maximal-span case (SPAN_K=8): two docs share a
    12-token run -> the 5 consecutive duplicated 8-windows merge
    into ONE maximal span of length 12; a doc with no 8-token
    duplicate reports 0."""
    from parquet_generator_spark.plans.dedup import maximal_dup_spans

    shared = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, shared + " xx yy zz"),
         (2, "aa bb " + shared),
         (3, "cc dd ee ff gg hh ii jj kk")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in maximal_dup_spans(df).collect()}
    assert got[1]["max_dup_span"] == 12
    assert got[1]["n_spans"] == 1
    assert got[1]["dup_tokens"] == 12
    assert got[2]["max_dup_span"] == 12
    assert got[3]["max_dup_span"] == 0 and got[3]["n_spans"] == 0


def test_maximal_dup_spans_merges_overlapping_windows(spark):
    """Round-7 review regression: two duplicated windows whose
    intervals overlap but whose offsets are NOT adjacent (gap 2 < K)
    must merge into ONE maximal span covering their union — the old
    adjacency-only merge double-counted 16 tokens in a 10-token
    overlap."""
    from parquet_generator_spark.plans.dedup import maximal_dup_spans

    w = [f"w{i}" for i in range(10)]
    doc1 = " ".join(w)                      # windows at offsets 0,1,2
    # doc2 repeats w0..w7 and w2..w9 but NOT w1..w8 contiguously
    doc2 = " ".join(w[0:8] + ["zz"] + w[2:10])
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in maximal_dup_spans(df).collect()}
    # doc1 dup offsets {0, 2} (offset 1's window only occurs once):
    # one island, union w0..w9 = 10 tokens
    assert got[1]["n_spans"] == 1
    assert got[1]["max_dup_span"] == 10
    assert got[1]["dup_tokens"] == 10       # never exceeds the doc
