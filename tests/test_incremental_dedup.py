"""Incremental (new-batch-vs-corpus) dedup semantics: planted exact,
near, and novel incoming docs classify correctly, and the cross-set
operator never emits within-side pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_generator_spark.operators.dedup import (
    minhash_lsh_pairs_cross,
)

BASE = ("the quick brown fox jumps over the lazy dog while the "
        "cat sleeps near the warm stove in the kitchen corner")
NEAR = ("the quick brown fox jumps over the lazy dog while the "
        "cat sleeps near the warm stove in the kitchen today")
OTHER = ("completely different words about spark shuffles and "
         "parquet footers and adaptive query execution plans")


def _docs(spark):
    rows = [
        (0, BASE, 0),       # corpus
        (2, OTHER, 0),      # corpus
        (1, BASE, 1),       # incoming: exact copy of 0
        (3, NEAR, 1),       # incoming: near-dup of 0
        (5, "unrelated novel content nothing matches here at all "
            "with enough words to shingle properly", 1),
        (7, NEAR, 1),       # second incoming near-dup
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, side int")


def test_cross_pairs_only_cross_side(spark):
    pairs = minhash_lsh_pairs_cross(
        _docs(spark), "doc_id", "text", "side", 0.5).collect()
    got = {(r["id_in"], r["id_corp"]) for r in pairs}
    # incoming 1 (exact) and 3/7 (near) all pair with corpus doc 0;
    # nothing pairs with 2, and no (1,3)/(3,7) within-side pairs
    assert got == {(1, 0), (3, 0), (7, 0)}
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_cross_pairs_exact_copy_scores_one(spark):
    pairs = {(r["id_in"], r["id_corp"]): r["jaccard"]
             for r in minhash_lsh_pairs_cross(
                 _docs(spark), "doc_id", "text", "side", 0.5).collect()}
    assert pairs[(1, 0)] == 1.0


def test_cross_pairs_equal_full_pairs_restricted(spark):
    """Equivalence oracle: the cross-side operator must produce
    exactly the full-corpus pair set restricted to pairs whose sides
    differ (orientation normalized), on a randomized word-soup
    corpus with planted near-dups."""
    import random

    from parquet_generator_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    rng = random.Random(29)
    vocab = ("spark shuffle parquet footer column row batch stream "
             "join filter agg sort window hash scan merge").split()
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(30)]
        rows.append((i, " ".join(words), i % 2))
        if rng.random() < 0.3:  # planted near-dup of doc i
            mutated = list(words)
            mutated[rng.randrange(30)] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(mutated), (i + 1) % 2))
    df = spark.createDataFrame(rows, "doc_id long, text string, side int")

    cross = {(r["id_in"], r["id_corp"])
             for r in minhash_lsh_pairs_cross(
                 df, "doc_id", "text", "side", 0.6).collect()}

    sides = {doc_id: side for doc_id, _, side in rows}
    full = minhash_lsh_pairs(df, "doc_id", "text", 0.6).collect()
    expected = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if sides[a] == sides[b]:
            continue
        inc, corp = (a, b) if sides[a] == 1 else (b, a)
        expected.add((inc, corp))
    assert cross == expected and len(expected) > 0


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a long one: Jaccard is low (the
    MinHash path correctly does not pair them) but containment is
    1.0 — the case this operator exists for."""
    from parquet_generator_spark.operators.dedup import (
        containment_pairs,
        minhash_lsh_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} filler{i} token{i}" for i in range(40))
    big = small + " " + filler
    other = " ".join(f"noise{i} unrelated{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id long, text string")

    cont = {(r["id_small"], r["id_big"]): r["containment"]
            for r in containment_pairs(df, "doc_id", "text",
                                       0.9).collect()}
    assert cont == {(1, 2): 1.0}

    jac = minhash_lsh_pairs(df, "doc_id", "text", 0.5).collect()
    assert all({r["id_a"], r["id_b"]} != {1, 2} for r in jac)

def test_containment_prefix_bound_exact_at_threshold(spark):
    """ADVICE r5 regression: the float prefix bound floor((1-t)*n)+1
    was one short for every nsh divisible by 10 at t=0.9. A small doc
    with exactly 10 shingles, 9 of them contained in a big doc, whose
    ONE missing shingle is also its globally-rarest: the old bound's
    1-shingle prefix was exactly that missing shingle, so the
    containment=0.9 pair was never generated. The integer bound
    nsh - ceil(t*nsh) + 1 = 2 reaches the first shared shingle."""
    from parquet_generator_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_duck_sql,
    )
    import duckdb
    import pandas as pd

    small = " ".join(f"aa{i:02d}" for i in range(1, 13))  # 10 shingles
    big = (" ".join(f"aa{i:02d}" for i in range(2, 13)) + " "
           + " ".join(f"bb{i:02d}" for i in range(1, 10)))
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [small, big]})
    df = spark.createDataFrame(pdf)

    got = {(r["id_small"], r["id_big"]): r["containment"]
           for r in containment_pairs(df, "doc_id", "text",
                                      0.9).collect()}
    assert got == {(1, 2): 0.9}

    con = duckdb.connect()
    con.register("docs", pdf)
    drows = con.execute(containment_pairs_duck_sql(
        "docs", "doc_id", "text", 0.9)).fetchall()
    assert {(r[0], r[1]): r[2] for r in drows} == got


def test_containment_shingle_df_cap_mirrored(spark):
    """Hot-postings skew guard: a tiny doc whose every prefix shingle
    is a stopword-shingle (document frequency over the cap) loses its
    pairs on BOTH engines — never a one-sided truncation — while the
    uncapped run still finds them."""
    from parquet_generator_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_duck_sql,
    )
    import duckdb
    import pandas as pd

    tiny = "c1 c2 c3 c4"  # 2 shingles, both corpus-wide stopwords
    hosts = [f"c1 c2 c3 c4 f{i}a f{i}b f{i}c" for i in range(5)]
    pdf = pd.DataFrame({"doc_id": list(range(6)),
                        "text": [tiny] + hosts})
    df = spark.createDataFrame(pdf)

    uncapped = {(r["id_small"], r["id_big"])
                for r in containment_pairs(
                    df, "doc_id", "text", 0.9,
                    shingle_df_cap=None).collect()}
    assert uncapped == {(0, i) for i in range(1, 6)}

    capped = containment_pairs(df, "doc_id", "text", 0.9,
                               shingle_df_cap=3).collect()
    con = duckdb.connect()
    con.register("docs", pdf)
    drows = con.execute(containment_pairs_duck_sql(
        "docs", "doc_id", "text", 0.9, shingle_df_cap=3)).fetchall()
    assert len(capped) == len(drows) == 0
