"""Semantics tests for the seventh LLM-pipeline wave: bigram LM
scoring, k-means determinism, and the hierarchical peak-concurrency
sweep vs a brute-force flat sweep."""

from __future__ import annotations

import datetime
import math
import random

from pyspark.sql import functions as F

from parquet_generator_spark.operators.similarity import kmeans_lloyd
from parquet_generator_spark.plans.analytics import (
    CONCURRENCY_TTL_MIN,
    peak_concurrency_frame,
)
from parquet_generator_spark.plans.text_tokens import bigram_logprob_frame


def test_bigram_logprob_hand_computed(spark):
    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, "
                                                   "text string")
    out = bigram_logprob_frame(docs).collect()
    # bigrams: (a,b) x2, (b,a) x1; c1: a->2, b->1; V=2
    # lp = [log2(3/4), log2(2/3), log2(3/4)]
    exp = round((2 * math.log2(3 / 4) + math.log2(2 / 3)) / 3, 4)
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_lp"] == exp


def test_kmeans_two_clear_clusters(spark):
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
            (2, [0.2, 0.0]), (3, [9.8, 10.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(df, k=2, iters=1).collect()
    got = {r["cid"]: (r["n"], r["c_norm"]) for r in out}
    # init c0=(0,0), c1=(10,10); one round -> means (0.1,0), (9.9,10)
    assert got[0] == (2, 0.1)
    assert got[1] == (2, round(math.sqrt(9.9 ** 2 + 100.0), 4))


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # duplicate init points: round 1 ties everything to index 0, so
    # cluster 1 goes empty and must keep its old (0,0) centroid — in
    # round 2 that kept centroid wins back the two origin points
    # (a dropped or NaN centroid could not)
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(df, k=2, iters=2).collect()
    assert [(r["cid"], r["n"]) for r in out] == [(0, 1), (1, 2)]
    assert all(r["c_norm"] is not None for r in out)


def test_peak_concurrency_matches_flat_sweep(spark):
    rng = random.Random(11)
    base = datetime.datetime(2024, 3, 1)
    events = [(i, base + datetime.timedelta(
        seconds=rng.randrange(0, 3 * 86400)))
        for i in range(400)]
    df = spark.createDataFrame(events, "event_id long, ts timestamp")
    got = {r["day"]: r["peak"]
           for r in peak_concurrency_frame(df).collect()}

    # brute-force flat sweep: sort all +1/-1 deltas, track the
    # running count, take per-day maxima
    ttl = datetime.timedelta(minutes=CONCURRENCY_TTL_MIN)
    deltas = sorted([(ts, 1) for _, ts in events]
                    + [(ts + ttl, -1) for _, ts in events])
    cur, exp = 0, {}
    for t, d in deltas:
        cur += d
        day = t.strftime("%Y-%m-%d")
        exp[day] = max(exp.get(day, -10**9), cur)
    assert got == exp


def test_peak_concurrency_end_before_start_at_same_instant(spark):
    # second event starts exactly when the first expires: never
    # concurrent, peak stays 1
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    t1 = t0 + datetime.timedelta(minutes=CONCURRENCY_TTL_MIN)
    df = spark.createDataFrame([(1, t0), (2, t1)],
                               "event_id long, ts timestamp")
    out = peak_concurrency_frame(df).collect()
    assert [r["peak"] for r in out] == [1]


def test_pca_top_component_finds_dominant_axis(spark):
    from parquet_generator_spark.operators.similarity import (
        pca_top_component,
    )
    # variance concentrated on axis 1 (second dim); labels split by
    # sign along it, so their projection means must land on opposite
    # sides with a wide gap (the sign itself follows the
    # first-nonzero-positive convention, not the dominant axis)
    rows = []
    for i in range(40):
        a = (i % 7) - 3 or 1  # -3..3, never 0
        rows.append((i, [0.01 * (i % 3), float(a), 0.02, -0.01],
                     1 if a > 0 else 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r["mean_proj"]
           for r in pca_top_component(df, iters=3).collect()}
    assert out[0] * out[1] < 0          # opposite sides
    assert abs(out[0] - out[1]) > 2.0   # wide separation


def test_feature_hash_retrieval_finds_planted_neighbor(spark):
    from parquet_generator_spark.operators.similarity import (
        brute_force_topk,
        feature_hash_vectors,
    )
    from parquet_generator_spark.operators.text import toks_spark
    base = ("spark shuffle parquet footer column row batch stream "
            "join filter agg sort window hash scan merge")
    rows = [
        (0, base),
        (1, base + " extra"),       # near copy of 0
        (2, "totally different words about cats dogs birds fish "
            "mice horses cows sheep goats llamas"),
        (3, "yet another unrelated set of terms planes trains "
            "boats cars bikes scooters rockets"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vec = feature_hash_vectors(docs, toks_spark("text"))
    out = brute_force_topk(vec, vec.filter(F.col("id") == 0), 1,
                           id_col="id", vec_col="e").collect()
    assert [(r["qid"], r["nid"]) for r in out] == [(0, 1)]
    assert out[0]["cos"] > 0.9


def test_weighted_median_hand_computed(spark):
    from parquet_generator_spark.plans.analytics import weighted_median
    # weights: price 10 w=1, price 20 w=1, price 30 w=6 -> total 8,
    # half 4; cumulative crosses 4 at price 30
    rows = [(1, 1, "A", 10.0, 1.0), (2, 1, "A", 20.0, 1.0),
            (3, 1, "A", 30.0, 6.0)]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_returnflag string, "
              "l_extendedprice double, l_quantity double")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/lineitem.parquet")
        out = weighted_median(spark, d).collect()
    assert [(r["l_returnflag"], r["weighted_median_price"])
            for r in out] == [("A", 30.0)]


def test_kmeans_empty_cluster_oracle_parity(spark):
    """ADVICE r5 regression: the DuckDB mirror dropped an emptied
    cluster from its per-round centroid CTE (Spark keeps the previous
    centroid), so later assignment rounds diverged. On this dataset
    cluster 1 empties in round 1 and wins back two points in round 2
    — the buggy oracle reported a single 3-point cluster."""
    import duckdb
    import pandas as pd

    from parquet_generator_spark.operators.similarity import (
        kmeans_lloyd_duck_sql,
    )

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["cid"], r["n"], r["c_norm"])
           for r in kmeans_lloyd(df, k=2, iters=2).collect()]

    con = duckdb.connect()
    con.register("pts_t", pd.DataFrame(
        {"vec_id": [r[0] for r in rows],
         "embedding": [r[1] for r in rows]}))
    drows = con.execute(kmeans_lloyd_duck_sql(
        "pts_t", k=2, iters=2, dim=2)).fetchall()
    assert [(r[0], r[1], r[2]) for r in drows] == got
    assert len(got) == 2  # the emptied-then-refilled cluster is back


def test_kmeans_k_larger_than_input_clamps(spark):
    """ADVICE r5 regression: k > row count raised IndexError; now it
    clamps to the row count, matching the oracle's LIMIT-k init."""
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [10.2, 10.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(df, k=5, iters=2).collect()
    assert sum(r["n"] for r in out) == 3
    assert len(out) <= 3


def test_knn_ivf_exact_at_full_probe(spark):
    """The IVF-indexed classifier (the 100-TB path): with n_probe =
    n_cells it must reproduce the brute-force classifier EXACTLY
    (the ivf_topk exactness property carried through the vote); at
    the tuned n_probe every query must still get classified.
    (Prediction-agreement at partial probe is NOT asserted: the
    synthetic labels are geometry-free noise — exact k-NN itself
    scores 0.08 accuracy — so vote agreement would test noise, not
    recall; neighbor-level recall is quantified in ivf_recall_curve
    and the ann_ivf tests.)"""
    from parquet_generator_spark.plans.retrieval import (
        ANN_IVF_CELLS,
        knn_classify,
        knn_classify_ivf,
    )

    sf = "/root/testdata/sf0.01"
    exact = {(r["qid"], r["pred_label"], r["votes"])
             for r in knn_classify(spark, sf).collect()}
    full = {(r["qid"], r["pred_label"], r["votes"])
            for r in knn_classify_ivf(
                spark, sf, n_probe=ANN_IVF_CELLS).collect()}
    assert full == exact
    tuned = knn_classify_ivf(spark, sf).collect()
    assert {r["qid"] for r in tuned} == {q for q, _, _ in exact}
