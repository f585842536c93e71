"""IVF-PQ ADC search: algebraic identity, recall on separable data
(the property ADC is FOR), and the documented data-limited recall
constants on the uniform-random synthetic corpus."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_generator_spark.operators.similarity import (
    ivfpq_topk,
    make_pq_codebooks_kmeans,
)
from parquet_generator_spark.plans.retrieval import (
    IVFPQ_QUERY,
    IVFPQ_TOPK,
    ann_ivfpq,
)

SF = "/root/testdata/sf0.001"


def test_adc_equals_l2_to_reconstruction():
    """The ADC identity: sum of per-subspace table lookups ==
    ||q - decode(encode(x))||^2 exactly (same decomposed-dot
    evaluation order on both paths)."""
    rng = np.random.default_rng(7)
    M, K, d = 4, 8, 3
    sb = rng.normal(size=(M, K, d))
    x = rng.normal(size=M * d)
    q = rng.normal(size=M * d)
    xs, qs = x.reshape(M, d), q.reshape(M, d)
    codes = np.array([
        ((xs[m] - sb[m]) ** 2).sum(axis=1).argmin() for m in range(M)])
    recon = np.stack([sb[m, codes[m]] for m in range(M)]).reshape(-1)
    # ADC table path, decomposed order (a - 2b + c)
    q2 = np.einsum("md,md->m", qs, qs)
    qc = np.einsum("md,mkd->mk", qs, sb)
    c2 = np.einsum("mkd,mkd->mk", sb, sb)
    tab = q2[:, None] - 2.0 * qc + c2
    adc = sum(tab[m, codes[m]] for m in range(M))
    direct = ((q - recon) ** 2).sum()
    assert adc == pytest.approx(direct, rel=1e-12)


def test_ivfpq_high_recall_on_separable_data(spark):
    """ADC fidelity tracks codebook resolution on clustered data
    (the regime the index is FOR): at coarse K=16 every returned hit
    is from the query's true cluster (retrieval is cluster-exact);
    at fine K=256 the ranking resolves WITHIN the cluster and
    recall@10 vs exact reaches >= 0.8. The uniform-random corpus can
    show neither — see
    test_headline_recall_documented_data_limited."""
    rng = np.random.default_rng(42)
    n_clusters, per, dim = 16, 40, 64
    centers = rng.normal(scale=5.0, size=(n_clusters, dim))
    vecs = (centers.repeat(per, axis=0)
            + rng.normal(scale=0.3, size=(n_clusters * per, dim)))
    ids = np.arange(len(vecs))
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>")
    q = centers[3] + rng.normal(scale=0.3, size=dim)

    d2 = ((vecs - q) ** 2).sum(axis=1)
    exact = set(ids[np.lexsort((ids, d2))][:10].tolist())

    # coarse codebook: cluster-exact retrieval
    coarse = make_pq_codebooks_kmeans(corpus, 8, 16, sample_size=640)
    got = ivfpq_topk(corpus, [float(x) for x in q], 10,
                     centers, coarse, n_probe=4).collect()
    assert len(got) == 10
    assert [r["rank"] for r in got] == list(range(1, 11))
    assert all(3 * per <= r["vec_id"] < 4 * per for r in got)

    # fine codebook: within-cluster ranking, high recall vs exact
    fine = make_pq_codebooks_kmeans(corpus, 8, 256, sample_size=640)
    got = ivfpq_topk(corpus, [float(x) for x in q], 10,
                     centers, fine, n_probe=4).collect()
    recall = len({r["vec_id"] for r in got} & exact) / 10
    assert recall >= 0.8, recall


def test_headline_recall_documented_data_limited(spark):
    """The synthetic corpus is uniform-random: quantization error is
    the size of the spread between true neighbors, so recall@10 is
    low by the DATA's nature, not the plan's (measured constant on
    fixed data). Pin the floor so a plan regression (e.g. broken
    probe filter or table lookup) still shows."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{SF}/embeddings.parquet') "
        f"ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows])
    vecs = np.array([r[1] for r in rows])
    q = np.array(IVFPQ_QUERY)
    d2 = ((vecs - q) ** 2).sum(axis=1)
    exact = set(ids[np.lexsort((ids, d2))][:IVFPQ_TOPK].tolist())

    got = {r["vec_id"] for r in ann_ivfpq(spark, SF).collect()}
    recall = len(got & exact) / IVFPQ_TOPK
    assert recall >= 0.2, recall


def test_cjk_tokenizer_bigrams_both_engines(spark):
    """toks_cjk: Latin runs unchanged, CJK runs as character
    bigrams (lone char stands alone) — identical output in Spark
    and DuckDB for Chinese, Japanese kana, Hangul, and mixed."""
    import duckdb

    from pyspark.sql import functions as F

    from parquet_generator_spark.operators import text as tx

    cases = {
        "Spark引擎测试 fast!": ["spark", "引擎", "擎测", "测试", "fast"],
        "数": ["数"],
        "こんにちはworld": ["こん", "んに", "にち", "ちは", "world"],
        "한국어 텍스트 data": ["한국", "국어", "텍스", "스트", "data"],
        "plain ascii only": ["plain", "ascii", "only"],
        "": [],
    }
    df = spark.createDataFrame([(t,) for t in cases], ["t"])
    got = {r["t"]: r["toks"] for r in df.select(
        "t", F.expr(tx.toks_cjk_spark("t")).alias("toks")).collect()}
    con = duckdb.connect()
    for t, want in cases.items():
        assert got[t] == want, (t, got[t])
        dk = con.execute(
            f"SELECT {tx.toks_cjk_duck('t')} FROM (SELECT ? AS t)",
            [t]).fetchone()[0]
        assert dk == want, (t, dk)


def test_cjk_dedup_shingles_format_invariant(spark):
    """Mixed-script near-dup: the same CJK content reformatted with
    different whitespace/punctuation yields the IDENTICAL bigram
    token multiset, so shingle-based dedup folds the pair — while
    the plain [a-z0-9] analyzer sees both as the same EMPTY set as
    any other CJK doc (no signal at all)."""
    from pyspark.sql import functions as F

    from parquet_generator_spark.operators import text as tx

    a = "数据处理引擎,非常快。"
    b = "数据处理引擎 —— 非常快!"
    c = "完全不同的文档内容在这里"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)],
                               ["id", "t"])
    rows = {r["id"]: (sorted(r["cjk"]), sorted(r["plain"]))
            for r in df.select(
                "id",
                F.expr(tx.toks_cjk_spark("t")).alias("cjk"),
                F.expr(f"{tx.toks_spark('t')}").alias("plain"))
            .collect()}
    assert rows[1][0] == rows[2][0]          # reformatting folds
    assert rows[1][0] != rows[3][0]          # distinct content splits
    assert rows[1][0], "bigram set must be non-empty"
    # the plain analyzer is blind: all three collapse to empty
    assert rows[1][1] == rows[2][1] == rows[3][1] == []


def test_text_tokens_cjk_counts_planted_payload(spark):
    from parquet_generator_spark.plans.text_tokens import text_tokens_cjk

    rows = {r["lang"]: r for r in text_tokens_cjk(spark, SF).collect()}
    assert rows["zh"]["cjk_tokens"] > 0
    # each planted snippet is one run of 7-8 chars -> 6-7 bigrams
    assert (rows["zh"]["n_docs"] * 6 <= rows["zh"]["cjk_tokens"]
            <= rows["zh"]["n_docs"] * 7)
    for lang in ("en", "de", "fr", "es"):
        assert rows[lang]["cjk_tokens"] == 0
        assert rows[lang]["latin_tokens"] > 0
