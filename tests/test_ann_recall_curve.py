"""Round-13 optimization pin: the single-pass ivf_recall_curve
(shared cell assignments + one unioned action) must be
value-identical to the straightforward per-probe ivf_topk replay it
replaced."""

import pytest

from parquet_generator_spark.operators import cache, similarity
from parquet_generator_spark.plans.llm_queries import (
    ANN_K,
    ANN_QUERY_PRED,
)
from parquet_generator_spark.plans.llm_queries12 import (
    IVF_CURVE_CELLS,
    IVF_PROBES,
    ivf_recall_curve,
)
from parquet_generator_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def curve_rows(spark):
    rows = [tuple(r) for r in ivf_recall_curve(spark, SF_DIR).collect()]
    cache.release_all(spark)
    return rows


def test_curve_matches_per_probe_ivf_topk_replay(spark, curve_rows):
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(ANN_QUERY_PRED)
    truth = cache.checkpoint(
        similarity.brute_force_topk(emb, queries, ANN_K)
        .select("qid", "nid"))
    n_truth = truth.count()
    cents = similarity.make_centroids_from_corpus(emb, IVF_CURVE_CELLS)
    expected = []
    for probe in IVF_PROBES:
        got = (similarity.ivf_topk(emb, queries, ANN_K, cents,
                                   n_probe=probe)
               .select("qid", "nid"))
        hits = got.join(truth, ["qid", "nid"], "left_semi").count()
        expected.append((probe, hits, n_truth,
                         round(hits / n_truth, 4)))
    cache.release_all(spark)
    assert curve_rows == expected


def test_curve_shape(curve_rows):
    assert [r[0] for r in curve_rows] == list(IVF_PROBES)
    # recall is monotone non-decreasing in n_probe and reaches the
    # widest setting's value
    recalls = [r[3] for r in curve_rows]
    assert recalls == sorted(recalls)
