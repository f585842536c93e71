"""Persisted IVF-PQ index: served == in-query, serving-plan purity
(no training scan / no Python workers / no raw vectors), incremental
append, and snapshot-versioned retrain."""

from __future__ import annotations

import pytest

from parquet_generator_spark.operators import ann_index
from parquet_generator_spark.plans.llm_queries15 import PQ_K, PQ_M
from parquet_generator_spark.plans.llm_queries24 import (
    IVFPQ_CELLS,
    IVFPQ_PROBE,
    IVFPQ_QUERY,
    IVFPQ_TOPK,
    ann_ivfpq,
)
from parquet_generator_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ivfpq")


def _train(spark, root, df=None):
    emb = df if df is not None else load_table(spark, "embeddings",
                                               SF)
    return ann_index.train_ivfpq_index(
        spark, emb, root, n_cells=IVFPQ_CELLS, n_sub=PQ_M,
        n_codes=PQ_K)


def _serve(spark, root, version=None):
    return ann_index.serve_ivfpq(spark, root, IVFPQ_QUERY,
                                 IVFPQ_TOPK, n_probe=IVFPQ_PROBE,
                                 version=version)


def test_served_equals_in_query_build(spark, root):
    _train(spark, root)
    served = [tuple(r) for r in _serve(spark, root).collect()]
    inquery = [tuple(r) for r in ann_ivfpq(spark, SF).collect()]
    assert served == inquery and len(served) == IVFPQ_TOPK


def test_serving_plan_has_no_training_pass(spark, root):
    """The serving DAG must contain NO centroid-derivation scan of
    the corpus, no Python workers, and never read raw vectors —
    codes files + plan literals only, with the probe filter pushed
    to the codes scan."""
    _train(spark, root)
    plan = _serve(spark, root)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "embeddings.parquet" not in plan
    assert "embedding" not in plan  # raw vector column never read
    assert "mapInPandas" not in plan and "ArrowEval" not in plan \
        and "BatchEvalPython" not in plan
    assert "PushedFilters" in plan and "In(cell" in plan


def test_incremental_append_matches_full_build(spark, root):
    """Train on the smallest-id 80%, append the rest with the STORED
    quantizers — served result equals the in-query build over the
    full corpus (quantizers derive from smallest ids, so the split
    preserves them)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", SF)
    ids = sorted(r[0] for r in emb.select("vec_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    _train(spark, root, emb.filter(F.col("vec_id") < cut))
    v = ann_index.append_ivfpq_batch(
        spark, root, emb.filter(F.col("vec_id") >= cut))
    assert v == 2
    served = [tuple(r) for r in _serve(spark, root).collect()]
    inquery = [tuple(r) for r in ann_ivfpq(spark, SF).collect()]
    assert served == inquery


def test_retrain_is_versioned_time_travel(spark, root):
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", SF)
    _train(spark, root, emb.filter(F.col("vec_id") % 2 == 0))
    v1 = [tuple(r) for r in _serve(spark, root, version=1).collect()]
    v2 = _train(spark, root)  # retrain on the full corpus
    assert v2 == 2
    # old version still served exactly; CURRENT serves the retrain
    assert [tuple(r) for r in
            _serve(spark, root, version=1).collect()] == v1
    cur = [tuple(r) for r in _serve(spark, root).collect()]
    assert cur == [tuple(r) for r in ann_ivfpq(spark, SF).collect()]
    assert cur != v1
