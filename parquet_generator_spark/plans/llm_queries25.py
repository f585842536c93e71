"""LLM-pipeline twenty-fifth tranche: ANN serving from the
PERSISTED IVF-PQ index (operators/ann_index.py).

``ann_ivfpq_served`` answers the same query as ``ann_ivfpq`` but
from the committed snapshot artifact: the index is trained ONCE per
corpus (train-if-stale on the embeddings file fingerprint, the
materialized-view contract), and the serving plan reads ONLY the
stored (cell, codes) table — no centroid derivation, no raw
vectors, no mapInPandas (plan-asserted in tests/test_ann_index.py).
At 100 TB this is the difference between a training pass per query
and a bounded-literal lookup plan over code files pruned by cell.

The oracle is the full from-corpus IVF-PQ rebuild (shared with
ann_ivfpq): the served result is provably value-identical because
training uses the same reproducible quantizer construction and the
serving ADC sum preserves the kernel's sequential add order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark.operators import ann_index
from parquet_generator_spark.plans.llm_queries24 import (
    IVFPQ_CELLS,
    IVFPQ_PROBE,
    IVFPQ_QUERY,
    IVFPQ_TOPK,
    _ivfpq_oracle,
)
from parquet_generator_spark.plans.llm_queries15 import PQ_K, PQ_M
from parquet_generator_spark.sinks import stores
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def ann_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by IVF-probe + PQ-ADC served from the persisted index:
    (rank, vec_id, adc), value-identical to ann_ivfpq. The serving
    DAG touches only the codes snapshot (filter on cell pushed to
    its parquet scan) plus ~8 KB of ADC literals. The index is
    trained once per embeddings file version (the materialized-view
    refresh contract)."""
    def build(root: str) -> None:
        ann_index.train_ivfpq_index(
            spark, load_table(spark, "embeddings", sf_dir), root,
            n_cells=IVFPQ_CELLS, n_sub=PQ_M, n_codes=PQ_K)

    root = stores.ensure("ivfpq_index", sf_dir, ["embeddings.parquet"],
                         build)
    return ann_index.serve_ivfpq(spark, root, IVFPQ_QUERY,
                                 IVFPQ_TOPK, n_probe=IVFPQ_PROBE)


QUERIES.update({"ann_ivfpq_served": ann_ivfpq_served})
# the from-corpus rebuild IS the served result's ground truth: the
# artifact adds persistence, not different math
ORACLES.update({"ann_ivfpq_served": _ivfpq_oracle()})
