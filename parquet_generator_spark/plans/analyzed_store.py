"""Central ingest-time analyzed store: EVERY analyzer language, one
fingerprint-gated materialization (VERDICT r12 mandate #1).

ES analyzes text at INDEX time — the reference's own match_phrase
(EsParquetWriter.java:69) queries an index-time-analyzed field.
Until round 12 the engine re-ran the full snowball expression over
the corpus on EVERY analyzer match; round 12 proved the stored path
on two languages (es 71.5s query-time -> 0.6-0.8s stored at sf1,
the 18-100x index-time amortization). This module completes it:

- ONE store per sf_dir holding the planted multilingual text plus
  an ``analyzed_<lang>`` stemmed token array for every language in
  ``plans/analyzer_queries.SPECS`` and the CASE-routed
  ``analyzed_routed`` column (each
  document pays exactly its own language's chain there — the ES
  per-language-sub-field pattern);
- built in STAGES of at most two expensive stemmers per projection
  pass with a parquet materialization barrier between passes, so
  each generated stage stays inside the whole-stage-codegen method
  budget the single-language keys already prove out (eleven 60-82KB
  expressions in one projection would trip the JVM 64KB method
  fallback);
- the fingerprint covers the SOURCE parquet (mtime+size) AND an
  ANALYZER VERSION hash over every generated stemmer expression +
  planted literal, so a stemmer fidelity fix (like round 13's
  french/romanian canonical corrections) rebuilds the store
  automatically instead of serving stale analysis;
- every key in ``plans/analyzer_queries.py`` then serves from
  these arrays
  (plain membership / adjacency scans — zero stemmer expressions in
  the query plan) while their ORACLES still recompute the full
  analysis from raw text in DuckDB, so the driver itself proves
  stored == query-time for every language every round.

Scale: at 100 TB this is the ingest ETL's write path — one more
projected column per analyzer on the write side, paid once; the
analyzer match class drops from a CPU-bound stemmer pass per query
to a pruned array-membership scan.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators.analyzers import (
    analyzed_tokens,
    analyzed_tokens_sql,
    get_analyzer,
)
from parquet_generator_spark.plans.analyzer_queries import (
    ROUTE,
    SPECS,
    planted_expr,
    routed_planted_expr,
)
from parquet_generator_spark.sinks import stores
from parquet_generator_spark.sources.catalog import load_table

_DATA = "documents_analyzed"


def _specs() -> list[tuple[str, str, str]]:
    """(column-suffix, analyzer name, mixed-text SQL expr) per
    language, from the analyzer-match spec table."""
    return [(s.lang, s.analyzer, planted_expr(s)) for s in SPECS]


def _routed() -> tuple[str, dict]:
    """(mixed SQL expr, lang -> analyzer name) for the CASE-routed
    multilingual column (dsl_match_lang_routed's field)."""
    return (routed_planted_expr(),
            {lang: a for lang, (a, _, _) in ROUTE.items()})


# stemmer-cost groups per projection pass: at most two expensive
# chains per stage (the two-language round-12 ingest is the proven
# codegen envelope); the three scandinavian stemmers are one shared
# lightweight scaffold and ride together
_PASSES = [("es", "de"), ("fr", "it"), ("pt", "nl"), ("ro", "ru"),
           ("fi", "hu"), ("sv", "da", "no"), ("ar",)]


def version_hash() -> str:
    """Hash of every generated analysis expression + planted
    literal: changes whenever a stemmer, tokenizer charset or
    planted snippet changes, forcing a store rebuild."""
    h = hashlib.md5()
    for suffix, analyzer_name, mixed in _specs():
        h.update(suffix.encode())
        h.update(mixed.encode())
        for engine in ("spark", "duck"):
            h.update(analyzed_tokens_sql(
                "mixed", get_analyzer(analyzer_name), engine)
                .encode())
    routed_mixed, route = _routed()
    h.update(routed_mixed.encode())
    for lang, analyzer_name in route.items():
        h.update(lang.encode())
        h.update(analyzed_tokens_sql(
            "mixed", get_analyzer(analyzer_name), "spark").encode())
    return h.hexdigest()


def ensure_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the analyzed store for ``sf_dir``; returns
    the parquet path of the analyzed documents table."""
    root = stores.ensure(
        "analyzed_store", sf_dir, ["documents.parquet"],
        lambda r: _build(spark, sf_dir, r), tag=version_hash())
    return os.path.join(root, _DATA)


def _build(spark: SparkSession, sf_dir: str, root: str) -> None:
    specs = _specs()
    routed_mixed, route = _routed()

    # stage 0: cheap string staging — every planted mixed_<lang>
    # column at once (plain concat/substr/CASE, no stemmers), text
    # dropped immediately
    docs = load_table(spark, "documents", sf_dir)
    staged = docs.select(
        "doc_id", "source", "lang",
        *[F.expr(mixed).alias(f"mixed_{sfx}")
          for sfx, _, mixed in specs],
        F.expr(routed_mixed).alias("mixed_routed"))
    cur = os.path.join(root, "_stage0")
    staged.write.mode("overwrite").parquet(cur)

    # stemmer passes: <=2 expensive chains per projection, with a
    # parquet barrier so each stage compiles independently
    by_suffix = {sfx: (name, mixed) for sfx, name, mixed in specs}
    for i, group in enumerate(_PASSES, start=1):
        df = spark.read.parquet(cur)
        for sfx in group:
            analyzer = get_analyzer(by_suffix[sfx][0])
            df = df.withColumn(f"analyzed_{sfx}",
                               analyzed_tokens(f"mixed_{sfx}",
                                               analyzer))
            df = df.drop(f"mixed_{sfx}")
        nxt = os.path.join(root, f"_stage{i}")
        df.write.mode("overwrite").parquet(nxt)
        shutil.rmtree(cur)
        cur = nxt

    # routed pass: each document pays exactly ONE language's chain
    # (CASE on lang), the per-language-sub-field layout collapsed
    # into a single routed column
    df = spark.read.parquet(cur)
    routed_col = None
    for lang, analyzer_name in route.items():
        arm = analyzed_tokens("mixed_routed",
                              get_analyzer(analyzer_name))
        routed_col = (F.when(F.col("lang") == lang, arm)
                      if routed_col is None
                      else routed_col.when(F.col("lang") == lang,
                                           arm))
    df = (df.withColumn("analyzed_routed", routed_col)
          .drop("mixed_routed"))
    df.write.mode("overwrite").parquet(os.path.join(root, _DATA))
    shutil.rmtree(cur)


def load_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_generator_spark.sources.catalog import (
        cached_read_parquet,
    )

    return cached_read_parquet(spark, ensure_store(spark, sf_dir))
