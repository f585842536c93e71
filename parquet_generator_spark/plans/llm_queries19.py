"""LLM-pipeline wave 19: embedding-truncation evaluation and
mixture-independence auditing.

- ``matryoshka_overlap``: Matryoshka-representation (MRL) check —
  does retrieval survive truncating the embedding to its leading
  dims? Top-k by full-dim cosine vs top-k by first-16-dim cosine
  for a literal query, overlap@k for k in {5, 10, 20}. The modern
  cost dial for vector search (truncate -> 4x cheaper index); this
  measures what it costs in agreement.
- ``lang_source_chi2``: chi-square independence audit of the
  lang x source contingency table — the data-mixture diagnostic
  that catches a source silently skewing the language mix. All
  frames are label-cardinality (5 langs x 20 sources), never
  corpus-cardinality.

Scale posture: matryoshka legs are two TakeOrderedAndProject windows
over one corpus scan each (both cosines compute in ONE projection at
scan time — truncation is an array slice, no second pass); the
overlap math runs on the joined <= k-row frames. The chi2 table
aggregates once on (lang, source) and every later join touches only
bounded label frames.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.similarity import (
    cosine_to_literal,
    cosine_to_literal_duck_sql,
)
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# ------------------------------------------------ matryoshka_overlap

_MRL_QV = [round(math.sin(0.37 * i + 1.1), 4) for i in range(64)]
_MRL_DIMS = 16
_MRL_KS = [5, 10, 20]
_MRL_MAXK = max(_MRL_KS)


_cos_col = cosine_to_literal


def matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap@k between full-dim (64) and truncated (first 16 dims)
    cosine rankings of one literal query. Both similarity columns
    compute in a single projection over one scan (the truncated
    vector is slice(embedding, 1, 16) — no second pass, no join);
    each leg keeps its top-20 via TakeOrderedAndProject, ranks are
    assigned on the bounded windows, and overlap@k counts ids whose
    BOTH ranks are <= k."""
    emb = load_table(spark, "embeddings", sf_dir)
    scored = emb.select(
        F.col("vec_id").alias("id"),
        _cos_col(F.col("embedding"), _MRL_QV).alias("full_cos"),
        _cos_col(F.slice(F.col("embedding"), 1, _MRL_DIMS),
                 _MRL_QV[:_MRL_DIMS]).alias("trunc_cos"))

    def leg(col: str, rank_name: str) -> DataFrame:
        top = (scored.select("id", col)
               .orderBy(F.desc(col), F.asc("id")).limit(_MRL_MAXK))
        w = Window.orderBy(F.desc(col), F.asc("id"))
        return (top.withColumn(rank_name, F.row_number().over(w))
                .select("id", rank_name))

    joined = leg("full_cos", "fr").join(leg("trunc_cos", "tr"), "id")
    # one scalar agg, then unpivot the single row to k rows — the
    # output contract (one row per k) must hold even when the two
    # top-k sets are DISJOINT (observed at the sf1 checkpoint:
    # noise-dominated vectors -> empty intersection; an explode
    # built FROM the join would emit zero rows there)
    counts = joined.agg(*[
        F.coalesce(F.sum(((F.col("fr") <= k) & (F.col("tr") <= k))
                         .cast("int")), F.lit(0)).cast("long")
        .alias(f"n{k}")
        for k in _MRL_KS])
    rows = F.explode(F.array(*[
        F.struct(F.lit(k).alias("k"),
                 F.col(f"n{k}").alias("n_common"))
        for k in _MRL_KS])).alias("s")
    return (counts.select(rows)
            .select(F.col("s.k").alias("k"),
                    F.col("s.n_common").alias("n_common"),
                    F.round(F.col("s.n_common") / F.col("s.k"), 4)
                    .alias("overlap"))
            .orderBy("k"))


def _mrl_oracle() -> str:
    cos_sql = cosine_to_literal_duck_sql

    full = cos_sql("CAST(embedding AS DOUBLE[])", _MRL_QV)
    trunc = cos_sql(f"CAST(embedding[1:{_MRL_DIMS}] AS DOUBLE[])",
                    _MRL_QV[:_MRL_DIMS])
    ks = ", ".join(str(k) for k in _MRL_KS)
    return f"""
WITH scored AS (
  SELECT vec_id AS id, {full} AS full_cos, {trunc} AS trunc_cos
  FROM embeddings),
f_top AS (
  SELECT id, row_number() OVER (ORDER BY full_cos DESC, id) AS fr
  FROM (SELECT id, full_cos FROM scored
        ORDER BY full_cos DESC, id LIMIT {_MRL_MAXK})),
t_top AS (
  SELECT id, row_number() OVER (ORDER BY trunc_cos DESC, id) AS tr
  FROM (SELECT id, trunc_cos FROM scored
        ORDER BY trunc_cos DESC, id LIMIT {_MRL_MAXK})),
joined AS (SELECT f_top.id, fr, tr FROM f_top JOIN t_top USING (id)),
ks AS (SELECT unnest([{ks}]) AS k)
SELECT k,
       CAST(count(*) FILTER (WHERE fr <= k AND tr <= k) AS BIGINT)
         AS n_common,
       round(count(*) FILTER (WHERE fr <= k AND tr <= k)
             / CAST(k AS DOUBLE), 4) AS overlap
FROM ks LEFT JOIN joined ON true
GROUP BY k ORDER BY k
"""


# ------------------------------------------------- lang_source_chi2

def lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of lang x source: per language,
    the doc count and its chi2 contribution sum((o-e)^2/e) across
    sources, with e = row_total*col_total/N. One corpus aggregate
    builds the contingency cells; row/col totals re-aggregate from
    the CELLS (label-cardinality, no second corpus scan), join back
    on the label keys, and N attaches as a scalar subquery."""
    docs = load_table(spark, "documents", sf_dir)
    cells = (docs.groupBy("lang", "source")
             .agg(F.count(F.lit(1)).alias("o")))
    rows = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt") * F.col("ct") / F.col("n")
    contrib = (F.col("o") - e) * (F.col("o") - e) / e
    return (broadcast_scalars(
        cells.join(rows, "lang").join(cols, "source"), n)
        .groupBy("lang")
        .agg(F.sum("o").cast("long").alias("n_docs"),
             F.round(F.sum(contrib), 4).alias("chi2_contrib"))
        .orderBy("lang"))


LANG_SOURCE_CHI2_ORACLE = """
WITH cells AS (
  SELECT lang, source, count(*) AS o
  FROM documents GROUP BY lang, source),
rows_ AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY lang),
cols_ AS (SELECT source, sum(o) AS ct FROM cells GROUP BY source),
n_ AS (SELECT sum(o) AS n FROM cells)
SELECT lang,
       CAST(sum(o) AS BIGINT) AS n_docs,
       round(sum((o - rt * ct / CAST(n AS DOUBLE))
                 * (o - rt * ct / CAST(n AS DOUBLE))
                 / (rt * ct / CAST(n AS DOUBLE))), 4) AS chi2_contrib
FROM cells JOIN rows_ USING (lang) JOIN cols_ USING (source), n_
GROUP BY lang ORDER BY lang
"""


QUERIES.update({
    "matryoshka_overlap": matryoshka_overlap,
    "lang_source_chi2": lang_source_chi2,
})
ORACLES.update({
    "matryoshka_overlap": _mrl_oracle(),
    "lang_source_chi2": LANG_SOURCE_CHI2_ORACLE,
})
