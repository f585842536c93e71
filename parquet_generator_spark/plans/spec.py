"""Spec-table factories, one per query language.

A key that is one search request is a row of its family module's table,
not a hand-written function: ``dsl_searches`` turns ``key: (table,
body)`` rows into registry functions, and ``esql_pipelines`` turns
``key: Pipeline(...)`` rows into registry functions plus their oracles,
both rendered from one parse per key.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark.operators.esdsl import plan_clock, search
from parquet_generator_spark.operators.esql import (
    EsqlPlan,
    esql_df,
    esql_duck_sql,
    parse_esql,
)
from parquet_generator_spark.sources.catalog import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
Adapter = Callable[[DataFrame], DataFrame]


def dsl_searches(rows: dict[str, tuple]) -> dict[str, QueryFn]:
    """``key: (table, body)`` rows as ``search(load_table(table), body)``.
    A third item adapts the loaded table first (a derived column the
    body refers to)."""
    return {key: _search(*row) for key, row in rows.items()}


def _search(table: str, body: dict,
            adapt: Adapter | None = None) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, table, sf_dir)
        return search(df if adapt is None else adapt(df), body)
    return run


class Source(NamedTuple):
    """A FROM name that is not a table: ``adapt`` derives it from
    ``table`` on the Spark side, ``cte`` is the same derivation in
    DuckDB SQL."""
    table: str
    adapt: Adapter
    cte: str


class Pipeline(NamedTuple):
    """One ES|QL key: the query plus what its parse and its FROM
    resolution need."""
    query: str
    opts: dict = {}                # parse_esql keyword options
    now: str | None = None         # plan_clock anchor NOW() resolves to
    lookups: dict = {}             # ENRICH / LOOKUP name -> table
    source: Source | None = None


def esql_pipelines(
        rows: dict[str, Pipeline],
) -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Each row parsed once; the Spark function and the DuckDB oracle
    both render that parse."""
    queries, oracles = {}, {}
    for key, row in rows.items():
        with plan_clock(row.now):
            plan = parse_esql(row.query, **row.opts)
        queries[key] = _pipeline(plan, row)
        cte = (f"WITH {plan.table} AS ({row.source.cte}) "
               if row.source else "")
        oracles[key] = cte + esql_duck_sql(plan)
    return queries, oracles


def _pipeline(plan: EsqlPlan, row: Pipeline) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        if not plan.table:  # ROW / SHOW: no source relation
            return esql_df(None, plan)
        if row.source:
            df = row.source.adapt(
                load_table(spark, row.source.table, sf_dir))
        else:
            df = load_table(spark, plan.table, sf_dir)
        lookups = {name: load_table(spark, table, sf_dir)
                   for name, table in row.lookups.items()}
        return esql_df(df, plan, lookups=lookups)
    return run
