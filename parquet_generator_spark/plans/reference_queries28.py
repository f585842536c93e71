"""Round-11 tranche eight: the ES|QL FORK, IP-function
(CIDR_MATCH / IP_PREFIX) and SAMPLE commands."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# ---------------------------------------------------- esql_fork

ESQL_FORK_QUERY = """
FROM events
| WHERE value > 0
| FORK (WHERE event_type == "purchase" AND value >= 50
        | EVAL flag = "big_purchase"
        | SORT value DESC, event_id | LIMIT 5
        | KEEP event_id, user_id, value, flag)
       (STATS n = COUNT(*), raw = SUM(value) BY event_type
        | EVAL total = ROUND(raw, 2)
        | DROP raw
        | SORT event_type)
| SORT _fork, event_id, event_type
"""


def esql_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``FORK`` (ES 8.18+): >= 2 branch sub-pipelines over
    the same input relation — here a top-k detail slice and a
    rollup — each tagged ``_fork=forkN`` and unioned BY NAME with
    null-fill (Spark ``unionByName(allowMissingColumns)`` ==
    DuckDB ``UNION ALL BY NAME``). Branch-local SORT orders only
    that branch's LIMIT (ES semantics); nested FORK, > 8 branches
    and FORK under an active SORT are refused at parse.

    Scale: the shared input scan is read once per branch (Spark
    will scan twice — at 100 TB you'd .cache() the post-WHERE frame
    or let AQE reuse the exchange; both branches here reduce to
    bounded outputs, so the union is trivially small)."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )

    plan = parse_esql(ESQL_FORK_QUERY)
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _esql_fork_oracle() -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )

    return esql_duck_sql(parse_esql(ESQL_FORK_QUERY))


QUERIES.update({"esql_fork": esql_fork})
ORACLES.update({"esql_fork": _esql_fork_oracle()})


# ---------------------------------------------- esql_cidr_match

ESQL_CIDR_QUERY = """
FROM ips
| WHERE CIDR_MATCH(client_ip, "10.0.0.0/8", "192.168.0.0/16")
| EVAL net = IP_PREFIX(client_ip, 12, 0)
| STATS n = COUNT(*) BY net
| SORT n DESC, net
| LIMIT 10
"""


def esql_cidr_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL IP functions over the SIEM-shaped runtime IP field
    (the dsl_ip_range source): ``CIDR_MATCH`` resolves its blocks
    to packed-int ranges at PARSE time, so the filter is BETWEEN
    arithmetic over one split_part chain (sargable codegen, no
    regex/UDF); ``IP_PREFIX`` masks to the /12 network and
    re-renders the dotted quad. IPv4-only subset — the v6 prefix
    length is fenced to the literal 0.

    Scale: filter and prefix are per-row codegen in the scan
    stage; the only shuffle is the bounded network groupBy, and
    TRY_CAST keeps malformed ips NULL instead of failing the
    scan."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )

    from parquet_generator_spark.plans.reference_queries15 import (
        _ip_source,
    )

    plan = parse_esql(ESQL_CIDR_QUERY)
    ev = load_table(spark, "events", sf_dir)
    return esql_df(_ip_source(ev), plan)


def _esql_cidr_oracle() -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )
    from parquet_generator_spark.plans.reference_queries15 import (
        IP_D,
    )

    return (f"WITH ips AS (SELECT {IP_D} AS client_ip FROM events) "
            + esql_duck_sql(parse_esql(ESQL_CIDR_QUERY)))


QUERIES.update({"esql_cidr_match": esql_cidr_match})
ORACLES.update({"esql_cidr_match": _esql_cidr_oracle()})


# ---------------------------------------------------- esql_sample

ESQL_SAMPLE_QUERY = """
FROM events
| SAMPLE 0.2
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id)
        BY event_type
| SORT event_type
"""


def esql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ``SAMPLE`` (ES 8.19+) as a deterministic md5-hash
    Bernoulli over the caller-named unique key (documented
    divergence from ES's per-run randomness — reproducibility is
    the property a data pipeline needs). The sample predicate is a
    stateless scan filter, so at 100 TB it rides the first stage
    and cuts everything downstream by 5x."""
    from parquet_generator_spark.operators.esql import (
        esql_df,
        parse_esql,
    )

    plan = parse_esql(ESQL_SAMPLE_QUERY, sample_key="event_id")
    ev = load_table(spark, plan.table, sf_dir)
    return esql_df(ev, plan)


def _esql_sample_oracle() -> str:
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )

    return esql_duck_sql(
        parse_esql(ESQL_SAMPLE_QUERY, sample_key="event_id"))


QUERIES.update({"esql_sample": esql_sample})
ORACLES.update({"esql_sample": _esql_sample_oracle()})
