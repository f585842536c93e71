"""Skew operators and approximate sketches: salted forms must be
value-identical to plain forms; sketches must sit within their
documented error bounds of the exact answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_generator_spark.operators.skew import salted_agg, salted_join
from parquet_generator_spark.plans.reference_etl import approx_sketches
from parquet_generator_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_salted_agg_equals_plain(spark):
    ev = load_table(spark, "events", SF_DIR)
    plain = {(r["event_type"], r["n"], round(r["s"], 6))
             for r in ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("value").alias("s")).collect()}
    salted = {(r["event_type"], r["n"], round(r["s"], 6))
              for r in salted_agg(
                  ev, "event_type", salt_from="event_id",
                  aggs={"n": F.count(F.lit(1)),
                        "s": F.sum("value")}).collect()}
    assert salted == plain


def test_salted_join_equals_plain(spark):
    li = load_table(spark, "lineitem", SF_DIR).withColumnRenamed(
        "l_orderkey", "o_orderkey")
    orders = load_table(spark, "orders", SF_DIR).select(
        "o_orderkey", "o_orderpriority")
    plain = li.join(orders, "o_orderkey").count()
    salted = salted_join(li, orders, key="o_orderkey",
                         salt_from="l_linenumber", n_salt=4).count()
    assert salted == plain


def test_salted_join_spreads_hot_key(spark):
    # a pathological 100%-hot-key input: every fact row has key 1
    fact = spark.range(1000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload"))
    dim = spark.createDataFrame([(1, "hot")], "k long, label string")
    out = salted_join(fact, dim, key="k", salt_from="payload", n_salt=4)
    assert out.count() == 1000
    # the salt must actually fan the hot key out over >1 sub-key
    n_salts = (fact.withColumn(
        "_salt", F.pmod(F.hash(F.col("payload")), F.lit(4)))
        .select("_salt").distinct().count())
    assert n_salts > 1


def test_sketches_within_error_bounds(spark):
    ev = load_table(spark, "events", SF_DIR)
    exact = {r["event_type"]: (r["u"], r["m"])
             for r in ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("u"),
                  F.expr("percentile(value, 0.5)").alias("m")).collect()}
    approx = approx_sketches(spark, SF_DIR).collect()
    for r in approx:
        u_exact, m_exact = exact[r["event_type"]]
        # the query now embeds the bound checks as booleans (so the
        # driver hash sees them); cross-check the exact columns
        # against an independently computed exact answer too
        assert r["hll_ok"] and r["tdigest_ok"]
        assert r["exact_users"] == u_exact
        assert abs(r["exact_p50"] - m_exact) <= 1e-4


@pytest.mark.parametrize("n_rows,seed", [(7, 0), (10, 1), (11, 2),
                                         (137, 3), (1000, 4)])
def test_distributed_ntile_equals_window_ntile(spark, tmp_path,
                                               n_rows, seed):
    """The range-partition + prefix-sum rank reformulation of
    ntile_deciles must be row-identical to a plain ntile(10) window
    on arbitrary data — including n < 10, exact-multiple n, and
    heavy price ties."""
    import random

    from pyspark.sql import Window

    from parquet_generator_spark.plans.analytics import ntile_deciles

    rng = random.Random(seed)
    rows = [(i, float(rng.choice([10.0, 20.0, 30.0,
                                  round(rng.uniform(0, 1000), 2)])))
            for i in range(n_rows)]
    d = tmp_path / f"nt{n_rows}"
    d.mkdir()
    (spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
     .write.parquet(str(d / "orders.parquet")))

    got = {tuple(r) for r in ntile_deciles(spark, str(d)).collect()}

    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    want = {tuple(r) for r in
            (spark.read.parquet(str(d / "orders.parquet"))
             .withColumn("decile", F.ntile(10).over(w))
             .groupBy("decile")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.min("o_totalprice"), 2).alias("lo"),
                  F.round(F.max("o_totalprice"), 2).alias("hi"),
                  F.round(F.sum("o_totalprice"), 2).alias("volume"))
             .collect())}
    assert got == want
