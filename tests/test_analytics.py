"""SURVEY §2 group B: analytics core vs DuckDB oracle (bit-exact),
plus plan shapes and invariants."""

import pytest

from icecube_spark.queries import analytics
from icecube_spark.queries.analytics_oracles import ORACLES

from .conftest import TPCH_B, assert_oracle_parity


@pytest.mark.parametrize("key", sorted(ORACLES.keys() - TPCH_B))
def test_analytics_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


def test_q1_plan_pushes_filter_and_prunes(spark, sf_dir):
    plan = analytics.q1_pricing_summary(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned: orderkey/partkey/suppkey not read
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]


def test_q3_broadcasts_customer(plans):
    assert "BroadcastHashJoin" in plans["q3_shipping_priority"]["ops"]


def test_histogram_quantile_equals_rank_selection(spark):
    """r9 reroute invariant: the (key, value) count-histogram
    quantile (smallest value whose cumulative count reaches
    ceil(q*n)) is bit-identical to the rank-selected form
    (value at row_number == ceil(q*n)) — including heavy ties and
    singleton keys. ship_latency_quantiles / reorder_intervals rely
    on exactly this identity."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rnd = random.Random(9)
    rows = [
        (f"k{rnd.randint(0, 3)}", rnd.choice([0, 1, 1, 2, 5, 5, 5, 9]), i)
        for i in range(500)
    ] + [("lonely", 7, 10_000)]
    df = spark.createDataFrame(rows, "key string, v long, id long")

    # reference: rank-selected (the form the SQL oracles use)
    wr = Window.partitionBy("key").orderBy("v", "id")
    wn = Window.partitionBy("key")
    ranked = df.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    at_rank = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("v"))
    )
    ref = {
        r["key"]: (r["p50"], r["p90"], r["p99"])
        for r in ranked.groupBy("key")
        .agg(
            at_rank(0.5).alias("p50"),
            at_rank(0.9).alias("p90"),
            at_rank(0.99).alias("p99"),
        )
        .collect()
    }

    # histogram form (the r9 plan shape)
    hist = df.groupBy("key", "v").agg(F.count(F.lit(1)).alias("__hc"))
    wc = (
        Window.partitionBy("key")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wa = Window.partitionBy("key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "key",
        "v",
        F.sum("__hc").over(wc).alias("cum"),
        F.sum("__hc").over(wa).alias("n"),
    )
    at_hist = lambda q: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("v"))
    )
    got = {
        r["key"]: (r["p50"], r["p90"], r["p99"])
        for r in cum.groupBy("key")
        .agg(
            at_hist(0.5).alias("p50"),
            at_hist(0.9).alias("p90"),
            at_hist(0.99).alias("p99"),
        )
        .collect()
    }
    assert got == ref
