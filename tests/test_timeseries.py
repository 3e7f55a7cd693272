"""SURVEY §2 group C: time-series ops vs DuckDB oracle + streaming twin."""

import pytest

from icecube_spark.queries import timeseries_queries as tq
from icecube_spark.queries.timeseries_oracles import ORACLES

from .conftest import assert_oracle_parity, normalize


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_timeseries_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


def test_calendar_lags_single_exchange(spark, sf_dir):
    """repartition(user) + daily agg + RANGE windows must share one
    hash exchange (partitioning-subset reuse)."""
    plan = (
        tq.calendar_lag_features(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_percentiles_no_keyed_rank_funnel(spark, sf_dir):
    """The per-key rank must come from the keyed distributed_rank
    (range partition, __pid-local row_numbers behind the checkpoint,
    broadcast offsets) — never a rank window partitioned by the bare
    low-cardinality key, which caps the sort at |event_types| tasks.
    Pinned: no row_number in the visible plan, and every remaining
    window runs over the tiny per-(key, partition) offset table."""
    plan = (
        tq.value_percentiles(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "row_number" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "__ptot" in line or "__pid" in line, line


def test_range_join_is_equi_join_not_nested_loop(plans):
    """The bucketed plan must be a hash/sort-merge equi join — never
    BroadcastNestedLoop (the naive inequality-join plan)."""
    ops = plans["range_join_clicks"]["ops"]
    assert "BroadcastNestedLoopJoin" not in ops and "CartesianProduct" not in ops


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must be union+window — no join node at all."""
    plan = (
        tq.asof_join_orders(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, "as-of should not materialize a join"
    # catalog's scan fan-out adds RoundRobin exchanges (row-group
    # starvation workaround); only KEY shuffles count against the op
    assert plan.count("hashpartitioning") + plan.count("rangepartitioning") <= 2


def test_streaming_matches_batch(spark, sf_dir):
    """C5: availableNow stream drain == batch tumbling aggregate."""
    from icecube_spark.streaming.events import run_available_now

    run_available_now(spark, sf_dir, "stream_tumbling")
    got = normalize(spark.table("stream_tumbling").toPandas())
    want = normalize(tq.window_tumbling(spark, sf_dir).toPandas())
    assert len(got) == len(want) and len(got) > 0
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (got["sum_value"].to_numpy() == want["sum_value"].to_numpy()).all()


def test_streaming_dedup_matches_batch(spark, sf_dir):
    """C8: streaming dropDuplicatesWithinWatermark == batch dedup on a
    doubled (replayed) stream."""
    from icecube_spark.streaming.events import dedup_stream, read_events_stream

    sdf = read_events_stream(spark, sf_dir)
    # replay: union the stream with itself via two readers of the file
    doubled = sdf.union(read_events_stream(spark, sf_dir))
    q = (
        dedup_stream(doubled)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_dedup").count()
    from icecube_spark import catalog

    want = catalog.load(spark, sf_dir, "events").dropDuplicates(["event_id"]).count()
    assert got == want


def test_streaming_enrich_matches_batch(spark, sf_dir):
    """C9: stream-static broadcast enrichment == the batch twin."""
    from icecube_spark import catalog
    from icecube_spark.streaming.events import enrich_stream, read_events_stream

    dim = catalog.load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    q = (
        enrich_stream(read_events_stream(spark, sf_dir), dim)
        .writeStream.format("memory")
        .queryName("stream_enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = normalize(spark.table("stream_enriched").toPandas())
    want = normalize(
        enrich_stream(
            catalog.load(spark, sf_dir, "events"), dim
        ).toPandas()
    )
    assert len(got) == len(want) and len(got) > 0
    assert (got["segment"].to_numpy() == want["segment"].to_numpy()).all()


def test_streaming_upsert_snapshot_matches_batch(spark, sf_dir, tmp_path):
    """C13: foreachBatch keep-latest snapshot == batch keep-latest over
    a replayed (doubled) stream."""
    from icecube_spark import catalog
    from icecube_spark.sources.readers import upsert_snapshot
    from icecube_spark.streaming.events import read_events_stream, run_upsert_stream

    doubled = read_events_stream(spark, sf_dir).union(
        read_events_stream(spark, sf_dir)
    )
    snap = run_upsert_stream(
        spark, doubled, str(tmp_path / "snap"), key="event_id", version="ts"
    )
    got = spark.read.parquet(snap)
    ev = catalog.load(spark, sf_dir, "events")
    want = upsert_snapshot(ev, ev.limit(0), ["event_id"], "ts")
    assert got.count() == want.count()
    assert (
        got.join(want, ["event_id", "user_id", "event_type"], "inner").count()
        == want.count()
    )


def test_streaming_trending_matches_batch(spark, sf_dir):
    """C14s: streaming windowed top-k == batch tumbling agg + rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.streaming.events import run_trending_stream

    run_trending_stream(spark, sf_dir, "stream_trending", k=3)
    got = normalize(spark.table("stream_trending").toPandas())
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    want = normalize(
        tq.window_tumbling(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .toPandas()
    )
    assert len(got) == len(want) and len(got) > 0
    assert (got["event_type"].to_numpy() == want["event_type"].to_numpy()).all()
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (got["rank"].to_numpy() == want["rank"].to_numpy()).all()


def test_streaming_stream_stream_join_matches_batch(spark, sf_dir):
    """C31s: watermarked stream-stream time-bounded join == batch twin.

    The same conversion_join() code path runs once on the file stream
    (availableNow drain, true stream-stream join with bounded state)
    and once on the batch table; row sets must agree exactly."""
    from icecube_spark import catalog
    from icecube_spark.streaming.events import conversion_join, read_events_stream

    q = (
        conversion_join(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("stream_conversions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = normalize(spark.table("stream_conversions").toPandas())
    want = normalize(
        conversion_join(catalog.load(spark, sf_dir, "events")).toPandas()
    )
    assert len(got) == len(want) and len(got) > 0
    assert (
        got["purchase_id"].to_numpy() == want["purchase_id"].to_numpy()
    ).all()
    assert (got["signup_id"].to_numpy() == want["signup_id"].to_numpy()).all()


def test_conversion_lag_matches_window_form(spark, sf_dir):
    """C23 bit-equivalence: the distributed_rank quantile selection
    must reproduce the old global-window form (row_number + count over
    an empty partition spec) exactly — same integer lags, same
    rank-selected quantiles."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.timeseries import _us
    from icecube_spark import catalog

    got = tq.conversion_lag(spark, sf_dir).collect()[0]

    ev = catalog.load(spark, sf_dir, "events")
    first_from = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("from_ts"))
    )
    lags = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("to_ts"))
        .join(first_from, "user_id")
        .where(F.col("to_ts") >= F.col("from_ts"))
        .groupBy("user_id", "from_ts")
        .agg(F.min("to_ts").alias("first_to"))
        .select(
            "user_id",
            (_us("first_to") - _us("from_ts")).alias("lag_us"),
        )
    )
    w = Window.partitionBy().orderBy("lag_us", "user_id")
    ranked = lags.select(
        "lag_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    at = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(q * F.col("n")), F.col("lag_us"))
    )
    want = ranked.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lag_us").alias("min_lag_us"),
        at(F.lit(0.5)).alias("p50_lag_us"),
        at(F.lit(0.9)).alias("p90_lag_us"),
        F.max("lag_us").alias("max_lag_us"),
    ).collect()[0]
    assert got.asDict() == want.asDict()


def test_downsample_lttb_matches_window_form(spark, sf_dir):
    """C35 bit-equivalence: the distributed rank/lag/argmax plan must
    reproduce the old per-type window form (row_number over the bare
    type key, lag/lead anchor carries, rank-1 bucket argmax) exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.timeseries import _us
    from icecube_spark import catalog

    got = {
        (r.event_type, r.bucket): (r.n_points, r.ts, r.v, r.area2)
        for r in tq.downsample_lttb(spark, sf_dir).collect()
    }

    ev = catalog.load(spark, sf_dir, "events")
    w = Window.partitionBy("t").orderBy("ts_s", "tb")
    base = ev.select(
        F.col("event_type").alias("t"),
        (_us("ts") / F.lit(1_000_000)).cast("bigint").alias("ts_s"),
        F.col("ts").alias("ts"),
        F.floor(F.col("value") * 1000).alias("q"),
        F.col("value").alias("v"),
        F.col("event_id").alias("tb"),
    ).withColumn("rn", F.row_number().over(w) - 1)
    pts = base.withColumn("bucket", F.floor(F.col("rn") / 20))
    anchors = pts.groupBy("t", "bucket").agg(
        F.expr("sum(ts_s) div count(1)").alias("a_t"),
        F.expr("sum(q) div count(1)").alias("a_q"),
        F.count(F.lit(1)).alias("n_points"),
    )
    wb = Window.partitionBy("t").orderBy("bucket")
    neigh = anchors.select(
        "t", "bucket", "n_points",
        F.lag("a_t").over(wb).alias("prev_t"),
        F.lag("a_q").over(wb).alias("prev_q"),
        F.lead("a_t").over(wb).alias("next_t"),
        F.lead("a_q").over(wb).alias("next_q"),
    )
    scored = pts.join(neigh, ["t", "bucket"]).withColumn(
        "area2",
        F.abs(
            (F.col("prev_t") - F.col("next_t"))
            * (F.col("q") - F.col("prev_q"))
            - (F.col("prev_t") - F.col("ts_s"))
            * (F.col("next_q") - F.col("prev_q"))
        ),
    )
    pick = Window.partitionBy("t", "bucket").orderBy(
        F.coalesce("area2", F.lit(-1)).desc(), F.col("rn").asc()
    )
    want = {
        (r.event_type, r.bucket): (r.n_points, r.ts, r.v, r.area2)
        for r in scored.withColumn("r", F.row_number().over(pick))
        .where(F.col("r") == 1)
        .select(
            F.col("t").alias("event_type"),
            "bucket",
            "n_points",
            "ts",
            "v",
            F.coalesce("area2", F.lit(-1)).alias("area2"),
        )
        .collect()
    }
    assert got == want


def test_downsample_lttb_one_point_per_bucket(spark, sf_dir):
    """C35: exactly one selected point per (type, bucket); bucket ids
    are the contiguous 0..n_buckets-1 range; edge buckets (no
    neighbor anchor) fall back to their first point (area2 = -1)."""
    out = tq.downsample_lttb(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert not out.duplicated(["event_type", "bucket"]).any()
    for _, g in out.groupby("event_type"):
        buckets = sorted(g["bucket"].tolist())
        assert buckets == list(range(len(buckets)))
        assert (g.sort_values("bucket").iloc[0]["area2"]) == -1


def test_seasonal_dow_zero_sum(spark, sf_dir):
    """C36: the detrended weekday components of each type sum to ~0
    when weighted by day counts (additive decomposition residuals)."""
    out = tq.seasonal_dow(spark, sf_dir).toPandas()
    assert len(out) > 0
    for _, g in out.groupby("event_type"):
        weighted = (g["seasonal"] * g["n_days"]).sum()
        assert abs(weighted) < g["n_days"].sum() * 2.0


def test_approx_quantiles_close_to_exact(spark, sf_dir):
    """C18b: sketch quantiles land within 2% relative of the exact
    rank-selected values (C18 is the oracle-checked twin)."""
    approx = tq.approx_quantiles(spark, sf_dir).toPandas().set_index("event_type")
    exact = tq.value_percentiles(spark, sf_dir).toPandas().set_index("event_type")
    for t in exact.index:
        for ap, ex in (("p50", "p50"), ("p90", "p90"), ("p99", "p99")):
            a, e = approx.loc[t, ap], exact.loc[t, ex]
            assert abs(a - e) <= max(abs(e) * 0.02, 1.0), (t, ap, a, e)


def test_plan_shapes_new_ops(spark, sf_dir):
    """Plan regression net: the newest ops keep their intended shuffle
    counts (feature_pivot exactly one exchange; cdc_merge at most
    three; cube_mosaic at most two including its scalar broadcast)."""
    import re

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Exchange (hash|range|SinglePartition)", plan))

    assert n_exchanges(tq.feature_pivot(spark, sf_dir).limit(0)) <= 2
    assert n_exchanges(tq.cdc_merge(spark, sf_dir).limit(0)) <= 4


def test_seasonal_decompose_recomposes(spark, sf_dir):
    """Rows with a complete centered window must satisfy
    value == trend + seasonal + residual exactly (additive model)."""
    from pyspark.sql import functions as F

    from icecube_spark.queries import timeseries_queries as tq2

    out = tq2.seasonal_decompose(spark, sf_dir)
    bad = out.where(
        F.col("trend").isNotNull()
        & (
            F.abs(
                F.col("value")
                - (F.col("trend") + F.col("seasonal") + F.col("residual"))
            )
            > 1e-9
        )
    ).count()
    assert bad == 0


def test_acf_lag_bounds(spark, sf_dir):
    """ACF values are correlations: |r| <= 1, and pair counts shrink
    as the lag grows (fewer aligned days)."""
    from icecube_spark.queries import timeseries_queries as tq2

    rows = tq2.acf_daily_value(spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert abs(r["acf"]) <= 1.0 + 1e-12
    ns = [r["n_pairs"] for r in sorted(rows, key=lambda r: r["lag"])]
    assert ns == sorted(ns, reverse=True)
