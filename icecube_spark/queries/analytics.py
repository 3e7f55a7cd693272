"""General analytics core (SURVEY §2 group B).

TPC-H-shaped workloads over the driver's star schema, written
DataFrame-declarative so Catalyst gets full predicate pushdown,
column pruning, and join planning. Small dimensions are explicitly
broadcast; fact-fact joins shuffle on their join keys and rely on AQE
for skew splitting at scale.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from icecube_spark import catalog, staging
from icecube_spark.functions.parity import davg, dsum, qsum
from icecube_spark.functions.materialize import materialize


class CopurchaseStaging(NamedTuple):
    """The session-staged co-purchase artifacts (consumers access
    them by NAME)."""

    baskets: DataFrame  # distinct (l_orderkey, l_partkey)
    pairs: DataFrame  # oriented (pa < pb, n_orders)
    edges2: DataFrame  # support>=2 edge list (pa, pb)


@staging.artifact
def staged_copurchase(spark: SparkSession, sf_dir: str) -> CopurchaseStaging:
    """Session-scoped co-purchase staging: the distinct
    (order, part) basket table, the oriented pair-count table
    (pa < pb, n_orders), and the support>=2 edge list, built ONCE per
    corpus and shared by every basket-graph consumer — basket_pairs
    (B26), basket_lift (B29), part_triangles (B36), part_pagerank
    (P33). At 100 TB this is the materialized co-occurrence view a
    recommender stack maintains next to the fact table; staging it is
    the session-scale equivalent, held in the session staging store
    (icecube_spark.staging) with every other staged_* artifact and
    released by staging.release.

    The pair build is the one bounded self-join all four keys were
    paying separately: fanout ≤ lines-per-order (≤ 7 in TPC-H shape),
    both sides share one orderkey shuffle, the (pa, pb) aggregate
    partial-combines map-side.
    """
    li = (
        catalog.load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges2 = (
        pairs.where(F.col("n_orders") >= 2)
        .select("pa", "pb")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return CopurchaseStaging(li, pairs, edges2)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-heavy groupBy aggregate with map-side partials."""
    li = catalog.load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            # price PRODUCTS reach ~1e5 where dsum's decimal cast hits
            # the cross-engine tie-rounding divergence -> quantized sums
            qsum(disc_price).alias("sum_disc_price"),
            qsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter broadcast into a fact-fact join, top-k."""
    cust = catalog.load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = catalog.load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = catalog.load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: snowflake join; every dimension broadcasts, facts shuffle once."""
    t = catalog.load_tables(spark, sf_dir)
    region = t["region"].where(F.col("r_name") == "ASIA")
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter+agg — the whole predicate pushes to the scan."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + window rank: top-3 parts by revenue within each brand."""
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    by_part = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        by_part.withColumn("brand_rank", F.row_number().over(w))
        .where(F.col("brand_rank") <= 3)
        .select("p_brand", "p_partkey", "p_name", "revenue", "brand_rank")
        .orderBy("p_brand", "brand_rank")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted): priority counts for orders with at least one
    late-shipped lineitem — exercises LEFT SEMI join."""
    orders = catalog.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    late = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (orders.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > F.date_add(orders.o_orderdate, 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (adapted): top 20 customers by revenue lost to
    returned items in a quarter."""
    t = catalog.load_tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of orders-per-customer — left outer join
    preserving empty customers, double aggregation."""
    cust = catalog.load(spark, sf_dir, "customer").select("c_custkey")
    orders = catalog.load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional aggregation over a
    broadcast dimension join."""
    li = catalog.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = catalog.load(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (100.0 * dsum(promo) / dsum(disc)).alias("promo_revenue_pct"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 350 — agg-filter
    (HAVING) feeding a join back to dimensions."""
    t = catalog.load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 350)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year. Both nation dims broadcast; the fact join shuffles once on
    orderkey and AQE handles skew."""
    t = catalog.load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ASIA-market STANDARD-part volume
    per order year. Share = ratio of two decimal-exact sums, so the
    division is deterministic across engines."""
    t = catalog.load_tables(spark, sf_dir)
    part = t["part"].where(F.col("p_type") == "STANDARD")
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    n_cust = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = t["region"].where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
            .alias("nation_volume"),
            dsum(vol).alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
        .select("o_year", "mkt_share", "nation_volume", "total_volume")
        .orderBy("o_year")
    )


def q12_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted to the trimmed schema (no l_shipmode /
    l_receiptdate): bucket lineitems by ship latency vs order date and
    count urgent/high-priority vs other orders per bucket."""
    t = catalog.load_tables(spark, sf_dir)
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("SLOW"),
            ).otherwise(F.lit("FAST")),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum 3-month revenue. The
    revenue aggregate is computed once; the scalar max broadcasts back
    via a window over an empty partition (no second scan)."""
    t = catalog.load_tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    w = Window.partitionBy()
    return (
        revenue.withColumn("max_rev", F.max("total_revenue").over(w))
        .where(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(t["supplier"]), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 adapted (p_size<10 stands in for the missing
    p_container): avg yearly revenue lost to small orders of Brand#1
    small parts. The per-part avg-quantity is a broadcast agg-join, not
    a correlated rescan."""
    t = catalog.load_tables(spark, sf_dir)
    part = t["part"].where((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10))
    li = t["lineitem"].join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (davg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 adapted (brand/size/quantity stand in for the missing
    container/shipmode): revenue from a disjunction of brand+size+qty
    windows. One broadcast join; the OR-of-ANDs stays a single pushed
    predicate."""
    t = catalog.load_tables(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (ship latency >30d stands in for the missing
    receipt/commit dates): suppliers who were the ONLY late shipper on
    a finished multi-supplier order. exists/not-exists become
    aggregated per-order supplier counts — one shuffle on orderkey
    instead of two correlated self-probes."""
    t = catalog.load_tables(spark, sf_dir)
    li = t["lineitem"].join(
        t["orders"].where(F.col("o_orderstatus") == "F"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per_order = (
        li.withColumn(
            "is_late",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            .cast("int"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("supp_late"))
    )
    order_stats = per_order.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("supp_late").alias("n_late_supps"),
    )
    return (
        per_order.join(order_stats, "l_orderkey")
        .where(
            (F.col("supp_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (nationkey stands in for the missing phone
    country code; "no recent orders" for "no orders" — this synthetic
    data gives every customer at least one order): well-funded
    customers in 7 nations gone quiet since 2000. The scalar avg
    broadcasts; the lapsed-customer test is a left-anti join."""
    t = catalog.load_tables(spark, sf_dir)
    nations = [1, 2, 3, 4, 5, 6, 7]
    cust = t["customer"].where(F.col("c_nationkey").isin(nations))
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    recent = t["orders"].where(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---- Q2/Q9/Q11/Q16/Q20 adaptations -----------------------------------
# The driver schema has no partsupp table, so the supplies relation is
# DISTINCT (l_partkey, l_suppkey) from lineitem (at scale: a bucketed
# pre-computed table), and per-pair supply cost / available quantity
# are deterministic functions of the keys — identical in both engines:
#   cost(p, s)  = ((p*7 + s*13) % 10000) / 100.0 + 1.0
#   avail(p, s) = (p + s) % 50 + 1

# single double division (int->double cast first): Spark's bare
# "x / 100.0 + 1.0" runs in DECIMAL and rounds in a different order
# than DuckDB's double math — 1-ulp cost differences at sf>=0.1
_COST = "CAST((l_partkey * 7 + l_suppkey * 13) % 10000 + 100 AS DOUBLE) / CAST(100 AS DOUBLE)"
_AVAIL = "(l_partkey + l_suppkey) % 50 + 1"


def _supplies(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = catalog.load(spark, sf_dir, "lineitem")
    return (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .withColumn("cost", F.expr(_COST))
        .withColumn("avail", F.expr(_AVAIL).cast("int"))
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted: for each size-15 part, the cheapest EUROPE
    supplier that supplies it (min synthetic cost, tie to smallest
    suppkey). Correlated-min via one window over the supplies join —
    no re-scan, no correlated subquery execution. Dims broadcast."""
    t = catalog.load_tables(spark, sf_dir)
    part = t["part"].where(F.col("p_size") == 15).select("p_partkey", "p_name")
    nations = t["nation"].join(
        F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    supp = t["supplier"].join(
        F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    cand = (
        _supplies(spark, sf_dir)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("cost"), F.asc("s_suppkey")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            # decimal -> double so the exported value matches the
            # oracle's double representation (43.44 vs 43.440000)
            F.col("cost").cast("double").alias("cost"),
            "s_name",
            "n_name",
            "s_acctbal",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey")
        .limit(100)
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: profit by supplier nation and order year for
    red parts; profit = revenue - synthetic supply cost * qty. The
    5-way snowflake broadcasts every dim; lineitem->orders is the one
    fact-fact shuffle."""
    t = catalog.load_tables(spark, sf_dir)
    part = t["part"].where(F.col("p_name").like("%red%")).select("p_partkey")
    supp = t["supplier"].select("s_suppkey", "s_nationkey")
    nation = t["nation"].select("n_nationkey", "n_name")
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = t["orders"].select("o_orderkey", "o_orderdate")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.expr(
        _COST
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted: per-part inventory value (synthetic
    cost x avail) held by NATION_3 suppliers, keeping parts above
    0.1% of the total. The scalar total broadcasts back — two aggs
    over one supplies scan, no correlated re-scan."""
    t = catalog.load_tables(spark, sf_dir)
    supp = t["supplier"].where(F.col("s_nationkey") == 3).select("s_suppkey")
    held = (
        _supplies(spark, sf_dir)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("value", F.col("cost") * F.col("avail"))
    )
    # keep the per-part sums in DECIMAL so the grand total derives
    # from the per-part aggregate (exact: Σ_parts Σ_values = Σ_values
    # in decimal; the double casts happen on the final values only).
    # Both consumers share the per-part exchange, so the supplies
    # scan + join run once instead of twice (guide §2.4).
    per_part_dec = held.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(F.col("value").cast("decimal(18,8)")).alias("pv_dec")
    )
    per_part = per_part_dec.select(
        "p_partkey", F.col("pv_dec").cast("double").alias("part_value")
    )
    total = per_part_dec.agg(
        F.sum("pv_dec").cast("double").alias("total_value")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > 0.001 * F.col("total_value"))
        .select("p_partkey", "part_value")
        .orderBy(F.desc("part_value"), "p_partkey")
    )


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted: distinct supplier count per (brand, type,
    size) for non-ECONOMY, non-Brand#1 parts in 5 sizes, excluding
    "complaint" suppliers (suppkey % 17 == 0). count-distinct after a
    broadcast dim join; one shuffle on the group key."""
    t = catalog.load_tables(spark, sf_dir)
    part = t["part"].where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin([1, 14, 23, 45, 9])
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    ok_supplies = _supplies(spark, sf_dir).where(
        F.col("l_suppkey") % 17 != 0
    )
    return (
        ok_supplies.join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted: NATION_1 suppliers holding excess stock of
    some blue part — avail(p, s) > 50% of the quantity they shipped
    of that part in 1997. Agg-filtered left-semi join chain; the
    blue-part filter broadcasts into the shipment agg."""
    t = catalog.load_tables(spark, sf_dir)
    part = t["part"].where(F.col("p_name").like("%blue%")).select("p_partkey")
    li = catalog.load(spark, sf_dir, "lineitem")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("qty_shipped"))
        .withColumn("avail", F.expr(_AVAIL).cast("int"))
        .where(F.col("avail") > 0.5 * F.col("qty_shipped"))
        .select("l_suppkey")
        .distinct()
    )
    supp = t["supplier"].where(F.col("s_nationkey") == 1)
    return (
        supp.join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24 — RFM customer segmentation: recency / frequency /
    monetary per customer, each scored into NTILE(4) quartiles — the
    classic CRM segmentation (and the reference's per-product
    metadata-profile analogue, generalized to customers).

    Plan: one shuffle aggregates orders per customer; the anchor date
    is a scalar aggregate broadcast back (no rescan). The three
    quartile assignments run through distributed_ntile (range
    repartition + prefix-summed offsets — no single-partition window
    even at billion-customer scale); the oracle keeps plain NTILE,
    which is bit-identical. Ties break on custkey so the quartile
    assignment is total-order deterministic; `monetary` is a decimal
    fold, so both engines sort identical doubles.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    anchor = per_cust.agg(F.max("last_order").alias("anchor"))
    per = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("anchor", "last_order").alias("recency_days"),
        "frequency",
        "monetary",
    )
    from icecube_spark.operators.pipeline import distributed_ntile

    scored = distributed_ntile(
        distributed_ntile(
            distributed_ntile(
                per,
                [F.asc("recency_days"), F.asc("o_custkey")],
                4,
                tile_col="r_score",
            ),
            [F.desc("frequency"), F.asc("o_custkey")],
            4,
            tile_col="f_score",
        ),
        [F.desc("monetary"), F.asc("o_custkey")],
        4,
        tile_col="m_score",
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    ).orderBy("o_custkey")


def revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25 — month-over-month revenue growth per nation: monthly
    decimal-fold revenue, LAG across months, growth ratio. The trend
    report behind every revenue dashboard.

    Plan: orders⋈customer shuffles on the customer key once; nation
    broadcasts. The monthly aggregate is |nations|×|months| rows, so
    the lag window is driver-trivial but stays distributed (partition
    by nation). Growth is the same double division in both engines on
    decimal-fold inputs.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "n_name",
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("growth"),
    ).orderBy("n_name", "month")


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26 — market-basket part-pair mining: the top-20 pairs of
    parts most often bought in the same order (association-rule /
    co-occurrence input).

    Plan: the staged co-purchase pair table (staged_copurchase —
    distinct baskets so multi-line duplicates never inflate counts,
    one bounded self-join shared by B26/B29/B36/P33); the top-k rank
    runs over that |parts|²-bounded aggregate only.
    """
    pairs = staged_copurchase(spark, sf_dir).pairs
    pairs = pairs.select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        "n_orders",
    )
    w = Window.partitionBy().orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 20)
        .orderBy("rank")
    )


def brand_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27 — per-brand Spearman rank correlation between quantity and
    price: ρ = 1 − 6·Σd²/(n(n²−1)). Rank correlation instead of
    Pearson deliberately: ranks are integers, so Σd² is exact int64
    and the whole statistic is one double division at the end —
    Pearson's raw-double moment sums can't be made engine-exact at
    price magnitudes (see functions/parity.py).

    Plan: two chained keyed distributed_rank passes (range-
    partitioned local ranks + broadcast offsets — bit-identical to
    the brand-partitioned windows the oracle uses, without holding a
    whole brand's line-grain rows in one task at 100 TB). Ties break
    on (orderkey, linenumber) so ranks are total-order deterministic.
    """
    from icecube_spark.operators.pipeline import distributed_rank

    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).select(
        "p_brand",
        "l_quantity",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
    )
    # (orderkey, linenumber) is NOT unique in this data — the full
    # (orderkey, linenumber, partkey, suppkey) quad is the row identity
    tie = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    rq = distributed_rank(
        j,
        ["l_quantity", *tie, "l_extendedprice"],
        rank_col="__rq",
        key_cols=["p_brand"],
    )
    rp = distributed_rank(
        rq,
        ["l_extendedprice", *tie, "l_quantity"],
        rank_col="__rp",
        key_cols=["p_brand"],
    )
    ranked = rp.select(
        "p_brand",
        (F.col("__rq") - F.col("__rp")).cast("bigint").alias("d"),
    )
    agg = ranked.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("sd2"),
    )
    return agg.select(
        "p_brand",
        "n",
        (
            1
            - (6 * F.col("sd2")).cast("double")
            / (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("double")
        ).alias("spearman_rho"),
    ).orderBy("p_brand")


def ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 — order→ship latency profile per order priority: exact
    rank-selected p50/p90/p99 of (shipdate − orderdate) days. The SLA
    report behind Q12's bucket counts — full distribution instead of
    two buckets.

    Plan: the fact-fact join shuffles once on the order key, then the
    line grain COLLAPSES to a (priority, lat_days) count histogram
    with map-side partial aggregation — latencies are small integer
    day counts, so the histogram is the exact distribution and the
    rank-⌈q·n⌉ element is the smallest value whose cumulative count
    reaches the threshold (identical bits to the rank-selected form
    the oracle uses: ranks within a tied value all carry that value).
    The cumulative window runs on the histogram frame (≤ |priorities|
    × |distinct day gaps| rows, aggregate-bounded), so nothing
    corpus-grain is range-shuffled or checkpointed — guide §2.3
    (aggregate before you shuffle), replacing the former
    distributed_rank pass over every line.
    """
    li = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("lat_days"),
    )
    hist = lat.groupBy("o_orderpriority", "lat_days").agg(
        F.count(F.lit(1)).alias("__hc")
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("lat_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("o_orderpriority").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "o_orderpriority",
        "lat_days",
        F.sum("__hc").over(wcum).alias("cum"),
        F.sum("__hc").over(wall).alias("n"),
    )
    at = lambda q: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.ceil(q * F.col("n")), F.col("lat_days"))
    )
    return (
        cum.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_lines"),
            F.min("lat_days").alias("min_days"),
            at(F.lit(0.5)).alias("p50_days"),
            at(F.lit(0.9)).alias("p90_days"),
            at(F.lit(0.99)).alias("p99_days"),
            F.max("lat_days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 — association-rule lift for part pairs: lift(a,b) =
    P(a,b)/(P(a)·P(b)) = n_ab·N / (n_a·n_b) over order baskets, top-20
    with support ≥ 3. Extends basket_pairs from raw co-occurrence to
    the independence-normalized score a recommender actually ranks by.

    Plan: n_ab comes from the staged co-purchase pair table
    (staged_copurchase — one bounded self-join shared by
    B26/B29/B36/P33); the per-part basket counts aggregate once over
    the staged basket table and BROADCAST back onto the pair table
    (parts ≪ pairs); N is a scalar. The lift expression is
    all-integer inputs with one double division, engine-exact, and
    ranking ties break on the pair keys.
    """
    staged = staged_copurchase(spark, sf_dir)
    li, staged_pairs = staged.baskets, staged.pairs
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_part")
    )
    pairs = (
        staged_pairs.where(F.col("n_orders") >= 3)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("n_orders").alias("n_ab"),
        )
    )
    na = per_part.select(F.col("part").alias("part_a"), F.col("n_part").alias("n_a"))
    nb = per_part.select(F.col("part").alias("part_b"), F.col("n_part").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
    w = Window.partitionBy().orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 20)
        .orderBy("rank")
    )


def pareto_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 — revenue-concentration (Pareto / "80-20") report: customers
    ranked by lifetime spend, grouped into spend deciles, each decile's
    revenue and the cumulative share. The executive concentration
    curve every revenue team reads.

    Plan: one shuffle on o_custkey to customer grain; the rank window
    and decile cumsum run over |customers| aggregate rows; totals
    broadcast back via a 1-row crossJoin. Revenue folds in decimal
    (order-free); shares are single IEEE divisions of exact decimals.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    # floor-quantized revenue (not a decimal cast): o_totalprice sits in
    # the >1e5 magnitude band where double->decimal casts tie-round
    # differently across engines (functions/parity.py)
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1000000.0)).cast(
                "decimal(28,0)"
            )
        ).alias("rev")
    )
    from icecube_spark.operators.pipeline import distributed_rank

    ranked = distributed_rank(
        per_cust, [F.col("rev").desc(), F.col("o_custkey")], rank_col="rn"
    ).select("rev", "rn").crossJoin(
        F.broadcast(
            per_cust.agg(
                F.count(F.lit(1)).alias("n_cust"),
                F.sum("rev").cast("decimal(38,0)").alias("total_rev"),
            )
        )
    )
    deciles = (
        # integer floor division on both sides — a double division +
        # int cast TRUNCATES in Spark but ROUNDS in DuckDB
        ranked.withColumn(
            "decile",
            (F.expr("((rn - 1) * 10) div n_cust") + 1).cast("int"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").cast("decimal(38,0)").alias("decile_rev"),
            F.max("total_rev").alias("total_rev"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return deciles.select(
        "decile",
        "n_customers",
        (F.col("decile_rev").cast("double") / F.lit(1000000.0)).alias(
            "decile_revenue"
        ),
        (
            F.sum("decile_rev").over(wc).cast("double")
            / F.col("total_rev").cast("double")
        ).alias("cum_share"),
    ).orderBy("decile")


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31 — hierarchical ROLLUP revenue report: order revenue at
    (region, nation), per-region subtotal, and grand total in ONE
    Expand pass — the drill-down financial summary every BI layer
    issues, exercised through Spark's native rollup operator rather
    than three unioned GROUP BYs.

    Plan: dims broadcast into the orders fact; rollup's Expand emits
    3 rows per input map-side, then one partial-agg shuffle covers
    all grouping levels. grouping() flags disambiguate subtotal rows
    from real NULL keys. qsum keeps the >1e5-magnitude price fold
    exact cross-engine.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    region = catalog.load(spark, sf_dir, "region")
    joined = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("is_total_region"),
            F.grouping("n_name").cast("int").alias("is_total_nation"),
            F.count(F.lit(1)).alias("n_orders"),
            qsum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("is_total_region", "is_total_nation", "r_name", "n_name")
    )


def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32 — GROUP BY CUBE over (returnflag, linestatus): all four
    grouping combinations (detail, each single-axis margin, grand
    total) in one Expand pass — the OLAP cube materialization
    primitive (the engine's namesake operator on the tabular side).

    Plan: single lineitem scan; Expand ×4 map-side, one shuffle.
    At 100 TB the Expand factor is the price of one-pass margins —
    the alternative (4 scans) rereads the fact 4x.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("is_total_rf"),
            F.grouping("l_linestatus").cast("int").alias("is_total_ls"),
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("is_total_rf", "is_total_ls", "l_returnflag", "l_linestatus")
    )


def revenue_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33 — ratio-to-report: each nation's share of its region's
    revenue and of global revenue, via window sums over the
    aggregated frame (no self-join, no second scan).

    Plan: one fact shuffle to (region, nation) aggregates, then two
    window sums over the TINY aggregate frame (25 nations) — the
    window cost is nil; the pattern matters because the naive SQL
    (join against two subquery totals) rescans the fact twice.
    Shares are exact-double ratios of quantized sums.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    region = catalog.load(spark, sf_dir, "region")
    # the per-nation fold keeps the QUANTIZED INTEGER (qrev) so the
    # window re-sums are exact decimal math (a double window sum
    # would re-introduce order-dependent rounding)
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(1e6)).cast("decimal(28,0)")
            ).alias("qrev")
        )
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return per_nation.select(
        "r_name",
        "n_name",
        (F.col("qrev").cast("double") / F.lit(1e6)).alias("revenue"),
        (
            F.col("qrev").cast("double")
            / F.sum("qrev").over(w_region).cast("double")
        ).alias("share_of_region"),
        (
            F.col("qrev").cast("double")
            / F.sum("qrev").over(w_all).cast("double")
        ).alias("share_global"),
    ).orderBy("r_name", "n_name")


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 — customer-lifetime-value triangle: customers cohorted by
    first-order month; each (cohort, month-offset) cell reports
    active customers and cumulative revenue per cohort so far — the
    retention-revenue complement of the count-based cohort_retention
    (C16).

    Plan: first-order month is one min() per customer reusing the
    customer-key shuffle that the cohort join needs anyway; the
    cumulative sum runs over the tiny (cohorts × offsets) aggregate
    frame. Revenue folds are quantized-integer (qsum twin) so the
    running sums stay bit-exact.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        "o_totalprice",
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
    )
    first = om.groupBy("o_custkey").agg(F.min("month").alias("cohort_month"))
    cells = (
        om.join(first, "o_custkey")
        .withColumn(
            "month_offset",
            (
                F.months_between(F.col("month"), F.col("cohort_month"))
            ).cast("int"),
        )
        .groupBy("cohort_month", "month_offset")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(1e6)).cast("decimal(28,0)")
            ).alias("qrev"),
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        F.col("cohort_month").cast("timestamp").alias("cohort_month"),
        "month_offset",
        "n_active",
        (F.col("qrev").cast("double") / F.lit(1e6)).alias("revenue"),
        (F.sum("qrev").over(w).cast("double") / F.lit(1e6)).alias(
            "cum_revenue"
        ),
    ).orderBy("cohort_month", "month_offset")


def _skyline_prune(df: DataFrame, *keys: str) -> DataFrame:
    """One skyline sweep of (p_retailprice minimize, p_size maximize)
    within each `keys` partition (global when keys is empty): collapse
    to per-price groups, prefix-max the group maxima, and a row is
    dominated iff some strictly-cheaper part is at least as large
    (premax >= size) or some equal-price part is strictly larger
    (gmax > size). No self-join — one tiny aggregate + one window.
    """
    g = (
        df.groupBy(*keys, "p_retailprice")
        .agg(F.max("p_size").alias("gmax"))
        .withColumn(
            "premax",
            F.max("gmax").over(
                Window.partitionBy(*keys)
                .orderBy("p_retailprice")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    )
    return (
        df.join(g, [*keys, "p_retailprice"])
        .where(
            (F.col("premax").isNull() | (F.col("premax") < F.col("p_size")))
            & (F.col("gmax") <= F.col("p_size"))
        )
        .drop("gmax", "premax")
    )


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 — Pareto skyline of the part catalog: the
    cheapest-for-their-size frontier (minimize p_retailprice, maximize
    p_size). A part is dominated when another is no more expensive AND
    no smaller, strictly better on one axis — the classic skyline
    operator (Borzsonyi et al., ICDE'01) the reference's metadata
    filters approximate with fixed thresholds.

    Plan: distributed local-prune -> tiny global pass, never a
    self-join. Stage 1 runs the price-group prefix-max sweep inside
    each of 32 hash buckets (map-side after one bucket exchange);
    bucket survivors are a superset of the global skyline and
    O(skyline x buckets) small. Stage 2 reruns the same sweep
    globally over that residue — a window over at most a few hundred
    price groups, broadcast scale at any corpus size. The oracle is
    the quadratic NOT EXISTS definition; the sweep must match it
    exactly.
    """
    part = catalog.load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    local = _skyline_prune(
        part.withColumn(
            "bucket", F.pmod(F.hash("p_partkey"), F.lit(32)).cast("int")
        ),
        "bucket",
    ).drop("bucket")
    return (
        _skyline_prune(local)
        .select(
            "p_partkey",
            "p_name",
            F.col("p_retailprice").cast("double").alias("price"),
            F.col("p_size").cast("int").alias("p_size"),
        )
        .orderBy("price", "p_partkey")
    )


def part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36 — triangle census of the co-purchase graph: parts are
    linked when >= 2 distinct orders contain both; one summary row
    with nodes/edges/wedges/triangles and the global clustering
    coefficient 3*triangles/wedges.

    Plan: the support>=2 edge list is a member of the co-purchase
    staging (staged_copurchase — one bounded orderkey self-join
    shared by B26/B29/B36/P33), persisted once per corpus with the
    store's release hooks so repeated calls never accumulate cached
    blocks. Triangles join oriented edges
    a<b<c so each triangle counts exactly once; wedge fan-out per
    node is capped by the support threshold's density cut. Degrees,
    edges and triangles fold map-side to 1-row aggregates combined
    by broadcast crossJoin — no driver collect. (At power-law
    scale, orient by (degree, id) instead of raw id to cap the
    worst-case adjacency list; the support>=2 co-purchase graph is
    near-regular so id-orientation keeps the SQL twin simple.)
    """
    edges = staged_copurchase(spark, sf_dir).edges2
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        # empty graph: SUM over zero rows is NULL, the census wants 0
        F.coalesce(
            F.sum(F.expr("deg * (deg - 1) / 2").cast("bigint")), F.lit(0)
        ).cast("bigint").alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    ab = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    ac = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    bc = edges.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    wedges = ab.join(ac, "a").where(F.col("b") < F.col("c"))
    tri_stats = (
        wedges.join(bc, ["b", "c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(F.broadcast(edge_stats))
        .crossJoin(F.broadcast(tri_stats))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   F.lit(3.0) * F.col("n_triangles").cast("double")
                   / F.col("n_wedges").cast("double"))
             .otherwise(F.lit(0.0))
             .alias("clustering_coef"),
        )
    )


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B38 — exact-moment Pearson correlation matrix over lineitem's
    numeric columns (quantity, extendedprice, discount): the
    feature-screening statistic, computed the only way that is
    bit-exact across engines — every moment is an EXACT integer sum
    (quantity as-is; price in cents, discount in basis points — both
    lossless for DECIMAL(12,2) inputs) folded in DECIMAL(38,0), and
    the final r is one fixed-shape double expression over those
    exact moments (brand_spearman documents why raw double moment
    sums can never be exact; integer moments make Pearson exact too).

    Plan: ONE scan, ten map-side-combinable aggregates (n, 3 sums, 3
    squares, 3 cross-products), then the 3 output rows are pure
    projection over the 1-row aggregate — at any scale this is the
    cheapest possible statistic: a single reduce of 10 numbers.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    # inputs are DOUBLE holding 2-decimal values: v*100 lands within
    # 1ulp of an integer, so floor(v*100 + 0.5) recovers it exactly
    # and identically in both engines (a bare bigint cast would not:
    # Spark truncates, DuckDB rounds)
    q = F.floor(F.col("l_quantity")).cast("bigint")
    p = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    d = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    dec = "decimal(38,0)"
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q.cast(dec)).alias("sq"),
        F.sum(p.cast(dec)).alias("sp"),
        F.sum(d.cast(dec)).alias("sd"),
        F.sum((q * q).cast(dec)).alias("sqq"),
        F.sum((p * p).cast(dec)).alias("spp"),
        F.sum((d * d).cast(dec)).alias("sdd"),
        F.sum((q * p).cast(dec)).alias("sqp"),
        F.sum((q * d).cast(dec)).alias("sqd"),
        F.sum((p * d).cast(dec)).alias("spd"),
    )

    def r(sa, sb, saa, sbb, sab):
        # the squared-moment sums exceed 2^53, and DuckDB's
        # int128->double cast is not correctly rounded (Spark's
        # BigDecimal path is) — a 1-ulp input wobble moves r by
        # ~1e-19. Quantizing the OUTPUT to a 1e-9 grid absorbs it
        # (straddle odds ~1e-10, the repo's standard floor-grid
        # trade; see functions/parity.py)
        n = F.col("n").cast("double")
        a, b = F.col(sa).cast("double"), F.col(sb).cast("double")
        aa, bb, ab = (
            F.col(saa).cast("double"),
            F.col(sbb).cast("double"),
            F.col(sab).cast("double"),
        )
        raw = (n * ab - a * b) / (
            F.sqrt(n * aa - a * a) * F.sqrt(n * bb - b * b)
        )
        return F.floor(raw * F.lit(1e9)).cast("bigint").cast("double") / F.lit(
            1e9
        )

    pairs = m.select(
        "n",
        r("sq", "sp", "sqq", "spp", "sqp").alias("r_qty_price"),
        r("sq", "sd", "sqq", "sdd", "sqd").alias("r_qty_discount"),
        r("sp", "sd", "spp", "sdd", "spd").alias("r_price_discount"),
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("qty_price").alias("pair"),
                    F.col("n"),
                    F.col("r_qty_price").alias("r"),
                ),
                F.struct(
                    F.lit("qty_discount").alias("pair"),
                    F.col("n"),
                    F.col("r_qty_discount").alias("r"),
                ),
                F.struct(
                    F.lit("price_discount").alias("pair"),
                    F.col("n"),
                    F.col("r_price_discount").alias("r"),
                ),
            )
        ).alias("s")
    ).select("s.pair", "s.n", "s.r").orderBy("pair")


def segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44 — customer spend-quintile migration matrix, 1996 → 1997:
    per year, each active customer's total spend lands in a global
    spend quintile (distributed-prefix-sum cuts — no single-partition
    rank, see operators/pipeline.distributed_depth_cuts); the output
    is the 5×5 transition matrix over customers active in BOTH years
    plus each cell's share. The churn/upsell diagnostic behind
    loyalty programs — rfm_segments is the snapshot, this is the
    flow.

    Exactness: spend folds to exact cents BIGINTs; quintile cuts and
    assignments are integer comparisons; shares are one exact
    division.

    Plan: one (customer, year) aggregate from the fact scan,
    materialized ONCE (eager localCheckpoint) — four consumers read
    it (two cut builds, two assignment branches), and without the
    checkpoint each re-runs the fact scan and aggregate; each year's
    cut list is a broadcast 1-row side; assignment is map-side; the
    final matrix is a ≤25-row aggregate after one customer-key join
    of two year slices.
    """
    from icecube_spark.operators.pipeline import distributed_depth_cuts

    orders = catalog.load(spark, sf_dir, "orders")
    spend = (
        orders.select(
            "o_custkey",
            F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .where(F.col("yr").isin(1996, 1997))
        .groupBy("o_custkey", "yr")
        .agg(F.sum("cents").alias("spend_cents"))
        .transform(materialize)
    )

    def quintiles(yr: int, out: str):
        y = spend.where(F.col("yr") == yr)
        cuts = distributed_depth_cuts(y, "spend_cents", n_bins=5)
        return y.crossJoin(F.broadcast(cuts)).select(
            "o_custkey",
            F.size(
                F.filter("cut_list", lambda c: c < F.col("spend_cents"))
            ).cast("int").alias(out),
        )

    a = quintiles(1996, "q_from")
    b = quintiles(1997, "q_to")
    pairs = a.join(b, "o_custkey")
    # n_total = Σ cells of the ≤25-row matrix — a window over the
    # aggregate instead of a second evaluation of the customer join
    # (guide §2.4; the sum of cell counts IS the pair count)
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        pairs.groupBy("q_from", "q_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .withColumn("n_total", F.sum("n_customers").over(wall))
        .select(
            "q_from",
            "q_to",
            "n_customers",
            (
                F.col("n_customers").cast("double")
                / F.col("n_total").cast("double")
            ).alias("share"),
        )
        .orderBy("q_from", "q_to")
    )


def order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37 — inter-order gap profile per market segment: how many
    days pass between a customer's consecutive orders, summarized as
    exact rank-selected median/p90 plus the mean. The repurchase-
    cadence statistic behind churn models and inventory planning.

    Exactness: gaps are integer day differences; quantiles are
    rank-selected actual values (PERCENTILE_DISC convention); the
    mean is one exact integer division.

    Plan: one shuffle on the customer for the lag window; the per-
    segment ranks come from the keyed distributed_rank (range-
    partitioned local ranks + broadcast offsets) — bit-identical to
    the 5-partition window the oracle uses, without capping the sort
    parallelism at the 5 market segments.
    """
    from icecube_spark.operators.pipeline import distributed_rank

    cust = catalog.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn(
            "gap",
            F.datediff(
                F.to_date(F.col("o_orderdate").cast("timestamp")),
                F.to_date(
                    F.lag("o_orderdate").over(w).cast("timestamp")
                ),
            ),
        )
        .where(F.col("gap").isNotNull())
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.col("gap").cast("bigint").alias("gap"),
            "o_custkey",
            "o_orderkey",
        )
    )
    # tiebreaks satisfy the primitive's total-order contract; the
    # rank-picked gap is tie-invariant either way
    ranked = distributed_rank(
        gaps,
        ["gap", "o_custkey", "o_orderkey"],
        rank_col="rn",
        n_col="n",
        key_cols=["c_mktsegment"],
    )
    at = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(q * F.col("n")), F.col("gap"))
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            (F.sum("gap").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("mean_gap_days"),
            at(F.lit(0.5)).alias("p50_gap_days"),
            at(F.lit(0.9)).alias("p90_gap_days"),
            F.max("gap").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


def discount_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B39 — discount-band effectiveness: per discount band (percent
    points), order-line volume, quantity and revenue, plus the
    average-quantity uplift ratio against the zero-discount baseline
    — the promo-effectiveness readout behind every pricing review.

    Exactness: quantities/revenue fold through the DECIMAL/quantized
    schemes; the baseline rides every row via a window over the
    ≤12-row aggregate, so the ratio divides identical doubles.

    Plan: one map-side-combined aggregate to ≤12 band rows; the
    baseline is a window over those rows (single tiny partition).
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    bands = (
        li.select(
            F.floor(F.col("l_discount") * 100 + 0.5).cast("int").alias("band"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
            qsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
        )
    )
    w = Window.partitionBy()
    base_avg = F.max(
        F.when(
            F.col("band") == 0,
            F.col("sum_qty") / F.col("n_lines").cast("double"),
        )
    ).over(w)
    avg_qty = F.col("sum_qty") / F.col("n_lines").cast("double")
    return bands.select(
        "band",
        "n_lines",
        "sum_qty",
        "revenue",
        avg_qty.alias("avg_qty"),
        (avg_qty / base_avg).alias("qty_uplift_vs_no_discount"),
    ).orderBy("band")


def customer_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B40 — year-over-year customer churn: per order-year, the
    active customer count, how many of them ordered again the next
    year, and the churn rate. The standard subscription-health
    readout; the reference's catalog has no per-user notion, so this
    lands on the orders fact the way rfm_segments (B24) does.

    Exactness: all counts are exact BIGINTs; churn_rate divides two
    identical ints — bit-stable in both engines.

    Plan: one distinct (year, custkey) aggregate (map-side
    combined), then a self-join keyed on (year+1, custkey) — both
    sides share the same shuffle partitioning, and the year-level
    rollup is a ≤10-row aggregate. No window, no broadcast needed;
    at 100 TB the distinct collapse is the only corpus-sized
    shuffle.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    active = (
        orders.select(
            F.year("o_orderdate").alias("yr"), F.col("o_custkey").alias("cust")
        )
        .distinct()
        # referenced by both self-join sides and the year probe —
        # checkpoint the narrow (yr, cust) collapse so the orders
        # scan + distinct shuffle run once, not three times (guide §5)
        .transform(materialize)
    )
    nxt = active.select((F.col("yr") - 1).alias("yr"), F.col("cust"))
    joined = active.join(nxt.withColumn("ret", F.lit(1)), ["yr", "cust"], "left")
    per_year = joined.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.coalesce(F.col("ret"), F.lit(0))).cast("bigint").alias("n_retained"),
    )
    has_next = active.select("yr").distinct().select((F.col("yr") - 1).alias("yr"))
    return (
        per_year.join(has_next, "yr")
        .select(
            "yr",
            "n_active",
            "n_retained",
            (
                F.lit(1.0)
                - F.col("n_retained").cast("double")
                / F.col("n_active").cast("double")
            ).alias("churn_rate"),
        )
        .orderBy("yr")
    )


def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B41 — per-brand demand elasticity: the OLS slope of order-line
    quantity on discount percent. discount_uplift (B39) reads the
    global bands; this fits the per-brand line — the pricing team's
    "which brands actually move on promo" table.

    Exactness: x = discount in integer percent points, y = quantity
    in integer centi-units; all OLS moments (Σx, Σy, Σxy, Σx²) fold
    in DECIMAL(38,0) exact integers, and the closing slope/intercept
    divide identical doubles. Zero-variance brands emit NULL slope.

    Plan: lineitem joins the broadcast part dimension, then one
    map-side-combined aggregate to ≤25 brand rows; the slope
    arithmetic runs on that tiny frame. Single corpus shuffle at any
    scale.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    dec = "decimal(38,0)"
    q = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select(
        "p_brand",
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("y"),
    )
    g = q.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )
    n = F.col("n_lines").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(
        denom != 0.0, (n * sxy - sx * sy) / denom / F.lit(100.0)
    )
    return g.select(
        "p_brand",
        "n_lines",
        (sy / n / F.lit(100.0)).alias("avg_qty"),
        (sx / n).alias("avg_discount_pct"),
        slope.alias("qty_slope_per_discount_pct"),
    ).orderBy("p_brand")


def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B42 — per-supplier performance scorecard: line volume, net
    revenue and revenue share, return rate, and mean order→ship
    latency. The procurement review table that q15 (top supplier)
    and q21 (waiting suppliers) each show one column of.

    Exactness: revenue quantizes per line to micro-units and sums in
    BIGINT, so the share divides exact integers; the return rate and
    mean delay divide exact counts.

    Plan: lineitem⋈orders co-partition on orderkey (the q12 shape),
    supplier dimension broadcasts, one map-side-combined aggregate to
    |suppliers| rows; the share window runs over that dimension-
    bounded frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    sup = catalog.load(spark, sf_dir, "supplier")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup.select("s_suppkey", "s_name")),
              li.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
            ).cast("bigint").alias("qrev"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("delay"),
        )
    )
    g = j.groupBy("s_suppkey", "s_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("qrev").alias("qrev_sum"),
        F.sum("ret").cast("bigint").alias("n_returned"),
        F.sum("delay").cast("bigint").alias("delay_sum"),
    )
    total = F.sum("qrev_sum").over(Window.partitionBy())
    return g.select(
        "s_suppkey",
        "s_name",
        "n_lines",
        (F.col("qrev_sum").cast("double") / F.lit(1e6)).alias("revenue"),
        (F.col("qrev_sum").cast("double") / total.cast("double")).alias(
            "revenue_share"
        ),
        (
            F.col("n_returned").cast("double") / F.col("n_lines").cast("double")
        ).alias("return_rate"),
        (
            F.col("delay_sum").cast("double") / F.col("n_lines").cast("double")
        ).alias("avg_ship_delay_days"),
    ).orderBy("s_suppkey")


def nation_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B43 — customer-nation × supplier-nation trade affinity: per
    nation pair, the line count and the pointwise mutual information
    ln(c_ab·T/(c_a·c_b)) against independence. q7 reports the volume
    between two fixed nations; this scores EVERY pair's over/under-
    trading — the matrix the trade-flow review actually wants.

    Exactness: counts are exact; the PMI quantizes to micro-nats per
    pair cell (≤625 lns), so the output is grid-exact.

    Plan: lineitem⋈orders co-partitioned on orderkey; customer,
    supplier, nation dims broadcast; one (nation, nation) aggregate
    to ≤625 rows; marginals via windows over that tiny frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    sup = catalog.load(spark, sf_dir, "supplier")
    nation = catalog.load(spark, sf_dir, "nation")
    cn = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    sn = sup.join(
        F.broadcast(nation), sup.s_nationkey == nation.n_nationkey
    ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cn), orders.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
    )
    g = j.groupBy("cust_nation", "supp_nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    wall = Window.partitionBy()
    wc = Window.partitionBy("cust_nation")
    ws = Window.partitionBy("supp_nation")
    withm = g.select(
        "cust_nation",
        "supp_nation",
        "n_lines",
        F.sum("n_lines").over(wc).alias("c_a"),
        F.sum("n_lines").over(ws).alias("c_b"),
        F.sum("n_lines").over(wall).alias("t"),
    )
    pmi = (
        F.floor(
            F.log(
                F.col("n_lines").cast("double")
                * F.col("t").cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            )
            * F.lit(1e6)
        )
        / F.lit(1e6)
    )
    return withm.select(
        "cust_nation",
        "supp_nation",
        "n_lines",
        pmi.alias("pmi"),
    ).orderBy("cust_nation", "supp_nation")


def price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B44 — monthly Laspeyres price index: fix the first month's
    basket (per-part quantities), reprice it at each later month's
    unit prices, and report Σp_t·q_0 / Σp_0·q_0 over the parts
    traded in both periods. The canonical inflation-style price
    readout that a raw revenue trend confounds with volume.

    Exactness: unit prices divide micro-int revenue by exact decimal
    quantities (identical doubles both engines); each basket term
    quantizes to a 1e-6 integer before summing, so the index divides
    two exact BIGINTs.

    Plan: one (month, part) aggregate; the base-month slice joins
    back on the part key (dimension-bounded, broadcastable); ≤ n
    months output.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    mp = (
        li.select(
            F.date_trunc("month", F.col("l_shipdate")).alias("month"),
            "l_partkey",
            F.floor(F.col("l_extendedprice") * F.lit(1e6))
            .cast("bigint")
            .alias("qrev"),
            F.col("l_quantity").cast("decimal(18,8)").alias("qty"),
        )
        .groupBy("month", "l_partkey")
        .agg(
            F.sum("qrev").alias("rev"),
            F.sum("qty").alias("qty"),
        )
        .select(
            "month",
            "l_partkey",
            (
                F.col("rev").cast("double")
                / F.lit(1e6)
                / F.col("qty").cast("double")
            ).alias("price"),
            F.col("qty").cast("double").alias("qty_d"),
        )
        # (month, part)-grain aggregate referenced by the base-month
        # scan, the base slice AND the reprice join — checkpoint so
        # the lineitem scan + aggregate run once, not three times
        # (guide §5)
        .transform(materialize)
    )
    base_month = mp.agg(F.min("month").alias("bm"))
    base = (
        mp.join(F.broadcast(base_month), mp.month == F.col("bm"))
        .select(
            "l_partkey",
            F.col("price").alias("p0"),
            F.col("qty_d").alias("q0"),
        )
    )
    joined = mp.join(base, "l_partkey").select(
        "month",
        F.floor(F.col("price") * F.col("q0") * F.lit(1e6))
        .cast("bigint")
        .alias("t_num"),
        F.floor(F.col("p0") * F.col("q0") * F.lit(1e6))
        .cast("bigint")
        .alias("t_den"),
    )
    return (
        joined.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("t_num").alias("num"),
            F.sum("t_den").alias("den"),
        )
        .select(
            "month",
            "n_parts",
            (F.col("num").cast("double") / F.col("den").cast("double")).alias(
                "laspeyres_index"
            ),
        )
        .orderBy("month")
    )


def abc_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45 — ABC/XYZ inventory classification matrix: parts classed
    by cumulative revenue share (A ≤80%, B ≤95%, C rest) × monthly
    demand variability (X: CV≤0.5, Y: CV≤1, Z rest), reported as the
    9-cell planning matrix. The stock-policy segmentation every
    supply-chain review starts from.

    Exactness: the ABC cut compares exact integer cumulative revenue
    (10·cum vs 8·total — no float shares); the XYZ cut compares
    exact integer moments (4·n·Σq² vs 5·(Σq)² for CV≤0.5); only the
    reported percentages divide at the end.

    Plan: one (month, part) aggregate, a part rollup, one
    revenue-ordered window over the dimension-bounded part frame,
    and a 9-row matrix aggregate.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    mp = (
        li.select(
            F.date_trunc("month", F.col("l_shipdate")).alias("month"),
            "l_partkey",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
            ).cast("bigint").alias("qrev"),
            F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("qq"),
        )
        .groupBy("month", "l_partkey")
        .agg(F.sum("qrev").alias("rev_m"), F.sum("qq").alias("qty_m"))
    )
    dec = "decimal(38,0)"
    per_part = mp.groupBy("l_partkey").agg(
        F.sum("rev_m").alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum(F.col("qty_m").cast(dec)).alias("s"),
        F.sum(F.col("qty_m").cast(dec) * F.col("qty_m")).alias("ss"),
    )
    from icecube_spark.operators.pipeline import distributed_cumsum

    ranked = distributed_cumsum(
        per_part,
        [F.col("rev").desc(), F.col("l_partkey")],
        "rev",
        cum_col="cum_rev",
        total_col="total_rev",
    ).select(
        "l_partkey", "rev", "n_months", "s", "ss", "cum_rev", "total_rev"
    )
    abc = (
        F.when(F.col("cum_rev") * 10 <= F.col("total_rev") * 8, F.lit("A"))
        .when(F.col("cum_rev") * 20 <= F.col("total_rev") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    n = F.col("n_months")
    s = F.col("s")
    ss = F.col("ss")
    xyz = (
        F.when(n * ss * 4 <= s * s * 5, F.lit("X"))
        .when(n * ss <= s * s * 2, F.lit("Y"))
        .otherwise(F.lit("Z"))
    )
    classed = ranked.select(
        "l_partkey", "rev", abc.alias("class_abc"), xyz.alias("class_xyz")
    )
    return (
        classed.groupBy("class_abc", "class_xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").alias("rev_q"),
        )
        .select(
            "class_abc",
            "class_xyz",
            "n_parts",
            (F.col("rev_q").cast("double") / F.lit(1e6)).alias("revenue"),
        )
        .orderBy("class_abc", "class_xyz")
    )


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B46 — supply-concentration audit: per supplier nation, the
    Herfindahl–Hirschman index of supplier revenue shares plus the
    top share. The procurement-risk metric — an HHI above 0.25 means
    the nation's supply hangs on a couple of vendors.

    Exactness: shares divide exact micro-int revenues; each share²
    term quantizes to a 1e-12 integer before the order-free sum.

    Plan: lineitem aggregates once on the supplier key, the supplier
    and nation dims broadcast, and the HHI folds over the
    dimension-bounded supplier frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    sup = catalog.load(spark, sf_dir, "supplier")
    nation = catalog.load(spark, sf_dir, "nation")
    per_sup = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
            ).cast("bigint")
        ).alias("rev")
    )
    sn = sup.join(
        F.broadcast(nation), sup.s_nationkey == nation.n_nationkey
    ).select(F.col("s_suppkey"), F.col("n_name").alias("nation"))
    j = per_sup.join(F.broadcast(sn), per_sup.l_suppkey == sn.s_suppkey)
    wn = Window.partitionBy("nation")
    shares = j.select(
        "nation",
        "rev",
        (F.col("rev").cast("double") / F.sum("rev").over(wn).cast("double")).alias(
            "share"
        ),
    )
    term = F.floor(F.col("share") * F.col("share") * F.lit(1e12)).cast("bigint")
    return (
        shares.withColumn("tq", term)
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            (F.sum("tq").cast("double") / F.lit(1e12)).alias("hhi"),
            F.max("share").alias("top_share"),
        )
        .orderBy("nation")
    )


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B47 — quantity-weighted median and p90 unit price per brand:
    the volume-representative price point (the unweighted median
    over-counts one-off small orders). Weighted quantiles are the
    missing half of most SQL dialects' percentile support.

    Exactness: weights are integer centi-quantities; the selection
    rank is pure integer arithmetic over cumulative weights
    (discrete inverse-CDF, no interpolation).

    Plan: one (brand, price-point) aggregate (distinct unit prices —
    vocab-scale), a per-brand cumulative window, two rank-selection
    aggregates. The fact table shuffles once.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    pts = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .select(
            "p_brand",
            F.floor(
                F.col("l_extendedprice")
                / F.col("l_quantity")
                * F.lit(100)
            ).cast("bigint").alias("price_c"),
            F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("wq"),
        )
        .groupBy("p_brand", "price_c")
        .agg(F.sum("wq").alias("w"))
    )
    wb = Window.partitionBy("p_brand")
    wc = wb.orderBy("price_c").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        "p_brand",
        "price_c",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wb).alias("tw"),
    )
    med = F.min(
        F.when(F.col("cw") * 2 >= F.col("tw"), F.col("price_c"))
    ).alias("median_c")
    p90 = F.min(
        F.when(F.col("cw") * 10 >= F.col("tw") * 9, F.col("price_c"))
    ).alias("p90_c")
    return (
        cum.groupBy("p_brand")
        .agg(F.max("tw").alias("tw"), med, p90)
        .select(
            "p_brand",
            (F.col("tw").cast("double") / F.lit(100.0)).alias("total_qty"),
            (F.col("median_c").cast("double") / F.lit(100.0)).alias(
                "weighted_median_price"
            ),
            (F.col("p90_c").cast("double") / F.lit(100.0)).alias(
                "weighted_p90_price"
            ),
        )
        .orderBy("p_brand")
    )


def croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48 — Croston's method for intermittent demand, per brand:
    exponential smoothing of nonzero monthly demand SIZES and of
    INTER-DEMAND intervals separately; forecast = size/interval. The
    standard spare-parts forecaster — plain EWMA on a mostly-zero
    series collapses toward zero and under-stocks.

    Exactness: the C31 power-of-two EWMA scheme (α=½, span 8): both
    smoothers are exact integer weighted sums over lag chains; the
    closing division is one IEEE double op.

    Plan: one (brand, month) aggregate, demand-point lag chains on
    the brand exchange, one final per-brand slice (latest demand
    point). Dimension-bounded throughout.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    span = 8
    bm = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .select(
            "p_brand",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("m"),
            F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("qq"),
        )
        .groupBy("p_brand", "m")
        .agg(F.sum("qq").alias("demand"))
        .where(F.col("demand") > 0)
    )
    w = Window.partitionBy("p_brand").orderBy("m")
    with_iv = bm.withColumn(
        "interval", F.col("m") - F.lag("m", 1).over(w)
    )
    znum = F.lit(0).cast("bigint")
    zden = F.lit(0).cast("bigint")
    pnum = F.lit(0).cast("bigint")
    pden = F.lit(0).cast("bigint")
    for k in range(span):
        wt = 1 << (span - 1 - k)
        zl = F.lag("demand", k).over(w)
        pl = F.lag("interval", k).over(w)
        znum = znum + F.coalesce(zl * wt, F.lit(0))
        zden = zden + F.when(zl.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        pnum = pnum + F.coalesce(pl * wt, F.lit(0))
        pden = pden + F.when(pl.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    smoothed = with_iv.select(
        "p_brand",
        "m",
        znum.alias("zn"),
        zden.alias("zd"),
        pnum.alias("pn"),
        pden.alias("pd"),
        F.row_number().over(Window.partitionBy("p_brand").orderBy(F.col("m").desc()))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("p_brand")).alias("n_demands"),
    ).where(F.col("rn") == 1)
    z = F.col("zn").cast("double") / F.col("zd").cast("double") / F.lit(100.0)
    p = F.col("pn").cast("double") / F.col("pd").cast("double")
    return smoothed.select(
        "p_brand",
        F.col("n_demands").cast("bigint").alias("n_demand_months"),
        z.alias("size_ewma"),
        F.when(F.col("pd") > 0, p).alias("interval_ewma"),
        F.when(F.col("pd") > 0, z / p).alias("croston_forecast"),
    ).orderBy("p_brand")


def lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B49 — Lorenz curve of customer revenue concentration: orders
    roll up per customer, customers rank into revenue deciles, and
    each decile reports its revenue share plus the cumulative share —
    the curve behind the Gini number (source_balance_gini's twin on
    the sales schema; "the top decile books 40% of revenue" is read
    straight off the last row).

    Plan: one map-side-combinable per-customer aggregate, an NTILE
    window over the single revenue ordering, then a 10-row aggregate
    + running sum — the heavy exchange is the customer rollup; the
    decile stage moves one row per customer. Sums fold through
    decimal so shares hash exactly.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    # integer-cent fold: exact at ANY scale factor (the decimal(18,8)
    # fold's internal integer would pass 2^53 around sf0.1, where
    # DuckDB's decimal->double cast stops being correctly rounded)
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1e2)).cast("decimal(28,0)")
        ).alias("qrev")
    )
    from icecube_spark.operators.pipeline import distributed_ntile

    deciled = distributed_ntile(
        per_cust, ["qrev", "o_custkey"], 10, tile_col="decile"
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("qrev").alias("drev"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_dec.select(
        "decile",
        "n_customers",
        (F.col("drev").cast("double") / F.lit(1e2)).alias("decile_revenue"),
        (
            F.sum("drev").over(wc).cast("double")
            / F.sum("drev").over(wt).cast("double")
        ).alias("cum_share"),
    ).orderBy("decile")


def revenue_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B50 — Theil-T inequality decomposition of customer revenue by
    nation: per-nation within-group Theil index plus the nation's
    between-group contribution (share-weighted log of its mean-to-
    global-mean ratio). Theil is the inequality measure that
    decomposes EXACTLY into between + within — the question "is
    revenue concentration a nation story or a per-customer story?"
    is answered by comparing the two columns.

    Plan: one fact rollup to customers (map-combined, integer-cent
    fold), a broadcast nation join, per-nation exact integer sums,
    then the log terms evaluate on nation-count-bounded rows.
    Exactness: every ln() argument is a ratio of exact integers (so
    both engines see the identical double), log terms quantize to
    micro-nats, the per-nation dot products fold in decimal(38,0),
    and the final statistics snap to a 1e-9 grid (the corr_matrix
    discipline for >2^53 integer→double casts).
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(1e2)).cast("decimal(28,0)")
            ).cast("bigint").alias("x")
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "x")
    )
    grp = per_cust.groupBy("n_name").agg(
        F.sum("x").alias("sg"), F.count(F.lit(1)).alias("ng")
    )
    # global totals (exact integers) derive from the ≤|nations|-row
    # group aggregate — Σ sg / Σ ng are the same BIGINTs as a direct
    # corpus fold, without a third evaluation of per_cust (guide §2.4)
    tot = grp.agg(
        F.sum("sg").alias("s"), F.sum("ng").alias("n")
    )
    # within-nation: lq_i = floor(ln(x_i * ng / sg) * 1e6) micro-nats;
    # T_g = sum(x_i * lq_i) / sg / 1e6
    enriched = per_cust.join(F.broadcast(grp), "n_name")
    lq = F.floor(
        F.log(
            F.col("x").cast("double") * F.col("ng").cast("double")
            / F.col("sg").cast("double")
        ) * F.lit(1e6)
    ).cast("bigint")
    within = enriched.select("n_name", "sg", "ng", (F.col("x") * lq).alias("xl"))
    wsum = within.groupBy("n_name", "sg", "ng").agg(
        F.sum(F.col("xl").cast("decimal(38,0)")).alias("sxl")
    )
    out = wsum.crossJoin(F.broadcast(tot))
    t_within = (
        F.col("sxl").cast("double") / F.col("sg").cast("double") / F.lit(1e6)
    )
    lb = F.floor(
        F.log(
            F.col("sg").cast("double") * F.col("n").cast("double")
            / (F.col("s").cast("double") * F.col("ng").cast("double"))
        ) * F.lit(1e6)
    ).cast("bigint")
    between = (
        F.col("sg").cast("double") / F.col("s").cast("double")
        * lb.cast("double") / F.lit(1e6)
    )
    grid = lambda c: F.floor(c * F.lit(1e9)) / F.lit(1e9)
    return out.select(
        "n_name",
        F.col("ng").cast("bigint").alias("n_customers"),
        (F.col("sg").cast("double") / F.lit(1e2)).alias("revenue"),
        grid(t_within).alias("theil_within"),
        grid(between).alias("between_contrib"),
    ).orderBy("n_name")


def new_repeat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51 — monthly growth accounting: revenue split into new-
    customer vs repeat-customer revenue plus the count of customers
    acquired that month. The first chart on any growth dashboard —
    "is this month's revenue acquisition or retention?".

    An order is "new" iff it falls on its customer's first order
    DATE (same-day ties all count as new — deterministic, no
    row-order dependence). Revenue folds as exact integer cents.

    Plan: one shuffle by custkey for the min-date window, then a
    month rollup with map-side partial aggregation; both keys stay
    low-skew at any scale (months are calendar-bounded, custkey is
    uniform).
    """
    orders = catalog.load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    w = Window.partitionBy("o_custkey")
    lab = orders.select(
        "o_custkey",
        d.alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(1e2)).cast("bigint").alias("cents"),
    ).withColumn("first_d", F.min("d").over(w))
    new_cents = F.when(F.col("d") == F.col("first_d"), F.col("cents")).otherwise(
        F.lit(0)
    )
    rep_cents = F.when(F.col("d") > F.col("first_d"), F.col("cents")).otherwise(
        F.lit(0)
    )
    return (
        lab.groupBy(F.date_trunc("month", F.col("d")).alias("month"))
        .agg(
            (F.sum(new_cents).cast("double") / F.lit(1e2)).alias("new_revenue"),
            (F.sum(rep_cents).cast("double") / F.lit(1e2)).alias(
                "repeat_revenue"
            ),
            F.countDistinct(
                F.when(F.col("d") == F.col("first_d"), F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("n_new_customers"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .orderBy("month")
    )


def reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B52 — repeat-purchase cadence per nation: count, mean, p50 and
    p90 of the day-gap between a customer's consecutive orders. The
    replenishment-cycle profile behind churn windows and "time to
    next order" campaign triggers.

    Quantiles use the explicit disc rule (value at row ceil(p*n) in
    the (gap, custkey, date) total order) so both engines pick the
    identical element — no engine median()/interpolation drift.

    Plan: custkey-partitioned lag window (one shuffle), broadcast
    dim joins, then the customer grain COLLAPSES to a (nation, gap)
    count histogram with map-side partial aggregation — day gaps are
    small integers, so the histogram is the exact distribution and
    the rank-⌈q·n⌉ element is the smallest gap whose cumulative
    count reaches the threshold (identical bits to the rank-selected
    form the oracle uses: ranks within a tied gap all carry that
    gap). The cumulative window runs on the histogram frame
    (aggregate-bounded), so nothing corpus-grain is range-shuffled
    or checkpointed — guide §2.3, replacing the former
    distributed_rank pass over every gap row. No global sort.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
        )
        .withColumn("gap", F.datediff(F.col("d"), F.lag("d").over(w)))
        .where(F.col("gap").isNotNull())
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "gap")
    )
    hist = gaps.groupBy("n_name", "gap").agg(
        F.count(F.lit(1)).alias("__hc")
    )
    wcum = (
        Window.partitionBy("n_name")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("n_name").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "n_name",
        "gap",
        "__hc",
        F.sum("__hc").over(wcum).alias("cum"),
        F.sum("__hc").over(wall).alias("n"),
    )
    at = lambda q: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.ceil(F.col("n") * q), F.col("gap"))
    )
    return (
        cum.groupBy("n_name")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            (
                F.sum(F.col("gap").cast("bigint") * F.col("__hc")).cast("double")
                / F.max("n")
            ).alias("avg_gap_days"),
            at(F.lit(0.5)).cast("int").alias("p50_gap_days"),
            at(F.lit(0.9)).cast("int").alias("p90_gap_days"),
        )
        .orderBy("n_name")
    )


def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53 — month-of-year seasonal index per region: monthly revenue
    over the regional year-average month (12·m_rev/year_total). The
    ratio-to-average method — the first demand-planning seasonal
    profile, and the divisor any deseasonalized trend uses.

    Exactness: revenue folds as integer cents; the index is one
    exact-integer ratio (12·m/y) evaluated as a single division.

    Plan: one (region, year, month) rollup with map-side combine
    after broadcast dim joins; the year total is a 12-row window
    over the rollup — cost bounded by calendar x regions forever.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    region = catalog.load(spark, sf_dir, "region")
    base = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "r_name",
            F.year(F.to_date("o_orderdate")).alias("yr"),
            F.month(F.to_date("o_orderdate")).alias("mon"),
            F.floor(F.col("o_totalprice") * F.lit(1e2))
            .cast("bigint")
            .alias("cents"),
        )
    )
    m = base.groupBy("r_name", "yr", "mon").agg(
        F.sum("cents").alias("mc"), F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    wy = Window.partitionBy("r_name", "yr")
    return m.select(
        "r_name",
        F.col("yr").cast("int").alias("yr"),
        F.col("mon").cast("int").alias("mon"),
        "n_orders",
        (F.col("mc").cast("double") / F.lit(1e2)).alias("revenue"),
        (
            (F.lit(12) * F.col("mc")).cast("double")
            / F.sum("mc").over(wy).cast("double")
        ).alias("seasonal_index"),
    ).orderBy("r_name", "yr", "mon")


def lead_time_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B54 — monthly ship-SLA attainment: fraction of lineitems
    shipped within 30 days of order placement, plus the disc-p95
    ship delay. The operations SLA trend every fulfilment review
    opens with; q12 counts late modes, this tracks the attainment
    rate and tail latency over time.

    Exactness: delays are integer days; the SLA rate is one exact
    division; p95 is the explicit disc-rank element (row
    ceil(0.95 n) of the (delay, orderkey, linenumber) total order).

    Plan: one co-partitioned orderkey join (both sides shuffle on
    the join key — bucketing makes it exchange-free), then per-month
    ranks via the keyed distributed_rank — months are calendar-
    bounded, so a month-partitioned window would hold a whole month's
    line-grain rows in ONE task at 100 TB; the range-partitioned form
    splits big months across tasks (bit-identical to the window the
    oracle uses).
    """
    from icecube_spark.operators.pipeline import distributed_rank

    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.date_trunc("month", F.to_date("o_orderdate")).alias("month"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = distributed_rank(
        j,
        ["delay", "l_orderkey", "l_linenumber"],
        rank_col="rn",
        n_col="n",
        key_cols=["month"],
    )
    return (
        ranked.groupBy("month")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("delay") <= 30, 1).otherwise(0))
            .cast("bigint")
            .alias("n_within_sla"),
            (
                F.sum(F.when(F.col("delay") <= 30, 1).otherwise(0)).cast(
                    "double"
                )
                / F.max("n").cast("double")
            ).alias("sla_rate"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * F.lit(0.95)),
                    F.col("delay"),
                )
            )
            .cast("int")
            .alias("p95_delay_days"),
        )
        .orderBy("month")
    )


def bulk_discount_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B55 — realized unit-price curve by order quantity: per
    integer quantity, the count and mean/min/max unit price
    (extendedprice/quantity). The pricing-analytics read-off for
    volume-discount structure — a downward-sloping mean says bulk
    buyers pay less per unit.

    Exactness: unit prices quantize once to floor(p/q * 1e4)
    BIGINTs (identical IEEE division first, identical floor); the
    mean is one single division of exact integers.

    Plan: map-side quantize + one <=50-group aggregate with partial
    combine — a pure scan shape at any corpus size.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    unit = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * F.lit(1e4)
    ).cast("bigint")
    base = li.select(
        F.col("l_quantity").cast("int").alias("quantity"), unit.alias("qu")
    )
    agg = base.groupBy("quantity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("qu").alias("s"),
        F.min("qu").alias("mn"),
        F.max("qu").alias("mx"),
    )
    return agg.select(
        "quantity",
        "n_lines",
        (
            F.col("s").cast("double")
            / (F.col("n_lines").cast("double") * F.lit(1e4))
        ).alias("mean_unit_price"),
        (F.col("mn").cast("double") / F.lit(1e4)).alias("min_unit_price"),
        (F.col("mx").cast("double") / F.lit(1e4)).alias("max_unit_price"),
    ).orderBy("quantity")


def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B56 — nation-to-nation trade matrix and net balance: revenue
    flowing from customer nation (buyer) to supplier nation
    (seller), with each nation's exports, imports and net position.
    q7 tracks two nations' shipping volume; this is the full
    bilateral matrix every trade dashboard starts from.

    Exactness: integer-cent folds; balances are exact integer
    subtractions with single-division readouts.

    Plan: one fact shuffle on (cust_nation, supp_nation) after two
    broadcast dim joins; the matrix is nations^2-bounded (625 rows)
    and the balance is a self-aggregate of that matrix.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    supp = catalog.load(spark, sf_dir, "supplier")
    nation = catalog.load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e2)
    ).cast("bigint")
    flows = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(cents).alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )
    exports = flows.groupBy(F.col("supp_nation").alias("nation")).agg(
        F.sum("c").alias("exp_c")
    )
    imports = flows.groupBy(F.col("cust_nation").alias("nation")).agg(
        F.sum("c").alias("imp_c")
    )
    balance = exports.join(imports, "nation", "full").select(
        "nation",
        (F.coalesce(F.col("exp_c"), F.lit(0)).cast("double") / F.lit(1e2)).alias(
            "exports"
        ),
        (F.coalesce(F.col("imp_c"), F.lit(0)).cast("double") / F.lit(1e2)).alias(
            "imports"
        ),
        (
            (
                F.coalesce(F.col("exp_c"), F.lit(0))
                - F.coalesce(F.col("imp_c"), F.lit(0))
            ).cast("double")
            / F.lit(1e2)
        ).alias("net_balance"),
    )
    return balance.orderBy("nation")


def supply_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B57 — single-sourcing supply-risk report per part brand: parts
    whose entire shipped volume comes from exactly one supplier, and
    the revenue riding on them. The procurement-continuity view that
    complements B46's nation-level HHI — a brand with a high
    at-risk revenue share has no fallback vendor when that supplier
    fails.

    Exactness: integer-cent revenue folds; the at-risk share is one
    exact-int double division.

    Plan: one fact shuffle on l_partkey (distinct-supplier count +
    revenue in the same agg), the part dim broadcasts, and the brand
    rollup runs over the dimension-bounded per-part frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e2)
    ).cast("bigint")
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.sum(cents).alias("c"),
    )
    single = F.when(F.col("n_supp") == 1, F.lit(1)).otherwise(F.lit(0))
    return (
        per_part.join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(single).cast("bigint").alias("single_source_parts"),
            F.sum("c").alias("tc"),
            F.sum(F.when(F.col("n_supp") == 1, F.col("c")).otherwise(F.lit(0))).alias(
                "rc"
            ),
        )
        .select(
            F.col("p_brand").alias("brand"),
            "n_parts",
            "single_source_parts",
            (F.col("tc").cast("double") / F.lit(1e2)).alias("revenue"),
            (F.col("rc").cast("double") / F.lit(1e2)).alias("revenue_at_risk"),
            (F.col("rc").cast("double") / F.col("tc").cast("double")).alias(
                "risk_share"
            ),
        )
        .orderBy("brand")
    )


def return_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B58 — per-(brand, ship-month) return-rate z-score against the
    brand's own baseline: the quality/fraud monitor that flags a
    month whose R-flag share departs from the brand norm by more
    than binomial noise explains. q10 lists returned revenue; this
    is the statistical control chart over it.

    Exactness: counts are exact ints; rate, baseline and the
    binomial z run one fixed-order double expression on exact-int
    ratios.

    Plan: one (brand, month) fact shuffle after a broadcast part
    join; the brand baseline is a window over the brand-x-month
    bounded aggregate — never a second corpus pass.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    bm = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.trunc(F.to_date("l_shipdate"), "month")
            .cast("timestamp")
            .alias("month"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("returns"),
        )
    )
    wb = Window.partitionBy("brand")
    bm = bm.withColumn("bn", F.sum("n_lines").over(wb)).withColumn(
        "br", F.sum("returns").over(wb)
    )
    rate = F.col("returns").cast("double") / F.col("n_lines").cast("double")
    base = F.col("br").cast("double") / F.col("bn").cast("double")
    z = (rate - base) / F.sqrt(
        base * (F.lit(1.0) - base) / F.col("n_lines").cast("double")
    )
    return bm.select(
        "brand",
        "month",
        "n_lines",
        "returns",
        rate.alias("return_rate"),
        base.alias("brand_rate"),
        z.alias("z"),
    ).orderBy("brand", "month")


def acctbal_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B59 — does account balance predict spend? Customers rank into
    balance deciles (NTILE 10, deterministic (balance, key) order)
    and each decile reports customer count, order count, revenue,
    and revenue per customer. The credit-vs-behavior segmentation
    readout beside B24's RFM view.

    Exactness: decile assignment is a deterministic rank; revenue
    folds integer cents; per-customer averages are single exact-int
    divisions; the balance mean folds decimal(18,8).

    Plan: orders pre-aggregate to per-customer (one custkey
    shuffle), join the customer dim, one NTILE window over the
    dimension-bounded customer frame, 10-row report.
    """
    cust = catalog.load(spark, sf_dir, "customer")
    orders = catalog.load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1e2)).cast("bigint")
        ).alias("cents"),
    )
    from icecube_spark.operators.pipeline import distributed_ntile

    joined = distributed_ntile(
        cust.join(
            per_cust, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .select(
            "c_custkey",
            "c_acctbal",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        ),
        ["c_acctbal", "c_custkey"], 10, tile_col="decile",
    )
    return (
        joined.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,8)"))
            .cast("double")
            .alias("bal_sum"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            (F.col("bal_sum") / F.col("n_customers").cast("double")).alias(
                "avg_balance"
            ),
            "n_orders",
            (F.col("cents").cast("double") / F.lit(1e2)).alias("revenue"),
            (
                F.col("cents").cast("double")
                / F.col("n_customers").cast("double")
                / F.lit(1e2)
            ).alias("rev_per_customer"),
        )
        .orderBy("decile")
    )


def price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B60 — unit-price consistency audit per part type: coefficient
    of variation, min/max and max/min ratio of the per-line unit
    price (extendedprice/quantity). High dispersion flags types with
    inconsistent pricing (negotiated deals, data errors, or real
    price discrimination) — the pricing-hygiene complement of B27's
    brand rank correlation.

    Exactness: the per-row unit price is one double division
    (identical in both engines); moments fold floor(u*1e6) ints with
    exact decimal cross-products; CV and ratios are fixed-order
    double readouts.

    Plan: one (type) partial-agg shuffle after a broadcast part
    join — |types|-bounded output, single corpus pass.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    u = F.col("l_extendedprice") / F.col("l_quantity")
    qu = F.floor(u * F.lit(1e6)).cast("bigint")
    mom = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("p_type").alias("part_type"), qu.alias("q"))
        .groupBy("part_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").alias("sx"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("sxx"),
            F.min("q").alias("mn"),
            F.max("q").alias("mx"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double") / F.lit(1e6)
    sxx = F.col("sxx").cast("double") / F.lit(1e12)
    cv = F.sqrt(n * sxx - sx * sx) / sx
    return mom.select(
        "part_type",
        "n",
        (sx / n).alias("mean_unit_price"),
        cv.alias("cv"),
        (F.col("mn").cast("double") / F.lit(1e6)).alias("min_unit_price"),
        (F.col("mx").cast("double") / F.lit(1e6)).alias("max_unit_price"),
        (F.col("mx").cast("double") / F.col("mn").cast("double")).alias(
            "max_min_ratio"
        ),
    ).orderBy("part_type")


def priority_escalation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B61 — is the order book escalating? Monthly share of
    URGENT/HIGH-priority orders plus the OLS trend slope of that
    share (per month, repeated on every row). The ops-capacity
    early-warning readout behind q4's static priority counts.

    Exactness: shares quantize to floor(1e9*u/n) ints; the OLS runs
    on exact integer moments (month index x quantized share) with
    one final division; all doubles are fixed-order readouts.

    Plan: one (month) fact aggregate, then the regression folds the
    calendar-bounded monthly frame (broadcast 1-row join).
    """
    orders = catalog.load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month")
        .cast("timestamp")
        .alias("month"),
        (
            F.year(F.to_date("o_orderdate")) * 12
            + F.month(F.to_date("o_orderdate"))
        ).alias("mi"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_urgent"),
    )
    qs = F.floor(
        F.lit(1e9)
        * F.col("n_urgent").cast("double")
        / F.col("n_orders").cast("double")
    ).cast("bigint")
    pts = monthly.select("month", "mi", "n_orders", "n_urgent", qs.alias("qy"))
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mi").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("mi").cast("decimal(38,0)") * F.col("qy")).alias("sxy"),
        F.sum(F.col("mi").cast("decimal(38,0)") * F.col("mi")).alias("sxx"),
    )
    slope = (
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        / F.lit(1e9)
    )
    fit = mom.select(slope.alias("trend_slope"))
    return (
        pts.join(F.broadcast(fit))
        .select(
            "month",
            "n_orders",
            "n_urgent",
            (
                F.col("qy").cast("double") / F.lit(1e9)
            ).alias("urgent_share"),
            "trend_slope",
        )
        .orderBy("month")
    )


def cross_sell_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B62 — merchandising cross-sell matrix: revenue share of each
    part type within each customer market segment, with lift vs the
    type's global share. Lift > 1 marks segment-type affinities
    (where to target assortment); B26/B29 find item-pair baskets,
    this is the segment-level planning view.

    Exactness: integer-cent folds; shares and lift are fixed-order
    exact-int double divisions.

    Plan: one fact shuffle on (segment, type) after broadcast dim
    joins; margins via windows over the segments-x-types-bounded
    matrix.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer")
    part = catalog.load(spark, sf_dir, "part")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e2)
    ).cast("bigint")
    cells = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("p_type").alias("part_type"),
        )
        .agg(F.sum(cents).alias("c"))
    )
    wseg = Window.partitionBy("segment")
    wtyp = Window.partitionBy("part_type")
    wall = Window.partitionBy()
    m = (
        cells.withColumn("seg_c", F.sum("c").over(wseg))
        .withColumn("typ_c", F.sum("c").over(wtyp))
        .withColumn("all_c", F.sum("c").over(wall))
    )
    seg_share = F.col("c").cast("double") / F.col("seg_c").cast("double")
    typ_share = F.col("typ_c").cast("double") / F.col("all_c").cast("double")
    return m.select(
        "segment",
        "part_type",
        (F.col("c").cast("double") / F.lit(1e2)).alias("revenue"),
        seg_share.alias("segment_share"),
        (seg_share / typ_share).alias("lift"),
    ).orderBy("segment", "part_type")


def margin_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B63 — revenue waterfall by order year: gross (extended price),
    discount give-back, net revenue, tax collected, and the charged
    total, with give-back and tax rates. The finance bridge every
    revenue review opens with — q1 reports the same sums flat; this
    is the decomposition over time.

    Exactness: every bridge line folds integer cents from one
    per-row floor; rates are exact-int divisions.

    Plan: one (year) fact aggregate after the order-date join —
    years-bounded output, single corpus pass.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    gross = F.floor(F.col("l_extendedprice") * F.lit(1e2)).cast("bigint")
    disc = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * F.lit(1e2)
    ).cast("bigint")
    net = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e2)
    ).cast("bigint")
    charged = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * F.lit(1e2)
    ).cast("bigint")
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year(F.to_date("o_orderdate")).alias("year"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(gross).alias("g"),
            F.sum(disc).alias("d"),
            F.sum(net).alias("n"),
            F.sum(charged).alias("c"),
        )
    )
    return agg.select(
        "year",
        "n_lines",
        (F.col("g").cast("double") / F.lit(1e2)).alias("gross"),
        (F.col("d").cast("double") / F.lit(1e2)).alias("discount_givenback"),
        (F.col("n").cast("double") / F.lit(1e2)).alias("net_revenue"),
        ((F.col("c") - F.col("n")).cast("double") / F.lit(1e2)).alias(
            "tax_collected"
        ),
        (F.col("c").cast("double") / F.lit(1e2)).alias("total_charged"),
        (F.col("d").cast("double") / F.col("g").cast("double")).alias(
            "discount_rate"
        ),
    ).orderBy("year")


def customer_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B64 — win-back tracking: an order REACTIVATES a customer when
    it follows a gap of more than 180 days since their previous
    order. Per order year: orders, reactivations, distinct
    reactivated customers, and the reactivation share. B41's churn
    view counts who LEFT; this counts who came back — the other half
    of every retention dashboard.

    Exactness: gaps are exact day integers from a deterministic
    (date, orderkey) order; counts and the share are exact.

    Plan: one custkey-window shuffle for the lag, one (year)
    aggregate.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gapped = orders.select(
        F.year(F.to_date("o_orderdate")).alias("year"),
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap"),
    )
    react = F.when(F.col("gap") > 180, F.lit(1)).otherwise(F.lit(0))
    return (
        gapped.groupBy("year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(react).cast("bigint").alias("n_reactivations"),
            F.countDistinct(
                F.when(F.col("gap") > 180, F.col("o_custkey"))
            )
            .cast("bigint")
            .alias("customers_reactivated"),
        )
        .select(
            "year",
            "n_orders",
            "n_reactivations",
            "customers_reactivated",
            (
                F.col("n_reactivations").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("reactivation_share"),
        )
        .orderBy("year")
    )


def backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B65 — open-order aging snapshot: one year before the last ship
    date, bucket every line ordered but not yet shipped into 0-30 /
    31-60 / 61-90 / 90+ day age bands, with item counts, open value,
    and each band's share of the open book. C45 tracks the backlog
    LEVEL over time; this is the point-in-time AGING report a supply
    desk reads to see how stale the open book is.

    Exactness: ages are exact day integers; open value folds
    micro-quantized price integers; shares divide those exact
    integers.

    Plan: one orderkey-keyed join (both sides pre-filtered by the
    pushed snapshot predicates), one 4-row aggregate; the share
    window runs over 4 rows.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    orders = catalog.load(spark, sf_dir, "orders")
    snap = li.agg(
        F.date_sub(F.max(F.to_date("l_shipdate")), 365).alias("snap")
    )
    open_li = (
        li.select(
            "l_orderkey",
            F.to_date("l_shipdate").alias("ship"),
            (
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("px"),
        )
        .crossJoin(F.broadcast(snap))
        .where(F.col("ship") > F.col("snap"))
        .join(
            orders.select(
                "o_orderkey", F.to_date("o_orderdate").alias("odate")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(F.col("odate") <= F.col("snap"))
        .select(
            F.datediff(F.col("snap"), F.col("odate")).alias("age"),
            F.floor(F.col("px") * F.lit(1e6)).cast("bigint").alias("pq"),
        )
    )
    bucket = (
        F.when(F.col("age") <= 30, F.lit("00-30"))
        .when(F.col("age") <= 60, F.lit("31-60"))
        .when(F.col("age") <= 90, F.lit("61-90"))
        .otherwise(F.lit("90+"))
    )
    agg = open_li.groupBy(bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("pq").alias("vq"),
    )
    wall = Window.partitionBy()
    return agg.select(
        "age_bucket",
        "n_items",
        (F.col("vq").cast("double") / F.lit(1e6)).alias("open_value"),
        (
            F.col("vq").cast("double") / F.sum("vq").over(wall).cast("double")
        ).alias("value_share"),
    ).orderBy("age_bucket")


def status_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B66 — order-status mix over time: quarterly share of each
    o_orderstatus plus a least-squares slope per status (share points
    per quarter) — is the open/fulfilled balance drifting? B25 trends
    revenue level; this trends a composition, the shape ops teams
    watch for fulfillment regressions.

    Exactness: shares are exact count ratios micro-quantized to
    nano-units before the regression sums, so every regression moment
    is an exact integer fold; first/last shares pick by exact integer
    quarter rank.

    Plan: one (status, quarter) count (quarter count bounds rows),
    shares via a quarter-window over <= statuses x quarters rows, one
    status-level regression fold.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    qidx = (F.year(od) * 4 + F.quarter(od) - 1).cast("bigint")
    counts = orders.groupBy(
        F.col("o_orderstatus").alias("status"), qidx.alias("qi")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wq = Window.partitionBy("qi")
    mn = Window.partitionBy()
    shared = counts.select(
        "status",
        (F.col("qi") - F.min("qi").over(mn)).alias("x"),
        F.floor(
            F.col("n").cast("double")
            / F.sum("n").over(wq).cast("double")
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("sq"),
    )
    moments = shared.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_quarters"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum("sq").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("sq")).alias("sxy"),
        (F.min_by("sq", "x").cast("double") / F.lit(1e9)).alias(
            "first_share"
        ),
        (F.max_by("sq", "x").cast("double") / F.lit(1e9)).alias(
            "last_share"
        ),
    )
    n = F.col("n_quarters").cast("double")
    num = (
        n * (F.col("sxy").cast("double") / F.lit(1e9))
        - F.col("sx").cast("double")
        * (F.col("sy").cast("double") / F.lit(1e9))
    )
    den = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    return moments.select(
        "status",
        "n_quarters",
        "first_share",
        "last_share",
        (num / den).alias("slope_per_quarter"),
    ).orderBy("status")


def supplier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B67 — supplier-base lifecycle: per ship year, how many
    suppliers shipped anything, how many are new (first-ever year),
    how many were retained from the prior year, and the retention
    rate. B41-style churn tracks customers; the supply side is the
    mirror view procurement watches for base erosion.

    Exactness: all counts are exact integers from one distinct
    (supplier, year) frame; the rate divides exact counts.

    Plan: one distinct (suppkey, year) aggregate, one
    supplier-partitioned lag window (supplier-bounded partitions),
    one per-year aggregate.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    sy = li.select(
        "l_suppkey", F.year(F.to_date("l_shipdate")).alias("yr")
    ).distinct()
    w = Window.partitionBy("l_suppkey").orderBy("yr")
    marked = sy.select(
        "yr",
        F.when(F.lag("yr").over(w).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_new"),
        F.when(F.lag("yr").over(w) == F.col("yr") - 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_retained"),
    )
    return (
        marked.groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum("is_new").cast("bigint").alias("n_new"),
            F.sum("is_retained").cast("bigint").alias("n_retained"),
        )
        .select(
            "yr",
            "n_active",
            "n_new",
            "n_retained",
            (
                F.col("n_retained").cast("double")
                / F.col("n_active").cast("double")
            ).alias("retained_share"),
        )
        .orderBy("yr")
    )


def customer_pareto_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B68 — do the whales order often? Overlap between the top-20%
    customers by revenue and the top-20% by order count: set sizes,
    Jaccard, and how much revenue the frequency-top set actually
    holds. B30 ranks one dimension; this audits whether the two
    rankings agree before anyone targets "top customers".

    Exactness: rankings order by micro-quantized revenue (ties by
    custkey), so membership is engine-exact; shares divide exact
    integer sums.

    Plan: one customer aggregate, two rank windows over it, one
    1-row summary.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1e6)).cast("bigint")
        ).alias("revq"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    from icecube_spark.operators.pipeline import distributed_rank

    ranked = distributed_rank(
        distributed_rank(
            per_cust,
            [F.col("revq").desc(), F.col("o_custkey")],
            rank_col="rrank",
        ),
        [F.col("n_orders").desc(), F.col("o_custkey")],
        rank_col="crank",
    ).select("o_custkey", "revq", "rrank", "crank")
    # totals off the checkpoint-rooted rank output (row-for-row the
    # customer aggregate) instead of a second evaluation of the
    # orders scan + aggregate (guide §2.4/§5)
    tot = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("revq").alias("total_revq"),
    )
    k = F.expr("n_customers div 5")
    flagged = ranked.crossJoin(F.broadcast(tot)).select(
        "revq",
        "n_customers",
        "total_revq",
        (F.col("rrank") <= k).alias("in_rev_top"),
        (F.col("crank") <= k).alias("in_cnt_top"),
    )
    return flagged.agg(
        F.first("n_customers").alias("n_customers"),
        F.expr("first(n_customers) div 5").cast("bigint").alias("k_top"),
        F.count_if(F.col("in_rev_top") & F.col("in_cnt_top"))
        .cast("bigint")
        .alias("n_overlap"),
        (
            F.count_if(F.col("in_rev_top") & F.col("in_cnt_top")).cast(
                "double"
            )
            / (
                F.lit(2.0) * F.expr("first(n_customers) div 5").cast("double")
                - F.count_if(
                    F.col("in_rev_top") & F.col("in_cnt_top")
                ).cast("double")
            )
        ).alias("jaccard"),
        (
            F.sum(F.when(F.col("in_cnt_top"), F.col("revq"))).cast("double")
            / F.first("total_revq").cast("double")
        ).alias("cnt_top_revenue_share"),
    )


def flag_priority_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B69 — is the return flag independent of order priority? Full
    contingency analysis of l_returnflag x o_orderpriority: observed
    vs expected counts and standardized Pearson residuals per cell,
    plus each cell's chi-square contribution. B7 (q10) totals the
    returns; this is the independence diagnostic an ops analyst runs
    before claiming urgent orders get returned more.

    Exactness: expected counts and residuals derive from exact
    integer marginals in fixed-order double arithmetic.

    Plan: one orderkey join (priority broadcast onto lineitem rows),
    one (mode, priority) count, marginals via two tiny re-aggregates
    joined back broadcast; output bounded by modes x priorities.
    """
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    obs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
        # bounded (|modes|×|priorities| rows) and referenced by both
        # marginals, the grand total AND the residual join —
        # checkpoint so the fact join + count run once, not four
        # times (guide §5)
        .transform(materialize)
    )
    row_m = obs.groupBy("returnflag").agg(F.sum("n_obs").alias("row_n"))
    col_m = obs.groupBy("priority").agg(F.sum("n_obs").alias("col_n"))
    tot = obs.agg(F.sum("n_obs").alias("grand_n"))
    joined = (
        obs.join(F.broadcast(row_m), "returnflag")
        .join(F.broadcast(col_m), "priority")
        .crossJoin(F.broadcast(tot))
    )
    expected = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("grand_n").cast("double")
    )
    resid = (F.col("n_obs").cast("double") - expected) / F.sqrt(expected)
    return joined.select(
        "returnflag",
        "priority",
        "n_obs",
        expected.alias("n_expected"),
        resid.alias("std_residual"),
        (resid * resid).alias("chi2_contrib"),
    ).orderBy("returnflag", "priority")


def purchase_acceleration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B70 — is the customer base speeding up? Per market segment,
    regress each >= 4-order customer's inter-order gap on its order
    index and report the mean gap trend plus the share of customers
    accelerating (negative slope — gaps shrinking). B24 buckets
    recency/frequency at a snapshot; this measures the DERIVATIVE of
    frequency, the earliest signal a segment is heating up or
    churning in slow motion.

    Exactness: gaps are exact day integers and the per-customer
    regression moments fold integers; the per-customer slope is
    micro-quantized before the segment fold, so the segment mean is
    an exact integer division.

    Plan: one custkey window for gaps, one customer-level regression
    fold, a broadcast customer→segment join, one segment aggregate.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    cust = catalog.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gaps = orders.select(
        "o_custkey",
        (F.row_number().over(w) - 1).alias("i"),
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    mom = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("i").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("i")).alias("sxx"),
        F.sum("gap").alias("sy"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("gap")).alias("sxy"),
    )
    n = F.col("n_gaps").cast("double")
    slope = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    sloped = mom.where(F.col("n_gaps") >= 3).select(
        "o_custkey",
        F.floor(slope * F.lit(1e6)).cast("bigint").alias("slq"),
    )
    return (
        sloped.join(
            F.broadcast(cust),
            sloped.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (
                F.sum("slq").cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_gap_trend"),
            (
                F.count_if(F.col("slq") < 0).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("accelerating_share"),
        )
        .orderBy("segment")
    )


def brand_loyalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B71 — brand stickiness: per brand, how many customers bought
    it, how many came back for it (>= 2 distinct orders containing
    the brand), and the buyers' mean share-of-wallet (their brand
    lineitems over all their lineitems). B27 correlates brands;
    this measures whether a brand OWNS its customers — the planning
    input behind assortment bets.

    Exactness: counts are exact integers; wallet shares are
    micro-quantized per customer before the brand fold.

    Plan: one lineitem→orders join (custkey recovered), a broadcast
    part join for brand, ONE (customer, brand) aggregate; the
    customer's total lines are the windowed sum of that aggregate's
    n_lines over the customer's brands (every line carries exactly
    one brand — the part join is inner on a unique key — so the sum
    is the exact same integer as a second corpus-grain count), then
    one brand rollup. The corpus join/aggregate runs once instead of
    twice; the window runs on the entity-grain aggregate (guide
    §2.3/§2.4 — aggregate before you shuffle, reuse the pass).
    """
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    part = catalog.load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    lines = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_cust_brand = lines.groupBy("o_custkey", "p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
    )
    wcust = Window.partitionBy("o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wallet = per_cust_brand.withColumn(
        "total_lines", F.sum("n_lines").over(wcust)
    ).select(
        "p_brand",
        "n_orders",
        F.floor(
            F.col("n_lines").cast("double")
            / F.col("total_lines").cast("double")
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("wq"),
    )
    return (
        wallet.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
            F.count_if(F.col("n_orders") >= 2)
            .cast("bigint")
            .alias("n_repeat_buyers"),
            (
                F.count_if(F.col("n_orders") >= 2).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("repeat_share"),
            (
                F.sum("wq").cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_wallet_share"),
        )
        .orderBy("brand")
    )


def order_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B72 — order-size mix: the distribution of lineitems per order
    (share, cumulative share) plus each size's value share. The
    basket-depth profile behind B8's customer-order counts — fulfill
    cost models and picking-wave planners key off exactly this
    histogram.

    Exactness: counts are exact; value folds micro-quantized price
    integers; shares divide exact sums.

    Plan: one orderkey aggregate, one bounded (size) rollup, share
    windows over the <= 7-row histogram.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(1e6)
            ).cast("bigint")
        ).alias("vq"),
    )
    hist = per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("vq").alias("vq"),
    )
    wall = Window.partitionBy()
    wcum = (
        Window.partitionBy()
        .orderBy("n_lines")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return hist.select(
        "n_lines",
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(wall).cast("double")
        ).alias("order_share"),
        (
            F.sum("n_orders").over(wcum).cast("double")
            / F.sum("n_orders").over(wall).cast("double")
        ).alias("cum_order_share"),
        (
            F.col("vq").cast("double")
            / F.sum("vq").over(wall).cast("double")
        ).alias("value_share"),
    ).orderBy("n_lines")

def volume_price_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B73 — month-over-month revenue bridge split into volume effect
    (quantity change at last month's realized price) and price effect
    (realized-price change at this month's quantity). B63 bridges
    WITHIN a period (discount/tax give-backs); this explains the
    DELTA between periods — the first slide of every revenue review.

    Exactness: monthly quantity and revenue fold micro-quantized
    integers; realized prices and effects are fixed-order doubles
    over those exact sums; the residual (interaction) term closes
    the bridge exactly by construction.

    Plan: one (month) fact aggregate, one lag window over the
    calendar-bounded frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("l_quantity") * F.lit(1e6)).cast("bigint")
        ).alias("qq"),
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(1e6)
            ).cast("bigint")
        ).alias("rq"),
    )
    w = Window.partitionBy().orderBy("month")
    lagged = monthly.select(
        "month",
        "qq",
        "rq",
        F.lag("qq").over(w).alias("pqq"),
        F.lag("rq").over(w).alias("prq"),
    ).where(F.col("pqq").isNotNull())
    qty = F.col("qq").cast("double") / F.lit(1e6)
    rev = F.col("rq").cast("double") / F.lit(1e6)
    pqty = F.col("pqq").cast("double") / F.lit(1e6)
    prev = F.col("prq").cast("double") / F.lit(1e6)
    pprice = prev / pqty
    price = rev / qty
    vol_eff = (qty - pqty) * pprice
    price_eff = (price - pprice) * qty
    return lagged.select(
        "month",
        rev.alias("revenue"),
        (rev - prev).alias("revenue_delta"),
        vol_eff.alias("volume_effect"),
        price_eff.alias("price_effect"),
    ).orderBy("month")


def tax_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B74 — tax-rate hygiene audit: the distinct l_tax rates in the
    book, each rate's line and revenue share, and the effective
    blended rate. A rate outside the expected grid (or a drifting
    mix) is the data-quality smell finance chases at close — the
    rate-dimension twin of B52's discount-band audit.

    Exactness: rates quantize to basis points (exact); revenue folds
    micro-quantized integers; shares divide exact sums.

    Plan: one (rate) aggregate (rate-grid-bounded), share windows
    over the tiny frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    rated = li.groupBy(
        F.floor(F.col("l_tax") * F.lit(1e4)).cast("bigint").alias("tax_bp")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(1e6)
            ).cast("bigint")
        ).alias("rq"),
    )
    wall = Window.partitionBy()
    return rated.select(
        "tax_bp",
        "n_lines",
        (
            F.col("n_lines").cast("double")
            / F.sum("n_lines").over(wall).cast("double")
        ).alias("line_share"),
        (
            F.col("rq").cast("double")
            / F.sum("rq").over(wall).cast("double")
        ).alias("revenue_share"),
        (
            F.sum(
                F.col("tax_bp").cast("decimal(38,0)") * F.col("rq")
            ).over(wall).cast("double")
            / F.lit(1e4)
            / F.sum("rq").over(wall).cast("double")
        ).alias("blended_rate"),
    ).orderBy("tax_bp")


def line_position_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B75 — position-in-order profile: per l_linenumber, line count,
    revenue share, and mean quantity/discount. First-position bias
    (big items entered first) skews any per-line sampling scheme and
    is the shape a picking-optimization study reads first. The
    line-axis companion of B72's order-size mix.

    Exactness: revenue folds micro-quantized integers (the B74
    scheme); shares divide exact sums; means divide decimal folds.

    Plan: ONE (l_linenumber) aggregate — 7 groups at any SF, map-side
    combine does all the work; the share window runs on the 7-row
    frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_linenumber").cast("int").alias("line_no")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
            ).cast("bigint")
        ).alias("rev_c"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_discount").alias("avg_discount"),
    )
    wall = Window.partitionBy()
    return per.select(
        "line_no",
        "n_lines",
        (F.col("rev_c").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            F.col("rev_c").cast("double")
            / F.sum("rev_c").over(wall).cast("double")
        ).alias("revenue_share"),
        "avg_qty",
        "avg_discount",
    ).orderBy("line_no")


def part_supplier_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B76 — sourcing-redundancy histogram: parts bucketed by how many
    distinct suppliers actually shipped them (observed in lineitem —
    the testdata carries no partsupp), with each bucket's part count
    and mean part revenue. Single-sourced high-revenue buckets are
    the supply-chain risk B57 scores per supplier, read from the
    part side.

    Exactness: revenue folds micro-quantized integers; the bucket
    mean divides exact sums.

    Plan: one (part, supplier) distinct + one (part) aggregate
    [same shuffle key — Catalyst keeps them in one exchange], then a
    k-bounded rollup.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
            ).cast("bigint")
        ).alias("rev_c"),
    )
    return (
        per_part.groupBy("n_suppliers")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            (
                F.sum("rev_c").cast("double")
                / F.count(F.lit(1)).cast("double") / F.lit(100.0)
            ).alias("mean_part_revenue"),
        )
        .orderBy("n_suppliers")
    )


def order_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B77 — order-intake day-of-week profile: orders, revenue, and
    revenue share per weekday. The intake-calendar read a fulfillment
    capacity plan starts from — the order-date twin of C113's
    event-side weekend lift.

    Exactness: revenue folds micro-quantized o_totalprice cents;
    shares divide exact sums; dow is Sunday-first 1-7 in both
    engines.

    Plan: ONE 7-group aggregate, map-side combined; the share window
    runs on the 7-row frame.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    per = orders.groupBy(
        F.dayofweek(F.col("o_orderdate").cast("timestamp")).alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("bigint")
        ).alias("rev_c"),
    )
    wall = Window.partitionBy()
    return per.select(
        F.col("dow").cast("int").alias("dow"),
        "n_orders",
        (F.col("rev_c").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            F.col("rev_c").cast("double")
            / F.sum("rev_c").over(wall).cast("double")
        ).alias("revenue_share"),
    ).orderBy("dow")


def brand_price_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B78 — price realization per brand: the mean realized unit
    price (discounted extendedprice / quantity) against the brand's
    mean list (retail) price, and the realization ratio. Brands
    realizing well below list are over-discounted — the commercial
    lever B41's elasticity quantifies, read per brand.

    Exactness: unit prices quantize per line to micro-units before
    folding; retail means fold DECIMAL(18,8); the ratio divides two
    exact-fold doubles.

    Plan: lineitem joins part on partkey (one shuffle each side —
    at scale, bucket both by partkey to make it co-located), then
    ONE brand aggregate.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    j = li.join(
        part.select("p_partkey", "p_brand", "p_retailprice"),
        li.l_partkey == F.col("p_partkey"),
    )
    qunit = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        / F.col("l_quantity") * F.lit(1e6)
    ).cast("bigint")
    per = j.select(
        "p_brand", qunit.alias("qu"),
        F.col("p_retailprice").cast("decimal(18,8)").alias("rp"),
    ).groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        (
            F.sum("qu").cast("double")
            / F.count(F.lit(1)).cast("double") / F.lit(1e6)
        ).alias("mean_unit_price"),
        (
            F.sum("rp").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_retail_price"),
    )
    return per.select(
        "p_brand", "n_lines", "mean_unit_price", "mean_retail_price",
        (
            F.col("mean_unit_price") / F.col("mean_retail_price")
        ).alias("realization_ratio"),
    ).orderBy("p_brand")


def priority_value_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B79 — order-value skew per priority class: order count, mean
    value, exact p90 value (rank pick), and the p90/mean skew ratio.
    Urgent classes carrying outsized order values change expedite
    economics — the order-header view beside B69's line-level
    residuals.

    Exactness: values fold micro-quantized cents; p90 is an exact
    rank pick with deterministic ties (value, orderkey).

    Plan: per-priority ranks via the keyed distributed_rank (range-
    partitioned local ranks + broadcast offsets — bit-identical to
    the 5-partition window the oracle uses, without capping the sort
    at 5 tasks), then one 5-row rollup.
    """
    from icecube_spark.operators.pipeline import distributed_rank

    orders = catalog.load(spark, sf_dir, "orders")
    ranked = distributed_rank(
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0))
            .cast("bigint")
            .alias("qv"),
        ),
        ["qv", "o_orderkey"],
        rank_col="rk",
        n_col="n",
        key_cols=["o_orderpriority"],
    )
    per = ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        (
            F.sum("qv").cast("double")
            / F.max("n").cast("double") / F.lit(100.0)
        ).alias("mean_value"),
        (
            F.max(
                F.when(F.col("rk") == F.expr("greatest(1, (90 * n) div 100)"),
                       F.col("qv"))
            ).cast("double") / F.lit(100.0)
        ).alias("p90_value"),
    )
    return per.select(
        "o_orderpriority", "n_orders", "mean_value", "p90_value",
        (F.col("p90_value") / F.col("mean_value")).alias("skew_ratio"),
    ).orderBy("o_orderpriority")


def discount_tax_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B80 — pricing-dimension independence audit: the joint
    (discount band x tax band) line-count matrix with each cell's
    lift over the independence expectation. Correlated rates mean the
    two levers are being set together (one policy masquerading as
    two) — the bigram-lift idea (F10) applied to pricing dimensions.

    Exactness: bands are exact integer floors (percent / basis
    points); lift divides exact counts via one double expression.

    Plan: ONE (band, band) aggregate (grid-bounded groups), margins
    via windows over the tiny frame.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    per = li.groupBy(
        F.floor(F.col("l_discount") * F.lit(100.0)).cast("bigint").alias("disc_pct"),
        F.floor(F.col("l_tax") * F.lit(100.0)).cast("bigint").alias("tax_pct"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    wd = Window.partitionBy("disc_pct")
    wt = Window.partitionBy("tax_pct")
    wall = Window.partitionBy()
    return per.select(
        "disc_pct", "tax_pct", "n_lines",
        (
            F.col("n_lines").cast("double")
            * F.sum("n_lines").over(wall).cast("double")
            / (
                F.sum("n_lines").over(wd).cast("double")
                * F.sum("n_lines").over(wt).cast("double")
            )
        ).alias("lift"),
    ).orderBy("disc_pct", "tax_pct")


def balance_sign_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B81 — customer credit-state profile: customers bucketed by
    account-balance sign (negative / zero-to-small / positive), with
    each bucket's customer count, order count, and mean order value.
    Negative-balance customers still ordering at full value is the
    credit-exposure read behind B24's RFM segmentation.

    Exactness: order values fold micro-quantized cents; means divide
    exact sums; bucket bounds are exact comparisons.

    Plan: customer-side bucket map, one join to orders on custkey
    (bucket both by custkey at scale), one 3-row rollup.
    """
    cust = catalog.load(spark, sf_dir, "customer")
    orders = catalog.load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("c_acctbal") < 0, F.lit("negative"))
        .when(F.col("c_acctbal") < 1000, F.lit("low"))
        .otherwise(F.lit("healthy"))
    )
    c = cust.select(F.col("c_custkey").alias("ck"), band.alias("credit_band"))
    j = c.join(
        orders.select(
            F.col("o_custkey").alias("ck"),
            F.floor(F.col("o_totalprice") * F.lit(100.0))
            .cast("bigint").alias("qv"),
        ),
        "ck",
        "left",
    )
    return (
        j.groupBy("credit_band")
        .agg(
            F.countDistinct("ck").cast("bigint").alias("n_customers"),
            F.count("qv").cast("bigint").alias("n_orders"),
            (
                F.sum("qv").cast("double")
                / F.greatest(F.count("qv"), F.lit(1)).cast("double")
                / F.lit(100.0)
            ).alias("mean_order_value"),
        )
        .orderBy("credit_band")
    )


def order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B82 — cross-table integrity audit: does o_totalprice equal the
    sum of its lineitems' extendedprice*(1-discount)*(1+tax)? Orders
    bucketed by relative mismatch (exact-to-0.01%, <1%, >=1%,
    no-lineitems), with counts and the worst absolute gap per bucket.
    The referential-integrity invariant every warehouse load asserts
    before trusting revenue rollups.

    Exactness: both sides quantize to exact cents before comparing;
    the relative gap is one IEEE division of exact integers.

    Plan: one (orderkey) lineitem aggregate joined to orders on the
    same key (bucket-colocatable at scale), one 4-row rollup.
    """
    orders = catalog.load(spark, sf_dir, "orders")
    li = catalog.load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                * (F.lit(1.0) + F.col("l_tax")) * F.lit(100.0)
            ).cast("bigint")
        ).alias("li_c")
    )
    j = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("bigint").alias("o_c"),
    ).join(per_order, orders.o_orderkey == per_order.l_orderkey, "left")
    gap = F.abs(F.col("o_c") - F.coalesce(F.col("li_c"), F.lit(0)))
    rel = gap.cast("double") / F.col("o_c").cast("double")
    band = (
        F.when(F.col("li_c").isNull(), F.lit("no_lineitems"))
        .when(rel <= 0.0001, F.lit("exact"))
        .when(rel < 0.01, F.lit("under_1pct"))
        .otherwise(F.lit("over_1pct"))
    )
    return (
        j.select(band.alias("consistency_band"), gap.alias("gap_c"))
        .groupBy("consistency_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.max("gap_c").cast("double") / F.lit(100.0)).alias("max_abs_gap"),
        )
        .orderBy("consistency_band")
    )


def order_ship_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B83 — fulfilment-span profile: days between an order's first
    and last line shipment, banded 0..6 and 7+. Wide spans are split
    shipments; the per-band line counts and revenue say whether
    splitting concentrates in large orders (ops read B37's gap stats
    can't give — that one is between-order, this is within-order).

    Exactness: spans are whole-day DATEDIFFs on DATE casts; per-order
    revenue floors to integer micro-units before the band rollup, so
    every mean divides exact integer sums.

    Plan: one order aggregate (shuffle on l_orderkey), one ≤8-row
    band rollup.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per = li.groupBy("l_orderkey").agg(
        F.datediff(
            F.to_date(F.max("l_shipdate")), F.to_date(F.min("l_shipdate"))
        ).alias("span"),
        F.count(F.lit(1)).alias("n_lines"),
        F.floor(dsum(rev) * F.lit(1e6)).cast("bigint").alias("qrev"),
    )
    return (
        per.groupBy(F.least(F.col("span"), F.lit(7)).cast("int").alias("span_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (
                F.sum("n_lines").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_lines"),
            (
                F.sum("qrev").cast("double")
                / F.count(F.lit(1)).cast("double") / F.lit(1e6)
            ).alias("mean_revenue"),
        )
        .orderBy("span_band")
    )


def quantity_integrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B84 — order-quantity domain audit per line status: quantities
    should be whole numbers in [1, 50]; this reports non-integer and
    out-of-range counts, the distinct-value cardinality, and the
    observed min/max. The schema-on-read twin of B82's totals audit:
    that one checks cross-table arithmetic, this one checks a single
    column's value domain before anyone trusts GROUP BYs on it.

    Plan: one map-side predicate projection, one status rollup
    (2-3 groups); countDistinct is exact and bounded by the domain.
    """
    li = catalog.load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    per = li.select(
        "l_linestatus",
        q,
        (q != F.floor(q).cast("double")).cast("int").alias("nonint"),
        ((q < F.lit(1.0)) | (q > F.lit(50.0))).cast("int").alias("oob"),
    )
    return (
        per.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("nonint").cast("bigint").alias("n_noninteger"),
            F.sum("oob").cast("bigint").alias("n_out_of_range"),
            F.countDistinct("l_quantity").cast("bigint").alias("n_distinct"),
            F.min("l_quantity").alias("min_quantity"),
            F.max("l_quantity").alias("max_quantity"),
        )
        .orderBy("l_linestatus")
    )
