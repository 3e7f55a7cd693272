"""SURVEY §2 group P (training-data pipeline) + new B-group TPC-H
queries vs DuckDB oracle, plus semantic invariants the oracle compare
can't express (split stability, component well-formedness)."""

import pytest

from icecube_spark.queries import pipeline_queries as pq
from icecube_spark.queries.pipeline_oracles import ORACLES

from .conftest import TPCH_B, assert_oracle_parity

CONTAMINATION = ["dup_ngram_fraction", "decontaminate"]


@pytest.mark.parametrize("key", sorted(ORACLES.keys() - set(CONTAMINATION)))
def test_pipeline_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


@pytest.mark.parametrize("key", sorted(TPCH_B))
def test_tpch_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


def test_split_fractions_and_stability(spark, sf_dir):
    """Hash split lands near 90/5/5 and reassigns nothing on re-run."""
    a = pq.train_test_split(spark, sf_dir).toPandas()
    frac = a.split.value_counts(normalize=True)
    assert 0.80 <= frac["train"] <= 0.97
    b = pq.train_test_split(spark, sf_dir).toPandas()
    assert a.equals(b)


def test_stratified_sample_subset_of_corpus(spark, sf_dir):
    from icecube_spark import catalog

    docs = catalog.load(spark, sf_dir, "documents").toPandas()
    samp = pq.stratified_sample(spark, sf_dir).toPandas()
    assert set(samp.doc_id) <= set(docs.doc_id)
    # every language keeps a nonzero share at ~20%
    assert set(samp.lang) == set(docs.lang)


def test_pii_redact_removes_all_planted(spark, sf_dir):
    out = pq.pii_redact(spark, sf_dir).toPandas()
    assert (out.n_emails >= 1).all()
    assert (out.n_phones >= 1).all()


def test_dedup_clusters_well_formed(spark, sf_dir):
    """cluster_id is the min doc_id of each component; representatives
    label themselves."""
    labels = pq.dedup_clusters(spark, sf_dir).toPandas()
    assert (labels.cluster_id <= labels.doc_id).all()
    reps = set(labels.cluster_id)
    mapped = {d: c for d, c in zip(labels.doc_id, labels.cluster_id)}
    assert all(mapped[r] == r for r in reps)


@pytest.mark.parametrize("key", CONTAMINATION)
def test_contamination_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


def test_dup_fraction_bounds(spark, sf_dir):
    out = pq.dup_ngram_fraction(spark, sf_dir).toPandas()
    assert ((out.dup_fraction >= 0) & (out.dup_fraction <= 1)).all()
    assert (out.n_shared <= out.n_grams).all()


def test_decontaminate_splits_disjoint(spark, sf_dir):
    """Contaminated pairs really straddle the split: train docs come
    from the train bucket, eval docs from the test bucket."""
    pairs = pq.decontaminate(spark, sf_dir).toPandas()
    split = pq.train_test_split(spark, sf_dir).toPandas().set_index("doc_id")["split"]
    assert (split.loc[pairs.train_doc] == "train").all()
    assert (split.loc[pairs.eval_doc] == "test").all()


def test_approx_profile_error_bounds(spark, sf_dir, oracle):
    """P20 (rows-only): HLL distinct estimates within 5% of exact."""
    got = pq.approx_profile(spark, sf_dir).toPandas().iloc[0]
    for c in ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity"]:
        exact = oracle.execute(
            f"SELECT COUNT(DISTINCT {c}) FROM lineitem"
        ).fetchone()[0]
        rel = abs(got[f"approx_{c}"] - exact) / exact
        assert rel < 0.05, f"{c}: approx {got[f'approx_{c}']} vs {exact}"


def test_weighted_sample_caps_and_direction(spark, sf_dir):
    """P29: acceptance prob capped at 1; kept counts within n_docs;
    larger sources are downsampled at least as hard as smaller ones."""
    from icecube_spark.queries import pipeline_queries as pq

    out = pq.weighted_sample(spark, sf_dir).toPandas()
    assert (out["p_q5"] <= 100000).all()
    assert (out["n_kept"] <= out["n_docs"]).all()
    s = out.sort_values("n_docs")
    assert s["p_q5"].iloc[0] >= s["p_q5"].iloc[-1]


def test_sequence_packing_conserves_docs(spark, sf_dir):
    """P24: every doc lands in exactly one bin; bins are contiguous
    per source starting at 0."""
    from icecube_spark import catalog
    from icecube_spark.queries import pipeline_queries as pq

    out = pq.sequence_packing(spark, sf_dir).toPandas()
    n_docs = catalog.load(spark, sf_dir, "documents").count()
    assert out["n_docs"].sum() == n_docs
    for _, g in out.groupby("source"):
        assert sorted(g["bin"].tolist()) == list(range(len(g)))


def test_pagerank_matches_numpy(spark, sf_dir):
    """P33: the distributed 5-iteration QUANTIZED fold (pico-unit
    integer ranks, the oracle-able discipline) equals the same fold
    replayed densely in numpy, bit-for-bit; total mass stays within
    the floor-truncation bound (n_nodes * iterations * 1e-12)."""
    import numpy as np
    from pyspark.sql import functions as F

    from icecube_spark import catalog
    from icecube_spark.operators.pipeline import pagerank

    li = (
        catalog.load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.withColumnRenamed("l_partkey", "pa")
    b = li.withColumnRenamed("l_partkey", "pb")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.select("pa", "pb", "w").union(
        pairs.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "w")
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, "pa", "pb", "w").collect()}

    ep = edges.toPandas()
    nodes = sorted(set(ep.pa) | set(ep.pb))
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for pa, pb, w in zip(ep.pa, ep.pb, ep.w):
        M[idx[pb], idx[pa]] += w
    outw = M.sum(axis=0)
    # floor-quantization trims < 1 pico-unit per edge contribution and
    # per node update, per iteration
    assert abs(sum(got.values()) - 1.0) < (len(ep) + n) * 5 * 1e-12 + 1e-12

    import math
    frac = np.divide(M, outw, out=np.zeros_like(M), where=outw > 0)
    qr = np.full(n, float(math.floor(1e12 / n)))
    base = (1.0 - 0.85) / n * 1e12
    for _ in range(5):
        received = np.floor(frac * qr).sum(axis=1)
        dm = qr[outw == 0].sum()
        qr = np.floor(base + 0.85 * (received + dm / n))
    want = {nodes[i]: qr[i] / 1e12 for i in range(n)}
    for node, val in got.items():
        assert val == want[node], (node, val, want[node])


def test_pagerank_dangling_nodes_matches_numpy(spark):
    """P33: a DIRECTED graph with sink nodes exercises the
    per-iteration dangling-mass job (the undirected registry graph has
    no sinks and skips it) — the quantized fold must stay bit-equal to
    the dense numpy twin with uniform dangling redistribution."""
    import math

    import numpy as np

    from icecube_spark.operators.pipeline import pagerank

    # 1->2, 1->3, 2->3, 4->1: node 3 is a sink (no outgoing edges), so
    # the non-empty dangling-mass branch is exercised; weights are
    # small exact ints so out-degree sums are order-free
    rows = [(1, 2, 2.0), (1, 3, 1.0), (2, 3, 1.0), (4, 1, 3.0)]
    edges = spark.createDataFrame(rows, ["pa", "pb", "w"]).repartition(4)
    got = {r["node"]: r["rank"] for r in pagerank(edges, "pa", "pb", "w").collect()}

    nodes = sorted({a for a, _, _ in rows} | {b for _, b, _ in rows})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for pa, pb, w in rows:
        M[idx[pb], idx[pa]] += w
    outw = M.sum(axis=0)
    assert (outw == 0).sum() > 0  # the sink really is dangling
    frac = np.divide(M, outw, out=np.zeros_like(M), where=outw > 0)
    qr = np.full(n, float(math.floor(1e12 / n)))
    base = (1.0 - 0.85) / n * 1e12
    for _ in range(5):
        received = np.floor(frac * qr).sum(axis=1)
        dm = qr[outw == 0].sum()
        qr = np.floor(base + 0.85 * (received + dm / n))
    want = {nodes[i]: qr[i] / 1e12 for i in range(n)}
    assert got == want


def test_distributed_ntile_matches_global_window(spark):
    """distributed_ntile must be bit-identical to F.ntile over a
    global window for every n % k remainder case — it is the 100 TB
    replacement for the single-partition NTILE sort and the oracles
    keep using plain NTILE."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_ntile

    for n_rows in (1, 7, 10, 23, 100, 101):
        df = spark.range(n_rows).select(
            F.col("id"),
            (F.col("id") * 37 % 11).alias("v"),  # ties on v; id breaks them
        ).repartition(8)
        got = {
            r.id: r.tile
            for r in distributed_ntile(df, ["v", "id"], 10).collect()
        }
        w = Window.partitionBy().orderBy("v", "id")
        want = {
            r.id: r.t
            for r in df.select("id", F.ntile(10).over(w).alias("t")).collect()
        }
        assert got == want, (n_rows, got, want)


def test_distributed_rank_matches_row_number(spark):
    """distributed_rank must be bit-identical to ROW_NUMBER over a
    global window, including heavy ties and a shuffled
    (nondeterministically ordered) input — the range-sampler
    hazard the eager checkpoint guards against."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_rank

    df = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 3).alias("v"),  # 3 distinct values: tie-heavy
    ).repartition(16)
    got = {
        r.id: (r.rnk, r.n)
        for r in distributed_rank(
            df, [F.desc("v"), F.asc("id")], rank_col="rnk", n_col="n"
        ).collect()
    }
    w = Window.partitionBy().orderBy(F.desc("v"), F.asc("id"))
    want = {
        r.id: (r.rnk, 500)
        for r in df.select(
            "id", F.row_number().over(w).alias("rnk")
        ).collect()
    }
    assert got == want


def test_distributed_cumsum_matches_running_window(spark):
    """distributed_cumsum must be bit-identical to the global
    running-sum + total windows the oracles keep using."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_cumsum

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") * 7919 % 101).cast("bigint").alias("x"),
    ).repartition(8)
    got = {
        r.id: (r.cum, r.tot)
        for r in distributed_cumsum(
            df, [F.desc("x"), F.asc("id")], "x",
            cum_col="cum", total_col="tot",
        ).collect()
    }
    wcum = Window.partitionBy().orderBy(F.desc("x"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    want = {
        r.id: (r.cum, r.tot)
        for r in df.select(
            "id",
            F.sum("x").over(wcum).alias("cum"),
            F.sum("x").over(wall).alias("tot"),
        ).collect()
    }
    assert got == want


def test_keyed_distributed_rank_matches_keyed_window(spark):
    """distributed_rank(key_cols=...) must be bit-identical to
    ROW_NUMBER over Window.partitionBy(key) — it is the 100 TB
    replacement for low-cardinality keyed rank windows (parallelism
    capped at |keys|) and the oracles keep using the window form.
    Covers ties, null keys, and a shuffled input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_rank

    df = spark.range(600).select(
        F.col("id"),
        F.when(F.col("id") % 5 == 4, F.lit(None)).otherwise(
            (F.col("id") % 5).cast("string")
        ).alias("k"),
        (F.col("id") * 37 % 7).alias("v"),  # tie-heavy within key
    ).repartition(16)
    got = {
        r.id: (r.rnk, r.n)
        for r in distributed_rank(
            df, ["v", "id"], rank_col="rnk", n_col="n", key_cols=["k"]
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("v", "id")
    wc = Window.partitionBy("k")
    want = {
        r.id: (r.rnk, r.n)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rnk"),
            F.count(F.lit(1)).over(wc).alias("n"),
        ).collect()
    }
    assert got == want


def test_keyed_distributed_cumsum_matches_keyed_window(spark):
    """distributed_cumsum(key_cols=...) must be bit-identical to the
    per-key running-sum + per-key total windows the oracles use."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_cumsum

    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("k"),
        (F.col("id") * 7919 % 101).cast("bigint").alias("x"),
    ).repartition(8)
    got = {
        r.id: (r.cum, r.tot, r.rn)
        for r in distributed_cumsum(
            df, [F.desc("x"), F.asc("id")], "x",
            cum_col="cum", total_col="tot", key_cols=["k"], rank_col="rn",
        ).collect()
    }
    wo = Window.partitionBy("k").orderBy(F.desc("x"), F.asc("id"))
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("k")
    want = {
        r.id: (r.cum, r.tot, r.rn)
        for r in df.select(
            "id",
            F.sum("x").over(wcum).alias("cum"),
            F.sum("x").over(wall).alias("tot"),
            F.row_number().over(wo).alias("rn"),
        ).collect()
    }
    assert got == want


def test_keyed_distributed_lag_matches_keyed_window(spark):
    """distributed_lag(key_cols=...) must be bit-identical to
    LAG(v, 1) over Window.partitionBy(key).orderBy(...) — including
    null keys, keys spanning range-partition boundaries, and the
    first-row-per-key null. The oracles keep using the window form."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_lag

    df = spark.range(700).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 3, F.lit(None)).otherwise(
            (F.col("id") % 4).cast("string")
        ).alias("k"),
        (F.col("id") * 131 % 97).alias("t"),
        (F.col("id") * 7.5).alias("v"),
    ).repartition(16)
    got = {
        r.id: r.lg
        for r in distributed_lag(
            df, ["t", "id"], "v", lag_col="lg", key_cols=["k"]
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("t", "id")
    want = {
        r.id: r.lg
        for r in df.select("id", F.lag("v").over(w).alias("lg")).collect()
    }
    assert got == want

    # global form (no key): one total order, same contract
    gotg = {
        r.id: r.lg
        for r in distributed_lag(df, ["t", "id"], "v", lag_col="lg").collect()
    }
    wg = Window.partitionBy().orderBy("t", "id")
    wantg = {
        r.id: r.lg
        for r in df.select("id", F.lag("v").over(wg).alias("lg")).collect()
    }
    assert gotg == wantg


def test_keyed_primitives_edge_shapes(spark):
    """Keyed distributed rank/cumsum/lag on degenerate shapes: empty
    input, a single row, and one giant key (every row the same key —
    the exact shape the range split exists for)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import (
        distributed_cumsum,
        distributed_lag,
        distributed_rank,
    )

    empty = spark.createDataFrame([], "k string, v long, id long")
    assert distributed_rank(empty, ["v", "id"], key_cols=["k"]).count() == 0
    assert (
        distributed_cumsum(empty, ["v", "id"], "v", key_cols=["k"]).count()
        == 0
    )
    assert (
        distributed_lag(empty, ["v", "id"], "v", key_cols=["k"]).count() == 0
    )

    one = spark.createDataFrame([("a", 5, 1)], "k string, v long, id long")
    r = distributed_rank(one, ["v", "id"], rank_col="rn", n_col="n",
                         key_cols=["k"]).collect()[0]
    assert (r.rn, r.n) == (1, 1)
    lg = distributed_lag(one, ["v", "id"], "v", lag_col="lg",
                         key_cols=["k"]).collect()[0]
    assert lg.lg is None

    giant = spark.range(2000).select(
        F.lit("only").alias("k"), (F.col("id") * 17 % 59).alias("v"),
        F.col("id"),
    ).repartition(16)
    got = {
        r.id: (r.rn, r.cum)
        for r in distributed_cumsum(
            giant, ["v", "id"], "v", cum_col="cum", rank_col="rn",
            key_cols=["k"],
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("v", "id")
    want = {
        r.id: (r.rn, r.cum)
        for r in giant.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
        ).collect()
    }
    assert got == want


def test_distributed_depth_cuts_matches_histogram_cuts(spark):
    """distributed_depth_cuts must equal the single-partition form it
    replaces: a cumulative window over the value histogram, cut d being
    the minimum v whose running count reaches ceil(d*N/bins). Covers a
    tie-heavy, a near-continuous and a one-value column; with_stats
    adds the column's min and max to the same row."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import distributed_depth_cuts

    bins = 10
    df = spark.range(1000).select(
        (F.col("id") % 3).alias("ties"),
        (F.col("id") * 7919 % 100003).alias("cont"),
        F.lit(5).cast("bigint").alias("one"),
    ).repartition(16)
    for col in ("ties", "cont", "one"):
        hist = df.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        rows = hist.select("v", F.sum("c").over(w).alias("cum")).collect()
        n = max(r.cum for r in rows)
        want = sorted(
            min(r.v for r in rows if r.cum >= math.ceil(d * n / bins))
            for d in range(1, bins)
        )
        got = distributed_depth_cuts(df, col, n_bins=bins).collect()[0]
        assert list(got.cut_list) == want, col
        stats = distributed_depth_cuts(
            df, col, n_bins=bins, with_stats=True
        ).collect()[0]
        lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
        assert list(stats.cut_list) == want, col
        assert (stats.vmin, stats.vmax) == (lo, hi), col


def test_primitives_partition_count_invariant(spark):
    """The distributed primitives must be bit-identical at ANY range
    count — 8, 32, 64 — and, with num_ranges unset, must derive the
    count from spark.sql.shuffle.partitions instead of a hardcoded
    constant (a fixed 32 would cap every rank/NTILE/lag/cumsum reroute
    at 32 tasks per pass on a 1000-executor cluster)."""
    from pyspark.sql import functions as F

    from icecube_spark.operators.pipeline import (
        _range_partitions,
        distributed_cumsum,
        distributed_depth_cuts,
        distributed_lag,
        distributed_ntile,
        distributed_rank,
    )

    df = spark.range(999).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("k"),
        (F.col("id") * 131 % 97).alias("t"),
        (F.col("id") * 7919 % 101).cast("bigint").alias("x"),
    ).repartition(16)

    # the default follows the session conf (32 in get_spark), tracks a
    # conf CHANGE live, and an explicit num_ranges wins over it
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    assert _range_partitions(df) == int(orig)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "48")
        assert _range_partitions(df) == 48
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert _range_partitions(df, 7) == 7

    def snap(n):
        rank = {
            r.id: (r.rn, r.n)
            for r in distributed_rank(
                df, ["t", "id"], rank_col="rn", n_col="n",
                key_cols=["k"], num_ranges=n,
            ).collect()
        }
        cum = {
            r.id: (r.cum, r.tot)
            for r in distributed_cumsum(
                df, ["t", "id"], "x", cum_col="cum", total_col="tot",
                key_cols=["k"], num_ranges=n,
            ).collect()
        }
        lag = {
            r.id: r.lg
            for r in distributed_lag(
                df, ["t", "id"], "x", lag_col="lg",
                key_cols=["k"], num_ranges=n,
            ).collect()
        }
        tile = {
            r.id: r.tile
            for r in distributed_ntile(
                df, ["x", "id"], 10, num_ranges=n
            ).collect()
        }
        cuts = distributed_depth_cuts(
            df, "x", n_bins=10, num_ranges=n
        ).collect()[0].cut_list
        return rank, cum, lag, tile, list(cuts)

    base = snap(8)
    for n in (32, 64):
        assert snap(n) == base, f"num_ranges={n} diverged from 8"


def test_table_diff_all_null_row_reads_present(spark):
    """r9 one-join rewrite invariant: presence comes from constant
    markers carried into the single full-outer join, so a row whose
    compared columns are ALL NULL still counts as present (changed /
    unchanged), never as added/removed — the edge the old key-only
    presence join existed to defend."""
    from icecube_spark.operators.pipeline import table_diff

    v1 = spark.createDataFrame(
        [(1, None, None), (2, "a", 5.0), (3, "b", 1.0)],
        "k long, s string, x double",
    )
    v2 = spark.createDataFrame(
        [(1, None, None), (2, None, None), (4, "c", 2.0)],
        "k long, s string, x double",
    )
    row = table_diff(v1, v2, "k", ["s", "x"]).collect()[0]
    # k=1: all-null on both sides -> unchanged; k=2: values -> nulls
    # is changed (not removed); k=3 removed; k=4 added
    assert row["n_added"] == 1
    assert row["n_removed"] == 1
    assert row["n_changed"] == 1
    assert row["n_unchanged"] == 1
    assert row["n_changed_s"] == 1 and row["n_changed_x"] == 1
