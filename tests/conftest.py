"""Shared fixtures: one SparkSession per test run, DuckDB oracle harness,
the vector-labels document."""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from icecube_spark.catalog import TABLES
from icecube_spark.session import get_spark

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
import driver_verify  # noqa: E402  (the driver gate's comparator)
import plan_audit  # noqa: E402

SF_DIR = os.environ.get("ICECUBE_TEST_SF_DIR", "/root/testdata/sf0.001")
REF_LABELS = "/root/reference/tests/resources/labels/dummy_vector_labels.json"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("icecube-tests")
    yield spark
    spark.stop()


def run_in_job_group(spark, fn, group: str) -> tuple[int, int]:
    """Run ``fn()`` in a Spark job group of its own and return the
    (jobs, tasks) it ran, the tasks of skipped stages left out. The
    counts do not depend on the host."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = {
        sid for job in jobs for sid in sc.statusTracker().getJobInfo(job).stageIds
    }
    tasks = sum(
        store.lastStageAttempt(sid).numTasks()
        for sid in stages
        if str(store.lastStageAttempt(sid).status()) != "SKIPPED"
    )
    return len(jobs), tasks


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def plans():
    """{key: fingerprint} of the PLANS.md lines, which
    test_scale_paths.py::test_registry_wide_funnel_sweep keeps equal to
    freshly built plans: the plan-shape tests read these."""
    return plan_audit.read_plans(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"))


@pytest.fixture(scope="session")
def labels_json(tmp_path_factory):
    """Path of a vector-labels document of the reference's
    create_json_labels.py schema (sources/labels.py docstring).

    The reference's own dummy_vector_labels.json where it is present;
    otherwise a seeded synthesized document of the same shape, written
    as the reference writes it: one pretty-printed JSON array. Each
    product is a bare ``.tif`` basename with at least one object; each
    object has a ``rand-<n>`` class and an integer bbox with
    xmax >= xmin and ymax >= ymin."""
    if os.path.exists(REF_LABELS):
        return REF_LABELS
    rng = np.random.default_rng(18)
    doc = []
    for p in range(4):
        objects = []
        for _ in range(int(rng.integers(1, 5))):
            xmin, ymin = (int(v) for v in rng.integers(0, 512, 2))
            w, h = (int(v) for v in rng.integers(0, 64, 2))
            objects.append({
                "class": f"rand-{int(rng.integers(0, 3))}",
                "bbox": {"xmin": xmin, "ymin": ymin,
                         "xmax": xmin + w, "ymax": ymin + h},
            })
        doc.append({
            "product_file": f"SYNTH_GRD_{p:02d}.tif",
            "labels": {"objects": objects},
        })
    path = tmp_path_factory.mktemp("labels") / "vector_labels.json"
    path.write_text(json.dumps(doc, indent=4))
    return str(path)


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's compare: sort columns by name, then rows."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


# TPC-H queries whose parity ids live in test_pipeline_ops
# (test_tpch_matches_oracle), not in test_analytics.
TPCH_B = frozenset({
    "q2_min_cost_supplier", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q11_important_stock", "q12_ship_delay",
    "q15_top_supplier", "q16_supplier_count", "q17_small_quantity",
    "q19_disjunctive_revenue", "q20_excess_stock", "q21_waiting_supplier",
    "q22_global_sales",
})


def assert_oracle_parity(spark, sf_dir, oracle, key: str):
    """The registered query ``key`` matches its DuckDB twin under the
    ``compare`` the driver gate and the benchmark use: sorted columns,
    sorted rows, bit-equal floats, no dtype or float-width drift."""
    got = entry.queries()[key](spark, sf_dir).toPandas()
    want = oracle.sql(entry.oracle_sql()[key]).df()
    ok, why = driver_verify.compare(got, want)
    assert ok, why
