"""The pluggable materialization barrier (functions/materialize.py) and
the keyless-repartition waiver guard (session.py's
sortBeforeRepartition=false default)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from icecube_spark.functions.materialize import (
    _BACKEND_KEY,
    materialize,
)

SRC_ROOT = Path(__file__).resolve().parent.parent / "icecube_spark"


def _frame(spark):
    return (
        spark.range(0, 1000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    )


@pytest.mark.parametrize("backend", ["local", "reliable"])
def test_materialize_backends_identical_content(spark, backend):
    """Every backend is an eager barrier returning identical rows."""
    want = sorted(map(tuple, _frame(spark).collect()))
    old = spark.conf.get(_BACKEND_KEY, "local")
    try:
        spark.conf.set(_BACKEND_KEY, backend)
        got = sorted(map(tuple, materialize(_frame(spark)).collect()))
    finally:
        spark.conf.set(_BACKEND_KEY, old)
    assert got == want


def test_materialize_unknown_backend_raises(spark):
    """An unknown backend, and the retired ``persist`` one, refuse and
    name ``reliable``, the backend that survives executor loss."""
    old = spark.conf.get(_BACKEND_KEY, "local")
    try:
        for backend in ("bogus", "persist"):
            spark.conf.set(_BACKEND_KEY, backend)
            with pytest.raises(ValueError, match=f"'{backend}'.*reliable"):
                materialize(_frame(spark))
    finally:
        spark.conf.set(_BACKEND_KEY, old)


def test_operator_identical_across_backends(spark, sf_dir):
    """A checkpoint-reliant query (price_index routes its (month, part)
    aggregate through materialize) returns bit-identical rows under the
    cluster backends."""
    from icecube_spark.queries import analytics

    old = spark.conf.get(_BACKEND_KEY, "local")
    results = {}
    try:
        for backend in ("local", "reliable"):
            spark.conf.set(_BACKEND_KEY, backend)
            results[backend] = [
                tuple(r) for r in analytics.price_index(spark, sf_dir).collect()
            ]
    finally:
        spark.conf.set(_BACKEND_KEY, old)
    assert results["local"] == results["reliable"]


def test_no_unwaived_keyless_repartition():
    """session.py defaults spark.sql.execution.sortBeforeRepartition to
    false, which is safe ONLY while every keyless (round-robin)
    repartition in the tree feeds from a deterministic scan — a
    retried task must reproduce the same row->partition assignment
    (SPARK-23207). This sweep pins the waived call sites; a new
    keyless repartition over anything else must either repartition by
    key or re-justify the waiver here AND in session.py.
    """
    # (file, line must contain) — the two audited deterministic-scan
    # sites: the catalog parquet fan-out and the compaction writer
    # whose input is a direct spark.read.parquet.
    waived = {
        ("catalog.py", "df.repartition(cores)"),
        ("readers.py", "df.repartition(n_files)"),
    }
    keyless = []
    for path in SRC_ROOT.rglob("*.py"):
        for ln in path.read_text().splitlines():
            m = re.search(r"\.repartition\(([^)]*)\)", ln)
            if not m:
                continue
            args = m.group(1)
            # keyed repartition (a quoted column or F.col) is hash
            # partitioning — deterministic, not affected by the waiver
            if '"' in args or "'" in args or "F.col" in args:
                continue
            keyless.append((path.name, ln.strip()))
    unwaived = [
        (f, ln)
        for f, ln in keyless
        if not any(f == wf and frag in ln for wf, frag in waived)
    ]
    assert not unwaived, f"unwaived keyless repartition sites: {unwaived}"
    # the waived sites must still exist (else the whitelist is stale)
    for wf, frag in waived:
        assert any(f == wf and frag in ln for f, ln in keyless), (
            f"stale waiver: {wf}: {frag}"
        )
