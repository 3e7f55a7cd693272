"""SURVEY §2 group A: datacube parity ops vs DuckDB oracle."""

import math

import pytest
from pyspark.sql import functions as F

from icecube_spark.functions import sar
from icecube_spark.queries import datacube_queries as dq
from icecube_spark.queries.datacube_oracles import ORACLES

from .conftest import assert_oracle_parity


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_datacube_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


def test_resample_has_gap_rows(spark, sf_dir):
    out = dq.cube_resample_gapfill(spark, sf_dir).toPandas()
    # grid is complete: every (user, bucket) slot exists
    n_users = out["user_id"].nunique()
    assert len(out) == n_users * 10  # 2024-01-01..30 step 3d = 10 slots
    gaps = out[out["description"] == "temporal_gap"]
    assert (gaps["n_acq"] == 0).all()
    assert gaps["sum_value"].isna().all()


def test_sar_phase_and_db(spark, sf_dir):
    """phase/dB are tolerance-tested (libm differs across engines)."""
    from icecube_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    # embedding is array<float>: cast to double so JVM and python math agree
    re = F.element_at("embedding", 1).cast("double")
    im = F.element_at("embedding", 2).cast("double")
    row = (
        emb.select(
            re.alias("re"),
            im.alias("im"),
            sar.phase(re, im).alias("ph"),
            sar.to_db(sar.intensity(re, im)).alias("db"),
        )
        .limit(5)
        .collect()
    )
    for r in row:
        assert math.isclose(r.ph, math.atan2(r.im, r.re), rel_tol=1e-12)
        assert math.isclose(r.db, 10 * math.log10(r.re**2 + r.im**2), rel_tol=1e-12)


def test_cube_config_parity_with_reference_defaults():
    from datetime import datetime

    from icecube_spark.config import CubeConfig

    cfg = CubeConfig()
    assert cfg.start_date == datetime(1970, 1, 1)
    assert cfg.min_incidence_angle == 0.0
    assert cfg.max_incidence_angle == 90.0
    assert cfg.temporal_resolution == 0
    assert not cfg.coregistered and not cfg.space_overlap and cfg.temporal_overlap

    with pytest.raises(ValueError):
        CubeConfig.from_dict({"start_date": 20240110, "end_date": 20240101})
    with pytest.raises(ValueError):
        CubeConfig.from_dict({"min_incidence_angle": 50, "max_incidence_angle": 10})
    with pytest.raises(ValueError):
        CubeConfig.from_dict({"temporal_resolution": 1.5})
    with pytest.warns(UserWarning):
        CubeConfig.from_dict({"bogus_key": 1})


def test_polygon_intersection_hand_cases(spark):
    """quad_intersect_sql against hand-checked geometry: edge-cross,
    full containment, corner touch, and disjoint quads."""
    from icecube_spark.operators.spatial import quad_intersect_sql

    def quad(pre, pts):
        cols = []
        for i, (x, y) in enumerate(pts, start=1):
            cols += [f"CAST({x} AS DOUBLE) AS {pre}x{i}",
                     f"CAST({y} AS DOUBLE) AS {pre}y{i}"]
        return ", ".join(cols)

    # all quads CCW: (x1,y1) lower-right area going counterclockwise
    unit = [(1, 0), (1, 1), (0, 1), (0, 0)]  # unit square
    cases = [
        # overlapping squares
        ([(1.5, 0.5), (1.5, 1.5), (0.5, 0.5 + 1), (0.5, 0.5)], True),
        # contained small square
        ([(0.7, 0.3), (0.7, 0.7), (0.3, 0.7), (0.3, 0.3)], True),
        # corner touch at (1,1)
        ([(2, 1), (2, 2), (1, 2), (1, 1)], True),
        # disjoint
        ([(9, 9), (9, 10), (8, 10), (8, 9)], False),
        # big quad containing the unit square entirely
        ([(5, -5), (5, 5), (-5, 5), (-5, -5)], True),
    ]
    pred = quad_intersect_sql("a_", "b_")
    for pts, want in cases:
        row = spark.sql(
            f"SELECT {pred} AS hit FROM "
            f"(SELECT {quad('a_', unit)}) CROSS JOIN (SELECT {quad('b_', pts)})"
        ).collect()[0]
        assert row.hit == want, (pts, want)
