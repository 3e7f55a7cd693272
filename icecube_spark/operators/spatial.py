"""Spatial overlap operators (SURVEY §2 A7).

Reference: select_overlapping_rasters
(icecube/bin/sar_cube/sar_datacube_metadata.py:207-224) keeps rasters
whose extent polygon intersects the extent of the earliest raster.

Spark-first form: the primary is selected with a global min (tiny —
one row), broadcast to every partition, and the intersection test is
a pure column predicate, so the big side never shuffles. Provided in
1-D (intervals) and 2-D (bounding boxes); real polygon predicates
would slot in the same broadcast shape via a geometry UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def overlap_with_primary_1d(
    df: DataFrame,
    lo_col: str,
    hi_col: str,
    order_cols: list[str],
) -> DataFrame:
    """Keep rows whose [lo, hi] interval intersects the interval of the
    primary row = first row under `order_cols` ordering (the reference's
    "earliest acquisition"). Intervals [a,b],[c,d] intersect iff
    a <= d AND c <= b.
    """
    primary = (
        df.select(
            F.col(lo_col).alias("__p_lo"),
            F.col(hi_col).alias("__p_hi"),
            *[F.col(c) for c in order_cols],
        )
        .orderBy(*order_cols)
        .limit(1)
        .select("__p_lo", "__p_hi")
    )
    return (
        df.join(F.broadcast(primary))
        .where((F.col(lo_col) <= F.col("__p_hi")) & (F.col("__p_lo") <= F.col(hi_col)))
        .drop("__p_lo", "__p_hi")
    )


# ---------------------------------------------------------------------------
# True 2-D polygon intersection (SURVEY §2 A14) — the reference's
# actual footprint semantics: select_overlapping_rasters uses shapely
# .intersects() on SAR extent polygons
# (icecube/bin/sar_cube/sar_datacube_metadata.py:207-224). Here the
# predicate is expressed as flat SQL arithmetic (orientation tests) so
# it runs inside whole-stage codegen AND can be emitted verbatim for
# the DuckDB oracle — identical IEEE expressions, bit-identical
# results in both engines. Quads (4 vertices, CCW) cover the SAR
# footprint case; the construction generalizes to any fixed arity.


def _orient(p, q, r) -> str:
    """Sign of the cross product (q-p) x (r-p): >0 left turn, <0
    right turn, 0 collinear. Plain arithmetic, engine-portable."""
    (px, py), (qx, qy), (rx, ry) = p, q, r
    return (
        f"(({qx} - {px}) * ({ry} - {py}) - ({qy} - {py}) * ({rx} - {px}))"
    )


def quad_vertices(pre: str) -> list[tuple[str, str]]:
    """The 4 vertex (x, y) column names of a quad with column prefix
    `pre` (pre_x1..pre_x4 / pre_y1..pre_y4, CCW order)."""
    return [(f"{pre}x{i}", f"{pre}y{i}") for i in range(1, 5)]


def quad_intersect_sql(pre_a: str, pre_b: str) -> str:
    """SQL predicate: do two CCW quads intersect (boundary touch
    counts)? True iff any edge of A crosses any edge of B, or A
    contains B's first vertex, or B contains A's first vertex —
    complete for convex polygons. 16 edge-pair orientation tests + 2
    containment tests, all flat arithmetic; same string runs in Spark
    and DuckDB."""
    A, B = quad_vertices(pre_a), quad_vertices(pre_b)

    def seg_cross(p, q, r, s) -> str:
        return (
            f"({_orient(p, q, r)} * {_orient(p, q, s)} <= 0"
            f" AND {_orient(r, s, p)} * {_orient(r, s, q)} <= 0)"
        )

    def contains(P, pt) -> str:
        conds = [
            f"{_orient(P[i], P[(i + 1) % 4], pt)} >= 0" for i in range(4)
        ]
        return "(" + " AND ".join(conds) + ")"

    terms = [
        seg_cross(A[i], A[(i + 1) % 4], B[j], B[(j + 1) % 4])
        for i in range(4)
        for j in range(4)
    ]
    terms.append(contains(A, B[0]))
    terms.append(contains(B, A[0]))
    return "(" + "\n OR ".join(terms) + ")"


def quad_footprint_sql(key: str, space: str = "1000") -> dict[str, str]:
    """Deterministic rotated-rectangle footprint for integer id `key`:
    center/size from modular arithmetic, rotation from exact
    Pythagorean (cos, sin) pairs — every vertex coordinate is the
    same IEEE double in any engine evaluating these expressions.
    Returns {column_name: sql_expr} for x1..y4 + bbox.

    `space` is the coordinate-space side length (SQL expression). Pass
    a sqrt(n)-scaled value so footprint DENSITY stays constant as the
    catalog grows: with a fixed space the number of true intersecting
    pairs grows quadratically with n (a scale-killer at 100x); with
    space ~ sqrt(n) both output size and per-grid-cell fanout stay
    linear in n."""
    # Knuth multiplicative hashes (mod 2^32) scatter centers uniformly
    # in BOTH axes — a bare linear congruence (37k, 91k) puts centers
    # on a 1-D lattice where near-coincidence in x and y never happens
    # at large moduli. All-integer, exact in any engine.
    cx = f"CAST((({key} * 2654435761) % 4294967296) % {space} AS DOUBLE)"
    cy = f"CAST((({key} * 2246822519) % 4294967296) % {space} AS DOUBLE)"
    w2 = f"(20.0 + CAST(({key}) % 5 AS DOUBLE) * 5.0)"
    h2 = f"(15.0 + CAST(({key}) % 7 AS DOUBLE) * 5.0)"
    # CAST AS DOUBLE everywhere: Spark parses bare decimal literals as
    # DECIMAL and 5.0/13.0 becomes DECIMAL(8,6)=0.384615 — six digits,
    # not the IEEE double DuckDB computes. Explicit double division is
    # bit-identical in both engines.
    c = (
        f"(CASE CAST(({key}) % 4 AS INT) WHEN 0 THEN CAST(1.0 AS DOUBLE)"
        f" WHEN 1 THEN CAST(0.6 AS DOUBLE) WHEN 2 THEN CAST(0.8 AS DOUBLE)"
        f" ELSE CAST(5.0 AS DOUBLE) / CAST(13.0 AS DOUBLE) END)"
    )
    s = (
        f"(CASE CAST(({key}) % 4 AS INT) WHEN 0 THEN CAST(0.0 AS DOUBLE)"
        f" WHEN 1 THEN CAST(0.8 AS DOUBLE) WHEN 2 THEN CAST(0.6 AS DOUBLE)"
        f" ELSE CAST(12.0 AS DOUBLE) / CAST(13.0 AS DOUBLE) END)"
    )
    corners = [(w2, h2), (f"-{w2}", h2), (f"-{w2}", f"-{h2}"), (w2, f"-{h2}")]
    out: dict[str, str] = {}
    for i, (dx, dy) in enumerate(corners, start=1):
        out[f"x{i}"] = f"({cx} + {c} * ({dx}) - {s} * ({dy}))"
        out[f"y{i}"] = f"({cy} + {s} * ({dx}) + {c} * ({dy}))"
    out["xmin"] = "LEAST(x1, x2, x3, x4)"
    out["xmax"] = "GREATEST(x1, x2, x3, x4)"
    out["ymin"] = "LEAST(y1, y2, y3, y4)"
    out["ymax"] = "GREATEST(y1, y2, y3, y4)"
    return out


def quad_footprints(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize quad footprints from an integer id column inside a
    sqrt(n)-scaled coordinate space (constant density at any scale).
    The space side is one tiny scalar aggregate broadcast to every
    partition — the big side never shuffles."""
    space = df.agg(
        F.floor(F.sqrt(F.max(id_col).cast("double") * F.lit(50000.0)))
        .cast("bigint")
        .alias("__space")
    )
    exprs = quad_footprint_sql(id_col, "__space")
    vert = df.crossJoin(F.broadcast(space)).select(
        F.col(id_col),
        *[F.expr(sql).alias(name) for name, sql in list(exprs.items())[:8]],
    )
    return vert.select(
        "*",
        *[F.expr(exprs[n]).alias(n) for n in ("xmin", "xmax", "ymin", "ymax")],
    )


def polygon_join_grid(
    polys: DataFrame, id_col: str, cell: int = 128
) -> DataFrame:
    """A14 — all-pairs polygon intersection via grid bucketing + exact
    convex test. Candidates come from bbox grid cells exactly as
    bbox_join_grid (bounded fanout, reference-point dedup, no cross
    join, no DISTINCT); intersecting polygons always have
    intersecting bboxes, so the grid never loses a true pair — the
    exact quad predicate then keeps true intersections only. The big
    side shuffles once, on the cell key."""
    vert_cols = [f"{a}{i}" for a in ("x", "y") for i in range(1, 5)]
    cells = polys.select(
        F.col(id_col),
        *vert_cols,
        "xmin",
        "ymin",
        "xmax",
        "ymax",
        F.explode(
            F.sequence(F.floor(F.col("xmin") / cell), F.floor(F.col("xmax") / cell))
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.floor(F.col("ymin") / cell), F.floor(F.col("ymax") / cell))
        ).alias("cy"),
    )
    keep = [id_col, *vert_cols, "xmin", "ymin", "xmax", "ymax"]
    a = cells.select(*[F.col(c).alias(f"a_{c}") for c in keep], "cx", "cy")
    b = cells.select(*[F.col(c).alias(f"b_{c}") for c in keep], "cx", "cy")
    ref_x = F.greatest("a_xmin", "b_xmin")
    ref_y = F.greatest("a_ymin", "b_ymin")
    return (
        a.join(b, ["cx", "cy"])
        .where(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        .where(
            (F.col("a_xmin") <= F.col("b_xmax"))
            & (F.col("b_xmin") <= F.col("a_xmax"))
            & (F.col("a_ymin") <= F.col("b_ymax"))
            & (F.col("b_ymin") <= F.col("a_ymax"))
        )
        .where(
            (F.floor(ref_x / cell) == F.col("cx"))
            & (F.floor(ref_y / cell) == F.col("cy"))
        )
        .where(F.expr(quad_intersect_sql("a_", "b_")))
        .select(f"a_{id_col}", f"b_{id_col}")
    )


def bbox_join_grid(
    boxes: DataFrame,
    id_col: str,
    cell: int = 100,
) -> DataFrame:
    """A13 — all-pairs 2-D bbox intersection via grid bucketing: the
    distributed spatial join behind select_overlapping_rasters
    generalized from 1-vs-primary to all-pairs (which rasters can
    co-register with which).

    Expects integer columns xmin/ymin/xmax/ymax. Each box explodes to
    the grid cells it covers (bounded fanout: ceil(w/cell)+1 per
    axis); candidates equi-join on the cell — never a cross join. A
    pair sharing several cells is emitted ONCE without any DISTINCT
    shuffle via the reference-point trick: only the cell containing
    (max(xmin), max(ymin)) — a cell both boxes cover whenever they
    intersect — reports the pair. Overlap area is exact integer math.
    """
    cells = boxes.select(
        F.col(id_col),
        "xmin",
        "ymin",
        "xmax",
        "ymax",
        F.explode(
            F.sequence(F.floor(F.col("xmin") / cell), F.floor(F.col("xmax") / cell))
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.floor(F.col("ymin") / cell), F.floor(F.col("ymax") / cell))
        ).alias("cy"),
    )
    a = cells.select(
        *[F.col(c).alias(f"{c}_a") for c in (id_col, "xmin", "ymin", "xmax", "ymax")],
        "cx",
        "cy",
    )
    b = cells.select(
        *[F.col(c).alias(f"{c}_b") for c in (id_col, "xmin", "ymin", "xmax", "ymax")],
        "cx",
        "cy",
    )
    ref_x = F.greatest("xmin_a", "xmin_b")
    ref_y = F.greatest("ymin_a", "ymin_b")
    pairs = (
        a.join(b, ["cx", "cy"])
        .where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .where(
            (F.col("xmin_a") <= F.col("xmax_b"))
            & (F.col("xmin_b") <= F.col("xmax_a"))
            & (F.col("ymin_a") <= F.col("ymax_b"))
            & (F.col("ymin_b") <= F.col("ymax_a"))
        )
        .where(
            (F.floor(ref_x / cell) == F.col("cx"))
            & (F.floor(ref_y / cell) == F.col("cy"))
        )
    )
    return pairs.select(
        f"{id_col}_a",
        f"{id_col}_b",
        (
            (F.least("xmax_a", "xmax_b") - F.greatest("xmin_a", "xmin_b"))
            * (F.least("ymax_a", "ymax_b") - F.greatest("ymin_a", "ymin_b"))
        ).alias("overlap_area"),
    )
