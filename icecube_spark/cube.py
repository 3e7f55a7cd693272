"""Datacube facade — the reference's user-facing API, Spark-first.

Reference: icecube/bin/datacube.py (accessors, merge, to_file) and
icecube/bin/generate_cube.py (IceyeProcessGenerateCube.create_cube).
The cube is NOT a dense array: at 100 TB a materialized xarray is
impossible. Here a datacube is a lazy DataFrame keyed by
(stack key, acquisition ts) plus band columns; every accessor stays
declarative so Catalyst prunes/pushes, and `to_parquet` partitions by
a time bucket so downstream reads prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icecube_spark.config import CubeConfig
from icecube_spark.operators import spatial, temporal


class Datacube:
    """Lazy tabular datacube.

    Parity map (reference icecube/bin/datacube.py):
      get_data_variables  -> band/value columns          (:44)
      get_dimensions      -> sizes per dimension         (:59)
      get_xrdataset_metadata -> catalog stats            (:66)
      get_metadata_by_product -> per-product row         (:117)
      merge_xrdatasets    -> merge()                     (:176)
      to_file             -> to_parquet()                (:201)
    """

    DIMS = ("key", "ts")

    def __init__(
        self, df: DataFrame, key_col: str, ts_col: str, band_cols: list[str]
    ):
        self.df = df
        self.key_col = key_col
        self.ts_col = ts_col
        self.band_cols = list(band_cols)

    def get_data_variables(self) -> list[str]:
        return list(self.band_cols)

    def get_dimensions(self) -> dict[str, int]:
        row = self.df.agg(
            F.countDistinct(self.key_col).alias("k"),
            F.countDistinct(self.ts_col).alias("t"),
        ).collect()[0]
        return {self.key_col: row.k, self.ts_col: row.t}

    def get_metadata(self) -> dict:
        row = self.df.agg(
            F.count(F.lit(1)).alias("n_layers"),
            F.min(self.ts_col).alias("start"),
            F.max(self.ts_col).alias("end"),
        ).collect()[0]
        return {"n_layers": row.n_layers, "start": row.start, "end": row.end}

    def get_layer(self, key, ts) -> DataFrame:
        """Per-product access (reference get_metadata_by_product /
        get_product_values): one pruned lookup, no scan of other keys."""
        return self.df.where(
            (F.col(self.key_col) == F.lit(key)) & (F.col(self.ts_col) == F.lit(ts))
        )

    def get_layer_array(self, key, ts, height: int, width: int):
        """Dense 2-D pixel array for ONE (key, ts) layer — the
        reference's get_product_values xarray accessor
        (icecube/bin/datacube.py), re-expressed as a bounded
        driver-side materialization: the scan is pruned to a single
        layer before anything leaves the executors, so the transfer
        is one layer's pixels regardless of cube size. Returns a
        float64 ndarray of shape (height, width); raises KeyError if
        the layer does not exist and ValueError if the stored pixel
        count does not match height*width."""
        import numpy as np

        rows = self.get_layer(key, ts).select("pixels").collect()
        if not rows:
            raise KeyError(f"no layer for ({key!r}, {ts!r})")
        pix = rows[0]["pixels"]
        if pix is None:
            return np.full((height, width), np.nan)
        arr = np.asarray(pix, dtype="f8")
        if arr.size != height * width:
            raise ValueError(
                f"layer has {arr.size} pixels, expected {height}x{width}"
            )
        return arr.reshape(height, width)

    def _product_list(self) -> list:
        """Time-ordered product names with a deterministic tiebreak
        (ts, then name) — the ONE ordering get_all_products and
        get_product_index both read, so tied timestamps can never
        make the two accessors disagree (the reference indexes one
        stored attrs list and cannot diverge either)."""
        return [
            r[0]
            for r in self.df.orderBy(self.ts_col, self.key_col)
            .select(self.key_col)
            .collect()
        ]

    def get_all_products(self) -> list:
        """Reference Datacube.get_all_products (datacube.py:86): every
        product file in time order; KeyError when the cube holds only
        dummy (gap) layers, matching the reference's all-"None" check."""
        vals = self._product_list()
        if all(v is None for v in vals):
            raise KeyError("product files metadata is missing from the cube")
        return vals

    def get_product_index(self, product_file) -> int:
        """Reference Datacube.get_product_index (datacube.py:100): the
        positional index of one product file in the cube's time-ordered
        product list. ValueError on an empty cube (the reference's
        empty-attrs check), KeyError when the product is missing —
        matching the reference's exception contract. Metadata-sized
        collect: only the product-name column leaves the executors;
        the ordering is shared with get_all_products (_product_list)
        so the two can never disagree on tied timestamps."""
        vals = self._product_list()
        if not vals:
            raise ValueError("no metadata found against this cube")
        try:
            return int(vals.index(product_file))
        except ValueError:
            raise KeyError(
                f"product_file: {product_file!r} is missing from cube metadata"
            )

    def get_metadata_by_product(self, product_file) -> dict:
        """Reference get_metadata_by_product (datacube.py:122): the
        metadata (non-band) columns of one product's layer as a dict.
        One pruned lookup — the scan never touches other products'
        pixels."""
        meta_cols = [c for c in self.df.columns if c not in self.band_cols]
        rows = (
            self.df.where(F.col(self.key_col) == F.lit(product_file))
            .select(*meta_cols)
            .limit(1)
            .collect()
        )
        if not rows:
            raise KeyError(f"product_file {product_file!r} not in cube")
        return rows[0].asDict()

    def get_product_values(
        self, product_file, height: int | None = None, width: int | None = None
    ):
        """Reference get_product_values (datacube.py:139): one
        product's band payload. Returns an ndarray for a single-band
        cube (2-D when height/width are given), else {band: ndarray}.
        """
        import numpy as np

        rows = (
            self.df.where(F.col(self.key_col) == F.lit(product_file))
            .select(*self.band_cols)
            .limit(1)
            .collect()
        )
        if not rows:
            raise KeyError(f"product_file {product_file!r} not in cube")

        def _arr(v):
            if v is None:
                return None
            arr = np.asarray(v, dtype="f8")
            if height is not None and width is not None:
                arr = arr.reshape(height, width)
            return arr

        if len(self.band_cols) == 1:
            return _arr(rows[0][self.band_cols[0]])
        return {b: _arr(rows[0][b]) for b in self.band_cols}

    def get_index_values(self, index: str) -> list:
        """Reference get_index_values (datacube.py:161): one column's
        values across layers in time order."""
        if index not in self.df.columns:
            raise KeyError(f"no column {index!r} in cube")
        return [
            r[0] for r in self.df.orderBy(self.ts_col).select(index).collect()
        ]

    def visualize(self, path: str | None = None,
                  width: int = 720, height: int = 240) -> str:
        """Reference parity (sar_datacube_metadata.py:278): the
        reference ships ``visualize`` as an empty placeholder
        (``pass``); this renders what the name promises — the
        acquisition timeline — as a dependency-free SVG (pure string
        assembly, no matplotlib in the container): one lane per stack
        key, one dot per layer at its acquisition instant, dot area
        scaled by the layer's row count. The plotted table is one row
        per LAYER (the cube's Band axis — model-sized by
        construction, same bound as ``get_all_products``), so the
        collect is a driver-facade read, not a corpus pull. Returns
        the SVG text; writes it to ``path`` when given."""
        from xml.sax.saxutils import escape

        rows = (
            self.df.groupBy(self.key_col, self.ts_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(self.ts_col, self.key_col)
            .collect()
        )
        pad, lane_h = 36, 0
        keys = sorted({str(r[self.key_col]) for r in rows})
        if rows:
            import datetime as _dt

            def _x(ts):
                if isinstance(ts, (_dt.datetime, _dt.date)):
                    t = ts
                    if isinstance(t, _dt.date) and not isinstance(
                        t, _dt.datetime
                    ):
                        t = _dt.datetime(t.year, t.month, t.day)
                    return t.timestamp()
                return float(ts)

            xs = [_x(r[self.ts_col]) for r in rows]
            x0, x1 = min(xs), max(xs)
            span = (x1 - x0) or 1.0
            nmax = max(r["n"] for r in rows)
            lane_h = (height - 2 * pad) / max(len(keys), 1)
        parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}"'
            f' height="{height}" viewBox="0 0 {width} {height}">',
            f'<rect width="{width}" height="{height}" fill="white"/>',
            f'<text x="{pad}" y="16" font-size="12" '
            f'font-family="sans-serif">acquisition timeline '
            f'({len(rows)} layers / {len(keys)} stacks)</text>',
        ]
        for i, k in enumerate(keys):
            y = pad + (i + 0.5) * lane_h
            parts.append(
                f'<text x="4" y="{y + 4:.1f}" font-size="10" '
                f'font-family="sans-serif">{escape(k[:12])}</text>'
            )
            parts.append(
                f'<line x1="{pad}" y1="{y:.1f}" x2="{width - pad}" '
                f'y2="{y:.1f}" stroke="#ddd"/>'
            )
        for r, xv in zip(rows, xs) if rows else []:
            i = keys.index(str(r[self.key_col]))
            cx = pad + (xv - x0) / span * (width - 2 * pad)
            cy = pad + (i + 0.5) * lane_h
            rad = 2.0 + 4.0 * (float(r["n"]) / nmax) ** 0.5
            parts.append(
                f'<circle cx="{cx:.1f}" cy="{cy:.1f}" r="{rad:.1f}" '
                f'fill="#1f77b4" fill-opacity="0.7">'
                f"<title>{escape(str(r[self.ts_col]))} "
                f"n={r['n']}</title></circle>"
            )
        if rows:
            for xv, anchor in ((x0, "start"), (x1, "end")):
                lx = pad + (xv - x0) / span * (width - 2 * pad)
                ts_lbl = next(
                    str(r[self.ts_col]) for r, v in zip(rows, xs) if v == xv
                )
                parts.append(
                    f'<text x="{lx:.1f}" y="{height - 8}" font-size="10" '
                    f'text-anchor="{anchor}" font-family="sans-serif">'
                    f"{escape(ts_lbl)}</text>"
                )
        else:
            parts.append(
                f'<text x="{width / 2}" y="{height / 2}" font-size="12" '
                f'text-anchor="middle" font-family="sans-serif">'
                f"(empty cube)</text>"
            )
        parts.append("</svg>")
        svg = "\n".join(parts)
        if path is not None:
            with open(path, "w") as fh:
                fh.write(svg)
        return svg

    def merge(self, other: "Datacube") -> "Datacube":
        """Union two cubes; on (key, ts) conflict the left cube wins
        (reference merge_xrdatasets combine_attrs='drop_conflicts')."""
        from pyspark.sql import Window

        left = self.df.withColumn("__src", F.lit(1))
        right = other.df.withColumn("__src", F.lit(2))
        w = Window.partitionBy(self.key_col, self.ts_col).orderBy("__src")
        merged = (
            left.unionByName(right, allowMissingColumns=True)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        return Datacube(merged, self.key_col, self.ts_col, self.band_cols)

    def to_parquet(self, path: str, bucket: str = "1 month") -> None:
        """Reference to_file → netCDF; here: parquet partitioned by a
        time bucket so scans prune by time range."""
        (
            self.df.withColumn(
                "__part",
                F.date_format(F.date_trunc("month", F.col(self.ts_col)), "yyyy-MM"),
            )
            .write.mode("overwrite")
            .partitionBy("__part")
            .parquet(path)
        )


def create_cube_from_rasters(
    spark: SparkSession, raster_dir: str, config: CubeConfig | str | None
) -> Datacube:
    """The reference's one-shot entry point —
    IceyeProcessGenerateCube.create_cube(raster_dir, config_fpath)
    (generate_cube.py:36-80) — end-to-end on Spark: crawl GDAL
    metadata + decode pixels from the binaryFile source (both
    distributed Arrow maps, sources/raster.py), apply the CubeConfig
    filters in reference order (date range on acquisition_date,
    incidence-angle range, temporal dedup), then resample onto the
    configured temporal grid: one slot per `temporal_resolution` days
    from start_date to end_date, empty slots = dummy layers with null
    product/pixels (sar_datacube_metadata.py:226-255
    compute_dummy_metadata_df_for_temporal_sampling semantics).
    """
    if not isinstance(config, CubeConfig):
        config = CubeConfig.load(config)
    bdf = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.tif*"
    ).load(raster_dir)
    return _grd_cube(spark, bdf, config)


def _grd_cube(
    spark: SparkSession, bdf: DataFrame, config: CubeConfig
) -> Datacube:
    """GRD crawl + decode, shared by the directory-crawl and
    explicit-list entry points."""
    from icecube_spark.sources.raster import crawl_iceye_metadata, decode_rasters

    meta = crawl_iceye_metadata(bdf)
    layers = meta.join(decode_rasters(bdf).select("path", "pixels"), "path")
    return _filter_and_grid(spark, layers, config, ["pixels"])


def _filter_and_grid(
    spark: SparkSession, layers: DataFrame, config: CubeConfig,
    band_cols: list[str],
) -> Datacube:
    """The config filters and temporal grid of every product family
    (GRD and SLC differ only in crawl and decode), in reference order:
    date range on acquisition_date, incidence-angle range (a NULL
    angle passes), the latest acquisition_end_utc per date unless
    temporal_overlap, then — when temporal_resolution > 0 — one slot
    per `temporal_resolution` days from start_date to end_date, empty
    slots being gap rows with null product/bands."""
    layers = layers.where(
        F.col("acquisition_date").between(
            F.lit(config.start_date.date()), F.lit(config.end_date.date())
        )
    )
    layers = layers.where(
        F.col("incidence_center").isNull()
        | F.col("incidence_center").between(
            F.lit(config.min_incidence_angle), F.lit(config.max_incidence_angle)
        )
    )
    if not config.temporal_overlap:
        # keep the latest acquisition per date (reference
        # sar_datacube_metadata.py:188-205 temporal dedup)
        from pyspark.sql import Window

        w = Window.partitionBy("acquisition_date").orderBy(
            F.desc("acquisition_end_utc"), F.desc("product_file")
        )
        layers = (
            layers.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    if config.temporal_resolution > 0:
        # distributed slot grid: sequence+explode, no driver loop
        step = int(config.temporal_resolution)
        grid = spark.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(config.start_date.date()),
                    F.lit(config.end_date.date()),
                    F.expr(f"INTERVAL {step} DAYS"),
                )
            ).alias("slot_date")
        )
        cube_df = grid.join(
            layers, layers.acquisition_date == grid.slot_date, "left"
        ).drop("acquisition_date")
        ts_col = "slot_date"
    else:
        cube_df = layers
        ts_col = "acquisition_date"
    return Datacube(cube_df, "product_file", ts_col, band_cols)


def create_cube_from_slc(
    spark: SparkSession,
    slc_dir: str,
    config: CubeConfig | str | None,
    with_rpc: bool = False,
) -> Datacube:
    """SLC twin of create_cube_from_rasters — the reference's
    SLCDatacube.create path (icecube/bin/sar_cube/slc_datacube.py:
    102-162): crawl .h5 metadata + decode the s_i/s_q channels
    (sources/hdf5.py, distributed Arrow maps; dependency-free for
    contiguous AND chunked/gzip'd files, h5py when present), then the
    same config filters and temporal grid as the GRD path. Bands
    follow the reference's naming: Real = s_i, Complex = s_q
    (datacube_variables.py:16-17).

    `with_rpc=True` additionally carries the product's rational-
    polynomial geocoding coefficients as typed columns (sources/
    rpc.py — reference parse_slc_rpc_to_meta_dict parity,
    analytics_IO.py:280); products without an RPC group get NULLs,
    matching the reference's RPC=None."""
    if not isinstance(config, CubeConfig):
        config = CubeConfig.load(config)
    bdf = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.h5"
    ).load(slc_dir)
    return _slc_cube(spark, bdf, config, with_rpc)


def _slc_cube(
    spark: SparkSession, bdf: DataFrame, config: CubeConfig, with_rpc: bool
) -> Datacube:
    """SLC crawl + decode, shared by the directory-crawl and
    explicit-list entry points."""
    from icecube_spark.sources.hdf5 import crawl_slc_metadata, decode_slc

    meta = crawl_slc_metadata(bdf)
    layers = meta.join(
        decode_slc(bdf).select(
            "path",
            F.col("s_i").alias("Real"),
            F.col("s_q").alias("Complex"),
        ),
        "path",
    )
    if with_rpc:
        from icecube_spark.sources.rpc import crawl_rpc_metadata

        layers = layers.join(crawl_rpc_metadata(bdf), "path", "left")
    return _filter_and_grid(spark, layers, config, ["Real", "Complex"])


def create_cube_from_list(
    spark: SparkSession,
    paths: list,
    config: CubeConfig | str | None,
    with_rpc: bool = False,
) -> Datacube:
    """Build a cube from an explicit raster list — the reference's
    IceyeProcessGenerateCube.create_cube_from_list
    (generate_cube.py:94-117): the first entry's extension picks the
    product family (.tif/.tiff -> GRD, .h5 -> SLC); anything else
    raises, matching the reference's inconsistent-extension error.
    The list lands in ONE binaryFile scan, so decode parallelism and
    pushdown are identical to the directory-crawl path."""
    from pathlib import Path

    if not paths:
        raise ValueError("impossible to pre-process an empty raster list")
    paths = [str(p) for p in paths]
    if not isinstance(config, CubeConfig):
        config = CubeConfig.load(config)
    ext = Path(paths[0]).suffix.lower()
    if ext in (".tif", ".tiff"):
        bdf = spark.read.format("binaryFile").load(paths)
        return _grd_cube(spark, bdf, config)
    if ext == ".h5":
        bdf = spark.read.format("binaryFile").load(paths)
        return _slc_cube(spark, bdf, config, with_rpc)
    raise ValueError(
        f"cannot proceed: extension {ext!r} of the first file is not"
        " .tif/.tiff or .h5"
    )


def build_cube(
    df: DataFrame,
    config: CubeConfig,
    key_col: str,
    ts_col: str,
    angle_col: str | None,
    band_cols: list[str],
    extent_cols: tuple[str, str] | None = None,
) -> Datacube:
    """Config-driven cube build for any keyed layer series — the
    SARDatacubeMetadata.filter_metadata_df_as_per_configuration
    (sar_datacube_metadata.py:122-147) chain generalized to a key
    column (the create_cube_from_* entry points use _filter_and_grid
    instead). Applies, in reference order:
    date filter, angle filter, temporal dedup (unless
    temporal_overlap), spatial overlap (unless coregistered), and
    leaves resampling to `temporal.resample_to_grid` (gap rows only
    make sense on an aggregated view).
    """
    out = temporal.date_range_filter(df, ts_col, config.start_date, config.end_date)
    if angle_col is not None:
        out = temporal.value_range_filter(
            out, angle_col, config.min_incidence_angle, config.max_incidence_angle
        )
    if not config.temporal_overlap:
        out = temporal.latest_per_period(out, ts_col, [key_col])
    if config.space_overlap and not config.coregistered and extent_cols:
        out = spatial.overlap_with_primary_1d(
            out, extent_cols[0], extent_cols[1], order_cols=[ts_col]
        )
    return Datacube(out, key_col, ts_col, band_cols)
