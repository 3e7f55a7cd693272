"""One parse per product: the fused GRD/SLC layer readers against the
crawl ⨝ decode they replace, the cube plan shape, and the
generate_cube CLI's single-decode export and its netCDF writer — all
on stacks synthesized in the test, no reference fixtures needed — and
the Python workers the readers run in."""

import os
import struct
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from icecube_spark.config import CubeConfig
from icecube_spark.cube import _filter_and_grid, create_cube_from_slc
from icecube_spark.sources.hdf5_write import write_h5
from tests.conftest import run_in_job_group
from tests.test_scale_paths import _mk_tiff_full

_SLC_DATES = {  # name -> (acquisition_end_utc, incidence_center)
    "slc_a.h5": ("2021-03-01T08:00:00.000000", 25.0),
    "slc_b.h5": ("2021-03-02T20:00:00Z", 30.0),
    "slc_c.h5": ("2021-03-04T10:30:00", 41.0),  # dropped by the angle
}
_KEEP = {
    "start_date": 20210301,
    "end_date": 20210331,
    "max_incidence_angle": 35.0,
    "temporal_overlap": True,
}


def _slc_stack(path, names=_SLC_DATES, extras=True):
    """An SLC stack written with write_h5; `extras` adds a non-HDF5
    .h5 and an .h5 without s_q, which every reader must drop from the
    cube. Returns {name: s_i}."""
    rng = np.random.default_rng(11)
    s_i = {}
    for name, (end_utc, angle) in names.items():
        s_i[name] = rng.normal(0, 300, (4, 5)).astype("i2")
        (path / name).write_bytes(
            write_h5(
                {
                    "s_i": s_i[name],
                    "s_q": rng.normal(0, 300, (4, 5)).astype("i2"),
                    "product_file": name,
                    "acquisition_end_utc": end_utc,
                    "incidence_center": np.array([angle], dtype="f8"),
                    "orbit_direction": "ASCENDING",
                    "number_of_azimuth_samples": np.array([4], dtype="i4"),
                    "number_of_range_samples": np.array([5], dtype="i4"),
                }
            )
        )
    if extras:
        (path / "junk.h5").write_bytes(b"not an HDF5 file at all")
        (path / "no_sq.h5").write_bytes(
            write_h5(
                {
                    "s_i": np.ones((4, 5), "i2"),
                    "product_file": "no_sq.h5",
                    "acquisition_end_utc": "2021-03-05T00:00:00.000000",
                }
            )
        )
    return s_i


def _with_gdal_metadata(tiff: bytes, items: dict) -> bytes:
    """Rewrite a little-endian `_mk_tiff_full` TIFF with a GDAL_METADATA
    (42112) ASCII tag: a copy of its IFD plus that entry is appended
    and the header points at it (the old entries' offsets stay
    valid)."""
    xml = "<GDALMetadata>" + "".join(
        f'<Item name="{k}">{v}</Item>' for k, v in items.items()
    ) + "</GDALMetadata>"
    raw = xml.encode() + b"\x00"
    (n,) = struct.unpack("<H", tiff[8:10])
    body = tiff + b"\x00" * (len(tiff) % 2)
    ifd_off = len(body)
    data_off = ifd_off + 2 + 12 * (n + 1) + 4
    ifd = (
        struct.pack("<H", n + 1)
        + tiff[10 : 10 + 12 * n]
        + struct.pack("<HHII", 42112, 2, len(raw), data_off)
        + struct.pack("<I", 0)
    )
    return b"II" + struct.pack("<HI", 42, ifd_off) + body[8:] + ifd + raw


def _grd_stack(path):
    rng = np.random.RandomState(3)
    for i, (end_utc, angle) in enumerate(
        [("2021-04-27T21:51:24.500000", 29.5), ("2021-04-28T21:51:24.500000", 31.0)]
    ):
        pix = rng.randint(0, 60000, size=(6, 7)).astype("uint16")
        (path / f"grd_{i}.tif").write_bytes(
            _with_gdal_metadata(
                _mk_tiff_full(pix, 16, strips=2),
                {
                    "product_file": f"GRD_{i}",
                    "acquisition_end_utc": end_utc,
                    "incidence_center": angle,
                    "orbit_direction": "DESCENDING",
                    "number_of_range_samples": 7,
                    "number_of_azimuth_samples": 6,
                },
            )
        )
    # no GDAL tag: the shape falls back to the TIFF header
    (path / "bare.tif").write_bytes(
        _mk_tiff_full(rng.randint(0, 255, size=(3, 2)).astype("uint8"), 8)
    )
    (path / "junk.tif").write_bytes(b"II not a tiff")


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: r[0]
    )


def _binary(spark, path):
    return spark.read.format("binaryFile").load(str(path))


def test_slc_reader_equals_crawl_join_decode(spark, tmp_path):
    from icecube_spark.sources.hdf5 import (
        crawl_slc_metadata,
        decode_slc,
        read_slc_layers,
    )

    s_i = _slc_stack(tmp_path)
    bdf = _binary(spark, tmp_path)
    old = crawl_slc_metadata(bdf).join(
        decode_slc(bdf).select(
            "path", F.col("s_i").alias("Real"), F.col("s_q").alias("Complex")
        ),
        "path",
    )
    new = read_slc_layers(bdf)
    assert new.schema == old.schema
    got = _rows(new)
    assert got == _rows(old)
    assert [r[1] for r in got] == sorted(_SLC_DATES)
    by_name = {r.product_file: r for r in new.collect()}
    assert by_name["slc_a.h5"].Real == list(s_i["slc_a.h5"].astype("f8").ravel())
    # every acquisition_end_utc spelling parses to its date
    assert {n: str(r.acquisition_date) for n, r in by_name.items()} == {
        "slc_a.h5": "2021-03-01", "slc_b.h5": "2021-03-02",
        "slc_c.h5": "2021-03-04",
    }


def test_grd_reader_equals_crawl_join_decode(spark, tmp_path):
    from icecube_spark.sources.raster import (
        crawl_iceye_metadata,
        decode_rasters,
        read_grd_layers,
    )

    _grd_stack(tmp_path)
    bdf = _binary(spark, tmp_path)
    old = crawl_iceye_metadata(bdf).join(
        decode_rasters(bdf).select("path", "pixels"), "path"
    )
    new = read_grd_layers(bdf)
    assert new.schema == old.schema
    assert _rows(new) == _rows(old)
    by_name = {r.product_file: r for r in new.collect()}
    assert sorted(by_name) == ["GRD_0", "GRD_1", "bare.tif"]
    assert (by_name["GRD_1"].incidence_center, by_name["GRD_1"].width) == (31.0, 7)
    assert str(by_name["GRD_0"].acquisition_date) == "2021-04-27"
    bare = by_name["bare.tif"]
    assert (bare.height, bare.width, bare.acquisition_date) == (3, 2, None)


@pytest.mark.parametrize("grid", [0, 1])
def test_cube_schema_unchanged(spark, tmp_path, grid):
    """Both families' cube frames keep the schema the crawl ⨝ decode
    join gave them, with and without the temporal grid."""
    from icecube_spark.cube import create_cube_from_rasters
    from icecube_spark.sources.hdf5 import crawl_slc_metadata, decode_slc
    from icecube_spark.sources.raster import crawl_iceye_metadata, decode_rasters

    cfg = CubeConfig.from_dict({**_KEEP, "temporal_resolution": grid})
    (tmp_path / "slc").mkdir()
    (tmp_path / "grd").mkdir()
    _slc_stack(tmp_path / "slc")
    _grd_stack(tmp_path / "grd")
    sdf = _binary(spark, tmp_path / "slc")
    slc_join = crawl_slc_metadata(sdf).join(
        decode_slc(sdf).select(
            "path", F.col("s_i").alias("Real"), F.col("s_q").alias("Complex")
        ),
        "path",
    )
    gdf = _binary(spark, tmp_path / "grd")
    grd_join = crawl_iceye_metadata(gdf).join(
        decode_rasters(gdf).select("path", "pixels"), "path"
    )
    for dc, join, bands in (
        (create_cube_from_slc(spark, str(tmp_path / "slc"), cfg), slc_join,
         ["Real", "Complex"]),
        (create_cube_from_rasters(spark, str(tmp_path / "grd"), cfg), grd_join,
         ["pixels"]),
    ):
        want = _filter_and_grid(spark, join, cfg, bands)
        assert dc.df.schema == want.df.schema
        assert dc.ts_col == want.ts_col and dc.band_cols == bands


def test_slc_cube_plan_parses_once(spark, tmp_path):
    """The cube plan reads the products in one Python map, no join."""
    _slc_stack(tmp_path)
    df = create_cube_from_slc(
        spark, str(tmp_path), CubeConfig.from_dict(_KEEP)
    ).df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan
    assert sorted(r.product_file for r in df.collect()) == ["slc_a.h5", "slc_b.h5"]


def _config(tmp_path, cfg):
    import json

    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    return str(p)


def _persistent(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cli_saves_kept_products_and_releases_cache(spark, tmp_path):
    """`--cube-save` on a synthesized SLC stack writes the config's
    products, in date order, with s_i as the pixels; the reopened
    frame has the pandas-built schema and the CLI persists nothing
    past its return."""
    from icecube_spark.generate_cube import cli
    from icecube_spark.sources.netcdf3 import netcdf_to_cube

    stack = tmp_path / "stack"
    stack.mkdir()
    s_i = _slc_stack(stack)
    out = str(tmp_path / "cube.nc")
    before = _persistent(spark)
    dc = cli(
        [str(stack), "--config", _config(tmp_path, _KEEP), "--cube-save", out],
        spark=spark,
    )
    assert _persistent(spark) == before
    assert dc.df.count() == 2
    back = netcdf_to_cube(spark, out)
    assert back.df.schema.simpleString() == (
        "struct<height:bigint,pixels:array<double>,product_file:string,"
        "slot_date:date,width:bigint>"
    )
    rows = back.df.orderBy("slot_date").collect()
    assert [r.product_file for r in rows] == ["slc_a.h5", "slc_b.h5"]
    assert [(r.height, r.width) for r in rows] == [(4, 5), (4, 5)]
    for r in rows:
        assert r.pixels == list(s_i[r.product_file].astype("f8").ravel())


@pytest.mark.parametrize(
    "grid, why", [(0, "empty cube"), (7, "no layer of the cube carries a shape")]
)
def test_cli_refuses_empty_cube_and_releases_cache(spark, tmp_path, grid, why):
    """A config that keeps no product reaches the export's refusal
    (not a crash in the layer-shape inference) — with a temporal grid
    the cube holds only shapeless gap rows — and the cache is
    released on that path too."""
    from icecube_spark.generate_cube import cli

    stack = tmp_path / "stack"
    stack.mkdir()
    _slc_stack(stack, extras=False)
    cfg = _config(
        tmp_path,
        {**_KEEP, "start_date": 20220101, "end_date": 20220131,
         "temporal_resolution": grid},
    )
    before = _persistent(spark)
    with pytest.raises(ValueError, match=why):
        cli(
            [str(stack), "--config", cfg, "--cube-save", str(tmp_path / "x.nc")],
            spark=spark,
        )
    assert _persistent(spark) == before
    assert not (tmp_path / "x.nc").exists()


def test_cube_to_netcdf_refuses_empty_cube(spark, tmp_path):
    from icecube_spark.sources.netcdf3 import cube_to_netcdf

    _slc_stack(tmp_path, extras=False)
    dc = create_cube_from_slc(
        spark, str(tmp_path),
        CubeConfig.from_dict({**_KEEP, "start_date": 20220101, "end_date": 20220131}),
    )
    dc.df = dc.df.withColumn("pixels", F.col("Real"))
    with pytest.raises(ValueError, match="empty cube"):
        cube_to_netcdf(dc, str(tmp_path / "empty.nc"), 4, 5)


def _export_collects(spark, monkeypatch):
    """Record the columns of every frame the export collects."""
    DataFrame = type(spark.range(0))
    shipped, to_arrow = [], DataFrame.toArrow

    def recording(self):
        shipped.append(self.columns)
        return to_arrow(self)

    monkeypatch.setattr(DataFrame, "toArrow", recording)
    return shipped


@pytest.mark.parametrize(
    "height, width, max_layers",
    # 2 layers of 8192x8200 float64 are 1.001 GiB dense: under the 4 GiB
    # cap, over the session's default 1 GiB spark.driver.maxResultSize
    [(None, None, 1), (8192, 8200, 4096)],
    ids=["max_layers", "max_result_size"],
)
def test_export_guard_refuses_before_collect(
    spark, tmp_path, monkeypatch, height, width, max_layers
):
    """A cube over the layer budget, or whose dense pixels pass
    spark.driver.maxResultSize, is refused before any pixel is
    collected: no file, and the CLI's persisted decode is released."""
    from icecube_spark.generate_cube import _decoded_once
    from icecube_spark.sources.netcdf3 import cube_to_file

    _slc_stack(tmp_path)
    dc = create_cube_from_slc(spark, str(tmp_path), CubeConfig.from_dict(_KEEP))
    shipped = _export_collects(spark, monkeypatch)
    out = tmp_path / "x.nc"
    before = _persistent(spark)
    with pytest.raises(ValueError, match="refusing single-file"):
        with _decoded_once(dc):
            cube_to_file(dc, str(out), height, width, max_layers=max_layers)
    assert shipped == []
    assert _persistent(spark) == before
    assert not out.exists()


def test_export_guard_refuses_over_the_cdf1_variable_limit(
    spark, tmp_path, monkeypatch
):
    """With spark.driver.maxResultSize above 4 GiB, a classic export
    whose intensity variable passes the CDF-1 limit (2 GiB - 4 bytes;
    2 layers of 12000x12000 float64 are 2.1 GiB) is refused before
    any pixel is collected, against the format's budget."""
    from icecube_spark.sources.netcdf3 import cube_to_file

    _slc_stack(tmp_path)
    dc = create_cube_from_slc(spark, str(tmp_path), CubeConfig.from_dict(_KEEP))
    shipped = _export_collects(spark, monkeypatch)
    out = tmp_path / "x.nc"
    conf = spark.sparkContext._jsc.sc().conf()
    key = "spark.driver.maxResultSize"
    old = conf.getOption(key)
    conf.set(key, "8g")
    try:
        with pytest.raises(ValueError, match="the budget is 2047 MiB"):
            cube_to_file(dc, str(out), 12000, 12000, format="NETCDF3_CLASSIC")
    finally:
        if old.isDefined():
            conf.set(key, old.get())
        else:
            conf.remove(key)
    assert shipped == []
    assert not out.exists()


@pytest.mark.parametrize(
    "version, variables",
    [
        # 2.3 GiB of doubles: over the 2 GiB - 4 byte CDF-1 variable limit
        (1, {"v": ((1024, 1024), 300, "f8")}),
        # 4.7 GiB: over the 4 GiB - 4 byte CDF-2 limit
        (2, {"v": ((1024, 1024), 600, "f8")}),
        # each under the limit, but the second starts past CDF-1's
        # 32-bit offsets
        (1, {"a": ((1,), 2**31 - 8, "i1"), "b": ((1,), 4, "i1")}),
    ],
    ids=["cdf1_vsize", "cdf2_vsize", "cdf1_offset"],
)
def test_write_netcdf3_refuses_what_the_header_cannot_hold(
    tmp_path, version, variables
):
    """write_netcdf3 names the netCDF-3 limit in a ValueError before it
    opens the file, instead of failing in struct.pack. The arrays are
    np.broadcast_to views, so nothing is allocated."""
    from icecube_spark.sources.netcdf3 import write_netcdf3

    dims, vs = {}, {}
    for name, (tail, n, dtype) in variables.items():
        shape = (n, *tail)
        names = tuple(f"{name}{i}" for i in range(len(shape)))
        dims.update(zip(names, shape))
        vs[name] = (names, np.broadcast_to(np.zeros(1, dtype), shape), {})
    out = tmp_path / "big.nc"
    with pytest.raises(ValueError, match="at most|CDF-1 offsets"):
        write_netcdf3(str(out), dims, vs, version=version)
    assert not out.exists()


@pytest.mark.parametrize("case", ["grid", "netcdf3_64bit", "labels"])
def test_cli_export_round_trip(spark, tmp_path, monkeypatch, case):
    """The CLI's export inputs beyond the plain stack: a gridded cube,
    whose gap slots reopen as null pixels and product; the CDF-2
    format; and a labels join, whose column the export never ships.
    Every export collects only key, time and band (Real)."""
    import json

    from icecube_spark.generate_cube import cli
    from icecube_spark.sources.netcdf3 import netcdf_to_cube

    stack = tmp_path / "stack"
    stack.mkdir()
    s_i = _slc_stack(stack, extras=False)
    cfg = {**_KEEP, "temporal_resolution": 1} if case == "grid" else _KEEP
    out = str(tmp_path / "cube.nc")
    argv = [str(stack), "--config", _config(tmp_path, cfg), "--cube-save", out]
    if case == "netcdf3_64bit":
        argv += ["--format", "NETCDF3_64BIT"]
    if case == "labels":
        labels = tmp_path / "labels.json"
        labels.write_text(json.dumps([
            {"product_file": name, "labels": {"objects": [
                {"class": "ship",
                 "bbox": {"xmin": 0, "ymin": 1, "xmax": 2, "ymax": 3}}]}}
            for name in ("slc_a.h5", "slc_b.h5")
        ]))
        argv += ["--labels-fpath", str(labels)]
    shipped = _export_collects(spark, monkeypatch)
    dc = cli(argv, spark=spark)
    assert shipped == [["product_file", dc.ts_col, "Real"]]
    assert ("labels" in dc.df.columns) == (case == "labels")
    if case == "netcdf3_64bit":
        with open(out, "rb") as f:
            assert f.read(4) == b"CDF\x02"
    rows = netcdf_to_cube(spark, out).df.orderBy("slot_date").collect()
    kept = [(r.product_file, r.pixels) for r in rows if r.pixels is not None]
    assert kept == [
        (name, list(s_i[name].astype("f8").ravel()))
        for name in ("slc_a.h5", "slc_b.h5")
    ]
    if case == "grid":
        assert [str(r.slot_date) for r in rows[:3]] == [
            "2021-03-01", "2021-03-02", "2021-03-03"
        ]
        assert len(rows) == 31
        assert all(r.product_file is None for r in rows[2:])


def test_non_ascii_product_name_round_trips(spark, tmp_path):
    """strlen is sized in encoded bytes: a product name whose UTF-8
    form is longer than its characters exports and reopens intact."""
    from icecube_spark.generate_cube import cli
    from icecube_spark.sources.netcdf3 import netcdf_to_cube

    stack = tmp_path / "stack"
    stack.mkdir()
    names = {"é.h5": _SLC_DATES["slc_a.h5"], "a.h5": _SLC_DATES["slc_b.h5"]}
    s_i = _slc_stack(stack, names, extras=False)
    out = str(tmp_path / "cube.nc")
    cli([str(stack), "--config", _config(tmp_path, _KEEP), "--cube-save", out],
        spark=spark)
    rows = netcdf_to_cube(spark, out).df.orderBy("slot_date").collect()
    assert [r.product_file for r in rows] == ["é.h5", "a.h5"]
    assert rows[0].pixels == list(s_i["é.h5"].astype("f8").ravel())


def test_export_layer_order_matches_accessors(spark, tmp_path):
    """Two kept products on one date: the exported product_file order
    is the cube's one (time, product) layer order, the same list
    get_all_products and get_index_values return. The longer-named
    product is the bigger file, so Spark's read order (files by size,
    descending) lists it first; a sort on the date alone would keep
    that order."""
    from icecube_spark.generate_cube import cli
    from icecube_spark.sources.netcdf3 import read_netcdf3

    stack = tmp_path / "stack"
    stack.mkdir()
    names = {
        "slc_a.h5": ("2021-03-02T08:00:00.000000", 25.0),
        "slc_b_with_a_longer_name.h5": ("2021-03-02T20:00:00Z", 30.0),
        "slc_c.h5": ("2021-03-01T08:00:00.000000", 28.0),
    }
    _slc_stack(stack, names, extras=False)
    out = str(tmp_path / "cube.nc")
    dc = cli(
        [str(stack), "--config", _config(tmp_path, _KEEP), "--cube-save", out],
        spark=spark,
    )
    _, variables, _ = read_netcdf3(out)
    exported = [
        b"".join(row).decode().rstrip("\x00")
        for row in variables["product_file"][1]
    ]
    want = ["slc_c.h5", "slc_a.h5", "slc_b_with_a_longer_name.h5"]
    assert exported == want
    assert dc.get_all_products() == want
    assert dc.get_index_values("product_file") == want


@pytest.mark.parametrize("save, jobs", [(True, 2), (False, 1)],
                         ids=["cube_save", "dimensions_only"])
def test_cli_job_count(spark, tmp_path, save, jobs):
    """One CLI call runs one metadata collect over the persisted cube
    (the printed dimensions, the layer shape and the export guard)
    and, with --cube-save, one unordered pixel collect: 2 Spark jobs,
    1 without an export. Counted in the call's job group, so the
    count does not depend on the host."""
    from icecube_spark.generate_cube import cli

    stack = tmp_path / "stack"
    stack.mkdir()
    _slc_stack(stack)
    argv = [str(stack), "--config", _config(tmp_path, _KEEP)]
    if save:
        argv += ["--cube-save", str(tmp_path / "cube.nc")]
    ran, _ = run_in_job_group(
        spark, lambda: cli(argv, spark=spark), f"cli-job-count-{save}"
    )
    assert ran == jobs
    assert (tmp_path / "cube.nc").exists() == save


def test_export_layer_order_at_corner_cases(spark, tmp_path):
    """The export sorts its unordered collect on the driver; that sort
    must agree with Spark's orderBy. A 1-day grid has gap slots with a
    null product_file, and three kept products share a date. Their
    names order differently as UTF-8 bytes (Spark's string order) and
    as UTF-16 units: U+FF5E comes before U+1F600 only in the first.
    The exported product and date order is the one Datacube.layers()
    and get_index_values give."""
    from icecube_spark.generate_cube import cli
    from icecube_spark.sources.netcdf3 import read_netcdf3

    stack = tmp_path / "stack"
    stack.mkdir()
    names = {
        "slc_\U0001F600.h5": ("2021-03-02T09:00:00Z", 28.0),
        "slc_z.h5": ("2021-03-02T08:00:00.000000", 25.0),
        "slc_～.h5": ("2021-03-02T20:00:00Z", 30.0),
        "slc_a.h5": ("2021-03-01T08:00:00.000000", 28.0),
    }
    _slc_stack(stack, names, extras=False)
    out = str(tmp_path / "cube.nc")
    dc = cli(
        [str(stack), "--config",
         _config(tmp_path, {**_KEEP, "temporal_resolution": 1}),
         "--cube-save", out],
        spark=spark,
    )
    _, variables, _ = read_netcdf3(out)
    exported = [
        (b"".join(n).decode().rstrip("\x00"), b"".join(d).decode())
        for n, d in zip(
            variables["product_file"][1], variables["acquisition_date"][1]
        )
    ]
    in_spark = [
        (k or "None", str(t))
        for k, t in dc.layers().select(dc.key_col, dc.ts_col).collect()
    ]
    by_index = [
        (k or "None", str(t))
        for k, t in zip(
            dc.get_index_values(dc.key_col), dc.get_index_values(dc.ts_col)
        )
    ]
    assert exported == in_spark == by_index
    assert exported[:4] == [
        ("slc_a.h5", "2021-03-01"), ("slc_z.h5", "2021-03-02"),
        ("slc_～.h5", "2021-03-02"), ("slc_\U0001F600.h5", "2021-03-02"),
    ]
    assert len(exported) == 33
    assert all(n == "None" for n, _ in exported[4:])


def test_netcdf4_writer_branch(spark, tmp_path, monkeypatch):
    """With a netCDF4 library importable, cube_to_file writes through
    its Dataset API. A stub module records what it is handed: the
    same pixels, product names and dates the CDF-1 export holds."""
    import sys
    import types

    from icecube_spark.sources.netcdf3 import cube_to_file, read_netcdf3

    class Variable:
        def __init__(self, dtype, dims):
            self.dtype, self.dims, self.items = dtype, dims, {}

        def __setitem__(self, index, value):
            self.items[index if isinstance(index, int) else "all"] = value

    class Dataset:
        opened = []

        def __init__(self, path, mode, format):
            self.path, self.mode, self.format = path, mode, format
            self.dims, self.vars, self.closed = {}, {}, False
            Dataset.opened.append(self)

        def createDimension(self, name, size):
            self.dims[name] = size

        def createVariable(self, name, dtype, dims):
            self.vars[name] = Variable(dtype, dims)
            return self.vars[name]

        def close(self):
            self.closed = True

    monkeypatch.setitem(
        sys.modules, "netCDF4", types.SimpleNamespace(Dataset=Dataset)
    )
    stack = tmp_path / "stack"
    stack.mkdir()
    _slc_stack(stack, extras=False)
    dc = create_cube_from_slc(
        spark, str(stack),
        CubeConfig.from_dict({**_KEEP, "temporal_resolution": 1}),
    )
    p4, p3 = str(tmp_path / "cube4.nc"), str(tmp_path / "cube3.nc")
    assert cube_to_file(dc, p4, format="NETCDF4") == "NETCDF4"
    assert cube_to_file(dc, p3, format="NETCDF3_CLASSIC") == "NETCDF3_CLASSIC"
    (ds,) = Dataset.opened
    assert (ds.path, ds.mode, ds.format, ds.closed) == (p4, "w", "NETCDF4", True)
    assert (ds.source, ds.Conventions) == ("icecube_spark", "CF-1.6")
    dims, variables, _ = read_netcdf3(p3)
    assert ds.dims == {k: dims[k] for k in ("band", "azimuth", "range")}
    assert sorted(ds.vars) == ["acquisition_date", "intensity", "product_file"]
    v = ds.vars["intensity"]
    assert (v.dtype, v.dims, v.long_name) == (
        "f8", ("band", "azimuth", "range"), "Intensity"
    )
    np.testing.assert_array_equal(v.items["all"], variables["intensity"][1])
    for name in ("product_file", "acquisition_date"):
        var = ds.vars[name]
        assert (var.dtype, var.dims) == (str, ("band",))
        assert [var.items[i] for i in range(dims["band"])] == [
            b"".join(row).decode().rstrip("\x00")
            for row in variables[name][1]
        ]


def test_write_netcdf3_streams_to_file(tmp_path):
    """The writer sends the header and then each variable to the file
    a slice at a time: writing a 32 MiB (16, 512, 512) float64 cube
    allocates at most about 1.1x its bytes (building the whole file
    in memory took 3x), and the cube reads back exactly."""
    import tracemalloc

    from icecube_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    p = str(tmp_path / "big.nc")
    a = np.random.default_rng(5).random((16, 512, 512))
    names = np.array([f"p{i:02d}".encode() for i in range(16)])
    tracemalloc.start()
    try:
        write_netcdf3(
            p,
            dims={"band": 16, "y": 512, "x": 512, "strlen": 3},
            variables={
                "intensity": (("band", "y", "x"), a, {}),
                "name": (("band", "strlen"), names.view("S1").reshape(16, 3), {}),
            },
        )
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= 1.1 * a.nbytes, peak
    _, variables, _ = read_netcdf3(p)
    assert (variables["intensity"][1] == a).all()
    assert variables["name"][1].tobytes() == names.tobytes()


def _in_worker(spark, fn, schema):
    """Run `fn()` once inside a Python worker; return its one row."""
    import pandas as pd

    def task(batches):
        for _ in batches:
            yield pd.DataFrame([fn()])

    return spark.range(1, numPartitions=1).mapInPandas(task, schema).first()


def test_workers_keep_unchanged_zip_directories(spark):
    """Workers fork from icecube_spark.pydaemon, where
    importlib.invalidate_caches(), which PySpark calls before every
    task, re-reads no unchanged archive: every zip importer (pyspark,
    py4j, the Spark core jar) keeps its directory object. PySpark's own
    daemon re-reads all of them, 130-210 ms a task."""

    def probe():
        import importlib
        import zipimport

        importers = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
        ]
        before = [i._files for i in importers]
        importlib.invalidate_caches()
        return {
            "daemon": sys.modules["__main__"].__spec__.name,
            "importers": len(importers),
            "replaced": sum(i._files is not f for i, f in zip(importers, before)),
        }

    row = _in_worker(spark, probe, "daemon string, importers int, replaced int")
    assert row.importers > 0
    assert (row.daemon, row.replaced) == ("icecube_spark.pydaemon", 0)


def test_workers_reread_a_rewritten_zip(spark, tmp_path):
    """A zip rewritten on disk (here to another size) is still re-read
    by invalidate_caches() inside a worker, and a module imported from
    it returns its new value."""
    archive = str(tmp_path / "probe.zip")
    name = "icecube_zip_probe"

    def probe():
        import importlib
        import zipfile

        def write(value):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{name}.py", f"VALUE = {value!r}\n")

        write("old")
        sys.path.insert(0, archive)
        try:
            first = importlib.import_module(name).VALUE
            files = sys.path_importer_cache[archive]._files
            write("rewritten")
            importlib.invalidate_caches()
            reread = sys.path_importer_cache[archive]._files is not files
            del sys.modules[name]
            second = importlib.import_module(name).VALUE
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop(name, None)
        return {"first": first, "second": second, "reread": reread}

    row = _in_worker(spark, probe, "first string, second string, reread boolean")
    assert tuple(row) == ("old", "rewritten", True)


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """get_spark puts the directory holding icecube_spark on the
    workers' PYTHONPATH: a script run by absolute path from another
    working directory reads an SLC stack through read_slc_layers, whose
    worker function is pickled by reference to the package."""
    repo = Path(__file__).resolve().parents[1]
    stack = tmp_path / "stack"
    stack.mkdir()
    s_i = _slc_stack(stack, {"slc_a.h5": _SLC_DATES["slc_a.h5"]}, extras=False)
    script = tmp_path / "read_stack.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from icecube_spark.session import get_spark\n"
        "from icecube_spark.sources.hdf5 import read_slc_layers\n"
        "spark = get_spark('cwd-probe', 'local[1]')\n"
        f"bdf = spark.read.format('binaryFile').load({str(stack)!r})\n"
        "(row,) = read_slc_layers(bdf).collect()\n"
        "print(row.product_file, row.Real)\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    r = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    real = list(s_i["slc_a.h5"].astype("f8").ravel())
    assert r.stdout.splitlines()[-1] == f"slc_a.h5 {real}"
