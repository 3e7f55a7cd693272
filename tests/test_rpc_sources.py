"""RPC metadata ingestion (sources/rpc.py) — reference parity for
parse_slc_rpc_to_meta_dict (analytics_IO.py:280, SLC .h5 RPC group)
and _parse_GRD_RPC (analytics_IO.py:876, geotiff RPC tag)."""

import glob
import os
import struct

import numpy as np
import pytest

from icecube_spark.sources.hdf5 import read_h5
from icecube_spark.sources.rpc import (
    RPC_FIELDS,
    RPC_SCALARS,
    slc_rpc_dict,
    tiff_rpc_dict,
)

SLC = "/root/reference/tests/resources/slc_stack"
GRD = "/root/reference/tests/resources/grd_stack"

# on the tests that read the reference's fixtures; the rest run anywhere
needs_ref = pytest.mark.skipif(
    not glob.glob(os.path.join(SLC, "*.h5")), reason="reference fixtures absent"
)


@needs_ref
def test_slc_rpc_parity_with_fixture():
    """Every coefficient vector and offset/scale scalar matches the
    raw RPC/ datasets bit-for-bit (reference reads them as float32
    arrays; we widen to double)."""
    p = sorted(glob.glob(os.path.join(SLC, "*.h5")))[0]
    h5 = read_h5(open(p, "rb").read())
    rpc = slc_rpc_dict(h5)
    assert rpc is not None
    for col, src in RPC_FIELDS:
        want = np.asarray(h5[f"RPC/{src}"], dtype="f8")
        assert rpc[col] == list(want) and len(rpc[col]) == 20
    for col, src in RPC_SCALARS:
        assert rpc[col] == float(np.ravel(h5[f"RPC/{src}"])[0])


def test_slc_without_rpc_is_none():
    assert slc_rpc_dict({"s_i": np.zeros((2, 2))}) is None


def _tiff_with_rpc(vals) -> bytes:
    """Minimal classic TIFF carrying tag 50844 (92 doubles)."""
    n_tags = 3
    ifd_off = 8
    data_off = ifd_off + 2 + n_tags * 12 + 4
    head = b"II" + struct.pack("<HI", 42, ifd_off)
    ifd = struct.pack("<H", n_tags)
    ifd += struct.pack("<HHII", 256, 3, 1, 4)   # width
    ifd += struct.pack("<HHII", 257, 3, 1, 4)   # height
    ifd += struct.pack("<HHII", 50844, 12, len(vals), data_off)
    ifd += struct.pack("<I", 0)  # next IFD
    return head + ifd + struct.pack(f"<{len(vals)}d", *vals)


def test_tiff_rpc_tag_decode():
    vals = [float(i) for i in range(92)]
    rpc = tiff_rpc_dict(_tiff_with_rpc(vals))
    assert rpc is not None
    assert rpc["az_idx_mean"] == 2.0 and rpc["range_idx_mean"] == 3.0
    assert rpc["lat_mean"] == 4.0 and rpc["height_scale_factor"] == 11.0
    assert rpc["az_num_coeff"] == vals[12:32]
    assert rpc["range_den_coeff"] == vals[72:92]


def test_tiff_rpc_malformed_is_none():
    # reference _parse_GRD_RPC_vect: wrong coefficient count -> None
    assert tiff_rpc_dict(_tiff_with_rpc([1.0] * 40)) is None
    # plain TIFF without the tag -> None
    assert tiff_rpc_dict(b"II*\x00\x08\x00\x00\x00\x00\x00\x00\x00\x00\x00") is None


@needs_ref
def test_grd_fixture_rpc_decodes():
    """The reference GRD fixtures carry RPCCoefficientTag 50844; the
    pure-python decode yields the same 4x20 + offsets the reference's
    rasterio tags(ns="RPC") path feeds _parse_GRD_RPC."""
    p = sorted(glob.glob(os.path.join(GRD, "*.tif")))[0]
    rpc = tiff_rpc_dict(open(p, "rb").read())
    assert rpc is not None
    for col, _ in RPC_FIELDS:
        assert len(rpc[col]) == 20
    assert rpc["lat_scale_factor"] != 0


@needs_ref
def test_distributed_rpc_crawl(spark):
    from icecube_spark.sources.rpc import crawl_rpc_metadata

    bdf = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.h5"
    ).load(SLC)
    rows = crawl_rpc_metadata(bdf).collect()
    assert len(rows) == 3
    for r in rows:
        assert len(r.az_num_coeff) == 20
        assert len(r.range_den_coeff) == 20
        assert r.lat_scale_factor > 0

    # GRD fixtures carry tag 50844: one RPC row per product
    gdf = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.tif"
    ).load(GRD)
    grows = crawl_rpc_metadata(gdf).collect()
    assert len(grows) == 3
    assert all(len(r.az_den_coeff) == 20 for r in grows)


@needs_ref
def test_cube_from_slc_with_rpc(spark):
    """create_cube_from_slc(with_rpc=True) carries the coefficient
    columns through the cube build."""
    from icecube_spark.cube import create_cube_from_slc

    cfg = "/root/reference/tests/resources/json_config/config_use_case_default.json"
    dc = create_cube_from_slc(spark, SLC, cfg, with_rpc=True)
    rows = dc.df.orderBy("acquisition_date").collect()
    assert len(rows) == 3
    for r in rows:
        assert len(r.az_num_coeff) == 20 and r.lat_mean is not None


def test_rpc_crawl_keeps_only_products_with_rpc(spark, tmp_path):
    """One row per product that carries RPC data, with its decoded
    fields: a plain TIFF and a junk file crawl to nothing."""
    from icecube_spark.sources.rpc import crawl_rpc_metadata

    vals = [float(i) for i in range(92)]
    (tmp_path / "a_rpc.tif").write_bytes(_tiff_with_rpc(vals))
    (tmp_path / "b_plain.tif").write_bytes(
        b"II*\x00\x08\x00\x00\x00\x00\x00\x00\x00\x00\x00"
    )
    (tmp_path / "c_junk.tif").write_bytes(b"not a product")
    bdf = spark.read.format("binaryFile").load(str(tmp_path))
    rows = crawl_rpc_metadata(bdf).collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row.pop("path").endswith("a_rpc.tif")
    assert row == tiff_rpc_dict(_tiff_with_rpc(vals))
