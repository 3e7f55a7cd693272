"""Rational-polynomial-coefficient (RPC) metadata ingestion — parity
with the reference's geocoding metadata carriers:

- SLC: `parse_slc_rpc_to_meta_dict` (icecube/utils/analytics_IO.py:280)
  reads the `RPC/` group of the product .h5 into per-field arrays;
- GRD: `_parse_GRD_RPC` (analytics_IO.py:876) reads the geotiff's RPC
  tag namespace into a (4, 20) coefficient matrix + offset/scale
  metadata, with None when the raster carries no RPC.

Spark-first shape: one row per product with the four 20-term
coefficient vectors as typed array<double> columns and the ten
offset/scale scalars as doubles, named exactly as the reference's
RPC_metadata dict (lat_mean, az_idx_scale_factor, ...) so downstream
geocoding reads the same fields. Crawls run as Arrow-batched
mapInPandas over the binaryFile source — payloads stay on executors.

The TIFF side decodes tag 50844 (RPCCoefficientTag: 92 IEEE doubles —
ERR_BIAS, ERR_RAND, LINE_OFF, SAMP_OFF, LAT_OFF, LONG_OFF, HEIGHT_OFF,
LINE_SCALE, SAMP_SCALE, LAT_SCALE, LONG_SCALE, HEIGHT_SCALE, then
LINE_NUM/LINE_DEN/SAMP_NUM/SAMP_DEN x20), the binary carrier rasterio
presents as tags(ns="RPC"); the reference's own GRD fixtures carry
this tag and decode to full coefficient sets. Products without RPC
crawl to no rows (the reference stores RPC=None for them).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from icecube_spark.sources.layers import map_products

RPC_FIELDS = [
    ("az_num_coeff", "LINE_NUM_COEFF"),
    ("az_den_coeff", "LINE_DEN_COEFF"),
    ("range_num_coeff", "SAMP_NUM_COEFF"),
    ("range_den_coeff", "SAMP_DEN_COEFF"),
]
RPC_SCALARS = [
    ("lat_mean", "LAT_OFF"),
    ("lat_scale_factor", "LAT_SCALE"),
    ("lon_mean", "LONG_OFF"),
    ("lon_scale_factor", "LONG_SCALE"),
    ("height_mean", "HEIGHT_OFF"),
    ("height_scale_factor", "HEIGHT_SCALE"),
    ("az_idx_mean", "LINE_OFF"),
    ("az_idx_scale_factor", "LINE_SCALE"),
    ("range_idx_mean", "SAMP_OFF"),
    ("range_idx_scale_factor", "SAMP_SCALE"),
]

RPC_SCHEMA = (
    "path string, "
    + ", ".join(f"{k} array<double>" for k, _ in RPC_FIELDS)
    + ", "
    + ", ".join(f"{k} double" for k, _ in RPC_SCALARS)
)

_SLC_WANT = {f"RPC/{src}" for _, src in RPC_FIELDS + RPC_SCALARS}
_RPC_TAG = 50844


def slc_rpc_dict(h5: dict) -> dict | None:
    """RPC fields from a decoded SLC .h5 ({path: value} as returned
    by sources.hdf5.read_h5/load_h5). None when the product has no
    RPC group — the reference warns and stores None the same way."""
    out: dict = {}
    for col, src in RPC_FIELDS:
        v = h5.get(f"RPC/{src}")
        if not isinstance(v, np.ndarray) or v.size != 20:
            return None
        out[col] = [float(x) for x in np.ravel(v)]
    for col, src in RPC_SCALARS:
        v = h5.get(f"RPC/{src}")
        if v is None or isinstance(v, Exception):
            return None
        out[col] = float(np.ravel(v)[0])
    return out


def tiff_rpc_dict(data: bytes) -> dict | None:
    """RPC fields from a geotiff's RPCCoefficientTag (50844), the
    reference's _parse_GRD_RPC surface. None when the tag is absent
    or malformed (reference: warns, sets RPC=None)."""
    from icecube_spark.sources.raster import _read_ifd

    parsed = _read_ifd(data)
    if parsed is None:
        return None
    _, tags = parsed
    vals = tags.get(_RPC_TAG)
    if not vals or len(vals) != 92:
        return None
    v = [float(x) for x in vals]
    scalars = {
        "az_idx_mean": v[2], "range_idx_mean": v[3],
        "lat_mean": v[4], "lon_mean": v[5], "height_mean": v[6],
        "az_idx_scale_factor": v[7], "range_idx_scale_factor": v[8],
        "lat_scale_factor": v[9], "lon_scale_factor": v[10],
        "height_scale_factor": v[11],
    }
    out: dict = {
        "az_num_coeff": v[12:32],
        "az_den_coeff": v[32:52],
        "range_num_coeff": v[52:72],
        "range_den_coeff": v[72:92],
    }
    out.update(scalars)
    return out


def _rpc_row(path: str, data: bytes) -> dict | None:
    """One product's RPC row, its format sniffed by magic bytes, or
    None when it carries no RPC data."""
    from icecube_spark.sources.hdf5 import _SIG, load_h5

    if data[:8] == _SIG:
        try:
            rpc = slc_rpc_dict(load_h5(data, want=_SLC_WANT))
        except (NotImplementedError, ValueError):
            return None
    elif data[:2] in (b"II", b"MM"):
        rpc = tiff_rpc_dict(data)
    else:
        return None
    return None if rpc is None else {"path": path, **rpc}


def crawl_rpc_metadata(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows (.h5 SLC products and/or .tif GRD products) →
    one RPC row per product that carries RPC data. Format sniffed by
    magic bytes; products without RPC are dropped (the reference
    stores RPC=None for them)."""
    return map_products(binary_df, _rpc_row, RPC_SCHEMA)
