"""Classic netCDF-3 (CDF-1) bridge — dependency-free.

The reference exports cubes with xarray's to_netcdf
(icecube/bin/datacube.py:203 to_file) and re-imports them with
read_cube (datacube.py:30). This container ships no netCDF/HDF5
library, so this module implements the classic netCDF-3 binary
format directly (the NetCDF Classic Format spec: magic 'CDF\\x01',
dim/attr/var lists, big-endian fixed-size data). Files written here
open in any netCDF reader (xarray/scipy/netCDF4 — the reference's
environment), and reference-produced classic files load back.

Scale note: a single .nc is inherently a single-node artifact — the
reference's own to_file has the same property. The bridge exists for
interchange with reference-produced cubes; partitioned parquet
(cube.to_parquet) remains the at-scale storage path.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C

_DTYPES = {
    NC_BYTE: ("b", 1), NC_CHAR: ("c", 1), NC_SHORT: (">i2", 2),
    NC_INT: (">i4", 4), NC_FLOAT: (">f4", 4), NC_DOUBLE: (">f8", 8),
}
_NP_TO_NC = {"i1": NC_BYTE, "i2": NC_SHORT, "i4": NC_INT,
             "f4": NC_FLOAT, "f8": NC_DOUBLE}


_WRITE_SLICE = 1 << 17  # values converted per write: 1 MiB of doubles

# The largest variable a netCDF-3 header can size: `vsize` is 32 bits,
# signed in CDF-1 and unsigned in CDF-2 (the format spec's 2 GiB - 4
# and 4 GiB - 4 byte limits). CDF-1's begin offsets are signed 32
# bits too, so no CDF-1 variable may start past 2 GiB - 1.
MAX_VAR_BYTES = {1: 2**31 - 4, 2: 2**32 - 4}


def _pad(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _name(s: str) -> bytes:
    raw = s.encode()
    return struct.pack(">i", len(raw)) + _pad(raw)


def _attr_bytes(name: str, value) -> bytes:
    import numpy as np

    if isinstance(value, str):
        raw = value.encode()
        return _name(name) + struct.pack(">ii", NC_CHAR, len(raw)) + _pad(raw)
    arr = np.asarray(value)
    nct = _NP_TO_NC[arr.dtype.str[1:]] if arr.dtype.str[1:] in _NP_TO_NC else (
        NC_DOUBLE if arr.dtype.kind == "f" else NC_INT
    )
    np_t = _DTYPES[nct][0]
    data = arr.astype(np_t).tobytes()
    return _name(name) + struct.pack(">ii", nct, arr.size) + _pad(data)


def _attr_list(attrs: dict) -> bytes:
    if not attrs:
        return struct.pack(">ii", 0, 0)
    return struct.pack(">ii", _NC_ATTRIBUTE, len(attrs)) + b"".join(
        _attr_bytes(k, v) for k, v in attrs.items()
    )


def write_netcdf3(
    path: str,
    dims: dict[str, int],
    variables: dict[str, tuple[tuple[str, ...], "object", dict]],
    global_attrs: dict | None = None,
    version: int = 1,
) -> None:
    """Write a classic netCDF-3 file. `variables` maps name ->
    (dim_names, numpy array, attrs). No record (unlimited) dims —
    cubes are fixed-shape. `version` 1 = CDF-1 (classic), 2 = CDF-2
    (64-bit data offsets, the NETCDF3_64BIT on-disk format). The
    header goes to the file first, then each variable's data,
    converted to big-endian a slice at a time, so the write never
    holds a second copy of a cube. A variable over its version's
    `MAX_VAR_BYTES`, or a CDF-1 variable that would start past 2 GiB,
    raises ValueError before the file is opened."""
    import numpy as np

    if version not in (1, 2):
        raise ValueError(f"netCDF-3 version must be 1 or 2, got {version}")
    off_fmt = ">i" if version == 1 else ">q"
    off_size = 4 if version == 1 else 8
    dim_ids = {d: i for i, d in enumerate(dims)}
    header = b"CDF" + bytes([version]) + struct.pack(">i", 0)  # numrecs = 0
    header += struct.pack(">ii", _NC_DIMENSION, len(dims)) + b"".join(
        _name(d) + struct.pack(">i", n) for d, n in dims.items()
    )
    header += _attr_list(global_attrs or {})

    # lay out variables: each var's data, type and unpadded byte size
    entries, var_headers = [], []
    for vname, (vdims, arr, attrs) in variables.items():
        arr = np.asarray(arr)
        if arr.dtype.kind in ("U", "S"):
            nct = NC_CHAR
            if arr.dtype.kind == "U":
                arr = np.char.encode(arr.astype("U"), "utf-8")
            nbytes = arr.nbytes
        else:
            nct = _NP_TO_NC.get(arr.dtype.str[1:]) or (
                NC_DOUBLE if arr.dtype.kind == "f" else NC_INT
            )
            nbytes = arr.size * _DTYPES[nct][1]
        vsize = nbytes + -nbytes % 4
        if vsize > MAX_VAR_BYTES[version]:
            raise ValueError(
                f"netCDF-3 variable {vname!r} is {nbytes} bytes: a CDF-{version}"
                f" variable holds at most {MAX_VAR_BYTES[version]} bytes"
            )
        entries.append((arr, nct, nbytes))
        vh = _name(vname) + struct.pack(">i", len(vdims))
        vh += b"".join(struct.pack(">i", dim_ids[d]) for d in vdims)
        vh += _attr_list(attrs or {})
        vh += struct.pack(">iI", nct, vsize)
        var_headers.append(vh)

    # var_list tag (8 bytes) + each var header + its begin offset
    offset = len(header) + 8 + sum(len(vh) + off_size for vh in var_headers)
    header += struct.pack(">ii", _NC_VARIABLE if entries else 0, len(entries))
    for (_, _, nbytes), vh in zip(entries, var_headers):
        if version == 1 and offset > 2**31 - 1:
            raise ValueError(
                f"netCDF-3 variable starts at byte {offset}: CDF-1 offsets"
                f" are 32-bit, so its variables must start below 2 GiB;"
                f" write CDF-2 (version=2)"
            )
        header += vh + struct.pack(off_fmt, offset)
        offset += nbytes + -nbytes % 4
    with open(path, "wb") as f:
        f.write(header)
        for arr, nct, nbytes in entries:
            if nct == NC_CHAR:
                f.write(arr.tobytes())
            else:
                flat = arr.reshape(-1)
                for i in range(0, flat.size, _WRITE_SLICE):
                    f.write(flat[i : i + _WRITE_SLICE].astype(_DTYPES[nct][0]))
            f.write(b"\x00" * (-nbytes % 4))


def _read_name(buf: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack(">i", buf[pos : pos + 4])
    pos += 4
    s = buf[pos : pos + n].decode()
    pos += n + (-n % 4)
    return s, pos


def _read_attrs(buf: bytes, pos: int) -> tuple[dict, int]:
    tag, count = struct.unpack(">ii", buf[pos : pos + 8])
    pos += 8
    attrs: dict = {}
    for _ in range(count):
        name, pos = _read_name(buf, pos)
        nct, n = struct.unpack(">ii", buf[pos : pos + 8])
        pos += 8
        np_t, unit = _DTYPES[nct]
        raw = buf[pos : pos + n * unit]
        pos += n * unit + (-(n * unit) % 4)
        if nct == NC_CHAR:
            attrs[name] = raw.decode()
        else:
            import numpy as np

            vals = np.frombuffer(raw, dtype=np_t)
            attrs[name] = vals[0] if n == 1 else vals
    return attrs, pos


def read_netcdf3(path: str):
    """Read a classic netCDF-3 (CDF-1/CDF-2) file written by this
    module, scipy, or xarray's scipy engine. Returns (dims, variables,
    global_attrs) with variables mapping name -> (dim_names, ndarray,
    attrs)."""
    import numpy as np

    with open(path, "rb") as f:
        buf = f.read()
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("not a classic netCDF-3 file")
    off_fmt = ">i" if buf[3] == 1 else ">q"
    off_size = 4 if buf[3] == 1 else 8
    pos = 8  # magic + numrecs (no record vars supported)
    dims: list[tuple[str, int]] = []
    tag, count = struct.unpack(">ii", buf[pos : pos + 8])
    pos += 8
    for _ in range(count):
        dname, pos = _read_name(buf, pos)
        (size,) = struct.unpack(">i", buf[pos : pos + 4])
        pos += 4
        dims.append((dname, size))
    gattrs, pos = _read_attrs(buf, pos)
    tag, nvars = struct.unpack(">ii", buf[pos : pos + 8])
    pos += 8
    variables: dict = {}
    for _ in range(nvars):
        vname, pos = _read_name(buf, pos)
        (ndims,) = struct.unpack(">i", buf[pos : pos + 4])
        pos += 4
        vdim_ids = struct.unpack(f">{ndims}i", buf[pos : pos + 4 * ndims])
        pos += 4 * ndims
        vattrs, pos = _read_attrs(buf, pos)
        nct, vsize = struct.unpack(">iI", buf[pos : pos + 8])
        pos += 8
        (begin,) = struct.unpack(off_fmt, buf[pos : pos + off_size])
        pos += off_size
        vdims = tuple(dims[i][0] for i in vdim_ids)
        shape = tuple(dims[i][1] for i in vdim_ids)
        np_t, unit = _DTYPES[nct]
        n = 1
        for s in shape:
            n *= s
        raw = buf[begin : begin + n * unit]
        if nct == NC_CHAR:
            arr = np.frombuffer(raw, dtype="S1").reshape(shape)
        else:
            arr = np.frombuffer(raw, dtype=np_t).reshape(shape)
        variables[vname] = (vdims, arr, vattrs)
    return dict(dims), variables, gattrs


class LayerSummary(NamedTuple):
    """What one metadata collect tells about a cube: the sizes the
    CLI prints (distinct non-null product names and times, as
    ``Datacube.get_dimensions`` counts them), the layer count, and
    the largest layer height and width (None when no layer has one)."""

    dims: dict
    n_layers: int
    height: int | None
    width: int | None


def summarize_layers(dc) -> LayerSummary:
    """The metadata step of an export, and the CLI's dimensions: one
    collect of key, time, height and width, one row per layer and no
    pixel."""
    rows = dc.df.select(dc.key_col, dc.ts_col, "height", "width").collect()
    keys, times, heights, widths = zip(*rows) if rows else ((),) * 4
    return LayerSummary(
        {dc.key_col: len(set(keys) - {None}), dc.ts_col: len(set(times) - {None})},
        len(rows),
        max((h for h in heights if h is not None), default=None),
        max((w for w in widths if w is not None), default=None),
    )


def _materialize_cube(
    dc, height: int | None = None, width: int | None = None,
    max_layers: int = 4096, summary: LayerSummary | None = None,
    max_var_bytes: int | None = None,
):
    """The driver-side step of every single-file export (the same
    single-file step the reference's to_file performs), and the one
    place its decisions live. The metadata step is `summary`, or one
    `summarize_layers` collect: its largest layer height and width
    fill a `height` or `width` left None. Before any pixel leaves the
    executors it refuses, in this order: an empty cube and one with
    no layer shape (a netCDF-3 dim of length 0 is the unlimited
    record dim, so a fixed `band`, `azimuth` or `range` dim cannot be
    zero-length), then a cube above `max_layers` layers or whose
    dense pixels exceed min(4 GiB, spark.driver.maxResultSize,
    `max_var_bytes`), which must go through the parquet/partitioned
    sinks instead of aborting the collect, OOMing the driver or
    overflowing the file format's variable size (a netCDF-3 export
    passes its version's `MAX_VAR_BYTES`). Then the pixel step
    (`_collect_layers`) ships the band: `pixels` when the cube has
    that column, else its first band (Real for SLC). Returns the
    (layers, height, width) float64 array in the cube's layer order,
    gap layers NaN, with the product names and the dates."""
    summary = summary or summarize_layers(dc)
    n_layers = summary.n_layers
    height = summary.height if height is None else height
    width = summary.width if width is None else width
    if n_layers == 0:
        raise ValueError(
            "refusing netCDF export of an empty cube: the config keeps no"
            " layer, and a netCDF-3 file cannot hold a zero-length band dim"
        )
    if not height or not width:
        raise ValueError(
            f"refusing netCDF export of layers sized {height}x{width}: no"
            f" layer of the cube carries a shape; pass height and width"
        )
    approx_bytes = n_layers * height * width * 8
    limit = dc.df.sparkSession._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    # limit 0: Spark sets no limit; max_var_bytes None: no format limit
    budget = min(4 << 30, limit or 4 << 30, max_var_bytes or 4 << 30)
    if n_layers > max_layers or approx_bytes > budget:
        raise ValueError(
            f"refusing single-file netCDF export of {n_layers} layers "
            f"(~{approx_bytes / 2**30:.1f} GiB dense; the budget is "
            f"{budget >> 20} MiB, the least of 4 GiB, "
            f"spark.driver.maxResultSize and the format's largest "
            f"variable): the format is driver-materialized; raise "
            f"max_layers or spark.driver.maxResultSize explicitly or "
            f"use the distributed parquet sink for cubes this large"
        )
    band = "pixels" if "pixels" in dc.df.columns else dc.band_cols[0]
    return _collect_layers(dc, band, height, width)


def _collect_layers(dc, band: str, height: int, width: int):
    """The pixel step: one unordered Arrow collect of key, time and
    `band`, placed on the driver in the cube's layer order
    (``Datacube.layer_order``). The rows are sorted by index only,
    and each Arrow batch's pixels are scattered straight into their
    slots of the dense array, so the pixel list column is never
    copied by a sort or a concat."""
    import numpy as np
    import pyarrow.compute as pc

    table = dc.df.select(dc.key_col, dc.ts_col, band).toArrow()
    perm = pc.sort_indices(
        table,
        sort_keys=[(c, "ascending") for c in dc.layer_order],
        null_placement="at_start",
    ).to_numpy()
    slot = np.empty_like(perm)
    slot[perm] = np.arange(len(perm))
    pix = np.full((len(perm), height, width), np.nan)
    start = 0
    for chunk in table.column(band).chunks:
        rows, start = slot[start : start + len(chunk)], start + len(chunk)
        has = chunk.is_valid().to_numpy(zero_copy_only=False)
        sizes = chunk.value_lengths().fill_null(height * width).to_numpy()
        bad = sizes[sizes != height * width]
        if bad.size:
            raise ValueError(
                f"cannot export a layer of {bad[0]} pixels as {height}x{width}"
            )
        pix[rows[has]] = chunk.flatten().to_numpy(
            zero_copy_only=False
        ).reshape(-1, height, width)
    ordered = table.select([dc.key_col, dc.ts_col]).take(perm)
    names = [k or "None" for k in ordered.column(0).to_pylist()]
    dates = [str(t) for t in ordered.column(1).to_pylist()]
    return pix, names, dates


def cube_to_netcdf(
    dc,
    path: str,
    height: int | None = None,
    width: int | None = None,
    max_layers: int = 4096,
    version: int = 1,
    summary: LayerSummary | None = None,
) -> None:
    """Export a raster Datacube (one pixels-array layer per time
    slot, cube.create_cube_from_rasters shape) to a classic netCDF-3
    file the reference's read_cube/xarray can open: intensity
    (band, azimuth, range) + per-band product/date coordinate vars —
    the to_file parity surface (datacube.py:203). `version` 2 writes
    the CDF-2 (64-bit-offset) variant, i.e. NETCDF3_64BIT. A None
    height or width is the largest layer's (`_materialize_cube`)."""
    import numpy as np

    pix, names, date_strs = _materialize_cube(
        dc, height, width, max_layers, summary, MAX_VAR_BYTES.get(version)
    )
    band, height, width = pix.shape
    # byte strings padded with NULs to the longest UTF-8 name
    name_arr = np.array([n.encode() for n in names]).view("S1").reshape(band, -1)
    dates = np.array(date_strs, dtype="S10").view("S1").reshape(band, 10)
    write_netcdf3(
        path,
        dims={"band": band, "azimuth": height, "range": width,
              "strlen": name_arr.shape[1], "datelen": 10},
        variables={
            "intensity": (("band", "azimuth", "range"), pix,
                          {"long_name": "Intensity"}),
            "product_file": (("band", "strlen"), name_arr, {}),
            "acquisition_date": (("band", "datelen"), dates, {}),
        },
        global_attrs={"source": "icecube_spark", "Conventions": "CF-1.6"},
        version=version,
    )


def _read_netcdf4_vars(path: str):
    """Pull the cube variables out of an HDF5-backed netCDF4 file:
    h5py when present, else the in-repo minimal HDF5 reader
    (sources/hdf5.py) — no library needed for numeric + string vars."""
    import numpy as np

    try:
        import h5py

        with h5py.File(path, "r") as h:
            pix = np.asarray(h["intensity"][...], dtype="f8")
            names = [
                v.decode() if isinstance(v, bytes) else str(v)
                for v in h["product_file"][...]
            ]
            dates = [
                v.decode() if isinstance(v, bytes) else str(v)
                for v in h["acquisition_date"][...]
            ]
        return pix, names, dates
    except ImportError:
        pass
    from icecube_spark.sources.hdf5 import load_h5

    with open(path, "rb") as f:
        h5 = load_h5(
            f.read(), want={"intensity", "product_file", "acquisition_date"}
        )
    pix = np.asarray(h5["intensity"], dtype="f8")
    names = [str(v) for v in np.asarray(h5["product_file"]).ravel()]
    dates = [str(v) for v in np.asarray(h5["acquisition_date"]).ravel()]
    return pix, names, dates


_REOPEN_SCHEMA = (
    "height bigint, pixels array<double>, product_file string, "
    "slot_date date, width bigint"
)


def netcdf_to_cube(spark, path: str):
    """Import a cube file back into a Datacube — reference read_cube
    (icecube/bin/datacube.py:30) parity: sniffs the magic bytes and
    opens classic netCDF-3 (CDF-1/CDF-2, bridge reader) and
    HDF5-backed netCDF4 files transparently. The frame is built from
    pandas with an explicit schema, so it crosses to the JVM over
    Arrow with no Python worker and no schema inference; an all-NaN
    layer reopens as a gap row (null pixels)."""
    import datetime

    import numpy as np
    import pandas as pd

    from icecube_spark.cube import Datacube

    with open(path, "rb") as f:
        magic = f.read(4)
    if magic == b"\x89HDF":
        pix, names, dates = _read_netcdf4_vars(path)
    else:
        dims, variables, _ = read_netcdf3(path)
        pix = variables["intensity"][1]
        names = [
            b"".join(row).decode().rstrip("\x00")
            for row in variables["product_file"][1]
        ]
        dates = [
            b"".join(row).decode() for row in variables["acquisition_date"][1]
        ]
    has = ~np.isnan(pix).all(axis=(1, 2))
    pdf = pd.DataFrame(
        {
            "height": np.full(len(names), pix.shape[1], dtype="i8"),
            "pixels": [
                layer.ravel().tolist() if h else None
                for layer, h in zip(pix, has)
            ],
            "product_file": [None if n == "None" else n for n in names],
            "slot_date": [datetime.date.fromisoformat(d) for d in dates],
            "width": np.full(len(names), pix.shape[2], dtype="i8"),
        }
    )
    df = spark.createDataFrame(pdf, schema=_REOPEN_SCHEMA)
    return Datacube(df, "product_file", "slot_date", ["pixels"])


def cube_to_file(
    dc,
    path: str,
    height: int | None = None,
    width: int | None = None,
    format: str = "netCDF4",
    max_layers: int = 4096,
    summary: LayerSummary | None = None,
) -> str:
    """Reference `Datacube.to_file(output_fpath, format="netCDF4")`
    parity (icecube/bin/datacube.py:203): format one of
    {NETCDF4, NETCDF4_CLASSIC, NETCDF3_64BIT, NETCDF3_CLASSIC}.

    netCDF4 formats are HDF5-based and need a netCDF4/h5py stack; when
    the `netCDF4` library is importable the export is a true netCDF4
    file (xarray-openable). Without it the export degrades to the
    dependency-free classic netCDF-3 bridge (same variables and
    coordinates — any netCDF reader, including xarray, opens that
    too). NETCDF3_64BIT always writes a true CDF-2 (64-bit-offset)
    file via the bridge — no library needed. A None height or width
    is the largest layer's. Pass the cube's `summarize_layers` as
    `summary` when the caller already holds it, and the export runs
    one Spark job, its pixel collect. Returns the format actually
    written so callers can tell.
    """
    fmt = format.upper().replace("-", "")
    if fmt not in {"NETCDF4", "NETCDF4_CLASSIC", "NETCDF3_64BIT", "NETCDF3_CLASSIC"}:
        raise ValueError(f"unknown netCDF format {format!r}")
    if fmt.startswith("NETCDF4"):
        try:
            import netCDF4
        except ImportError:
            fmt = "NETCDF3_CLASSIC"
    if fmt.startswith("NETCDF3"):
        version = 2 if fmt == "NETCDF3_64BIT" else 1
        cube_to_netcdf(dc, path, height, width, max_layers, version, summary)
        return fmt

    pix, names, dates = _materialize_cube(dc, height, width, max_layers, summary)
    ds = netCDF4.Dataset(path, "w", format=fmt)
    try:
        for dim, n in zip(("band", "azimuth", "range"), pix.shape):
            ds.createDimension(dim, n)
        v = ds.createVariable("intensity", "f8", ("band", "azimuth", "range"))
        v.long_name = "Intensity"
        v[:] = pix
        nv = ds.createVariable("product_file", str, ("band",))
        dv = ds.createVariable("acquisition_date", str, ("band",))
        for i, (n, d) in enumerate(zip(names, dates)):
            nv[i] = n
            dv[i] = d
        ds.source = "icecube_spark"
        ds.Conventions = "CF-1.6"
    finally:
        ds.close()
    return fmt
