"""SLC .h5 ingestion (SURVEY §2 A12/SLC) — the reference's
analytics_IO.load_ICEYE_h5 / extract_complex_channels boundary
(icecube/utils/analytics_IO.py:75-160) and the SLCDatacube band
semantics (icecube/bin/sar_cube/slc_datacube.py:102-162: dataset
"s_i" -> Real band, "s_q" -> Complex band), Spark-first.

Two decode paths, best available wins:

- h5py, when importable — the optional-dependency fast path;
- a dependency-free minimal HDF5 reader for v0-superblock files with
  v1 object headers, symbol-table groups, CONTIGUOUS datasets
  (fixed-point, float, fixed and variable-length strings via the
  global heap) AND CHUNKED datasets with the deflate / shuffle /
  fletcher32 filter pipeline (v1 chunk B-trees, zlib inflate — the
  layout real gzip'd ICEYE SLC products use). This fully decodes the
  reference's own SLC test fixtures (tests/resources/slc_stack/*.h5)
  and h5py-written products, so the SLC path is real — not a stub —
  even in containers without h5py.

Distributed entry points run inside Arrow-batched mapInPandas over
the binaryFile source (sources/layers.py): payload bytes stay on
executors, no shuffle, no driver IO — the same plan shape as
sources/raster.py. The cube build reads each product once through
read_slc_layers; crawl_slc_metadata and decode_slc are its metadata-
only and pixels-only halves.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from icecube_spark.sources.layers import META_SCHEMA, map_products, meta_row

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


def _u(data: bytes, off: int, n: int) -> int:
    return int.from_bytes(data[off : off + n], "little")


def _messages(data: bytes, addr: int):
    """Yield (msgtype, body_offset, size) for a v1 object header,
    following continuation (0x10) blocks."""
    if data[addr] != 1:
        raise NotImplementedError(f"object header v{data[addr]} needs h5py")
    nmsgs = _u(data, addr + 2, 2)
    hdrsize = _u(data, addr + 8, 4)
    blocks = [(addr + 16, hdrsize)]
    got = 0
    while blocks and got < nmsgs:
        start, size = blocks.pop(0)
        pos, end = start, start + size
        while pos + 8 <= end and got < nmsgs:
            mtype = _u(data, pos, 2)
            msize = _u(data, pos + 2, 2)
            body = pos + 8
            if mtype == 0x10:  # object header continuation
                blocks.append((_u(data, body, 8), _u(data, body + 8, 8)))
            else:
                yield mtype, body, msize
            got += 1
            pos = body + msize


def _gheap_object(data: bytes, addr: int, idx: int) -> bytes:
    """Object `idx` from the global heap collection at `addr`
    (variable-length string storage)."""
    if data[addr : addr + 4] != b"GCOL":
        raise ValueError("bad global heap signature")
    size = _u(data, addr + 8, 8)
    pos, end = addr + 16, addr + size
    while pos + 16 <= end:
        oidx = _u(data, pos, 2)
        olen = _u(data, pos + 8, 8)
        if oidx == idx:
            return data[pos + 16 : pos + 16 + olen]
        if oidx == 0:
            break
        pos += 16 + ((olen + 7) // 8) * 8
    raise KeyError(f"global heap object {idx}")


def _parse_filters(data: bytes, body: int) -> list[tuple[int, list[int]]]:
    """Filter pipeline message (0x0B) → [(filter_id, client_data)] in
    application order (v1 and v2 encodings)."""
    ver = data[body]
    nf = data[body + 1]
    pos = body + (8 if ver == 1 else 2)
    out: list[tuple[int, list[int]]] = []
    for _ in range(nf):
        fid = _u(data, pos, 2)
        if ver == 1 or fid >= 256:
            namelen = _u(data, pos + 2, 2)
            ncl = _u(data, pos + 6, 2)
            pos += 8
            pos += ((namelen + 7) // 8) * 8 if ver == 1 else namelen
        else:
            namelen = 0
            ncl = _u(data, pos + 4, 2)
            pos += 6
        cdata = [_u(data, pos + 4 * i, 4) for i in range(ncl)]
        pos += 4 * ncl
        if ver == 1 and ncl % 2:
            pos += 4
        out.append((fid, cdata))
    return out


def _defilter(raw: bytes, filters, fmask: int, itemsize: int) -> bytes:
    """Undo the filter pipeline on one chunk (reverse application
    order; fmask bit i set = filter i was skipped for this chunk)."""
    import zlib

    for idx in range(len(filters) - 1, -1, -1):
        if fmask & (1 << idx):
            continue
        fid, _cdata = filters[idx]
        if fid == 1:  # deflate
            raw = zlib.decompress(raw)
        elif fid == 2:  # shuffle: byte-transpose elem_size x n
            arr = np.frombuffer(raw, dtype="u1")
            n = len(raw) // itemsize
            raw = (
                arr[: n * itemsize].reshape(itemsize, n).T.tobytes()
                + raw[n * itemsize :]
            )
        elif fid == 3:  # fletcher32: strip trailing checksum
            raw = raw[:-4]
        else:
            raise NotImplementedError(f"filter {fid} needs h5py")
    return raw


def _iter_chunks(data: bytes, btree: int, rank: int):
    """Walk a v1 raw-data-chunk B-tree (node type 1): yield
    (chunk_offsets, stored_nbytes, filter_mask, data_address)."""
    if data[btree : btree + 4] != b"TREE":
        raise ValueError("bad chunk B-tree signature")
    level = data[btree + 5]
    nentries = _u(data, btree + 6, 2)
    # key = chunk size(4) + filter mask(4) + (rank+1) u64 offsets
    # (the +1 is the always-zero element-size dimension)
    key_size = 8 + 8 * (rank + 1)
    pos = btree + 24
    for _ in range(nentries):
        nbytes = _u(data, pos, 4)
        fmask = _u(data, pos + 4, 4)
        offs = tuple(_u(data, pos + 8 + 8 * i, 8) for i in range(rank))
        child = _u(data, pos + key_size, 8)
        pos += key_size + 8
        if level > 0:
            yield from _iter_chunks(data, child, rank)
        else:
            yield offs, nbytes, fmask, child


def _numeric_dtype(cls, dsize, byte0):
    little = (byte0 & 1) == 0
    kind = "f" if cls == 1 else ("i" if (byte0 & 8) else "u")
    return np.dtype(("<" if little else ">") + kind + str(dsize))


def _decode_dataset(data, shape, cls, dsize, byte0, layout, filters):
    """Materialize one dataset given its parsed messages; returns an
    ndarray, a str, or raises NotImplementedError for layouts the
    minimal reader does not cover (h5py handles those)."""
    if layout is None or shape is None or cls is None:
        return None
    style, addr, size = layout
    if style == "chunked":
        if cls not in (0, 1):
            raise NotImplementedError("chunked non-numeric dataset needs h5py")
        dtype = _numeric_dtype(cls, dsize, byte0)
        arr = np.zeros(shape, dtype)
        chunk_dims = tuple(size[:-1])  # last entry = element size
        n_chunk = 1
        for c in chunk_dims:
            n_chunk *= c
        if addr == _UNDEF:  # no chunks written: HDF5 default fill is 0
            return arr
        for offs, nbytes, fmask, caddr in _iter_chunks(data, addr, len(shape)):
            if any(o >= s for o, s in zip(offs, shape)):
                continue
            raw = _defilter(
                data[caddr : caddr + nbytes], filters, fmask, dtype.itemsize
            )
            chunk = np.frombuffer(raw, dtype=dtype, count=n_chunk).reshape(
                chunk_dims
            )
            dst = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(offs, chunk_dims, shape)
            )
            src = tuple(slice(0, d.stop - d.start) for d in dst)
            arr[dst] = chunk[src]
        return arr
    if filters:
        raise NotImplementedError("filtered non-chunked dataset needs h5py")
    n = 1
    for s in shape:
        n *= s
    if addr == _UNDEF:  # unallocated: HDF5 default fill is 0 for numerics
        if cls in (0, 1):
            return np.zeros(shape, _numeric_dtype(cls, dsize, byte0))
        return np.full(shape, np.nan)
    if cls in (0, 1):  # fixed-point / float
        little = (byte0 & 1) == 0
        kind = "f" if cls == 1 else ("i" if (byte0 & 8) else "u")
        dtype = np.dtype(("<" if little else ">") + kind + str(dsize))
        arr = np.frombuffer(
            data[addr : addr + n * dtype.itemsize], dtype=dtype, count=n
        )
        return arr.reshape(shape)
    if cls == 3:  # fixed-length string (scalar or array)
        vals = [
            data[addr + i * dsize : addr + (i + 1) * dsize]
            .split(b"\x00")[0]
            .decode("utf-8", errors="replace")
            for i in range(n)
        ]
        if n == 1:
            return vals[0]
        return np.array(vals, dtype=object).reshape(shape)
    if cls == 9:  # variable-length (string): len(4) + gheap(8) + idx(4)
        vals = []
        for i in range(n):
            off = addr + 16 * i
            ln = _u(data, off, 4)
            gaddr = _u(data, off + 4, 8)
            gidx = _u(data, off + 12, 4)
            vals.append(
                _gheap_object(data, gaddr, gidx)[:ln].decode(
                    "utf-8", errors="replace"
                )
            )
        if n == 1:
            return vals[0]
        return np.array(vals, dtype=object).reshape(shape)
    raise NotImplementedError(f"datatype class {cls} needs h5py")


def _read_object(data, objhdr, out, name, want):
    shape = layout = None
    cls = dsize = byte0 = None
    filters: list = []
    for mtype, body, msize in _messages(data, objhdr):
        if mtype == 0x11:  # symbol table -> this object is a group
            _walk_group(data, body, out, name + "/", want)
            return
        if mtype == 0x01:  # dataspace
            v, rank = data[body], data[body + 1]
            dims_off = body + (8 if v == 1 else 4)
            shape = tuple(_u(data, dims_off + 8 * i, 8) for i in range(rank))
        elif mtype == 0x03:  # datatype
            cls = data[body] & 0x0F
            byte0 = data[body + 1]
            dsize = _u(data, body + 4, 4)
        elif mtype == 0x08:  # data layout
            if data[body] != 3:
                raise NotImplementedError("layout message v<3 needs h5py")
            lclass = data[body + 1]
            if lclass == 1:
                layout = ("contiguous", _u(data, body + 2, 8), _u(data, body + 10, 8))
            elif lclass == 0:
                layout = ("compact", body + 4, _u(data, body + 2, 2))
            else:  # chunked: dimensionality, btree addr, chunk dims
                ndim = data[body + 2]
                btree = _u(data, body + 3, 8)
                cdims = tuple(
                    _u(data, body + 11 + 4 * i, 4) for i in range(ndim)
                )
                layout = ("chunked", btree, cdims)
        elif mtype == 0x0B:  # filter pipeline
            filters = _parse_filters(data, body)
    if want is not None and name not in want:
        return
    try:
        val = _decode_dataset(data, shape, cls, dsize, byte0, layout, filters)
    except NotImplementedError as e:
        out[name] = e
        return
    if val is not None:
        out[name] = val


def _walk_group(data, st_body, out, prefix, want):
    btree = _u(data, st_body, 8)
    heap = _u(data, st_body + 8, 8)
    if data[heap : heap + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    heap_data = _u(data, heap + 24, 8)
    _walk_btree(data, btree, heap_data, out, prefix, want)


def _walk_btree(data, btree, heap_data, out, prefix, want):
    if data[btree : btree + 4] != b"TREE":
        raise ValueError("bad B-tree signature")
    level = data[btree + 5]
    nentries = _u(data, btree + 6, 2)
    pos = btree + 8 + 16  # skip left/right siblings
    for _ in range(nentries):
        pos += 8  # key offset into heap
        child = _u(data, pos, 8)
        pos += 8
        if level > 0:
            _walk_btree(data, child, heap_data, out, prefix, want)
        else:
            _read_snod(data, child, heap_data, out, prefix, want)


def _read_snod(data, snod, heap_data, out, prefix, want):
    if data[snod : snod + 4] != b"SNOD":
        raise ValueError("bad symbol node signature")
    nsym = _u(data, snod + 6, 2)
    pos = snod + 8
    for _ in range(nsym):
        name_off = _u(data, pos, 8)
        hdr = _u(data, pos + 8, 8)
        pos += 40
        end = data.index(b"\x00", heap_data + name_off)
        name = data[heap_data + name_off : end].decode()
        _read_object(data, hdr, out, prefix + name, want)


def read_h5(data: bytes, want: set[str] | None = None) -> dict:
    """Minimal pure-Python HDF5 read: {dataset path: ndarray | str}.
    `want` restricts decoding to the named datasets (groups always
    walk). Datasets the minimal reader cannot decode map to a
    NotImplementedError instance instead of raising, so metadata
    crawls survive mixed files."""
    if data[:8] != _SIG:
        raise ValueError("not an HDF5 file")
    if data[8] != 0:
        raise NotImplementedError(f"superblock v{data[8]} needs h5py")
    if data[13] != 8 or data[14] != 8:
        raise NotImplementedError("non-8-byte offsets need h5py")
    root_entry = 24 + 4 * 8
    objhdr = _u(data, root_entry + 8, 8)
    out: dict = {}
    # root object header carries the symbol table message
    for mtype, body, msize in _messages(data, objhdr):
        if mtype == 0x11:
            _walk_group(data, body, out, "", want)
    return out


def load_h5(data: bytes, want: set[str] | None = None) -> dict:
    """Best-available HDF5 decode: h5py when importable (chunked /
    gzip'd real products), else the minimal contiguous reader. Both
    return the same {path: ndarray | str} shape."""
    try:
        import h5py  # noqa: F401
    except ImportError:
        return read_h5(data, want)
    import io

    out: dict = {}
    with h5py.File(io.BytesIO(data), "r") as hf:  # pragma: no cover

        def visit(name, obj):
            if isinstance(obj, h5py.Dataset) and (want is None or name in want):
                v = obj[()]
                if isinstance(v, bytes):
                    v = v.decode("utf-8", errors="replace")
                out[name] = v

        hf.visititems(visit)
    return out


def extract_complex_channels(h5: dict):
    """The reference's extract_complex_channels
    (analytics_IO.py:106-160): the "s_i" (Real band) and "s_q"
    (Complex band) rasters, as float64 ndarrays."""
    for k in ("s_i", "s_q"):
        v = h5.get(k)
        if v is None:
            raise FileNotFoundError(
                f'Could not find subdataset "{k}" from input file'
            )
        if isinstance(v, Exception):
            raise v
    return (
        np.asarray(h5["s_i"], dtype="f8"),
        np.asarray(h5["s_q"], dtype="f8"),
    )


_META_WANT = {
    "product_file", "acquisition_end_utc", "incidence_center",
    "orbit_direction", "number_of_azimuth_samples",
    "number_of_range_samples",
}

SLC_PIXELS_SCHEMA = (
    "path string, width int, height int, "
    "s_i array<double>, s_q array<double>"
)

SLC_LAYER_SCHEMA = META_SCHEMA + ", Real array<double>, Complex array<double>"


def _scalar(h5, key):
    v = h5.get(key)
    if isinstance(v, np.ndarray):
        return v.ravel()[0] if v.size else None
    if isinstance(v, Exception):
        return None
    return v


def _slc_row(path: str, data: bytes, meta: bool, bands=None) -> dict | None:
    """One .h5 product, parsed once: its META_SCHEMA columns when
    `meta`; when `bands` names two columns, the s_i and s_q channels
    (flattened row-major) under those names. None drops the file: not
    HDF5, undecodable, or — when `bands` — missing a channel."""
    if data[:8] != _SIG:
        return None
    want = (_META_WANT if meta else set()) | ({"s_i", "s_q"} if bands else set())
    try:
        h5 = load_h5(data, want=want)
        if bands:
            si, sq = extract_complex_channels(h5)
    except (NotImplementedError, ValueError, FileNotFoundError):
        return None
    if meta:
        row = meta_row(path, lambda k: _scalar(h5, k))
    else:
        row = {"path": path, "height": si.shape[0], "width": si.shape[1]}
    if bands:
        row[bands[0]] = si.ravel().tolist()
        row[bands[1]] = sq.ravel().tolist()
    return row


def crawl_slc_metadata(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → the metadata crawler's variables of interest
    for SLC products (metadata_crawler.py:140-210): acquisition_date
    from acquisition_end_utc, center incidence, orbit direction,
    raster shape. Same output schema as raster.crawl_iceye_metadata
    so GRD and SLC stacks share the cube-assembly path."""
    return map_products(
        binary_df, lambda p, d: _slc_row(p, d, True), META_SCHEMA
    )


def decode_slc(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → decoded SLC channel rows: (path, width,
    height, s_i, s_q) with each channel flattened row-major — the
    layer-ingestion step of SLCDatacube.create (slc_datacube.py:
    102-162), as a distributed map. Non-HDF5 inputs are dropped."""
    return map_products(
        binary_df,
        lambda p, d: _slc_row(p, d, False, ("s_i", "s_q")),
        SLC_PIXELS_SCHEMA,
    )


def read_slc_layers(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → one cube layer per SLC product: the
    crawl_slc_metadata columns plus the Real (s_i) and Complex (s_q)
    bands, from ONE parse of each file — the rows crawl_slc_metadata
    joined with decode_slc on path would give, without the second
    parse or the join."""
    return map_products(
        binary_df,
        lambda p, d: _slc_row(p, d, True, ("Real", "Complex")),
        SLC_LAYER_SCHEMA,
    )
