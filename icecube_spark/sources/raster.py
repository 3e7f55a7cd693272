"""Raster ingestion (SURVEY §2 A12) — the reference's
analytics_IO.load_tiff / load_ICEYE_h5 boundary, Spark-first.

rasterio/h5py are not in this container, so decode of COMPRESSED
rasters is gated behind import-try. What IS real and dependency-free:

- a classic-TIFF header parser (metadata crawl: width/height/dtype
  straight off the binaryFile bytes), which is what the reference's
  metadata crawler needs per raster
  (icecube/utils/metadata_crawler.py:40-60);
- a full pixel decoder for UNCOMPRESSED classic TIFFs (any strip
  layout, 8/16/32/64-bit unsigned/signed/float samples) — covers the
  reference's own GRD test fixtures
  (tests/resources/grd_stack/*_10x10pixels_*.tif, written
  uncompressed by GDAL) and the common SAR interchange case, i.e.
  the reference's analytics_IO.load_tiff (icecube/utils/
  analytics_IO.py:113) for the uncompressed path.

Both run inside Arrow-batched mapInPandas over the binaryFile
source: payloads stay on executors, no shuffle, no driver IO. The
cube build reads each TIFF once through read_grd_layers (metadata and
pixels off one IFD parse); crawl_iceye_metadata and decode_rasters
are its metadata-only and pixels-only halves.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from icecube_spark.sources.layers import META_SCHEMA, map_products, meta_row

TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_STRIP_OFFSETS = 273
TAG_SAMPLES_PER_PIXEL = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_BYTE_COUNTS = 279
TAG_SAMPLE_FORMAT = 339

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
               11: 4, 12: 8}
_TYPE_FMTS = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d"}


def _read_ifd(data: bytes) -> tuple[str, dict[int, list]] | None:
    """Endianness + {tag: [values]} of the first IFD of a classic
    TIFF, or None if `data` is not a TIFF. Pure python, no codec."""
    if len(data) < 8:
        return None
    if data[:2] == b"II":
        endian = "<"
    elif data[:2] == b"MM":
        endian = ">"
    else:
        return None
    magic, ifd_off = struct.unpack(endian + "HI", data[2:8])
    if magic != 42 or ifd_off + 2 > len(data):
        return None
    (n_tags,) = struct.unpack(endian + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list] = {}
    for i in range(n_tags):
        off = ifd_off + 2 + i * 12
        if off + 12 > len(data):
            break
        tag, typ, count = struct.unpack(endian + "HHI", data[off : off + 8])
        size = _TYPE_SIZES.get(typ, 4) * count
        if size <= 4:
            raw = data[off + 8 : off + 12]
        else:
            (voff,) = struct.unpack(endian + "I", data[off + 8 : off + 12])
            raw = data[voff : voff + size]
        if typ in (2, 7):  # ASCII / UNDEFINED: keep raw bytes
            tags[tag] = [raw[:count]]
            continue
        fmt = _TYPE_FMTS.get(typ)
        if fmt is None:
            continue
        unit = struct.calcsize(endian + fmt)
        if len(raw) < unit * count:
            continue
        tags[tag] = list(struct.unpack(endian + fmt * count, raw[: unit * count]))
    return ("little" if endian == "<" else "big", tags)


def parse_tiff_header(data: bytes) -> dict | None:
    """Parse width/height/bits from a classic TIFF (II/MM, magic 42).
    Returns None if `data` is not a TIFF."""
    parsed = _read_ifd(data)
    return None if parsed is None else _header(parsed)


def _header(parsed) -> dict:
    endian, tags = parsed
    out: dict = {"endian": endian}
    for tag, key in (
        (TAG_WIDTH, "width"),
        (TAG_HEIGHT, "height"),
        (TAG_BITS, "bits"),
    ):
        if tag in tags and tags[tag]:
            out[key] = int(tags[tag][0])
    return out


def decode_tiff_pixels(data: bytes):
    """Decode an UNCOMPRESSED classic TIFF into a numpy array of shape
    (height, width) (single sample) or (height, width, samples).
    Returns None for non-TIFF bytes; raises NotImplementedError for
    compressed files (that path needs rasterio). Mirrors the
    reference's analytics_IO.load_tiff contract (icecube/utils/
    analytics_IO.py:113) for uncompressed rasters."""
    parsed = _read_ifd(data)
    return None if parsed is None else _pixels(data, parsed)


def _pixels(data: bytes, parsed):
    import numpy as np

    endian, tags = parsed
    compression = int(tags.get(TAG_COMPRESSION, [1])[0])
    if compression != 1:
        # optional-dependency path: rasterio decodes any compression
        # in-memory when importable; the pure-Python reader stays the
        # dependency-free fallback for uncompressed files
        try:
            import rasterio
            from rasterio.io import MemoryFile
        except ImportError:
            raise NotImplementedError(
                f"TIFF compression {compression} needs rasterio; only "
                "uncompressed (1) decodes dependency-free"
            ) from None
        with MemoryFile(data) as mf:  # pragma: no cover
            with mf.open() as src:
                arr = src.read()
        if arr.shape[0] == 1:  # pragma: no cover
            return arr[0]
        return np.moveaxis(arr, 0, -1)  # pragma: no cover
    width = int(tags[TAG_WIDTH][0])
    height = int(tags[TAG_HEIGHT][0])
    bits = int(tags.get(TAG_BITS, [8])[0])
    spp = int(tags.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    fmt = int(tags.get(TAG_SAMPLE_FORMAT, [1])[0])
    kind = {1: "u", 2: "i", 3: "f"}.get(fmt)
    if kind is None:
        raise NotImplementedError(f"TIFF sample format {fmt} unsupported")
    dtype = np.dtype(f"{'<' if endian == 'little' else '>'}{kind}{bits // 8}")
    offsets = tags[TAG_STRIP_OFFSETS]
    counts = tags.get(
        TAG_STRIP_BYTE_COUNTS, [width * height * spp * (bits // 8)]
    )
    buf = b"".join(
        data[int(o) : int(o) + int(c)] for o, c in zip(offsets, counts)
    )
    arr = np.frombuffer(buf, dtype=dtype, count=width * height * spp)
    return arr.reshape((height, width) if spp == 1 else (height, width, spp))


TAG_GDAL_METADATA = 42112

_GDAL_ITEM_RE = None


def _gdal_metadata(tags: dict) -> dict[str, str]:
    global _GDAL_ITEM_RE
    import re

    if _GDAL_ITEM_RE is None:
        _GDAL_ITEM_RE = re.compile(
            r'<Item name="([^"]+)"[^>]*>(.*?)</Item>', re.DOTALL
        )
    if TAG_GDAL_METADATA not in tags:
        return {}
    xml = tags[TAG_GDAL_METADATA][0].decode("utf-8", errors="replace")
    return {k.lower(): v for k, v in _GDAL_ITEM_RE.findall(xml)}


RASTER_META_SCHEMA = (
    "path string, length long, is_tiff boolean, width long, height long, "
    "bits long"
)


def _raster_meta_row(path: str, data: bytes) -> dict:
    meta = parse_tiff_header(data) or {}
    return {
        "path": path, "length": len(data), "is_tiff": bool(meta),
        "width": meta.get("width"), "height": meta.get("height"),
        "bits": meta.get("bits"),
    }


def crawl_raster_metadata(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → raster metadata table (the Spark twin of
    metadata_crawler over a directory of rasters), one row per file.
    Arrow-batched; no shuffle; payloads never reach the driver."""
    return map_products(binary_df, _raster_meta_row, RASTER_META_SCHEMA)


RASTER_PIXELS_SCHEMA = (
    "path string, width int, height int, dtype string, pixels array<double>"
)

GRD_LAYER_SCHEMA = META_SCHEMA + ", pixels array<double>"


def _grd_row(path: str, data: bytes, meta: bool, pixels: bool) -> dict | None:
    """One GRD TIFF, its IFD parsed once: its META_SCHEMA columns
    (GDAL metadata items, header shape as the fallback) when `meta`,
    its pixels flattened row-major to float64 when `pixels`. None
    drops a non-TIFF; a compressed TIFF raises when `pixels` (its
    decode needs rasterio)."""
    parsed = _read_ifd(data)
    if parsed is None:
        return None
    if pixels:
        arr = _pixels(data, parsed)
    if meta:
        md = _gdal_metadata(parsed[1])
        hdr = _header(parsed)
        row = meta_row(path, md.get, hdr.get("width"), hdr.get("height"))
    else:
        row = {
            "path": path, "height": arr.shape[0], "width": arr.shape[1],
            "dtype": str(arr.dtype),
        }
    if pixels:
        # plain list: Arrow rejects a numpy ndarray cell here
        row["pixels"] = arr.astype("float64").ravel().tolist()
    return row


def crawl_iceye_metadata(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → the reference metadata_crawler's variables of
    interest (metadata_crawler.py:140-210): acquisition_date parsed
    from acquisition_end_utc, center incidence angle, orbit direction,
    raster shape (header fallback when metadata lacks the sample
    counts). Arrow-batched map; payload bytes never shuffle."""
    return map_products(
        binary_df, lambda p, d: _grd_row(p, d, True, False), META_SCHEMA
    )


def decode_rasters(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → decoded pixel rows: (path, width, height,
    dtype, pixels) with pixels flattened row-major to array<double> —
    the layer-ingestion step of the reference's create_cube
    (icecube/bin/generate_cube.py via analytics_IO.load_tiff), as a
    distributed map. Non-TIFF inputs are dropped; compressed TIFFs
    raise (decode needs rasterio there)."""
    return map_products(
        binary_df, lambda p, d: _grd_row(p, d, False, True), RASTER_PIXELS_SCHEMA
    )


def read_grd_layers(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows → one cube layer per GRD product: the
    crawl_iceye_metadata columns plus pixels, from ONE parse of each
    TIFF — the rows crawl_iceye_metadata joined with decode_rasters
    on path would give, without the second parse or the join."""
    return map_products(
        binary_df, lambda p, d: _grd_row(p, d, True, True), GRD_LAYER_SCHEMA
    )


def save_metadata_table_as_csv(metadata_df: DataFrame, folder: str) -> None:
    """Reference parity (metadata_crawler.py:237
    save_metadata_table_as_csv): write a crawl-result table as ONE
    ``metadata.csv`` inside ``folder``. The crawl table is model-sized
    (one row per product), so the single-named-file contract the
    reference promises is a driver-side write by design; corpus-scale
    tables should use ``df.write.csv`` instead."""
    import os

    metadata_df.toPandas().to_csv(
        os.path.join(folder, "metadata.csv"), index=False
    )


def save_metadata_table_as_excel_table(
    metadata_df: DataFrame, folder: str
) -> None:
    """Reference parity (metadata_crawler.py:232): ``metadata.xlsx``
    inside ``folder``. Excel writing needs openpyxl, which this
    container does not ship — the guard keeps the named API present
    without a hard dependency."""
    import os

    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "save_metadata_table_as_excel_table needs openpyxl; use "
            "save_metadata_table_as_csv in this container"
        ) from exc
    metadata_df.toPandas().to_excel(
        os.path.join(folder, "metadata.xlsx"), index=False
    )


def save_image_ids_as_txt(
    metadata_df: DataFrame, folder: str, id_col: str = "image_number"
) -> None:
    """Reference parity (metadata_crawler.py:242): the id column,
    comma-joined into one ``image_ids.txt``. Ids are one-per-product
    (model-sized), so the driver collect mirrors the reference's
    single-file contract. Collected in id order — DataFrame partition
    order is nondeterministic, and the reference preserves its (id-
    sorted crawl) table order, so the sort makes the file content
    stable across runs."""
    import os

    ids = [
        str(r[0])
        for r in metadata_df.select(id_col).orderBy(id_col).collect()
    ]
    with open(os.path.join(folder, "image_ids.txt"), "w") as fh:
        fh.write(",".join(ids))
