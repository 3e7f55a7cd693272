"""KML footprint and DEM ingestion — parity with the reference's
vector/terrain loaders:

- `load_kml` (icecube/utils/analytics_IO.py:242): one Placemark
  Polygon outer ring → (lat, lon, height) arrays. Re-implemented on
  xml.etree (namespace-agnostic), no xmltodict dependency.
- `load_DEM` (analytics_IO.py:268): a geocoded geotiff opened with
  rasterio. Re-implemented on the pure-python TIFF decode
  (sources/raster.py) + the GeoTIFF georeferencing tags
  (ModelPixelScale 33550, ModelTiepoint 33922).

Spark-first shapes:
- `crawl_kml_footprints`: binaryFile KML rows → quad footprint rows
  (x1..x4/y1..y4 + bbox, lon=x / lat=y) — directly joinable by the
  A14 polygon-intersection grid (operators/spatial.polygon_join_grid)
  against raster footprints.
- `dem_to_grid`: DEM → (x, y, v) cell rows, the tabular grid every
  terrain stencil in this repo consumes (hillshade A34, aspect A41,
  ruggedness A46, flow A49, contours A50). Cells explode inside a
  distributed map over the binary payload; at scale DEMs tile across
  files and the explode parallelizes per file.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_SCALE_TAG = 33550   # ModelPixelScaleTag: (sx, sy, sz)
_TIEPOINT_TAG = 33922  # ModelTiepointTag: (i, j, k, x, y, z)


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _find_coordinates(root) -> str | None:
    """outerBoundaryIs/LinearRing/coordinates text, namespace-blind —
    the reference's kml→Document→Placemark→Polygon path, tolerant of
    the kml 2.2 default namespace xmltodict keeps literal."""
    for el in root.iter():
        if _local(el.tag) != "outerBoundaryIs":
            continue
        for sub in el.iter():
            if _local(sub.tag) == "coordinates" and sub.text:
                return sub.text.strip()
    return None


def load_kml(source) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference load_kml parity: (lat, lon, height) float64 arrays of
    the polygon outer ring. `source` = path, bytes, or str."""
    if isinstance(source, bytes):
        text = source.decode("utf-8", errors="replace")
    elif isinstance(source, str) and source.lstrip().startswith("<"):
        text = source
    else:
        with open(source, encoding="utf-8") as f:
            text = f.read()
    coords = _find_coordinates(ET.fromstring(text))
    if coords is None:
        raise ValueError("KML has no Polygon outerBoundaryIs coordinates")
    pts = [p for p in coords.split() if p]
    lat = np.empty(len(pts))
    lon = np.empty(len(pts))
    height = np.empty(len(pts))
    for i, p in enumerate(pts):
        parts = p.split(",")
        lon[i], lat[i] = np.float64(parts[0]), np.float64(parts[1])
        height[i] = np.float64(parts[2]) if len(parts) > 2 else 0.0
    return lat, lon, height


KML_FOOTPRINT_SCHEMA = (
    "path string, "
    + ", ".join(f"x{i} double, y{i} double" for i in range(1, 5))
    + ", xmin double, xmax double, ymin double, ymax double"
)


def crawl_kml_footprints(binary_df: DataFrame) -> DataFrame:
    """binaryFile KML rows → quad footprint rows compatible with the
    A14 polygon join (first 4 ring vertices as the quad; ICEYE
    footprints are closed 5-point quads). Non-KML or ringless files
    are dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                try:
                    lat, lon, _ = load_kml(bytes(blob))
                except (ValueError, ET.ParseError):
                    continue
                if len(lat) < 4:
                    continue
                r: dict = {"path": path}
                for i in range(4):
                    r[f"x{i + 1}"] = float(lon[i])
                    r[f"y{i + 1}"] = float(lat[i])
                r["xmin"], r["xmax"] = float(lon[:4].min()), float(lon[:4].max())
                r["ymin"], r["ymax"] = float(lat[:4].min()), float(lat[:4].max())
                rows.append(r)
            if rows:
                yield pd.DataFrame(rows)

    return binary_df.select("path", "content").mapInPandas(
        run, schema=KML_FOOTPRINT_SCHEMA
    )


def load_dem(source) -> dict:
    """Reference load_DEM parity without rasterio: decode a geocoded
    uncompressed geotiff into {elevation: ndarray, pixel_scale:
    (sx, sy), origin: (x0, y0)}. Compressed DEMs use the rasterio
    optional-dependency path (sources/raster.decode_tiff_pixels
    raises NotImplementedError for them, matching the GRD decode
    contract)."""
    from icecube_spark.sources.raster import _read_ifd, decode_tiff_pixels

    if isinstance(source, bytes):
        data = source
    else:
        with open(source, "rb") as f:
            data = f.read()
    arr = decode_tiff_pixels(data)
    if arr is None:
        raise ValueError("not a TIFF DEM")
    parsed = _read_ifd(data)
    _, tags = parsed
    scale = tags.get(_SCALE_TAG)
    tie = tags.get(_TIEPOINT_TAG)
    out = {"elevation": np.asarray(arr, dtype="f8")}
    out["pixel_scale"] = (
        (float(scale[0]), float(scale[1])) if scale and len(scale) >= 2 else None
    )
    out["origin"] = (
        (float(tie[3]), float(tie[4])) if tie and len(tie) >= 5 else None
    )
    return out


DEM_GRID_SCHEMA = "path string, x bigint, y bigint, v double"


def dem_to_grid(binary_df: DataFrame) -> DataFrame:
    """binaryFile DEM rows → (path, x, y, v) cell rows — the tabular
    grid the terrain stencils consume. Decode and explode happen in
    the distributed map; the payload never reaches the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                try:
                    dem = load_dem(bytes(blob))
                except (ValueError, NotImplementedError):
                    continue
                el = dem["elevation"]
                if el.ndim != 2:
                    continue
                h, w = el.shape
                ys, xs = np.divmod(np.arange(h * w), w)
                frames.append(
                    pd.DataFrame(
                        {"path": path, "x": xs.astype("int64"),
                         "y": ys.astype("int64"), "v": el.ravel()}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return binary_df.select("path", "content").mapInPandas(
        run, schema=DEM_GRID_SCHEMA
    )
