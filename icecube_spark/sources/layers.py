"""Per-product rows shared by the GRD (sources/raster.py) and SLC
(sources/hdf5.py) readers.

Both product families crawl the same variables of interest
(reference metadata_crawler.py:140-210) into one metadata schema, and
every reader — metadata crawl, pixel decode, or the fused layer
reader the cube build uses — is one Arrow-batched ``mapInPandas``
over the binaryFile source: each file's bytes are parsed once per
pass, payloads stay on executors, no shuffle, no driver IO.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from datetime import date, datetime

import pandas as pd
from pyspark.sql import DataFrame

META_SCHEMA = (
    "path string, product_file string, acquisition_date date, "
    "acquisition_end_utc string, incidence_center double, "
    "orbit_direction string, width int, height int"
)

# acquisition_end_utc spellings seen in products: with and without
# fractional seconds and a 'Z' suffix
_END_UTC_FORMATS = (
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S.%fZ",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%SZ",
)


def acquisition_date(end_utc) -> date | None:
    """The acquisition date of an ``acquisition_end_utc`` string; a
    missing or malformed timestamp degrades to None rather than
    failing the whole crawl task."""
    if not end_utc:
        return None
    for fmt in _END_UTC_FORMATS:
        try:
            return datetime.strptime(end_utc, fmt).date()
        except ValueError:
            continue
    return None


def _opt(cast, v):
    return cast(v) if v is not None else None


def meta_row(
    path: str, get: Callable[[str], object], width=None, height=None
) -> dict:
    """One META_SCHEMA row. ``get(name)`` returns a product's metadata
    item or None; ``width``/``height`` are the fallbacks when it lacks
    the sample counts (a TIFF's header shape)."""
    end_utc = get("acquisition_end_utc")
    n_rg = get("number_of_range_samples")
    n_az = get("number_of_azimuth_samples")
    return {
        "path": path,
        "product_file": get("product_file") or path.rsplit("/", 1)[-1],
        "acquisition_date": acquisition_date(end_utc),
        "acquisition_end_utc": end_utc,
        "incidence_center": _opt(float, get("incidence_center")),
        "orbit_direction": get("orbit_direction"),
        "width": _opt(int, n_rg if n_rg is not None else width),
        "height": _opt(int, n_az if n_az is not None else height),
    }


def map_products(
    binary_df: DataFrame,
    parse: Callable[[str, bytes], dict | None],
    schema: str,
) -> DataFrame:
    """binaryFile rows → one ``schema`` row per file that
    ``parse(path, bytes)`` accepts (it returns None to drop a file).
    Batches where every file is dropped emit nothing: an empty column
    cannot Arrow-cast to an array type."""
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for r in map(parse, pdf["path"], map(bytes, pdf["content"]))
                if r is not None
            ]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return binary_df.select("path", "content").mapInPandas(run, schema=schema)
