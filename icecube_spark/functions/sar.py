"""SAR band math as JVM-side column expressions (SURVEY §2 A10).

Reference semantics: SLC products carry Real + Imaginary components
(icecube/bin/sar_cube/slc_datacube.py:25-40, NAME_REAL_BAND /
NAME_COMPLEX_BAND); GRD products carry Intensity
(grd_datacube.py, NAME_INTENSITY_BAND). Derived bands:

    amplitude = sqrt(re^2 + im^2)
    intensity = amplitude^2
    phase     = atan2(im, re)
    db        = 10 * log10(intensity)

All pure column math — whole-stage codegen, no UDFs. atan2/log10 are
not correctly-rounded by libm, so phase/db are excluded from
bit-exact oracle queries (tested with tolerance instead).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def amplitude(re: Column, im: Column) -> Column:
    return F.sqrt(re * re + im * im)


def intensity(re: Column, im: Column) -> Column:
    return re * re + im * im


def phase(re: Column, im: Column) -> Column:
    return F.atan2(im, re)


def to_db(intensity_col: Column) -> Column:
    """Linear intensity → decibels."""
    return 10.0 * F.log10(intensity_col)
