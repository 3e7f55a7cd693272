"""Seeded SLC stack generator for the ``cube_ingest`` workload.

Each stack is a directory of ICEYE-like SLC ``.h5`` products written
with the repository's own ``sources.hdf5_write.write_h5``. The same
``(seed, stack)`` always gives the same bytes; another seed gives
other pixels, dates, angles and names.

Every stack has ``N_PRODUCTS`` products, and ``CONFIG`` drops exactly
one of them (20%): drawn from the seed, it is either acquired before
``start_date`` or has an incidence angle above ``max_incidence_angle``.
Two kept products share an acquisition date, which
``temporal_overlap: true`` keeps.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import date, datetime, timedelta

import numpy as np

N_PRODUCTS = 5
HEIGHT = 32
WIDTH = 32

CONFIG = {
    "start_date": 20210201,
    "end_date": 20211130,
    "min_incidence_angle": 20.0,
    "max_incidence_angle": 35.0,
    "temporal_resolution": 0,
    "temporal_overlap": True,
}

_IN_RANGE = (date(2021, 2, 1), date(2021, 11, 30))


@dataclass(frozen=True)
class Product:
    name: str
    acquired: datetime
    incidence: float
    orbit: str
    s_i: np.ndarray
    s_q: np.ndarray

    @property
    def kept(self) -> bool:
        day = self.acquired.date()
        return (
            _IN_RANGE[0] <= day <= _IN_RANGE[1]
            and CONFIG["min_incidence_angle"]
            <= self.incidence
            <= CONFIG["max_incidence_angle"]
        )

    def h5_bytes(self) -> bytes:
        from icecube_spark.sources.hdf5_write import write_h5

        return write_h5(
            {
                "s_i": self.s_i,
                "s_q": self.s_q,
                "product_file": self.name,
                "acquisition_end_utc": self.acquired.strftime(
                    "%Y-%m-%dT%H:%M:%S.%f"
                ),
                "incidence_center": np.array([self.incidence], dtype="f8"),
                "orbit_direction": self.orbit,
                "number_of_azimuth_samples": np.array([HEIGHT], dtype="i4"),
                "number_of_range_samples": np.array([WIDTH], dtype="i4"),
            }
        )


def stack_products(seed: int, stack: int) -> list[Product]:
    """The products of stack ``stack`` for ``seed``, in file-name order."""
    rng = np.random.default_rng([seed, stack])
    span = (_IN_RANGE[1] - _IN_RANGE[0]).days
    days = rng.choice(span + 1, size=N_PRODUCTS, replace=False)
    acq_days = [_IN_RANGE[0] + timedelta(days=int(d)) for d in days]
    acq_days[1] = acq_days[0]  # a same-date pair, kept by temporal_overlap
    angles = list(rng.uniform(20.5, 34.5, size=N_PRODUCTS))
    if rng.integers(0, 2):  # the last one is dropped: too early ...
        acq_days[-1] = _IN_RANGE[0] - timedelta(days=int(rng.integers(1, 30)))
    else:  # ... or too steep
        angles[-1] = float(rng.uniform(36.0, 44.0))
    products = []
    for i, (day, angle) in enumerate(zip(acq_days, angles)):
        secs = int(rng.integers(0, 86_400))
        acquired = datetime(day.year, day.month, day.day) + timedelta(
            seconds=secs, microseconds=int(rng.integers(0, 1_000_000))
        )
        tag = rng.bytes(4).hex()
        products.append(
            Product(
                name=f"ICEYE_SLC_{seed}_{stack:04d}_{tag}_{i:02d}.h5",
                acquired=acquired,
                incidence=round(float(angle), 6),
                orbit=("ASCENDING", "DESCENDING")[int(rng.integers(0, 2))],
                s_i=rng.normal(0, 300, (HEIGHT, WIDTH)).astype("i2"),
                s_q=rng.normal(0, 300, (HEIGHT, WIDTH)).astype("i2"),
            )
        )
    return sorted(products, key=lambda p: p.name)


def write_stack(seed: int, stack: int, out_dir: str) -> list[Product]:
    """Write one stack's ``.h5`` files into ``out_dir`` (created)."""
    os.makedirs(out_dir, exist_ok=True)
    products = stack_products(seed, stack)
    for p in products:
        with open(os.path.join(out_dir, p.name), "wb") as fh:
            fh.write(p.h5_bytes())
    return products


def write_config(path: str) -> str:
    with open(path, "w") as fh:
        json.dump(CONFIG, fh)
    return path
