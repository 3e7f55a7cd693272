"""Output checks. They run with the clock paused: outside the timed
phase and outside ``setup_s``."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


def _driver_verify():
    """``scripts/driver_verify.py`` of the checkout, for its ``compare``."""
    path = os.path.join(os.getcwd(), "scripts", "driver_verify.py")
    spec = importlib.util.spec_from_file_location("driver_verify", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB twins of the registered queries over one scale-factor
    directory. Keys without a twin are checked against the schema and
    row count committed in ``expected.json``."""

    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        import duckdb

        from icecube_spark.catalog import TABLES

        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.compare = _driver_verify().compare
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.rows_only = json.load(fh)[os.path.basename(sf_dir)]

    def check(self, key: str, got, sql: str | None, schema: str) -> str:
        """Empty when ``got`` (a collected result whose Spark schema is
        ``schema``) matches its oracle twin or committed description;
        else the reason."""
        if sql is not None:
            ok, why = self.compare(got, self.answer(sql))
            return "" if ok else why
        want = self.rows_only.get(key)
        if want is None:
            return "no oracle and no committed row count"
        have = describe_rows_only(got, schema)
        return "" if have == want else f"{have} vs committed {want}"

    def answer(self, sql: str):
        """The oracle's result. The input tables are read-only, so the
        result of one SQL text is computed once per checkout and kept
        (pickled by this class) under ``cache_dir``."""
        import pandas as pd

        digest = hashlib.sha256(f"{self.sf_dir}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{digest}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = self.con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        want.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return want

    def close(self) -> None:
        self.con.close()


def describe_rows_only(pdf, schema: str) -> dict:
    """The committed form of a rows-only key's expected output: its
    Spark schema and its row count."""
    return {"schema": schema, "rows": len(pdf)}


def check_cube_file(path: str, products) -> str:
    """Empty when the ``.nc`` file holds exactly the ``s_i`` layers of
    the products the config keeps, in date order; else the reason."""
    from icecube_spark.sources.netcdf3 import read_netcdf3

    kept = {p.name: p for p in products if p.kept}
    _, variables, _ = read_netcdf3(path)
    names = [b"".join(r).decode().rstrip("\x00") for r in variables["product_file"][1]]
    dates = [b"".join(r).decode() for r in variables["acquisition_date"][1]]
    pixels = variables["intensity"][1]
    if sorted(names) != sorted(kept):
        return f"products {sorted(names)} vs kept {sorted(kept)}"
    if dates != sorted(dates):
        return f"layers not in date order: {dates}"
    for name, day, layer in zip(names, dates, pixels):
        p = kept[name]
        if day != p.acquired.date().isoformat():
            return f"{name}: date {day} vs {p.acquired.date()}"
        if not np.array_equal(layer, p.s_i.astype("f8")):
            return f"{name}: pixels differ from the generated s_i"
    return ""
