"""Replicate the driver's correctness gate locally: run every
queries() entry at sf0.01 and compare to its oracle_sql() twin in
DuckDB (sorted columns, sorted rows, bit-exact floats).

Usage: python scripts/driver_verify.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from icecube_spark.catalog import TABLES  # noqa: E402
from icecube_spark.session import get_spark  # noqa: E402


def compare(got, want) -> tuple[bool, str]:
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return False, f"cols {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} vs {len(want)}"
    got = got.reindex(cols, axis=1)
    want = want.reindex(cols, axis=1)
    # The driver's canonicalizer crashes on ARRAY cells (unhashable list
    # inside pandas sort) — an oracle-graded key must emit scalars only.
    for c in cols:
        if got[c].dtype == object and len(got):
            v = got[c].iloc[0]
            if isinstance(v, (list, np.ndarray)):
                return False, f"driver-ungradeable ARRAY column {c}"
    for d in (got, want):
        for c in cols:
            if str(d[c].dtype).startswith("datetime64"):
                d[c] = d[c].astype("datetime64[us]")
            elif d[c].dtype == object:
                d[c] = d[c].apply(
                    lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
                )
    got = got.sort_values(by=cols, ignore_index=True)
    want = want.sort_values(by=cols, ignore_index=True)
    # Driver-hash canonicalization guard: the driver hashes rendered values,
    # so a dtype-kind difference (e.g. DuckDB HUGEINT -> float64/object vs
    # Spark BIGINT -> int64) hash-mismatches even when values are equal.
    # Catch representation drift here, before the driver sees it.
    for c in cols:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if gk != wk and not (len(got) == 0):
            # int-vs-float or int-vs-object drift is exactly the r2
            # survival_km/order_backlog failure signature.
            if {gk, wk} <= {"i", "u"}:
                continue  # signed/unsigned int width only; renders the same
            return False, f"dtype drift in col {c}: {got[c].dtype} vs {want[c].dtype}"
        # Same kind but different float WIDTH (float32 vs float64): the
        # values upcast-equal, but the driver hashes RENDERED values and
        # float32 renders shorter — the r9 embed_standardize signature.
        if gk == "f" and got[c].dtype != want[c].dtype and len(got):
            return False, f"float width drift in col {c}: {got[c].dtype} vs {want[c].dtype}"
    for c in cols:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            g = g.astype(float)
            w = w.astype(float)
            ok = ((g == w) | (np.isnan(g) & np.isnan(w))).all()
        else:
            ok = (got[c].astype(str).values == want[c].astype(str).values).all()
        if not ok:
            return False, f"values differ in col {c}"
    return True, ""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("driver-verify")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            bad.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows")
            continue
        want = con.sql(oracles[name]).df()
        ok, why = compare(got, want)
        print(("OK  " if ok else "FAIL") + f" {name} ({len(got)} rows) {why}")
        if not ok:
            bad.append(name)
    print("BAD:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
