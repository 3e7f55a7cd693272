"""Isolate-time registry keys: one Spark session, JVM warmup, then N
noop-sink shots per key (guide §1.4) with per-shot timings — the
measurement harness for optimization rounds.

Usage: python scripts/isolate_time.py [--sf DIR] [--shots N] key [key ...]

Prints one line per key: all shot timings plus min/median. Staging
tables build on first touch and are charged to a separate warmup shot,
so the timed shots are steady-state (same convention as bench.py).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from icecube_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--shots", type=int, default=3)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    spark = get_spark("isolate-time")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    bad = [k for k in args.keys if k not in qs]
    if bad:
        raise SystemExit(f"unknown keys: {bad}")

    # JVM/codegen/parquet-footer warmup (bench.py's fixed trio)
    for name in ("q1_pricing_summary", "source_mix", "sar_band_math"):
        qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()

    for name in args.keys:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"isolate:{name}:warmup")
        t0 = time.perf_counter()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        warm = time.perf_counter() - t0
        shots = []
        for i in range(args.shots):
            import gc

            gc.collect()
            spark.sparkContext.setJobDescription(f"isolate:{name}:shot{i}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            shots.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: warmup={warm:.3f} shots={shots} "
            f"min={min(shots):.3f} median={statistics.median(shots):.3f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
