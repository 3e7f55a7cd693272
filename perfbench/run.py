"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload cube_ingest --seed 1 --seconds 10 --trace 0

With ``--trace 0`` it measures the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` it alternates untraced and traced
rounds of ops, and reports the per-layer metrics of the traced rounds
and the tracing overhead. The last line of standard output is one JSON
object; a human-readable line with every metric, its unit and the op
count comes just before it. Spans and the full record of the run are
written under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
OVERHEAD_OF = ("ops_per_min", "op_p50_s", "op_tail_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Keep every file Spark, its JVM and its Python workers write
    inside the checkout (``-XX:-UsePerfData``: no perf-counter file in
    the system temp directory), and run on ``local[cores]``; every other
    setting is the one ``icecube_spark.session`` chooses."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(path),
            "SPARK_GRAFT_CONF": ";".join(
                [
                    f"spark.sql.warehouse.dir={work}/warehouse",
                    f"spark.icecube.materialize.dir={work}/checkpoints",
                    f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                ]
            ),
        }
    )
    sys.path[:0] = [ROOT, HERE]


def install_wrappers(tracer) -> None:
    """Spans around the public entry points of each traced layer."""
    from icecube_spark import cube
    from icecube_spark.functions import materialize
    from icecube_spark.sources import netcdf3

    tracer.patch(materialize.materialize, "functions.materialize")
    staging = [m for m in ("icecube_spark.queries.llm_queries", "icecube_spark.queries.analytics") if m in sys.modules]
    for mod in map(sys.modules.get, staging):
        for attr in [a for a in vars(mod) if a.startswith("staged_")]:
            tracer.patch(getattr(mod, attr), f"queries.staging:{attr}")
    tracer.patch(cube.create_cube_from_slc, "cube.build:create_cube_from_slc")
    tracer.patch_method(cube.Datacube, "get_dimensions", "cube.build:get_dimensions")
    tracer.patch(netcdf3.cube_to_file, "sources.netcdf3.export")
    tracer.patch(netcdf3.netcdf_to_cube, "sources.netcdf3.reopen")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def layer_metrics(tracer, ctx, ops, wall: float, cores: int, session_start_s: float) -> dict:
    """Per-layer figures of the traced phase: per-op means of the
    op-scoped spans and counters; run totals, set-up included, for
    staging."""
    ids = {o.op_id for o in ops}
    n = len(ops)

    def per_op_s(name):
        return tracer.total(name, ids)[0] / n

    def mean(field):
        vals = [r[field] for r in ctx.layer_rows if r["op"] in ids and field in r]
        return sum(vals) / n if vals else 0.0

    staging_s, staging_calls = tracer.total("queries.staging")
    mat_s, mat_calls = tracer.total("functions.materialize", ids)
    runtime_ms = sum(r.get("executor_run_ms", 0) for r in ctx.layer_rows if r["op"] in ids)
    out = {
        "session.start_s": session_start_s,
        "queries.staging_s": staging_s,
        "queries.staging_calls": staging_calls,
        "queries.build_s": per_op_s("queries.build"),
        "functions.materialize_calls": mat_calls / n,
        "functions.materialize_s": mat_s / n,
        "session.exec_s": per_op_s("session.exec"),
        "session.driver_only_s": mean("driver_only_s"),
        "session.core_busy_frac": runtime_ms / 1000.0 / (wall * cores),
        "sources.hdf5.crawl_s": mean("crawl_s"),
        "sources.hdf5.decode_s": mean("decode_s"),
        "cube.build_s": per_op_s("cube.build"),
        "sources.netcdf3.export_s": per_op_s("sources.netcdf3.export"),
        "sources.netcdf3.reopen_s": per_op_s("sources.netcdf3.reopen"),
        "sources.netcdf3.bytes_per_input_byte": mean("bytes_per_input_byte"),
    }
    from tracing import SparkCounters

    for field in SparkCounters.FIELDS:
        out[f"session.{field}"] = mean(field)
    return out


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"run-{os.getpid()}")
    configure_env(work, cores)

    import stats
    import workloads
    from tracing import SparkCounters, Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    traced = bool(args.trace)
    tracer = Tracer()
    tracer.active = traced
    setup_clock = workloads.Clock()
    from icecube_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    wl = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload]()
        if traced:
            install_wrappers(tracer)
        ctx = workloads.Context(
            spark=spark, seed=args.seed, work=work, tracer=tracer,
            oracle_cache=os.path.join(OUT, "oracle-cache"),
        )
        warm_ops = wl.setup(ctx, setup_clock)
        setup_s = setup_clock.elapsed()

        tracer.active = False
        phases = workloads.timed_phases(
            ctx, wl, args.seconds, SparkCounters(spark) if traced else None
        )
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)

    summary = {k: stats.summarize(o, w) for k, (o, w, _) in phases.items()}
    every_op = warm_ops + [o for ops, _, _ in phases.values() for o in ops]
    e2e = dict(
        summary["base"],
        setup_s=setup_s,
        peak_rss_mb=peak_rss_mb,
        attempted=len(every_op),
        failed=sum(not o.ok for o in every_op),
    )
    e2e["failed_frac"] = e2e["failed"] / e2e["attempted"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "end_to_end": e2e,
        "paused_s": {"setup": setup_clock.paused, **{k: v[2] for k, v in phases.items()}},
        "ops": {"setup": [vars(o) for o in warm_ops], **{k: [vars(o) for o in v[0]] for k, v in phases.items()}},
    }
    if traced:
        t_ops, t_wall, _ = phases["traced"]
        layers = layer_metrics(tracer, ctx, t_ops, t_wall, cores, session_start_s)
        layers["peak_rss_mb"] = peak_rss_mb
        layers["op_tail_s"] = summary["base"]["op_tail_s"]
        for m in OVERHEAD_OF:
            layers[f"trace.overhead.{m}"] = summary["traced"][m] - summary["base"][m]
        record["per_layer"] = layers
        record["traced_end_to_end"] = summary["traced"]
        record["layer_rows"] = ctx.layer_rows
        os.makedirs(os.path.join(OUT, "spans"), exist_ok=True)
        tracer.dump(os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "records", name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return record


def result_line(record: dict, spec: dict) -> tuple[str, str]:
    """(human-readable line, final JSON line)."""
    e2e = record["end_to_end"]
    section = "per_layer" if record["trace"] else "end_to_end"
    values = record["per_layer"] if record["trace"] else e2e
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in spec[section]
    }
    shown = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    shown.update(failed_frac="ratio", peak_rss_mb="MiB", op_tail_s="s")
    human = " ".join(
        [f"{record['workload']} seed={record['seed']}:"]
        + [f"{k}={e2e[k]:.6g} {u}" for k, u in shown.items()]
        + [f"(op_tail_s at p{e2e['op_tail_pct']:.3g} with {e2e['op_tail_beyond']} of {e2e['op_count']} timed ops beyond it)"]
    )
    final = {
        "correct": e2e["failed"] == 0,
        "attempted": e2e["attempted"],
        "failed": e2e["failed"],
        "metrics": metrics,
    }
    return human, json.dumps(final)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "icecube_spark")):
        print("perfbench: run from the root of an icecube_spark checkout", file=sys.stderr)
        return 2
    record = run(args)
    human, final = result_line(record, spec)
    print(human)
    print(final, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
