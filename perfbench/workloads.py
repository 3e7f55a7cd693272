"""The benchmark's workloads. Each is a closed loop with one client:
the next op starts only after the previous one has completed.

- ``cube_ingest``: one op builds a cube from a fresh seeded SLC stack
  through ``generate_cube.cli`` (crawl, filter, stack, netCDF export)
  and reopens the file with ``netcdf_to_cube``. Each op's file is
  checked right after the op, with the clock paused.
- ``curation_staged``: one op builds one registered curation query
  over session-staged artifacts and saves it to the noop sink. Set-up
  runs every key once (the warm-up), collecting its result; that
  result is checked against the key's oracle with the clock paused.

Set-up ops and timed ops are recorded alike: a failed warm-up or check
counts as a failed op.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import OpRecord

# Curation keys that read session-staged artifacts (dedup pairs and
# candidates, the copurchase tables, the tfidf fit) or run the
# mapInPandas codec. part_pagerank, the IVF keys (embed_ann_ivf,
# ivf_probe_curve) and minhash_accuracy are left out: together they
# took longer than these nine, part_pagerank's latency alone varied
# two-fold between runs, and a run must stay short enough for the
# benchmark's repeated runs.
CURATION_KEYS = (
    "dedup_minhash_lsh dedup_ngram_jaccard dedup_containment dedup_clusters"
    " basket_lift curation_waterfall text_features split_leakage_check"
    " multimodal_features"
).split()


class Clock:
    """Wall clock that can leave out input generation, output checks,
    counter harvests and layer probes."""

    def __init__(self) -> None:
        self.start = time.perf_counter()
        self.paused = 0.0

    @contextmanager
    def pause(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.paused += time.perf_counter() - t0

    def elapsed(self) -> float:
        return time.perf_counter() - self.start - self.paused


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    tracer: object
    oracle_cache: str = ""
    counters: object = None  # SparkCounters while a phase is traced
    layer_rows: list = field(default_factory=list)


def run_op(ctx: Context, clock: Clock, op_id: str, key: str, thunk, check, probe=None) -> OpRecord:
    """Run one op, then ``check(result)`` with the clock paused; record
    a raise or a failed check as a failed op instead of raising. When
    traced, the op runs in its own Spark job group, whose counters are
    read right after it, and ``probe(op_id, result)`` runs paused."""
    if ctx.counters is not None:
        ctx.counters.set_group(op_id)
    t0, w0 = time.perf_counter(), time.time()
    try:
        with ctx.tracer.op(op_id), ctx.tracer.span(f"op:{key}"):
            result = thunk()
        ok, err = True, ""
    except Exception as exc:  # noqa: BLE001 - one op's failure is data
        ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
    rec = OpRecord(op_id, key, time.perf_counter() - t0, ok, err)
    with clock.pause():
        if ctx.counters is not None:
            ctx.counters.clear_group()
            row = ctx.counters.harvest(op_id, (w0, w0 + rec.latency_s))
            ctx.layer_rows.append({"op": op_id, "key": key, **row})
        if ok:
            why = check(result)
            if why:
                rec.ok, rec.error = False, f"check: {why}"[:300]
        if ok and probe is not None and ctx.counters is not None:
            probe(op_id, result)
    return rec


def timed_phases(ctx: Context, workload, seconds: float, counters=None) -> dict:
    """Closed loop over the workload's rounds. Untraced, every round
    goes to the ``base`` phase. Traced (``counters`` given), rounds go
    to ``base`` and ``traced`` in turn, so that both phases sample the
    same stretch of the session's warm-up, and each phase's clock runs
    only during its own rounds. A phase is complete at a round boundary
    once ``seconds`` of its unpaused wall have passed and it has at
    least ``workload.min_ops`` ops. Returns {tag: (ops, wall seconds,
    paused seconds)}."""
    tags = ("base", "traced") if counters is not None else ("base",)
    clocks = {t: Clock() for t in tags}
    ops: dict[str, list[OpRecord]] = {t: [] for t in tags}

    def complete(tag: str) -> bool:
        return clocks[tag].elapsed() >= seconds and len(ops[tag]) >= workload.min_ops

    rounds = workload.rounds(ctx)
    turn = 0
    while not all(map(complete, tags)):
        tag = tags[turn % len(tags)]
        turn += 1
        if complete(tag):
            continue
        clock, traced = clocks[tag], tag == "traced"
        with contextlib.ExitStack() as others:
            for t in tags:
                if t != tag:
                    others.enter_context(clocks[t].pause())
            with clock.pause():
                batch = next(rounds)
            ctx.tracer.active, ctx.counters = traced, counters if traced else None
            try:
                for op_id, key, thunk in batch:
                    ops[tag].append(
                        run_op(
                            ctx, clock, f"{tag}-{op_id}", key, thunk,
                            lambda r, k=key: workload.check(ctx, k, r),
                            lambda i, r: workload.probe(ctx, i, r),
                        )
                    )
            finally:
                ctx.tracer.active, ctx.counters = False, None
    return {t: (ops[t], clocks[t].elapsed(), clocks[t].paused) for t in tags}


class CurationStaged:
    """One round is one pass over the keys, in an order drawn from the
    seed. Set-up builds the staged artifacts the keys read, then runs
    every key once."""

    name = "curation_staged"
    # Three passes: the keys differ in cost, so the median rests on
    # three samples of each key, and the phase lasts about 30 s.
    min_ops = 3 * len(CURATION_KEYS)

    def __init__(self) -> None:
        import __spark_entry__ as entry
        from tests.conftest import SF_DIR

        registry = entry.queries()
        self.sf_dir = SF_DIR
        self.fns = {k: registry[k] for k in CURATION_KEYS}
        self.oracle_sql = entry.oracle_sql()
        self.oracle = None

    def staging_builds(self, spark):
        """``bench.py``'s staging builds that the keys above read."""
        from icecube_spark.queries import analytics as an
        from icecube_spark.queries import llm_queries as lq

        sf = self.sf_dir
        return [
            ("corpus", lambda: [d.count() for d in lq.staged_corpus(spark, sf)]),
            ("candidates", lambda: lq.staged_candidates(spark, sf).count()),
            ("minhash_pairs", lambda: lq.staged_minhash_pairs(spark, sf).count()),
            ("tfidf_fit", lambda: lq.staged_tfidf_fit(spark, sf)),
            ("copurchase", lambda: [d.count() for d in an.staged_copurchase(spark, sf)]),
        ]

    def setup(self, ctx: Context, clock: Clock) -> list[OpRecord]:
        """The staging builds, then one pass over every key that warms
        its codegen and collects its result for the check."""
        import checks

        for name, build in self.staging_builds(ctx.spark):
            with ctx.tracer.span(f"setup.staging:{name}"):
                build()
        with clock.pause():
            self.oracle = checks.Oracle(self.sf_dir, ctx.oracle_cache)
        warm = []
        for key in CURATION_KEYS:
            with ctx.tracer.span(f"setup.warm:{key}"):
                warm.append(
                    run_op(
                        ctx, clock, f"warm-{key}", key, self._collect(ctx, key),
                        lambda r, k=key: self.oracle.check(k, r[0], self.oracle_sql.get(k), r[1]),
                    )
                )
        return warm

    def rounds(self, ctx: Context):
        pass_no = 0
        while True:
            keys = list(CURATION_KEYS)
            random.Random(ctx.seed * 1_000_003 + pass_no).shuffle(keys)
            yield [(f"p{pass_no}-{k}", k, self._thunk(ctx, k)) for k in keys]
            pass_no += 1

    def _collect(self, ctx: Context, key: str):
        def op():
            df = self.fns[key](ctx.spark, self.sf_dir)
            return df.toPandas(), df.schema.simpleString()

        return op

    def _thunk(self, ctx: Context, key: str):
        def op():
            with ctx.tracer.span("queries.build"):
                df = self.fns[key](ctx.spark, self.sf_dir)
            with ctx.tracer.span("session.exec"):
                df.write.format("noop").mode("overwrite").save()

        return op

    def check(self, ctx: Context, key: str, result) -> str:
        """Timed ops write to the noop sink; each key's output was
        checked once, in set-up."""
        return ""

    def probe(self, ctx: Context, op_id: str, result) -> None:
        pass

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class CubeIngest:
    """One round is one op on a stack generated for it."""

    name = "cube_ingest"
    # Eight ops, about 30 s: as long as the curation phase.
    min_ops = 8

    def __init__(self) -> None:
        self.next_stack = 0
        self.config = None

    def _thunk(self, ctx: Context):
        """Generate the next stack now; return the op that ingests it."""
        import slc_stacks

        stack = self.next_stack
        self.next_stack += 1
        stack_dir = os.path.join(ctx.work, "stacks", f"{stack:05d}")
        out = os.path.join(ctx.work, "cubes", f"{stack:05d}.nc")
        slc_stacks.write_stack(ctx.seed, stack, stack_dir)

        def op():
            from icecube_spark import generate_cube
            from icecube_spark.sources import netcdf3

            with contextlib.redirect_stdout(io.StringIO()):
                generate_cube.cli(
                    [stack_dir, "--config", self.config, "--cube-save", out],
                    spark=ctx.spark,
                )
            n = netcdf3.netcdf_to_cube(ctx.spark, out).df.count()
            return stack, stack_dir, out, n

        return f"s{stack}", op

    def setup(self, ctx: Context, clock: Clock) -> list[OpRecord]:
        """One cold build on a stack of its own, output checked. The
        second build in a session already runs at the timed ops' pace."""
        import slc_stacks

        with clock.pause():
            os.makedirs(os.path.join(ctx.work, "cubes"), exist_ok=True)
            self.config = slc_stacks.write_config(os.path.join(ctx.work, "config.json"))
            op_id, op = self._thunk(ctx)
        with ctx.tracer.span("setup.cold_build"):
            return [
                run_op(ctx, clock, f"warm-{op_id}", "cube", op, lambda r: self.check(ctx, "cube", r))
            ]

    def rounds(self, ctx: Context):
        while True:
            op_id, op = self._thunk(ctx)
            yield [(op_id, "cube", op)]

    def check(self, ctx: Context, key: str, result) -> str:
        import checks
        import slc_stacks

        stack, _, out, n = result
        products = slc_stacks.stack_products(ctx.seed, stack)
        kept = sum(p.kept for p in products)
        if n != kept:
            return f"reopened cube counts {n} layers, the config keeps {kept}"
        return checks.check_cube_file(out, products)

    def probe(self, ctx: Context, op_id: str, result) -> None:
        """Layer probes of a traced op, outside its latency: the crawl
        and the decode each run alone into the noop sink, and the
        export's size is compared with the input's."""
        from icecube_spark.sources import hdf5

        _, stack_dir, out, _ = result
        bdf = ctx.spark.read.format("binaryFile").option(
            "pathGlobFilter", "*.h5"
        ).load(stack_dir)
        row = {"op": op_id, "key": "cube"}
        for name, fn in (("crawl_s", hdf5.crawl_slc_metadata), ("decode_s", hdf5.decode_slc)):
            t0 = time.perf_counter()
            fn(bdf).write.format("noop").mode("overwrite").save()
            row[name] = time.perf_counter() - t0
        in_bytes = sum(
            os.path.getsize(os.path.join(stack_dir, n)) for n in os.listdir(stack_dir)
        )
        row["bytes_per_input_byte"] = os.path.getsize(out) / in_bytes
        ctx.layer_rows.append(row)

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (CubeIngest, CurationStaged)}
