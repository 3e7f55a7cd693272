"""Tests of the benchmark's own code; none starts Spark. Run from the
root of a checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import slc_stacks  # noqa: E402
import stats  # noqa: E402
from run import result_line  # noqa: E402
from stats import OpRecord  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import Clock, Context, run_op, timed_phases  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stack_digest(seed: int, stack: int, out_dir) -> str:
    slc_stacks.write_stack(seed, stack, str(out_dir))
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generator_same_seed_same_bytes(tmp_path):
    assert stack_digest(7, 3, tmp_path / "a") == stack_digest(7, 3, tmp_path / "b")


def test_generator_depends_on_seed_and_stack(tmp_path):
    digests = {
        stack_digest(seed, stack, tmp_path / f"{seed}-{stack}")
        for seed, stack in ((1, 0), (2, 0), (1, 1))
    }
    assert len(digests) == 3


@pytest.mark.parametrize("seed", range(5))
def test_config_drops_a_fifth_and_keeps_a_same_date_pair(seed):
    products = slc_stacks.stack_products(seed, 0)
    kept = [p for p in products if p.kept]
    assert len(products) == slc_stacks.N_PRODUCTS
    assert len(kept) == slc_stacks.N_PRODUCTS * 4 // 5
    days = [p.acquired.date() for p in kept]
    assert len(set(days)) == len(days) - 1


def test_metric_names_and_units_are_valid():
    s = spec()
    metrics = s["end_to_end"] + s["per_layer"]
    names = [m["name"] for m in metrics + s["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(UNIT.fullmatch(m["unit"]) for m in metrics)
    assert all(m["better"] in ("higher", "lower") for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": max(m["bound"] for m in s["end_to_end"])}
    ]


@pytest.mark.parametrize("trace", (0, 1))
def test_result_line_reports_exactly_the_declared_metrics(trace):
    s = spec()
    e2e = {m["name"]: 1.5 for m in s["end_to_end"]}
    e2e.update(
        op_tail_s=2.0, op_tail_pct=87.5, op_tail_beyond=1, op_count=8,
        failed_frac=0.0, peak_rss_mb=900.0, attempted=20, failed=0,
    )
    record = {"workload": "w", "seed": 1, "trace": trace, "end_to_end": e2e}
    if trace:
        record["per_layer"] = {m["name"]: 2.5 for m in s["per_layer"]}
    final = json.loads(result_line(record, s)[1])
    section = "per_layer" if trace else "end_to_end"
    assert final["metrics"] == {
        m["name"]: {"value": 2.5 if trace else 1.5, "unit": m["unit"]} for m in s[section]
    }
    assert (final["correct"], final["attempted"], final["failed"]) == (True, 20, 0)


def test_tail_has_a_fifth_of_the_ops_beyond_it_up_to_ten():
    assert stats.tail([float(x) for x in range(8, 0, -1)]) == (7.0, 1, 87.5)
    assert stats.tail([float(x) for x in range(1, 28)]) == (22.0, 5, 100.0 * 22 / 27)
    assert stats.tail([float(x) for x in range(1, 101)]) == (90.0, 10, 90.0)
    assert stats.tail([float(x) for x in range(1, 201)]) == (190.0, 10, 95.0)
    assert stats.tail([2.0, 1.0]) == (1.0, 1, 50.0)
    with pytest.raises(ValueError):
        stats.tail([1.0])


def test_median_is_harrell_davis():
    assert stats.median([3.0, 1.0, 2.0]) == pytest.approx(2.0)
    assert stats.median([4.0] * 7) == pytest.approx(4.0)
    # Beta(2, 2) mass over thirds: 7/27, 13/27, 7/27.
    assert stats.median([0.0, 0.0, 27.0]) == pytest.approx(7.0, rel=1e-4)
    # Swapping the two middle ops of two keys moves it a little, not by their gap.
    a = [0.2, 0.3, 0.8, 1.0, 1.9, 2.0]
    b = [0.2, 0.3, 0.95, 0.85, 1.9, 2.0]
    assert abs(stats.median(a) - stats.median(b)) < 0.01


def test_failed_op_raises_failed_frac_and_stays_in_the_record():
    ops = [OpRecord(f"o{i}", "k", 1.0, True) for i in range(9)]
    clean = stats.summarize(ops + [OpRecord("o9", "k", 1.0, True)], 60.0)
    failed = stats.summarize(ops + [OpRecord("bad", "k", 9.0, False, "x")], 60.0)
    assert clean["failed_frac"] == 0.0 and failed["failed_frac"] == 0.1
    assert failed["op_count"] == clean["op_count"] == 10
    assert failed["ops_per_min"] == 9.0
    assert stats.summarize(ops[:5] + [OpRecord("bad", "k", 9.0, False)] * 5, 60.0)["op_p50_s"] == pytest.approx(5.0)


def test_run_op_records_a_raise_and_a_failed_check():
    ctx = Context(spark=None, seed=0, work="", tracer=Tracer())
    raised = run_op(ctx, Clock(), "a", "k", lambda: 1 // 0, lambda r: "")
    wrong = run_op(ctx, Clock(), "b", "k", lambda: 1, lambda r: "" if r == 2 else "got 1")
    right = run_op(ctx, Clock(), "c", "k", lambda: 2, lambda r: "" if r == 2 else "got 1")
    assert not raised.ok and raised.error.startswith("ZeroDivisionError")
    assert not wrong.ok and wrong.error == "check: got 1"
    assert right.ok and right.error == ""


def test_check_runs_with_the_clock_paused():
    ctx = Context(spark=None, seed=0, work="", tracer=Tracer())
    clock = Clock()
    rec = run_op(ctx, clock, "a", "k", lambda: None, lambda r: time_passes(0.05))
    assert rec.ok and clock.paused >= 0.05 and rec.latency_s < 0.05


class FakeWorkload:
    """Rounds of two ops that record whether tracing was on."""

    min_ops = 4

    def __init__(self, ctx):
        self.ctx, self.seen = ctx, []

    def rounds(self, ctx):
        n = 0
        while True:
            yield [(f"r{n}-{i}", "k", self.op) for i in range(2)]
            n += 1

    def op(self):
        self.seen.append(self.ctx.tracer.active)

    def check(self, ctx, key, result):
        return ""

    def probe(self, ctx, op_id, result):
        pass


class FakeCounters:
    def set_group(self, group):
        pass

    def clear_group(self):
        pass

    def harvest(self, group, window):
        return {"jobs": 0}


def test_untraced_run_has_one_phase_of_min_ops():
    ctx = Context(spark=None, seed=0, work="", tracer=Tracer())
    wl = FakeWorkload(ctx)
    phases = timed_phases(ctx, wl, 0.0)
    assert list(phases) == ["base"]
    assert [o.op_id for o in phases["base"][0]] == ["base-r0-0", "base-r0-1", "base-r1-0", "base-r1-1"]
    assert wl.seen == [False] * 4 and ctx.layer_rows == []


def test_traced_run_alternates_rounds_and_traces_only_its_own():
    ctx = Context(spark=None, seed=0, work="", tracer=Tracer())
    wl = FakeWorkload(ctx)
    phases = timed_phases(ctx, wl, 0.0, FakeCounters())
    assert [o.op_id for o in phases["base"][0]] == ["base-r0-0", "base-r0-1", "base-r2-0", "base-r2-1"]
    assert [o.op_id for o in phases["traced"][0]] == ["traced-r1-0", "traced-r1-1", "traced-r3-0", "traced-r3-1"]
    assert wl.seen == [False, False, True, True] * 2
    assert [r["op"] for r in ctx.layer_rows] == [o.op_id for o in phases["traced"][0]]
    assert not ctx.tracer.active and ctx.counters is None


def time_passes(seconds: float) -> str:
    import time

    time.sleep(seconds)
    return ""
