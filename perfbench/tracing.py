"""Tracing for the traced run: spans around calls into the program's
layers, and Spark runtime counters per op read from the status store.

Spans are kept in memory and written out once, at the end of the run.
A span records its name, start, end, parent span and op id; spans of
one op share the op id. Wrappers are installed on module attributes of
the program from the benchmark's side: no program file is changed.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span store plus the wrappers that feed it.

    Wrappers stay installed for the whole run; they record only while
    ``active`` is true, so an untraced phase pays one attribute check
    per wrapped call.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.op = None
        return self._local.stack

    @contextmanager
    def op(self, op_id: str):
        """Tag every span opened inside with ``op_id``."""
        self._stack()
        prev, self._local.op = self._local.op, op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self._local.op,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def patch(self, original, name: str, prefixes=("icecube_spark", "__spark_entry__")) -> int:
        """Replace every module-level reference to ``original`` inside the
        program's loaded modules with a traced wrapper. Returns how many
        references were replaced (a function imported by name into
        several modules is bound in each)."""
        traced = self.wrap(original, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefixes):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, traced)
                    n += 1
        return n

    def patch_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrap(getattr(cls, attr), name))

    # -- reading spans back --------------------------------------------

    def total(self, name: str, ops: set | None = None) -> tuple[float, int]:
        """(summed seconds, call count) of the spans called ``name`` or
        ``name:<anything>``, optionally only those of ``ops``. A span
        nested in one of the same family is counted as a call but its
        seconds are not summed twice."""
        secs, calls = 0.0, 0
        spans = self.spans
        for i, s in enumerate(spans):
            if s["end"] is None or not _in_family(s["name"], name):
                continue
            if ops is not None and s["op"] not in ops:
                continue
            calls += 1
            if not _has_ancestor(spans, i, name):
                secs += s["end"] - s["start"]
        return secs, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


def _in_family(span_name: str, family: str) -> bool:
    return span_name == family or span_name.startswith(family + ":")


def _has_ancestor(spans: list[dict], idx: int, family: str) -> bool:
    parent = spans[idx]["parent"]
    while parent is not None:
        if _in_family(spans[parent]["name"], family):
            return True
        parent = spans[parent]["parent"]
    return False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length covered by the union of closed intervals."""
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


class SparkCounters:
    """Runtime counters of one job group, read from Spark's status
    store. The store keeps ``spark.ui.retainedJobs`` jobs (1000 by
    default), so each op's group is read right after the op ends."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
        "jvm_gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def harvest(self, group: str, window: tuple[float, float]) -> dict:
        """Counters of ``group`` plus ``driver_only_s``: the op wall
        ``window`` (epoch seconds) minus the union of its job spans."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(self.FIELDS, 0)
        spans = []
        seen_stages = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["jvm_gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        lo, hi = window
        clipped = [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]
        out["driver_only_s"] = max(0.0, (hi - lo) - union_length(clipped))
        return out
