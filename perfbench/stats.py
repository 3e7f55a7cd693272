"""Op records and the end-to-end metrics computed from them."""

from __future__ import annotations

import math
from dataclasses import dataclass

TAIL_BEYOND = 10  # ops beyond the reported tail once a phase has 50 or more


@dataclass
class OpRecord:
    op_id: str
    key: str
    latency_s: float
    ok: bool
    error: str = ""


def tail(latencies: list[float]) -> tuple[float, int, float]:
    """(value, ops beyond it, percentile) of the highest nearest-rank
    percentile with ``TAIL_BEYOND`` ops beyond it, or with a fifth of the
    ops (at least one) beyond it when there are fewer than 50 ops."""
    n = len(latencies)
    if n < 2:
        raise ValueError(f"{n} ops: a tail needs an op beyond it")
    beyond = max(1, min(TAIL_BEYOND, n // 5))
    rank = n - beyond
    return sorted(latencies)[rank - 1], beyond, 100.0 * rank / n


def median(latencies: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by the Beta((n+1)/2, (n+1)/2) mass over
    [i/n, (i+1)/n]. Unlike the middle order statistic it moves smoothly
    when ops of different keys trade places near the middle."""
    steps = 256  # midpoint-rule steps per interval
    x = sorted(latencies)
    n = len(x)
    a = (n + 1) / 2.0
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)
    weights = []
    for i in range(n):
        h = 1.0 / (n * steps)
        ts = ((i + (k + 0.5) / steps) / n for k in range(steps))
        weights.append(h * sum(math.exp((a - 1) * math.log(t * (1 - t)) - log_norm) for t in ts))
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def summarize(ops: list[OpRecord], wall_s: float) -> dict:
    """End-to-end figures of one timed phase. Failed ops stay in the
    record: they count as attempted, raise ``failed_frac`` and keep
    their latency in the percentiles."""
    lat = [o.latency_s for o in ops]
    failed = sum(not o.ok for o in ops)
    tail_s, beyond, pct = tail(lat)
    return {
        "ops_per_min": 60.0 * (len(ops) - failed) / wall_s,
        "op_p50_s": median(lat),
        "op_tail_s": tail_s,
        "op_tail_pct": pct,
        "op_tail_beyond": beyond,
        "op_count": len(ops),
        "failed_frac": failed / len(ops),
    }
