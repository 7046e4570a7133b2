"""Summary statistics for one benchmark run. Pure functions, no Spark."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie above the reported tail
SIMPSON_STEPS = 64  # per sample slice, in ``hd_quantile``


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile: the mean of the
    sorted samples, each weighted by the mass of a
    Beta((n+1)p, (n+1)(1-p)) density on its slice [i/n, (i+1)/n].

    It draws on every sample near the quantile instead of one, so it
    moves less with the noise of single ops. The 23 queries of a catalog
    pass differ in cost, and their plain median moved 25% across six
    runs where this estimate moved 14%."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("quantile of an empty sample")
    if n == 1:
        return xs[0]
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)

    h = 1.0 / (n * SIMPSON_STEPS)
    weights = []
    for i in range(n):
        lo = i / n
        inner = sum((4 if k % 2 else 2) * density(lo + k * h) for k in range(1, SIMPSON_STEPS))
        weights.append((density(lo) + inner + density((i + 1) / n)) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(latencies: list[float]) -> dict:
    """Latency at the highest percentile that has at least
    ``TAIL_BEYOND`` samples above it.

    With n samples that is percentile 100 * (n - 10) / n, where the
    (n - 10)-th smallest sits; the value is the Harrell-Davis estimate
    there. A run with at most ten samples has no such percentile: it
    reports its maximum, with ``beyond`` 0, so the record shows that the
    rule was not met."""
    n = len(latencies)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= TAIL_BEYOND:
        return {"value": max(latencies), "percentile": 100.0, "beyond": 0, "n": n}
    p = (n - TAIL_BEYOND) / n
    return {
        "value": hd_quantile(latencies, p),
        "percentile": round(100.0 * p, 2),
        "beyond": TAIL_BEYOND,
        "n": n,
    }


def drift(latencies: list[float]) -> dict:
    """Latencies in time order plus the medians of the run's first and
    second halves, so a run whose ops slow down (or speed up) as it goes
    shows in its record instead of being averaged away."""
    half = len(latencies) // 2
    first, second = latencies[:half], latencies[half:]
    return {
        "latencies_s": list(latencies),
        "first_half_p50_s": statistics.median(first) if first else None,
        "second_half_p50_s": statistics.median(second) if second else None,
    }


def end_to_end(latencies: list[float], ok: int, attempted: int, setup_s: float) -> dict:
    """The five end-to-end metrics of a closed-loop run. Timed wall time
    is the sum of op latencies: one client, so ops never overlap, and
    the untimed checks between ops are excluded."""
    if attempted < 1 or not latencies:
        raise ValueError("a run must attempt at least one op")
    wall = sum(latencies)
    return {
        "ops_per_s": (len(latencies) / wall, "1/s"),
        "p50_s": (hd_quantile(latencies, 0.5), "s"),
        "tail_s": (tail(latencies)["value"], "s"),
        "setup_s": (setup_s, "s"),
        "ok_frac": (ok / attempted, "fraction"),
    }


class Outcomes:
    """Counts ops for ``ok_frac``: an op that raises or whose output
    fails its check is a failure, never skipped."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @property
    def ok(self) -> int:
        return self.attempted - self.failed

    def record(self, passed: bool, why: str = "") -> None:
        self.attempted += 1
        if not passed:
            self.failed += 1
            if why and len(self.errors) < 20:
                self.errors.append(why)


def warmed_up(times: list[float], settle: float) -> bool:
    """True once op times have stopped falling: the latest warm-up op
    is no more than ``settle`` (a fraction) faster than the one before."""
    return len(times) >= 2 and times[-1] >= (1.0 - settle) * times[-2]
