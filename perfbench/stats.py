"""Pure helpers: percentiles, op outcome counting, result line checks."""

from __future__ import annotations

import json
import math
import os
import re
import threading

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def percentile(values: list[float], q: float) -> float:
    """The Harrell-Davis estimate of the q-th percentile, q in [0, 100]: a
    Beta-weighted mean of all order statistics. A run holds 15-25 ops of a
    few kinds whose latencies cluster by kind; the plain sample quantile is
    one order statistic, and it jumps whenever it falls where one cluster
    ends and the next begins. The weighted mean moves smoothly."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    n = len(xs)
    if q <= 0 or q >= 100:
        return xs[0] if q <= 0 else xs[-1]
    a, b = q / 100 * (n + 1), (1 - q / 100) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return front * h


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def p50(values: list[float]) -> float:
    """Median, or 0.0 for a layer the workload never entered."""
    return median(values) if values else 0.0


class Outcomes:
    """Attempted / failed op counts, safe to update from client threads.
    An op fails when it raises or when its output is wrong; an op is
    counted once however many ways it failed."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted = 0
        self._failed: set[int] = set()
        self.errors: list[str] = []

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, op_id: int, why: str) -> None:
        with self._lock:
            if op_id not in self._failed:
                self._failed.add(op_id)
                if len(self.errors) < 20:
                    self.errors.append(f"op {op_id}: {why}")

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def declared_metrics(kind: str) -> dict[str, str]:
    """{name: unit} of the `end_to_end` or `per_layer` list in BENCHMARK.json."""
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def result_line(outcomes: Outcomes, values: dict[str, float], units: dict[str, str]) -> str:
    """The last stdout line. Every declared metric must be present, and no
    other; a mismatch is a benchmark bug and raises."""
    if outcomes.attempted < 1:
        raise RuntimeError("no op was attempted")
    if set(values) != set(units):
        raise KeyError(f"metrics {sorted(set(values) ^ set(units))} not matched to BENCHMARK.json")
    bad = [n for n in values if not NAME_RE.match(n)]
    if bad:
        raise ValueError(f"bad metric names {bad}")
    return json.dumps({
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in sorted(values)},
    })
