"""Summary statistics the benchmark reports.

The percentile rule: a timing is reported as its median plus the
highest percentile that still has at least ``MIN_BEYOND`` samples
above it; a percentile with fewer samples beyond it is noise and is
not reported at all.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75)


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the
    nearest-rank ``pct`` percentile."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def percentile(values: list[float], pct: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, pct) < MIN_BEYOND:
        return None
    return sorted(values)[max(1, math.ceil(pct / 100.0 * n)) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(pct, value) of the highest reportable tail percentile."""
    for pct in TAIL_PERCENTILES:
        v = percentile(values, pct)
        if v is not None:
            return pct, v
    return None


@dataclass
class OpLog:
    """Outcome of every operation one window attempted: latencies of
    the ones that succeeded and the error of each one that failed."""

    latencies_s: list[float] = field(default_factory=list)
    names: list[str] = field(default_factory=list)  # parallel to latencies_s
    items: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.latencies_s) + len(self.errors)

    @property
    def failed(self) -> int:
        return len(self.errors)

    def ok(self, name: str, seconds: float, items: int) -> None:
        self.names.append(name)
        self.latencies_s.append(seconds)
        self.items += items

    def fail(self, error: str) -> None:
        self.errors.append(error)
