"""Shared records for the workloads."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    cpus: int
    tracer: object
    jobs: object


@dataclass
class Op:
    """One user-visible operation: a request, a batch, a lookup or a query."""

    kind: str
    key: str
    latency_s: float = 0.0
    end: float = 0.0
    output: object = None
    error: str | None = None
    mismatch: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.mismatch is None


@dataclass
class Result:
    ops: list[Op]
    op_p50_s: float
    work_per_s: float
    named: dict[str, tuple[float | None, str]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def median_latency(ops: list[Op]) -> float:
    """Median latency of the operations that succeeded, or of all of
    them when none did (so a broken build still reports a number)."""
    return statistics.median([o.latency_s for o in ops if o.ok]
                             or [o.latency_s for o in ops])


def percentile_tail(values: list[float]) -> tuple[int | None, float | None]:
    """The highest whole percentile with at least ten samples above it,
    and its value (nearest-rank); ``(None, None)`` below 20 samples,
    where that percentile would not be above the median."""
    n = len(values)
    if n < 20:
        return None, None
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return pct, sorted(values)[rank - 1]
