"""Order statistics and failure counting for benchmark samples."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

#: candidate tail percentiles, highest first
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75, 0.5)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile: the smallest sample with at least ``q`` of
    the samples at or below it. Raises on an empty sample."""
    if not values:
        raise ValueError("quantile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"quantile level {q} outside (0, 1]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def median(values: list[float]) -> float:
    """Midpoint median (the mean of the two middle samples when even)."""
    if not values:
        raise ValueError("median of an empty sample")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


def geomean(values: list[float]) -> float:
    """Geometric mean of positive samples."""
    if not values:
        raise ValueError("geomean of an empty sample")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def beyond(values: list[float], q: float) -> int:
    """Number of samples strictly above the nearest-rank ``q`` quantile's
    rank, i.e. how many samples the reported percentile does not cover."""
    return len(values) - max(1, math.ceil(q * len(values)))


def tail_percentile(
    values: list[float], min_beyond: int = 10
) -> tuple[float, float] | None:
    """The highest level of :data:`TAIL_LEVELS` with at least
    ``min_beyond`` samples beyond it, as ``(level, value)``; ``None``
    when the sample is too small for even the median to qualify."""
    for q in TAIL_LEVELS:
        if values and beyond(values, q) >= min_beyond:
            return q, quantile(values, q)
    return None


@dataclass
class OpRecord:
    """One timed operation of a measured pass."""

    name: str
    kind: str  # "read", "write" or "fit"
    cycle: int
    start: float  # epoch seconds
    seconds: float
    ok: bool  # completed without raising AND its result checked correct
    measured: bool = True  # False outside the measured pass (end-state checks)
    group: str = ""  # Spark job group the operation ran under
    spans: dict[str, float] = field(default_factory=dict)


@dataclass
class OpLog:
    """Every operation attempted in a run, in order. Operations outside
    the measured pass (end-state checks) count as attempted, since
    their results are checked, but carry no latency."""

    ops: list[OpRecord] = field(default_factory=list)

    def add(self, rec: OpRecord) -> None:
        self.ops.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        """Operations that raised or returned a wrong result."""
        return sum(1 for o in self.ops if not o.ok)

    def error_rate(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def measured(self) -> list[OpRecord]:
        return [o for o in self.ops if o.measured]

    def latencies(self) -> list[float]:
        """Latencies of the measured operations, failed ones included:
        the work was done (or attempted) either way, and ``failed``
        reports the failure."""
        return [o.seconds for o in self.measured()]

    def cycles(self) -> list[int]:
        return sorted({o.cycle for o in self.measured()})

    def cycle_seconds(self) -> list[float]:
        """Per measured cycle, the summed latency of its operations."""
        out: dict[int, float] = {}
        for o in self.measured():
            out[o.cycle] = out.get(o.cycle, 0.0) + o.seconds
        return [out[c] for c in sorted(out)]
