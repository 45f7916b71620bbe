"""Statistics the benchmark reports: medians, quartiles, the tail
percentile rule, span self time and failure accounting. Pure Python, no
Spark, so the unit tests run anywhere."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# percentiles considered for the tail figure, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them; a
    single sample is its own quartiles."""
    xs = list(xs)
    if len(xs) == 1:
        return (float(xs[0]),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(xs) -> float:
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread the bounds are checked against."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail(xs) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p in TAIL_PERCENTILES that has
    at least TAIL_MIN_BEYOND samples beyond it, or None when there are too
    few samples for any. The value is the nearest-rank percentile."""
    xs = sorted(xs)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, -(-round(p * 10) * n // 1000))   # ceil(p * n / 100)
        if n - rank >= TAIL_MIN_BEYOND:
            return p, float(xs[rank - 1])
    return None


def summary(xs) -> dict:
    """Median, quartiles, sample count and the tail percentile."""
    xs = list(xs)
    q1, q2, q3 = quartiles(xs)
    out = {"n": len(xs), "median": q2, "q1": q1, "q3": q3}
    t = tail(xs)
    if t is not None:
        out[f"p{t[0]:g}"] = t[1]
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict:
    """span id -> self time: the span's duration minus the part of its
    interval that its direct children cover. Children may overlap each
    other (a stream's batch callbacks run on another thread) and are
    counted once. `spans` is an iterable of objects with id, parent, start
    and end."""
    spans = list(spans)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered(kids.get(s.id, ()), s.start, s.end) for s in spans}


@dataclass
class FailLedger:
    """Operations attempted and failed, with one reason per failure. An
    operation is one repeat, micro-batch or query execution."""
    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.reasons.append(reason)

    def demote(self, reason: str) -> None:
        """Mark one already-counted operation as failed (a check after
        the fact found it wrong)."""
        if self.failed >= self.attempted:
            raise ValueError("more failures than operations")
        self.failed += 1
        self.reasons.append(reason)

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
