"""Pure helpers: percentile summaries and span arithmetic.

No Spark here, so the rules the report depends on are unit-tested in
isolation (perfbench/tests/test_stats.py).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# percentiles tried from the highest down; a timing reports the highest one
# that still has at least TAIL_MIN_BEYOND samples above it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (no interpolation): the smallest value with
    at least pct% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(pct, len(values)) - 1]


def tail_pct(n: int) -> float | None:
    """Highest ladder percentile with >= TAIL_MIN_BEYOND samples beyond its
    nearest rank, or None when the sample is too small for any."""
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            return pct
    return None


def summarize(values: list[float]) -> dict:
    """{'median', 'n', 'tail_pct', 'tail'}; tail fields are None when the
    sample cannot support a tail percentile."""
    if not values:
        return {"median": None, "n": 0, "tail_pct": None, "tail": None}
    pct = tail_pct(len(values))
    return {"median": statistics.median(values), "n": len(values),
            "tail_pct": pct,
            "tail": percentile(values, pct) if pct is not None else None}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    """One timed call into a layer. ``parent`` is the id of the enclosing
    span (None at top level); spans of one operation share ``trace``."""
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    trace: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (overlapping children are counted once, and a child's
    time outside the parent's interval is ignored)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id and s.end is not None:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end or s.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.id: s.duration - union_length(kids.get(s.id, []))
            for s in spans}
