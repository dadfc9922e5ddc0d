"""Pure helpers behind the reported numbers (no Spark, no I/O)."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

# A percentile is reported only when at least this many samples lie
# beyond it; with fewer, the value is set by one or two outliers.
MIN_TAIL_SAMPLES = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile, ``0 < p <= 1``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples rank strictly above the nearest-rank
    ``p`` percentile."""
    return n - max(1, math.ceil(p * n)) if n else 0


def tail_percentile(values: Sequence[float], p: float) -> tuple[float | None, int]:
    """``(percentile, samples beyond it)``; the percentile is ``None``
    when fewer than ``MIN_TAIL_SAMPLES`` samples lie beyond it."""
    beyond = samples_beyond(len(values), p)
    if beyond < MIN_TAIL_SAMPLES:
        return None, beyond
    return percentile(values, p), beyond


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (children clipped to the parent; overlapping children count once)."""
    start, end = span
    clipped = [(max(start, s), min(end, e)) for s, e in children if e > start and s < end]
    return (end - start) - covered(clipped)


class Tally:
    """Operations attempted and failed; a failure is an exception or a
    failed output check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, failure: str | None) -> None:
        self.attempted += 1
        if failure is not None:
            self.failed += 1

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
