"""Pure summary functions of the benchmark: medians, the tail-percentile
rule, failure share and span self time. No Spark, no I/O."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of ``values``."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile that still has at least ``min_beyond``
    samples strictly above it, as ``(value, percentile, n)``.

    A tail estimate resting on fewer samples than that is one unlucky
    sample, so with ``n <= min_beyond`` samples no percentile qualifies and
    the rule falls back to the maximum, reported as percentile 100."""
    n = len(values)
    if n == 0:
        return 0.0, 0, 0
    s = sorted(values)
    for p in range(99, 0, -1):
        v = percentile(s, p)
        if sum(1 for x in s if x > v) >= min_beyond:
            return v, p, n
    return s[-1], 100, n


def failed_frac(outcomes: dict[str, list[bool]], wrong: set[str]) -> tuple[int, int, float]:
    """``outcomes`` maps each query to one flag per attempt (True = it
    raised); ``wrong`` names queries whose final output failed the
    correctness check. Every attempt of a wrong query counts as failed,
    because each attempt produced that output. Returns
    ``(attempted, failed, failed / attempted)``."""
    attempted = sum(len(v) for v in outcomes.values())
    failed = sum(
        len(v) if name in wrong else sum(1 for raised in v if raised)
        for name, v in outcomes.items()
    )
    return attempted, failed, (failed / attempted if attempted else 0.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"]
    )

