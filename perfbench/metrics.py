"""Metric math for the benchmark: medians, failure fractions, span self
time, metric-name validation and the result line.

Pure Python (no Spark import) so the arithmetic is unit-tested on its own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import json
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"invalid metric name: {name!r}")
    return name


def median(values) -> float:
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def failed_frac(failed: int, attempted: int) -> float:
    """Failed operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def covered(intervals) -> float:
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
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


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it that child spans cover
    (children clipped to the parent; overlapping children count once)."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)
    ]
    return (end - start) - covered(clipped)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The one-line JSON result (``metrics`` maps name -> (value, unit))."""
    failed_frac(failed, attempted)  # validates the pair
    out = {}
    for name, (value, unit) in metrics.items():
        out[check_name(name)] = {"value": float(value), "unit": unit}
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out,
    })
