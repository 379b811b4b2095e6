"""Summary statistics and the result line of a benchmark run."""

from __future__ import annotations

import math
import re
import statistics

# The result-line contract: a name starts with a letter or a digit and is
# made of at most 64 letters, digits, `_`, `.` and `-`.
_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Percentiles a timing summary may report, lowest first.
_PERCENTILES = (50, 90, 99, 99.9)
_MIN_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not _NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ranked = sorted(values)
    k = max(1, math.ceil(p / 100 * len(ranked)))
    return ranked[k - 1]


def timing_summary(values: list[float]) -> dict[str, float]:
    """Median plus every higher percentile with at least ten samples beyond
    it, with the sample count, e.g. {"n": 120, "p50": .., "p90": ..}."""
    out: dict[str, float] = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    n = len(values)
    for p in _PERCENTILES[1:]:
        beyond = n - math.ceil(p / 100 * n)
        if beyond >= _MIN_BEYOND:
            out[f"p{p:g}"] = percentile(values, p)
    return out


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive samples, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    metrics: dict[str, tuple[float, str]],
) -> dict:
    """The last stdout line: {"correct", "attempted", "failed", "metrics"}."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            check_metric_name(k): {"value": float(v), "unit": u}
            for k, (v, u) in metrics.items()
        },
    }
