"""Summary statistics and the result-record schema."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
RECORD_KEYS = {"correct", "attempted", "failed", "metrics"}
TAIL_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return float(statistics.median(vals))


def tail(values) -> tuple[float, int]:
    """``(value, percentile)`` of the highest percentile that still has
    at least ten samples above it. With fewer than twenty samples that
    percentile would fall below the median, so the maximum is reported
    instead and the percentile reads 100."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail of no values")
    if n >= 2 * TAIL_BEYOND:
        k = n - TAIL_BEYOND - 1  # vals[k] has exactly ten samples above it
        return float(vals[k]), math.floor(100 * (k + 1) / n)
    return float(vals[-1]), 100


def spread(values) -> float:
    """Distance between the first and third quartile over the median,
    as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2


def validate_record(rec: dict, expected: set[str] | None = None) -> None:
    """Raise ValueError unless ``rec`` is a well-formed result record
    whose metric names are exactly ``expected`` (when given)."""
    if set(rec) != RECORD_KEYS:
        raise ValueError(f"record keys {sorted(rec)} != {sorted(RECORD_KEYS)}")
    if not isinstance(rec["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(rec[k], int) or isinstance(rec[k], bool) or rec[k] < 0:
            raise ValueError(f"{k} must be a non-negative int")
    if rec["attempted"] < 1 or rec["failed"] > rec["attempted"]:
        raise ValueError("need attempted >= 1 and failed <= attempted")
    metrics = rec["metrics"]
    if expected is not None and set(metrics) != expected:
        raise ValueError(
            f"metric names differ: missing {sorted(expected - set(metrics))}, "
            f"extra {sorted(set(metrics) - expected)}"
        )
    for name, m in metrics.items():
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not isinstance(m, dict) or set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} must have exactly value and unit")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} value {v!r} is not a finite number")
        if not isinstance(m["unit"], str) or not UNIT_RE.fullmatch(m["unit"]):
            raise ValueError(f"metric {name} has bad unit {m['unit']!r}")
