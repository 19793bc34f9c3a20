"""The benchmark's own arithmetic, kept free of Spark so it is unit-tested."""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def gmean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("gmean of no values")
    if min(values) <= 0:
        raise ValueError(f"gmean needs positive values, got {min(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def failed_frac(failed: int, attempted: int) -> float:
    """Share of attempted query executions that raised or mismatched."""
    if attempted < 1:
        raise ValueError("no executions attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def core_util(task_run_ms: float, wall_s: float, cores: int) -> float:
    """Busy share of the cores over a wall interval:
    sum of task run time / (wall x cores)."""
    if wall_s <= 0 or cores < 1:
        return 0.0
    return task_run_ms / 1000.0 / (wall_s * cores)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
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


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_METRIC = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(value: str) -> float:
    """Total of one SQL UI metric string, in bytes for sizes and ms for
    times.  Accepts the bare form (``"2.6 s"``) and the per-task form
    (``"total (min, med, max ...)\\n4.0 s (472 ms, ...)"``)."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _METRIC.match(text)
    if m is None:
        raise ValueError(f"unparseable SQL metric: {value!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME_MS:
        return number * _TIME_MS[unit]
    if unit == "":
        return number
    raise ValueError(f"unknown unit {unit!r} in SQL metric {value!r}")
