"""Pure helpers of the benchmark: summary statistics, span self time,
SQL-metric text parsing and result-row normalization. Nothing here
starts Spark, so the tests of this module run without a JVM."""

from __future__ import annotations

import hashlib
import math
import re
import statistics

import numpy as np


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile as `statistics.quantiles(n=4)` gives
    them; a single value is its own quartiles."""
    if len(values) < 2:
        return float(values[0]), float(values[0])
    q = statistics.quantiles(values, n=4)
    return float(q[0]), float(q[2])


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count of one operation's times."""
    q1, q3 = quartiles(values)
    return {"median": median(values), "q1": q1, "q3": q3, "n": len(values)}


def self_times(spans: list[tuple[str, float, float, int | None]]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children overlapping each
    other are counted once). A span is (name, start, end, parent index)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _, start, end, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = []
    for i, (_, start, end, _) in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(end - start - covered)
    return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a SQL metric as the status store renders it: "84.3 KiB",
    "3.1 s", "60,000", or the per-task form "total (min, med, max ...)\\n
    616.3 KiB (...)" whose total is taken. Sizes come back in bytes and
    times in seconds."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return value


def _cell(v):
    if isinstance(v, np.ndarray) or isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    try:
        missing = v is None or bool(v != v)  # None, NaN, NaT
    except TypeError:  # pandas.NA has no truth value
        missing = True
    return "NULL" if missing else v


def normalize_rows(rows) -> list[tuple]:
    """Result rows as a sorted list of tuples, with NumPy scalars read as
    Python values and NaN or missing values as NULL, so two engines' row
    sets compare exactly and independent of order."""
    out = [tuple(_cell(v) for v in row) for row in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def frame_digest(frame) -> tuple[int, str]:
    """(row count, content hash) of a pandas result, independent of row
    and column order."""
    cols = sorted(frame.columns)
    rows = normalize_rows(frame[cols].itertuples(index=False, name=None))
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
