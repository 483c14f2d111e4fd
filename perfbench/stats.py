"""Pure helpers: percentiles, interval arithmetic for span self time, and the
run-set agreement check. No Spark imports, so the tests run in milliseconds."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # a reported percentile must have at least this many samples above it


def nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the value at 1-based rank ceil(p * n) of the
    sorted sample (p in (0, 1]); p50 of two samples is the first."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """The highest whole percentile whose nearest-rank value still has at
    least ``beyond`` samples strictly after its rank, as (percentile, value).
    None when the sample is too small for even the median to qualify: a tail
    read from fewer samples would be one or two outliers."""
    n = len(values)
    if n < 2 * beyond:
        return None
    for pct in range(99, 49, -1):
        if n - math.ceil(pct * n / 100) >= beyond:
            return pct, nearest_rank(values, pct / 100)
    return None


def sealing_release_ms(end_ms: int, first_row_ms: int, rows_per_s: int) -> int:
    """When Spark's ``rate`` source releases its first row stamped at or
    after ``end_ms``: the row that lets a watermark pass a window ending there.

    The source stamps row i with first_row_ms + i * 1000 / rows_per_s and
    releases each second's rows together when that second ends, so row i is
    released at first_row_ms + (i // rows_per_s + 1) * 1000. That is end_ms
    plus (first_row_ms mod 1000), or a second more when the last row of the
    chunk released then is still stamped before end_ms."""
    i = -(-(end_ms - first_row_ms) * rows_per_s // 1000)  # ceiling division
    return first_row_ms + (i // rows_per_s + 1) * 1000


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval that its children
    cover (children clipped to the span; overlapping children count once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base`` as a share of ``base``
    (negative when it is better)."""
    return (new - base) / base if better == "lower" else (base - new) / base


def compare_sets(
    first: dict[str, list[float]],
    second: dict[str, list[float]],
    metrics: list[dict],
) -> list[dict]:
    """Check two run sets of one workload against the benchmark's bounds.

    For every end-to-end metric: each set's quartile spread must stay within
    the bound, and the two medians must differ by no more than the bound as a
    share of the first, in either direction: a set that is much faster than
    another of the same code disagrees with it just as a slower one does.
    Returns one row per metric with an ``ok`` flag; ``drift`` is signed,
    positive when the second set is worse."""
    rows = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        spreads = [quartile_spread(a), quartile_spread(b)]
        drift = worse_by(median(a), median(b), m["better"])
        rows.append(
            {
                "metric": name,
                "median_first": median(a),
                "median_second": median(b),
                "spread_first": spreads[0],
                "spread_second": spreads[1],
                "drift": drift,
                "bound": bound,
                "ok": max(spreads) <= bound and abs(drift) <= bound,
            }
        )
    return rows
