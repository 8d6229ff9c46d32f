"""Arithmetic behind the benchmark's metrics.

Nothing here imports Spark, so ``perfbench/tests`` can check it without
a JVM.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

#: Percentiles the report may name, lowest first.
PERCENTILE_LADDER = (0.50, 0.75, 0.90, 0.95, 0.99, 0.999)

#: A percentile is supported only with this many samples above it.
MIN_SAMPLES_BEYOND = 10


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), which converges fast for ``x < (a + 1) / (a + b + 2)``."""
    tiny, eps = 1e-300, 1e-15
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 1000):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x
                    / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < eps:
            break
    return h


def beta_cdf(x: float, a: float, b: float) -> float:
    """The regularized incomplete beta function I_x(a, b): the CDF at
    ``x`` of the Beta(a, b) distribution."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def harrell_davis(values: list[float], q: float) -> float:
    """The Harrell-Davis estimate of the ``q`` quantile: a weighted mean
    of all order statistics, the i-th of n weighted by the mass that
    Beta(q(n+1), (1-q)(n+1)) puts on ((i-1)/n, i/n]. Unlike one order
    statistic it does not jump when two samples near the quantile swap
    ranks, which on a few ops of unlike kinds adds to a single-sample
    percentile's run-to-run spread."""
    if not values:
        raise ValueError("no samples")
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    ordered = sorted(values)
    n = len(ordered)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(ordered))


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q`` quantile."""
    return n - max(math.ceil(q * n), 1)


def highest_supported_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least
    ``MIN_SAMPLES_BEYOND`` samples above it, or None when even the
    median lacks them."""
    best = None
    for q in PERCENTILE_LADDER:
        if samples_beyond(n, q) >= MIN_SAMPLES_BEYOND:
            best = q
    return best


def merge_intervals(
    intervals: list[tuple[float, float]],
) -> list[tuple[float, float]]:
    """Union of closed intervals as sorted, disjoint intervals. Empty
    and inverted intervals are dropped."""
    merged: list[tuple[float, float]] = []
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if merged and start <= merged[-1][1]:
            if end > merged[-1][1]:
                merged[-1] = (merged[-1][0], end)
        else:
            merged.append((start, end))
    return merged


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``intervals``: the stage
    path of an op, whose stages may run side by side."""
    return sum(end - start for start, end in merge_intervals(intervals))


def clip(
    interval: tuple[float, float], bounds: tuple[float, float]
) -> tuple[float, float]:
    """``interval`` cut to ``bounds``; empty (start == end) when they do
    not meet."""
    start = min(max(interval[0], bounds[0]), bounds[1])
    end = max(min(interval[1], bounds[1]), start)
    return (start, end)


@dataclass
class Span:
    """One timed call at a layer boundary. ``parent`` is the id of the
    span that caused it (None for an op's root); ``op`` groups the
    spans of one op."""

    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float
    op: int

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that
    its children cover. Children are clipped to the parent first, so
    the self times of one op's spans add up to its root's duration."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [clip((c.start, c.end), (s.start, s.end))
             for c in children.get(s.id, [])]
        )
        out[s.id] = s.duration - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer."""
    per_span = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + per_span[s.id]
    return out


def innermost_containing(
    spans: list[Span], at: float, default: Span
) -> Span:
    """The shortest span whose interval contains instant ``at``; the
    place a record timed by another clock (a Spark stage or planning
    phase) is hung in the span tree."""
    best = default
    for s in spans:
        if s.start <= at <= s.end and s.duration <= best.duration:
            best = s
    return best


def write_amp(bytes_written: int, rows_touched: int,
              bytes_per_row: float) -> float:
    """Bytes written to storage per byte of user data changed: user
    bytes are the rows inserted, updated or deleted, priced at the
    table's on-disk bytes per row."""
    user = rows_touched * bytes_per_row
    if user <= 0:
        raise ValueError("no user rows were written")
    return bytes_written / user


def space_amp(stored_bytes: int, live_rows: int,
              bytes_per_row: float) -> float:
    """Bytes stored per byte of live user data, priced at the seed
    table's on-disk bytes per row."""
    live = live_rows * bytes_per_row
    if live <= 0:
        raise ValueError("no live rows")
    return stored_bytes / live


def subtract(
    interval: tuple[float, float], others: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """The parts of ``interval`` that none of ``others`` covers."""
    pieces = []
    cursor, end = interval
    for o_start, o_end in merge_intervals(others):
        if o_end <= cursor or o_start >= end:
            continue
        if o_start > cursor:
            pieces.append((cursor, o_start))
        cursor = max(cursor, o_end)
    if cursor < end:
        pieces.append((cursor, end))
    return pieces
