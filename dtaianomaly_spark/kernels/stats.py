"""Per-window statistics kernels for the rollup tiers.

A rollup "point" is the stats struct
``(count, sum, sumsq, min, max, first, last)`` over one window/bucket of a
token sequence. Sums are exact int64 over int32 tokens (|token| <= ~2^20,
bucket <= 3600 points => sumsq < 2^53 << int64), so higher tiers compose
from lower-tier partials *exactly* — the partial+final pattern that makes
the 1h tier byte-match a direct aggregation over raw tokens.

Derived floats (mean, population std) are computed from the exact integer
partials with one formula shared by every tier and by the SQL oracle:
``mean = sum / count``; ``var_pop = sumsq / count - mean**2`` (clamped at 0).

The windowed-stat semantics mirror the reference's per-window aggregates
(sliding-window detectors consume exactly these stats — e.g. SUSS local
stats at windowing_utils.py:340-346 and MedianMethod's neighborhood
mean/std at MedianMethod.py:99-106).
"""

from __future__ import annotations

from typing import Dict

import numpy as np

STAT_FIELDS = ("count", "sum", "sumsq", "min", "max", "first", "last")


def contiguous_stats(values: np.ndarray, starts: np.ndarray) -> Dict[str, np.ndarray]:
    """Stats over *contiguous, non-empty* bucket ranges: bucket ``k`` spans
    ``values[starts[k] : starts[k+1]]`` (last bucket runs to the end).

    Used for dense tumbling windows (the map rollup): ``np.add.reduceat``
    keeps accumulation in **exact int64** (no float64 round-trip, valid
    beyond 2**53) and touches each value once per statistic. Requires
    every bucket non-empty — true for tumbling buckets over dense
    position grids."""
    v = np.ascontiguousarray(values)
    if v.dtype.kind not in "iu":
        v = v.astype(np.int64)
    s = np.asarray(starts, dtype=np.intp)
    n = v.shape[0]
    ends = np.empty_like(s)
    ends[:-1] = s[1:]
    ends[-1] = n
    # dtype=int64 makes reduceat *accumulate* in int64 while *reading* the
    # native (int32) buffer — exact sums at half the memory traffic
    sq = np.multiply(v, v, dtype=np.int64)
    return {
        "count": (ends - s).astype(np.int64),
        "sum": np.add.reduceat(v, s, dtype=np.int64),
        "sumsq": np.add.reduceat(sq, s),
        "min": np.minimum.reduceat(v, s).astype(np.int64),
        "max": np.maximum.reduceat(v, s).astype(np.int64),
        "first": v[s].astype(np.int64),
        "last": v[ends - 1].astype(np.int64),
    }


def merge_contiguous(parts: Dict[str, np.ndarray], starts: np.ndarray) -> Dict[str, np.ndarray]:
    """Compose contiguous non-empty lower-tier partials into a higher tier
    (1m -> 1h). Exact: integer sums re-sum, min/max re-extreme, first/last
    by bucket order."""
    s = np.asarray(starts, dtype=np.intp)
    n = parts["count"].shape[0]
    ends = np.empty_like(s)
    ends[:-1] = s[1:]
    ends[-1] = n
    return {
        "count": np.add.reduceat(parts["count"], s),
        "sum": np.add.reduceat(parts["sum"], s),
        "sumsq": np.add.reduceat(parts["sumsq"], s),
        "min": np.minimum.reduceat(parts["min"], s),
        "max": np.maximum.reduceat(parts["max"], s),
        "first": parts["first"][s],
        "last": parts["last"][ends - 1],
    }


def derive_mean_std(count: np.ndarray, total: np.ndarray, sumsq: np.ndarray):
    """The one shared float derivation: mean and population std from exact
    integer partials. Empty buckets -> NaN."""
    cnt = np.asarray(count, dtype=np.float64)
    s = np.asarray(total, dtype=np.float64)
    sq = np.asarray(sumsq, dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(cnt > 0, s / cnt, np.nan)
        var = np.where(cnt > 0, sq / cnt - mean * mean, np.nan)
    return mean, np.sqrt(np.maximum(var, 0.0))
