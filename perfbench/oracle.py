"""Independent correctness oracle for the perfbench workloads.

Every expected value is computed here by plain NumPy slicing of the raw
token arrays, following the documented semantics rather than the engine's
kernels: a tier bucket ``k`` of a series is ``x[k*T:(k+1)*T]``, a sliding
window is ``x[start:start+w]`` with the reference's tail rule, and the
derived floats use the documented formula ``mean = sum / cnt``,
``std = sqrt(max(sumsq / cnt - mean * mean, 0))``. Floats are compared
bit for bit.
"""

from __future__ import annotations

import numpy as np

TIER_TICKS = {"raw": 16, "1m": 960, "1h": 57600}
# Retention horizons in ticks; None keeps a tier forever.
RETENTION = {"raw": 512, "1m": 16384, "1h": None}

TIER_FIELDS = ("cnt", "sum", "sumsq", "min", "max", "first", "last", "mean", "std")
WINDOW_FIELDS = ("start", "cnt", "sum", "sumsq", "min", "max", "mean", "std")


def _stats(seg: np.ndarray) -> dict:
    seg = seg.astype(np.int64)
    cnt = np.float64(seg.shape[0])
    total = int(seg.sum())
    sumsq = int((seg * seg).sum())
    mean = np.float64(total) / cnt
    var = np.float64(sumsq) / cnt - mean * mean
    return {
        "cnt": int(seg.shape[0]), "sum": total, "sumsq": sumsq,
        "min": int(seg.min()), "max": int(seg.max()),
        "first": int(seg[0]), "last": int(seg[-1]),
        "mean": float(mean), "std": float(np.sqrt(max(var, 0.0))),
    }


def tier_rows(x: np.ndarray, tier: str) -> list[dict]:
    """Reference rows of one tier of one series, in bucket order."""
    t = TIER_TICKS[tier]
    return [
        dict(bucket=k, **_stats(x[k * t:(k + 1) * t]))
        for k in range(-(-x.shape[0] // t))
    ]


def window_starts(n: int, w: int, s: int) -> list[int]:
    """Window starts ``range(0, n - w, s)`` plus the tail window at
    ``n - w``; a series no longer than ``w`` has the single window 0."""
    if n <= w:
        return [0]
    return list(range(0, n - w, s)) + [n - w]


def window_rows(x: np.ndarray, w: int, s: int) -> list[dict]:
    rows = []
    for idx, start in enumerate(window_starts(x.shape[0], w, s)):
        st = _stats(x[start:start + w])
        rows.append({"idx": idx, "start": start,
                     **{f: st[f] for f in WINDOW_FIELDS if f != "start"}})
    return rows


def expected_points(lengths) -> dict[str, int]:
    """Rolled-up points per tier for series of the given lengths."""
    n = np.asarray(lengths, dtype=np.int64)
    return {tier: int((-(-n // t)).sum()) for tier, t in TIER_TICKS.items()}


def expected_windows(lengths, w: int, s: int) -> int:
    return sum(len(window_starts(int(n), w, s)) for n in lengths)


def expected_retained(lengths) -> dict[str, tuple[int, int]]:
    """(rows, sum of cnt) per tier after retention: bucket ``b`` of a
    series of length ``n`` survives iff ``n - (b+1)*T < horizon``."""
    out = {}
    for tier, t in TIER_TICKS.items():
        horizon = RETENTION[tier]
        rows = points = 0
        for n in lengths:
            n = int(n)
            for b in range(-(-n // t)):
                if horizon is None or n - (b + 1) * t < horizon:
                    rows += 1
                    points += min(t, n - b * t)
        out[tier] = (rows, points)
    return out


def spike_labels(x: np.ndarray, threshold: int = 700) -> np.ndarray:
    """Ground-truth labels for the detection workload: 1 where a point
    differs from both neighbours by more than ``threshold`` tokens."""
    x = x.astype(np.int64)
    lab = np.zeros(x.shape[0], dtype=np.int32)
    if x.shape[0] >= 3:
        mid = x[1:-1]
        lab[1:-1] = (np.abs(mid - x[:-2]) > threshold) & (np.abs(mid - x[2:]) > threshold)
    return lab


def auc_reference(scores: np.ndarray, truth: np.ndarray) -> float | None:
    """Mann-Whitney ROC AUC with tie midranks; None for a one-class series."""
    pos = int(truth.sum())
    neg = truth.shape[0] - pos
    if pos == 0 or neg == 0:
        return None
    order = np.argsort(scores, kind="mergesort")
    sorted_scores = scores[order]
    ranks = np.empty(scores.shape[0], dtype=np.float64)
    i = 0
    while i < sorted_scores.shape[0]:
        j = i
        while j + 1 < sorted_scores.shape[0] and sorted_scores[j + 1] == sorted_scores[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return float((ranks[truth == 1].sum() - pos * (pos + 1) / 2.0) / (pos * neg))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (
            a is not None and b is not None
            and np.float64(a).tobytes() == np.float64(b).tobytes()
        )
    return a == b


def compare_rows(label: str, got: list[dict], want: list[dict], fields,
                 key: str = "bucket") -> list[str]:
    """Mismatch messages between ``got`` and ``want`` rows, matched on
    ``key``; floats must be bit-identical. Empty when they agree."""
    got_by = {r[key]: r for r in got}
    want_keys = [r[key] for r in want]
    if len(got_by) != len(got) or sorted(got_by) != want_keys:
        return [f"{label}: {len(got)} rows with {key}s {sorted(got_by)[:4]}..., "
                f"expected {len(want_keys)} with {want_keys[:4]}..."]
    problems = []
    for w in want:
        g = got_by[w[key]]
        bad = [f for f in fields if not _same(g[f], w[f])]
        if bad:
            problems.append(f"{label} {key}={w[key]} {bad[0]}: {g[bad[0]]!r} != {w[bad[0]]!r}")
    return problems
