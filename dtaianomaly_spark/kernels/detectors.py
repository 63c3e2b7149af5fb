"""Anomaly-detector kernels (pure NumPy).

The reference's detector kernels delegate to stumpy / sklearn / pyod /
scipy, none of which exist in this environment — so the algorithms are
implemented here from their public definitions:

* ``median_method_scores`` — exact semantics of
  ``anomaly_detection/MedianMethod.py:82-107`` (nan-padded neighborhood,
  nanmean / population nanstd, nan_to_num).
* ``matrix_profile`` — STOMP (Zhu et al., ICDM 2016): z-normalized
  Euclidean self-join / AB-join matrix profile, stumpy-compatible trivial
  exclusion zone ``ceil(w/4)`` (``MatrixProfileDetector.py:116-178``).
* ``kmeans_fit`` / ``kmeans_score`` — seeded k-means++ + Lloyd; score is the
  L2 distance to the assigned centroid (``KMeansAnomalyDetector.py:84-98``).
* ``iforest_fit`` / ``iforest_score`` — Isolation Forest (Liu et al., ICDM
  2008) with the standard 2^ceil(log2(psi)) depth cap and average-path-length
  normalization (``IsolationForest.py:7-58`` wraps pyod's equivalent).
* ``minmax_rescale`` — ``BaseDetector.predict_proba`` semantics
  (``BaseDetector.py:140-186``).
* ``exceed_confidence`` — ExCeeD (Perini et al. 2020) Bayesian confidence,
  with an in-house regularized-incomplete-beta for binom.cdf
  (``BaseDetector.py:188-287``).
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np


# ------------------------------------------------------------ MedianMethod

def median_method_scores(
    x: np.ndarray,
    neighborhood_size_before: int,
    neighborhood_size_after: Optional[int] = None,
) -> np.ndarray:
    """|x_t - nanmean(nbhd)| / nanstd_pop(nbhd), nbhd = [t-b, t+a], NaN -> 0."""
    x = np.asarray(x, dtype=np.float64).reshape(-1)
    b = neighborhood_size_before
    a = b if neighborhood_size_after is None else neighborhood_size_after
    padded = np.concatenate([np.full(b, np.nan), x, np.full(a, np.nan)])
    wins = np.lib.stride_tricks.sliding_window_view(padded, b + a + 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        scores = np.abs(x - np.nanmean(wins, axis=1)) / np.nanstd(wins, axis=1)
    return np.nan_to_num(scores, nan=0.0)


# ----------------------------------------------------------- MatrixProfile

def _sliding_mean_std(x: np.ndarray, w: int) -> Tuple[np.ndarray, np.ndarray]:
    csum = np.concatenate([[0.0], np.cumsum(x)])
    csq = np.concatenate([[0.0], np.cumsum(x * x)])
    cnt = float(w)
    mu = (csum[w:] - csum[:-w]) / cnt
    var = (csq[w:] - csq[:-w]) / cnt - mu * mu
    return mu, np.sqrt(np.maximum(var, 0.0))


# Row-block size for the STOMP-family kernels: per-row NumPy call
# overhead dominates at n ~ 1k, so distance rows are produced in
# (B, n_r) blocks — the recurrence stays sequential, everything else
# runs once per block. 64 rows x 2k cols x 8 B = 1 MiB per block.
_BLOCK = 64


def _block(n_r: int, d: int = 1) -> int:
    """Row-block size for an ``(B, n_r)`` x ``d``-engine sweep, capped so
    the block buffers stay ~2M doubles (16 MiB) even for very long
    reference sides — keeps per-task memory flat when a monolithic
    series is large while preserving the full 64-row amortization for
    the common ~1k-window series."""
    return max(1, min(_BLOCK, (1 << 21) // max(1, n_r * d)))


def matrix_profile(
    x: np.ndarray, w: int, x_ref: Optional[np.ndarray] = None
) -> np.ndarray:
    """STOMP matrix profile of ``x`` (self-join) or AB-join of ``x`` against
    ``x_ref`` (novelty mode). Returns the per-window profile (length
    ``len(x) - w + 1``) of z-normalized Euclidean nearest-neighbor
    distances."""
    x = np.asarray(x, dtype=np.float64).reshape(-1)
    n_q = x.shape[0] - w + 1
    if n_q <= 0:
        return np.zeros(0)
    self_join = x_ref is None
    if self_join:
        return _matrix_profile_self(x, w)
    y = np.asarray(x_ref, dtype=np.float64).reshape(-1)
    if y.shape[0] - w + 1 <= 0:
        # reference offers no window: no admissible neighbor anywhere —
        # the 0.0 edge fallback, same as an all-excluded self-join row
        return np.zeros(n_q)

    # AB-join (novelty): the blocked z-norm row engine — no exclusion
    # zone, stumpy flat-window conventions inside the engine
    eng = _ZnormEngine(x, y, w)
    profile = np.empty(n_q)
    step = _block(eng.n_r)
    for i0 in range(0, n_q, step):
        i1 = min(i0 + step, n_q)
        m = eng.rows(i0, i1).min(axis=1)
        profile[i0:i1] = np.where(np.isfinite(m), m, 0.0)
    return profile


def _matrix_profile_self(x: np.ndarray, w: int) -> np.ndarray:
    """Self-join STOMP exploiting the distance matrix's SYMMETRY: each
    admissible pair (i, j), j > i + excl, is assembled exactly once —
    row minima cover a window's later neighbors, an accumulated
    column-minimum array covers its earlier ones — so the elementwise
    distance work is n²/2, ~1.6x over the full-matrix row sweep. The
    QT recurrence also only advances the still-needed column suffix.
    Values match the naive per-pair loop to ~1e-9 (each pair's distance
    now comes from the row recurrence of its SMALLER index — same
    formula, drift-minimal accumulation order)."""
    return _self_join_sweep(x, w, want_nn=False)[0]


def _self_join_sweep(x: np.ndarray, w: int, want_nn: bool):
    """The shared blocked symmetric self-join sweep (see
    ``_matrix_profile_self`` for the scheme). ``want_nn=False`` returns
    ``(profile,)`` via plain row/column minima; ``want_nn=True`` also
    tracks the argmins and returns ``(profile, nn)``, preferring the
    earlier-index side on exact ties — the same lowest-index rule as a
    full-row argmin. The elementwise op sequence is identical in both
    modes, so values agree bit-for-bit."""
    n = x.shape[0] - w + 1
    mu, sig = _sliding_mean_std(x, w)
    eps = 1e-14
    flat = sig < eps
    any_flat = bool(flat.any())
    inv = 1.0 / np.where(flat, 1.0, sig)
    winv = inv / w

    nfft = 1 << int(np.ceil(np.log2(2 * x.shape[0])))
    fy = np.fft.rfft(x, nfft)
    fq = np.fft.rfft(x[:w][::-1], nfft)
    qt = np.fft.irfft(fy * fq, nfft)[w - 1 : w - 1 + n]
    qt_first = qt.copy()  # QT[0, :] == QT[:, 0] by symmetry

    excl = int(np.ceil(w / 4))
    rowmin = np.full(n, np.inf)
    colmin = np.full(n, np.inf)
    if want_nn:
        rownn = np.full(n, -1, dtype=np.int64)
        colnn = np.full(n, -1, dtype=np.int64)
    flat_row = np.where(flat, 0.0, float(w)) if any_flat else None
    step = _block(n)
    for i0 in range(0, n, step):
        i1 = min(i0 + step, n)
        B = i1 - i0
        # columns j < j0 are covered by earlier rows' colmin updates
        j0 = i0
        s = max(1, j0 - B)
        D = np.empty((B, n - j0))  # contiguous: ufuncs on strided
        for b in range(B):        # views cost ~2x
            i = i0 + b
            if i > 0:
                qt[s:] = (
                    qt[s - 1 : -1]
                    - x[s - 1 : n - 1] * x[i - 1]
                    + x[s + w - 1 : w + n - 1] * x[i + w - 1]
                )
                if s == 1:
                    qt[0] = qt_first[i]
            D[b] = qt[j0:]
        D += (-w * mu[i0:i1])[:, None] * mu[None, j0:]
        D *= winv[None, j0:] * inv[i0:i1, None]
        np.clip(D, -1.0, 1.0, out=D)
        np.subtract(1.0, D, out=D)
        D *= 2.0 * w
        if any_flat:
            D[:, flat[j0:]] = w
            fqr = flat[i0:i1]
            if fqr.any():
                D[fqr] = flat_row[j0:]
        np.maximum(D, 0.0, out=D)
        np.sqrt(D, out=D)
        for b in range(B):
            i = i0 + b
            hi = min(n, i + excl + 1)
            D[b, : hi - j0] = np.inf
        if want_nn:
            ra = D.argmin(axis=1)
            rowmin[i0:i1] = D[np.arange(B), ra]
            rownn[i0:i1] = ra + j0
            ca = D.argmin(axis=0)
            cv = D[ca, np.arange(n - j0)]
            better = cv < colmin[j0:]
            colmin[j0:] = np.where(better, cv, colmin[j0:])
            colnn[j0:] = np.where(better, ca + i0, colnn[j0:])
        else:
            rowmin[i0:i1] = D.min(axis=1)
            np.minimum(colmin[j0:], D.min(axis=0), out=colmin[j0:])
    if not want_nn:
        m = np.minimum(rowmin, colmin)
        return (np.where(np.isfinite(m), m, 0.0),)
    take_col = colmin <= rowmin  # earlier index wins exact ties
    profile = np.where(take_col, colmin, rowmin)
    nn = np.where(take_col, colnn, rownn)
    bad = ~np.isfinite(profile)
    if bad.any():
        profile[bad] = 0.0
        nn[bad] = -1
    return profile, nn


# --- generic row engines: sequential per-row distance profiles ----------
#
# Each engine yields, for query-window row i (called in order i=0,1,...),
# the full distance row d(i, j) against every reference window j, with NO
# exclusion applied (callers mask trivial matches). One engine per
# (normalize, p) distance family; the same engines serve the univariate
# normalize/p/k variants AND the mstump multivariate composition.

class _ZnormEngine:
    """z-normalized Euclidean rows via the STOMP rolling dot product
    (Zhu et al., ICDM 2016). Flat-window convention matches stumpy:
    both constant -> 0, one constant -> sqrt(w)."""

    def __init__(self, x: np.ndarray, y: np.ndarray, w: int):
        self.x, self.y, self.w = x, y, w
        self.n_q = x.shape[0] - w + 1
        self.n_r = y.shape[0] - w + 1
        self.mu_q, self.sig_q = _sliding_mean_std(x, w)
        self.mu_r, self.sig_r = _sliding_mean_std(y, w)
        nfft = 1 << int(np.ceil(np.log2(x.shape[0] + y.shape[0])))
        fy = np.fft.rfft(y, nfft)
        fq = np.fft.rfft(x[:w][::-1], nfft)
        self.qt = np.fft.irfft(fy * fq, nfft)[w - 1 : w - 1 + self.n_r]
        fx = np.fft.rfft(x, nfft)
        fr = np.fft.rfft(y[:w][::-1], nfft)
        self.qt_first_col = np.fft.irfft(fx * fr, nfft)[w - 1 : w - 1 + self.n_q]
        eps = 1e-14
        self.flat_q = self.sig_q < eps
        self.flat_r = self.sig_r < eps
        self.any_flat_r = bool(self.flat_r.any())
        self.inv_q = 1.0 / np.where(self.flat_q, 1.0, self.sig_q)
        self.winv_r = (1.0 / np.where(self.flat_r, 1.0, self.sig_r)) / w
        self.flat_row = (
            np.where(self.flat_r, 0.0, float(w)) if self.any_flat_r else None
        )
        self._buf = np.empty(self.n_r)

    def row(self, i: int, out: Optional[np.ndarray] = None) -> np.ndarray:
        """Distance row for query window ``i`` (sequential). Without
        ``out``, the internal buffer is returned — valid until the next
        ``row`` call; callers may mutate it freely."""
        w, y, n_r, qt = self.w, self.y, self.n_r, self.qt
        x = self.x
        if out is None:
            out = self._buf
        if i > 0:
            qt[1:] = qt[:-1] - y[: n_r - 1] * x[i - 1] + y[w : w + n_r - 1] * x[i + w - 1]
            qt[0] = self.qt_first_col[i]
        np.multiply(self.mu_r, -w * self.mu_q[i], out=out)
        out += qt
        out *= self.winv_r
        out *= self.inv_q[i]
        np.clip(out, -1.0, 1.0, out=out)
        np.subtract(1.0, out, out=out)
        out *= 2.0 * w
        if self.flat_q[i]:
            if self.flat_row is not None:
                np.copyto(out, self.flat_row)
            else:
                out.fill(float(w))
        elif self.any_flat_r:
            out[self.flat_r] = float(w)
        np.maximum(out, 0.0, out=out)
        np.sqrt(out, out=out)
        return out

    def rows(self, i0: int, i1: int, j0: int = 0) -> np.ndarray:
        """Distance rows ``i0..i1-1`` as an ``(i1-i0, n_r - j0)`` block
        (columns ``j0..``). The QT recurrence stays sequential (3 vector
        ops per row); every other op runs ONCE on the 2-D block,
        amortizing the ~10 small NumPy calls per row that dominate at
        n ~ 1k. Elementwise op sequence identical to :meth:`row` ->
        same values. Blocks must be requested in increasing, contiguous
        order (like ``row``). ``j0 > 0`` is for SYMMETRIC self-join
        sweeps (mstump fast path): the recurrence then only advances
        the column suffix that this and later blocks (with
        non-decreasing ``j0``) can still read — after such a call,
        earlier columns of the internal QT state are stale."""
        w, y, n_r = self.w, self.y, self.n_r
        x, qt = self.x, self.qt
        B = i1 - i0
        s = max(1, j0 - B)
        out = np.empty((B, n_r - j0))
        for b in range(B):
            i = i0 + b
            if i > 0:
                qt[s:] = (
                    qt[s - 1 : -1]
                    - y[s - 1 : n_r - 1] * x[i - 1]
                    + y[s + w - 1 : w + n_r - 1] * x[i + w - 1]
                )
                if s == 1:
                    qt[0] = self.qt_first_col[i]
            out[b] = qt[j0:]
        out += (-w * self.mu_q[i0:i1])[:, None] * self.mu_r[None, j0:]
        out *= self.winv_r[None, j0:]
        out *= self.inv_q[i0:i1, None]
        np.clip(out, -1.0, 1.0, out=out)
        np.subtract(1.0, out, out=out)
        out *= 2.0 * w
        if self.any_flat_r:
            out[:, self.flat_r[j0:]] = float(w)
        fq = self.flat_q[i0:i1]
        if fq.any():
            if self.flat_row is not None:
                out[fq] = self.flat_row[j0:]
            else:
                out[fq] = float(w)
        np.maximum(out, 0.0, out=out)
        np.sqrt(out, out=out)
        return out


class _Aamp2Engine:
    """Non-normalized Euclidean (p=2) rows: d2(i,j) = ssq_x[i] + ssq_y[j]
    - 2*QT(i,j), with QT maintained by the same rolling recurrence."""

    def __init__(self, x: np.ndarray, y: np.ndarray, w: int):
        self.x, self.y, self.w = x, y, w
        self.n_q = x.shape[0] - w + 1
        self.n_r = y.shape[0] - w + 1
        csq_x = np.concatenate([[0.0], np.cumsum(x * x)])
        csq_y = np.concatenate([[0.0], np.cumsum(y * y)])
        self.ssq_q = csq_x[w:] - csq_x[:-w]
        self.ssq_r = csq_y[w:] - csq_y[:-w]
        nfft = 1 << int(np.ceil(np.log2(x.shape[0] + y.shape[0])))
        fy = np.fft.rfft(y, nfft)
        fq = np.fft.rfft(x[:w][::-1], nfft)
        self.qt = np.fft.irfft(fy * fq, nfft)[w - 1 : w - 1 + self.n_r]
        fx = np.fft.rfft(x, nfft)
        fr = np.fft.rfft(y[:w][::-1], nfft)
        self.qt_first_col = np.fft.irfft(fx * fr, nfft)[w - 1 : w - 1 + self.n_q]

    def row(self, i: int, out: Optional[np.ndarray] = None) -> np.ndarray:
        w, y, n_r, qt = self.w, self.y, self.n_r, self.qt
        x = self.x
        if i > 0:
            qt[1:] = qt[:-1] - y[: n_r - 1] * x[i - 1] + y[w : w + n_r - 1] * x[i + w - 1]
            qt[0] = self.qt_first_col[i]
        d2 = self.ssq_q[i] + self.ssq_r - 2.0 * qt
        res = np.sqrt(np.maximum(d2, 0.0))
        if out is None:
            return res
        np.copyto(out, res)
        return out

    def rows(self, i0: int, i1: int, j0: int = 0) -> np.ndarray:
        """Blocked rows — see _ZnormEngine.rows (incl. the ``j0``
        symmetric-sweep contract)."""
        w, y, n_r = self.w, self.y, self.n_r
        x, qt = self.x, self.qt
        B = i1 - i0
        s = max(1, j0 - B)
        QTs = np.empty((B, n_r - j0))
        for b in range(B):
            i = i0 + b
            if i > 0:
                qt[s:] = (
                    qt[s - 1 : -1]
                    - y[s - 1 : n_r - 1] * x[i - 1]
                    + y[s + w - 1 : w + n_r - 1] * x[i + w - 1]
                )
                if s == 1:
                    qt[0] = self.qt_first_col[i]
            QTs[b] = qt[j0:]
        d2 = self.ssq_q[i0:i1, None] + self.ssq_r[None, j0:] - 2.0 * QTs
        return np.sqrt(np.maximum(d2, 0.0))


class _AampPEngine:
    """Non-normalized Minkowski p-norm rows by direct window arithmetic
    (no recurrence exists for general p): O(w) per (i, j) cell — the
    cost stumpy's aamp pays too; at scale the chunked distributed path
    bounds per-task work."""

    def __init__(self, x: np.ndarray, y: np.ndarray, w: int, p: float):
        self.x, self.w, self.p = x, w, p
        self.wins_r = np.lib.stride_tricks.sliding_window_view(y, w)
        self.n_q = x.shape[0] - w + 1
        self.n_r = y.shape[0] - w + 1

    def row(self, i: int, out: Optional[np.ndarray] = None) -> np.ndarray:
        d = np.abs(self.x[i : i + self.w] - self.wins_r)
        res = (d ** self.p).sum(axis=1) ** (1.0 / self.p)
        if out is None:
            return res
        np.copyto(out, res)
        return out

    def rows(self, i0: int, i1: int, j0: int = 0) -> np.ndarray:
        """Blocked rows: no recurrence exists for general p, so this is
        the O(w)-per-cell direct evaluation row by row into one block.
        ``j0`` slices the column suffix (stateless here — no recurrence
        to keep valid)."""
        out = np.empty((i1 - i0, self.n_r - j0))
        for b in range(i1 - i0):
            i = i0 + b
            d = np.abs(self.x[i : i + self.w] - self.wins_r[j0:])
            out[b] = (d ** self.p).sum(axis=1) ** (1.0 / self.p)
        return out


def _make_engine(x: np.ndarray, y: np.ndarray, w: int, normalize: bool, p: float):
    if normalize:
        # stumpy semantics: the z-normalized distance is always
        # Euclidean; p only applies to the non-normalized (aamp) family
        return _ZnormEngine(x, y, w)
    if p == 2.0:
        return _Aamp2Engine(x, y, w)
    return _AampPEngine(x, y, w, p)


def matrix_profile_general(
    x: np.ndarray,
    w: int,
    x_ref: Optional[np.ndarray] = None,
    normalize: bool = True,
    p: float = 2.0,
    k: int = 1,
) -> np.ndarray:
    """Univariate matrix profile with the reference's full parameter
    surface (MatrixProfileDetector.py:33-114 -> stumpy.stump/aamp):
    ``normalize=False`` switches to the non-normalized Minkowski
    ``p``-norm distance, ``k`` takes the k-th smallest neighbor distance
    (stump's ``[:, k-1]`` column), ``x_ref`` switches self-join (trivial
    exclusion ceil(w/4)) to AB-join (no exclusion). ``p`` is ignored
    when ``normalize=True``, exactly as stumpy ignores it. Windows with
    fewer than ``k`` admissible neighbors return +inf (stumpy
    convention)."""
    import math

    x = np.asarray(x, dtype=np.float64).reshape(-1)
    if normalize and k == 1:
        return matrix_profile(x, w, x_ref)
    self_join = x_ref is None
    y = x if self_join else np.asarray(x_ref, dtype=np.float64).reshape(-1)
    n_q = x.shape[0] - w + 1
    if n_q <= 0:
        return np.zeros(0)
    if y.shape[0] - w + 1 <= 0:
        # no reference window: k=1 keeps the 0.0 edge fallback, k>1 the
        # +inf fewer-than-k convention
        return np.zeros(n_q) if k == 1 else np.full(n_q, np.inf)
    eng = _make_engine(x, y, w, normalize, p)
    n_q, n_r = eng.n_q, eng.n_r
    excl = int(math.ceil(w / 4)) if self_join else -1
    profile = np.empty(n_q)
    step = _block(n_r)
    for i0 in range(0, n_q, step):
        i1 = min(i0 + step, n_q)
        D = eng.rows(i0, i1)  # fresh block — mutating it here is allowed
        if excl >= 0:
            for b in range(i1 - i0):
                i = i0 + b
                lo, hi = max(0, i - excl), min(n_r, i + excl + 1)
                D[b, lo:hi] = np.inf
        if k == 1:
            profile[i0:i1] = D.min(axis=1)
        elif k <= n_r:
            profile[i0:i1] = np.partition(D, k - 1, axis=1)[:, k - 1]
        else:
            profile[i0:i1] = np.inf
    if k == 1 and self_join:
        # keep the k=1 edge convention of matrix_profile: a window with
        # no admissible neighbor scores 0.0
        profile[~np.isfinite(profile)] = 0.0
    return profile


def mstump_profile_sum(
    X: np.ndarray,
    w: int,
    discords: bool = True,
    normalize: bool = True,
    p: float = 2.0,
) -> np.ndarray:
    """Sum over k = 1..d of the k-dimensional matrix profile, i.e. the
    reference's multivariate self-join composition
    ``np.sum(stumpy.mstump(X.T, m, discords=True)[0], axis=0)``
    (MatrixProfileDetector.py:169-176).

    mstump semantics (Yeh et al., mSTAMP, ICDM 2017; stumpy's public
    implementation): for each window pair (i, j), the d per-dimension
    z-normalized distances are sorted — DESCENDING when
    ``discords=True`` — and the k-dimensional distance is the mean of
    the first k; the k-dim profile at i is the min over admissible j
    (trivial exclusion ceil(w/4)). The per-dimension rows come from d
    parallel STOMP recurrences, so the whole composition is one
    O(d·n²·log d) pass, no distance matrix materialized."""
    import math

    X = np.asarray(X, dtype=np.float64)
    if X.ndim == 1:
        X = X[:, None]
    n, d = X.shape
    l = n - w + 1
    engines = [
        _make_engine(np.ascontiguousarray(X[:, a]), np.ascontiguousarray(X[:, a]),
                     w, normalize, p)
        for a in range(d)
    ]
    excl = int(math.ceil(w / 4))
    out = np.empty(l)
    step = _block(l, d)
    if d == 2:
        # two-attribute fast path (the common case): the sorted pair is
        # just (min, max), the 2-dim distance their mean — no sort, no
        # cumsum, blocked rows from both engines. Per-attribute distances
        # are SYMMETRIC, so each admissible pair is assembled once
        # (columns j >= block start; row minima + accumulated column
        # minima — same scheme as _matrix_profile_self, ~1.6x).
        rmin_e = np.full(l, np.inf)
        cmin_e = np.full(l, np.inf)
        rmin_m = np.full(l, np.inf)
        cmin_m = np.full(l, np.inf)
        for i0 in range(0, l, step):
            i1 = min(i0 + step, l)
            j0 = i0
            D0 = engines[0].rows(i0, i1, j0)
            D1 = engines[1].rows(i0, i1, j0)
            for b in range(i1 - i0):
                i = i0 + b
                hi = min(l, i + excl + 1)
                D0[b, : hi - j0] = np.inf
                D1[b, : hi - j0] = np.inf
            if discords:
                ext = np.maximum(D0, D1)
            else:
                ext = np.minimum(D0, D1)
            rmin_e[i0:i1] = np.minimum(rmin_e[i0:i1], ext.min(axis=1))
            np.minimum(cmin_e[j0:], ext.min(axis=0), out=cmin_e[j0:])
            D0 += D1
            D0 *= 0.5
            rmin_m[i0:i1] = np.minimum(rmin_m[i0:i1], D0.min(axis=1))
            np.minimum(cmin_m[j0:], D0.min(axis=0), out=cmin_m[j0:])
        out[:] = np.minimum(rmin_e, cmin_e) + np.minimum(rmin_m, cmin_m)
        return out
    inv_k = 1.0 / np.arange(1.0, d + 1.0)[:, None, None]
    for i0 in range(0, l, step):
        i1 = min(i0 + step, l)
        B = i1 - i0
        D = np.empty((d, B, l))
        for a in range(d):
            D[a] = engines[a].rows(i0, i1)
        for b in range(B):
            i = i0 + b
            lo, hi = max(0, i - excl), min(l, i + excl + 1)
            D[:, b, lo:hi] = np.inf
        if d == 1:
            out[i0:i1] = D[0].min(axis=1)
            continue
        Ds = np.sort(D, axis=0)
        if discords:
            Ds = Ds[::-1]
        # cumulative means down the sorted dims = the k-dim distances
        Dk = np.cumsum(Ds, axis=0) * inv_k
        out[i0:i1] = Dk.min(axis=2).sum(axis=0)
    return out


def matrix_profile_ab_excl_both(
    x: np.ndarray, y: np.ndarray, w: int, delta: int, excl: int
) -> Tuple[np.ndarray, np.ndarray]:
    """AB-join of ``x``'s windows against ``y``'s windows with a
    GLOBAL-coordinate exclusion zone, returning BOTH sides' minima:
    ``(prof_x[i] = min_j d(i, j), prof_y[j] = min_i d(i, j))``. Window i
    of x and window j of y are trivially matched when
    ``|i + delta - j| <= excl`` (``delta`` = x's global window offset
    minus y's). This is the building block of the chunked distributed
    matrix profile (SURVEY §4.2-5): a self-join over a long series
    decomposes into chunk-pair AB-joins whose exclusion masks
    reconstruct the monolithic diagonal exclusion exactly. Windows with
    no admissible neighbor get +inf (the combiner's min ignores them).

    The distance matrix of an unordered chunk pair is computed once and
    serves both chunks — the column minima fall out of the same row
    sweep for one extra vector-min per row, halving the chunk-pair
    fan-out of the distributed matrix profile."""
    x = np.asarray(x, dtype=np.float64).reshape(-1)
    y = np.asarray(y, dtype=np.float64).reshape(-1)
    n_q = x.shape[0] - w + 1
    n_r = y.shape[0] - w + 1
    mu_q, sig_q = _sliding_mean_std(x, w)
    mu_r, sig_r = _sliding_mean_std(y, w)

    nfft = 1 << int(np.ceil(np.log2(x.shape[0] + y.shape[0])))
    fy = np.fft.rfft(y, nfft)
    fq = np.fft.rfft(x[:w][::-1], nfft)
    qt = np.fft.irfft(fy * fq, nfft)[w - 1 : w - 1 + n_r]
    fx = np.fft.rfft(x, nfft)
    fr = np.fft.rfft(y[:w][::-1], nfft)
    qt_first_col = np.fft.irfft(fx * fr, nfft)[w - 1 : w - 1 + n_q]

    eps = 1e-14
    flat_q = sig_q < eps
    flat_r = sig_r < eps
    any_flat_r = bool(flat_r.any())
    inv_q = 1.0 / np.where(flat_q, 1.0, sig_q)
    winv_r = (1.0 / np.where(flat_r, 1.0, sig_r)) / w
    flat_row = np.where(flat_r, 0.0, float(w)) if any_flat_r else None

    profile = np.empty(n_q)
    prof_y = np.full(n_r, np.inf)
    step = _block(n_r)
    QTs = np.empty((step, n_r))
    for i0 in range(0, n_q, step):
        i1 = min(i0 + step, n_q)
        B = i1 - i0
        for b in range(B):
            i = i0 + b
            if i > 0:
                qt[1:] = qt[:-1] - y[: n_r - 1] * x[i - 1] + y[w : w + n_r - 1] * x[i + w - 1]
                qt[0] = qt_first_col[i]
            QTs[b] = qt
        D = np.multiply(mu_r[None, :], (-w * mu_q[i0:i1])[:, None])
        D += QTs[:B]
        D *= winv_r[None, :] * inv_q[i0:i1, None]
        np.clip(D, -1.0, 1.0, out=D)
        np.subtract(1.0, D, out=D)
        D *= 2.0 * w
        if any_flat_r:
            D[:, flat_r] = w
        fq = flat_q[i0:i1]
        if fq.any():
            if flat_row is not None:
                D[fq] = flat_row
            else:
                D[fq] = float(w)
        np.maximum(D, 0.0, out=D)
        np.sqrt(D, out=D)
        if excl >= 0:
            for b in range(B):
                i = i0 + b
                lo = max(0, i + delta - excl)
                hi = min(n_r, i + delta + excl + 1)
                if lo < hi:
                    D[b, lo:hi] = np.inf
        # +inf stays +inf (combiner's min ignores it)
        profile[i0:i1] = D.min(axis=1)
        np.minimum(prof_y, D.min(axis=0), out=prof_y)
    return profile, prof_y


def znorm_windows(x: np.ndarray, w: int) -> np.ndarray:
    """(n_win, w) z-normalized sliding windows; constant windows map to
    the ZERO vector, which makes plain Euclidean distances reproduce the
    stumpy flat conventions for free (flat-flat -> 0; flat vs non-flat
    -> sqrt(w), since a z-normalized window has sum(z²) = w under the
    population std). Every op uses only the window's own values, so the
    result is BIT-IDENTICAL whether computed over the full series or any
    suffix containing the window — the property the streaming operator's
    batch-equality contract rests on."""
    x = np.asarray(x, dtype=np.float64).reshape(-1)
    wins = np.lib.stride_tricks.sliding_window_view(x, w)
    mu = wins.mean(axis=1, keepdims=True)
    sig = wins.std(axis=1, keepdims=True)
    flat = sig[:, 0] < 1e-14
    z = (wins - mu) / np.where(sig < 1e-14, 1.0, sig)
    z[flat] = 0.0
    return z


def left_matrix_profile(
    x: np.ndarray, w: int, horizon: Optional[int] = None
) -> np.ndarray:
    """CAUSAL (left) matrix profile: profile[i] = min over PAST windows
    j in [max(0, i - horizon), i - excl) of the z-normalized distance,
    excl = ceil(w/4) (the STOMP trivial-match zone). This is the online
    analog of the self-join profile — each window scores only against
    history, so a streaming evaluator can emit it the moment the
    window's last point arrives; ``horizon`` bounds the lookback (and
    therefore the streaming operator's per-series state) at
    ``horizon + w - 1`` raw values. Windows with no admissible past
    neighbor (the series head) score 0.0, matching the batch kernel's
    edge fallback. Public formulation: the 'left matrix profile' of
    Zhu et al.'s STOMP/STAMPI line of work.

    Deliberately evaluated DIRECTLY over z-normalized windows (O(n·h·w))
    rather than with the STOMP rolling recurrence: every distance
    depends only on the two windows' values, so a streaming evaluator
    over a series SUFFIX reproduces the batch result bit-for-bit
    (tests/test_streaming_detect.py asserts ==, not allclose). The
    horizon bounds per-row cost; the O(n²) unbounded case belongs to the
    batch STOMP kernels."""
    import math

    z = znorm_windows(x, w)
    n = z.shape[0]
    excl = int(math.ceil(w / 4))
    prof = np.empty(n)
    for i in range(n):
        lo = 0 if horizon is None else max(0, i - horizon)
        hi = max(lo, i - excl)
        if hi > lo:
            d2 = ((z[lo:hi] - z[i]) ** 2).sum(axis=1)
            prof[i] = float(np.sqrt(d2.min()))
        else:
            prof[i] = 0.0
    return prof


def matrix_profile_ab_excl_topk(
    x: np.ndarray, y: np.ndarray, w: int, delta: int, excl: int, k: int,
    normalize: bool = True, p: float = 2.0,
) -> Tuple[np.ndarray, np.ndarray]:
    """Chunk-pair building block for the DISTRIBUTED k-th-NN matrix
    profile: the k SMALLEST admissible distances per window, both sides
    — ``P_a (n_q, k)`` sorted ascending (inf-padded when the pair offers
    fewer than k admissible neighbors) and the symmetric ``P_b``. The
    global k-th-smallest is recovered by min-merging per-pair top-k
    lists (each pair's k smallest necessarily contain every global
    top-k member that lives in that pair), so the combiner takes the
    k-th smallest of the union. Same global-coordinate exclusion as
    matrix_profile_ab_excl_both."""
    x = np.asarray(x, dtype=np.float64).reshape(-1)
    y = np.asarray(y, dtype=np.float64).reshape(-1)
    eng = _make_engine(x, y, w, normalize, p)
    n_q, n_r = eng.n_q, eng.n_r
    P_a = np.full((n_q, k), np.inf)
    P_b = np.full((n_r, k), np.inf)
    step = _block(n_r)
    merged = np.empty((n_r, k + step))
    for i0 in range(0, n_q, step):
        i1 = min(i0 + step, n_q)
        B = i1 - i0
        D = eng.rows(i0, i1)
        if excl >= 0:
            for b in range(B):
                i = i0 + b
                lo = max(0, i + delta - excl)
                hi = min(n_r, i + delta + excl + 1)
                if lo < hi:
                    D[b, lo:hi] = np.inf
        kk = min(k, n_r)
        part = np.partition(D, kk - 1, axis=1)[:, :kk]
        part.sort(axis=1)
        P_a[i0:i1, :kk] = part
        # k smallest of (running P_b ∪ this block's columns) — same set
        # the sequential per-row min-merge accumulates
        m = merged[:, : k + B]
        m[:, :k] = P_b
        m[:, k:] = D.T
        m.sort(axis=1)
        P_b[:] = m[:, :k]
    return P_a, P_b


def mstump_ab_excl_pair(
    Xa: np.ndarray, Xb: np.ndarray, w: int, delta: int, excl: int,
    discords: bool = True, normalize: bool = True, p: float = 2.0,
) -> Tuple[np.ndarray, np.ndarray]:
    """mstump building block for the chunked distributed MULTIVARIATE
    matrix profile: for an unordered chunk pair (Xa, Xb) of ONE (n, d)
    series, return per-k partial minima for both chunks —
    ``P_a[k-1, i] = min_j D_k(i, j)`` over admissible j in Xb and the
    symmetric ``P_b`` (the k-dim distance D_k is symmetric in (i, j),
    so one pair pass serves both sides, like matrix_profile_ab_excl_both).

    ``delta``/``excl`` reconstruct the monolithic trivial-match exclusion
    in GLOBAL window coordinates (|i + delta - j| <= excl -> masked).
    Because min over j distributes over any partition of j into chunks
    FOR EACH k separately, min-combining the per-pair P_k rows and then
    summing over k reproduces ``mstump_profile_sum`` exactly (up to the
    STOMP recurrence's float noise). Rows with no admissible neighbor in
    the pair hold +inf — the combiner's min ignores them."""
    Xa = np.asarray(Xa, dtype=np.float64)
    Xb = np.asarray(Xb, dtype=np.float64)
    d = Xa.shape[1]
    engines = [
        _make_engine(
            np.ascontiguousarray(Xa[:, a]), np.ascontiguousarray(Xb[:, a]),
            w, normalize, p,
        )
        for a in range(d)
    ]
    n_q = Xa.shape[0] - w + 1
    n_r = Xb.shape[0] - w + 1
    P_a = np.empty((d, n_q))
    P_b = np.full((d, n_r), np.inf)
    step = _block(n_r, d)
    if d == 2:
        for i0 in range(0, n_q, step):
            i1 = min(i0 + step, n_q)
            D0 = engines[0].rows(i0, i1)
            D1 = engines[1].rows(i0, i1)
            for b in range(i1 - i0):
                i = i0 + b
                lo = max(0, i + delta - excl)
                hi = min(n_r, i + delta + excl + 1)
                if lo < hi:
                    D0[b, lo:hi] = np.inf
                    D1[b, lo:hi] = np.inf
            if discords:
                ext = np.maximum(D0, D1)
            else:
                ext = np.minimum(D0, D1)
            mean = np.add(D0, D1)
            mean *= 0.5
            P_a[0, i0:i1] = ext.min(axis=1)
            P_a[1, i0:i1] = mean.min(axis=1)
            np.minimum(P_b[0], ext.min(axis=0), out=P_b[0])
            np.minimum(P_b[1], mean.min(axis=0), out=P_b[1])
        return P_a, P_b
    inv_k = 1.0 / np.arange(1.0, d + 1.0)[:, None, None]
    for i0 in range(0, n_q, step):
        i1 = min(i0 + step, n_q)
        B = i1 - i0
        D = np.empty((d, B, n_r))
        for a in range(d):
            D[a] = engines[a].rows(i0, i1)
        for b in range(B):
            i = i0 + b
            lo = max(0, i + delta - excl)
            hi = min(n_r, i + delta + excl + 1)
            if lo < hi:
                D[:, b, lo:hi] = np.inf
        Ds = np.sort(D, axis=0)
        if discords:
            Ds = Ds[::-1]
        Dk = np.cumsum(Ds, axis=0) * inv_k
        P_a[:, i0:i1] = Dk.min(axis=2)
        np.minimum(P_b, Dk.min(axis=1), out=P_b)
    return P_a, P_b


# ----------------------------------------------------------------- KMeans

def kmeans_fit(
    X: np.ndarray, k: int, seed: int = 42, n_iter: int = 100, tol: float = 1e-6
) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations; returns (k, d) centroids."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    k = min(k, n)
    centers = np.empty((k, X.shape[1]))
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers[j:] = X[rng.integers(n, size=k - j)]
            break
        centers[j] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    for _ in range(n_iter):
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new_centers = centers.copy()
        for j in range(k):
            sel = assign == j
            if sel.any():
                new_centers[j] = X[sel].mean(axis=0)
        if np.abs(new_centers - centers).max() < tol:
            centers = new_centers
            break
        centers = new_centers
    return centers


def kmeans_score(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """L2 distance to the nearest centroid (per window)."""
    X = np.asarray(X, dtype=np.float64)
    d = np.sqrt(((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2))
    return d.min(axis=1)


# --------------------------------------------------------- IsolationForest

def _iforest_build(X: np.ndarray, idx: np.ndarray, depth: int, max_depth: int,
                   rng: np.random.Generator, nodes: list) -> int:
    node_id = len(nodes)
    if depth >= max_depth or idx.shape[0] <= 1:
        nodes.append((-1, 0.0, -1, -1, idx.shape[0]))
        return node_id
    sub = X[idx]
    lo, hi = sub.min(axis=0), sub.max(axis=0)
    usable = np.flatnonzero(hi > lo)
    if usable.shape[0] == 0:
        nodes.append((-1, 0.0, -1, -1, idx.shape[0]))
        return node_id
    f = int(rng.choice(usable))
    split = rng.uniform(lo[f], hi[f])
    nodes.append(None)  # placeholder
    left = _iforest_build(X, idx[sub[:, f] < split], depth + 1, max_depth, rng, nodes)
    right = _iforest_build(X, idx[sub[:, f] >= split], depth + 1, max_depth, rng, nodes)
    nodes[node_id] = (f, float(split), left, right, idx.shape[0])
    return node_id


def _avg_path_length(n):
    n = np.asarray(n, dtype=np.float64)
    out = np.zeros_like(n)
    big = n > 2
    out[big] = 2.0 * (np.log(n[big] - 1) + np.euler_gamma) - 2.0 * (n[big] - 1) / n[big]
    out[n == 2] = 1.0
    return out


def iforest_fit(X: np.ndarray, n_trees: int = 100, subsample: int = 256,
                seed: int = 42) -> list:
    """Fit an isolation forest; returns a list of node-table trees."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed)
    psi = min(subsample, X.shape[0])
    max_depth = int(np.ceil(np.log2(max(psi, 2))))
    trees = []
    for _ in range(n_trees):
        samp = rng.choice(X.shape[0], size=psi, replace=False)
        nodes: list = []
        _iforest_build(X, samp, 0, max_depth, rng, nodes)
        trees.append(_flatten_tree(nodes))
    return trees


def _flatten_tree(nodes: list) -> tuple:
    """Node list -> flat arrays (feat, split, left, right, leaf_add):
    traversal becomes pure index arithmetic (no per-level Python list
    building), and the leaf's average-path-length correction is
    precomputed once at fit."""
    arr = np.array(nodes, dtype=np.float64)
    feat = arr[:, 0].astype(np.int64)
    sizes = arr[:, 4]
    leaf_add = np.where(feat < 0, _avg_path_length(sizes), 0.0)
    return (
        feat,
        arr[:, 1],
        arr[:, 2].astype(np.int64),
        arr[:, 3].astype(np.int64),
        leaf_add,
    )


def iforest_score(X: np.ndarray, trees: list, subsample: int = 256) -> np.ndarray:
    """Anomaly score 2^(-E[h]/c(psi)); higher = more anomalous."""
    X = np.asarray(X, dtype=np.float64)
    depths = np.zeros(X.shape[0])
    for tree in trees:
        if isinstance(tree, list):  # legacy node-list form
            tree = _flatten_tree(tree)
        feat, split, left, right, leaf_add = tree
        node = np.zeros(X.shape[0], dtype=np.int64)
        depth = np.zeros(X.shape[0])
        active = np.arange(X.shape[0])
        while active.shape[0]:
            cur = node[active]
            f = feat[cur]
            is_leaf = f < 0
            if is_leaf.any():
                li = active[is_leaf]
                depth[li] += leaf_add[cur[is_leaf]]
            go = active[~is_leaf]
            if go.shape[0]:
                cg = cur[~is_leaf]
                vals = X[go, f[~is_leaf]]
                node[go] = np.where(vals < split[cg], left[cg], right[cg])
                depth[go] += 1
            active = go
        depths += depth
    mean_depth = depths / len(trees)
    c = _avg_path_length(np.array([float(subsample)]))[0]
    return 2.0 ** (-mean_depth / max(c, 1e-12))


# ----------------------------------------------------- proba & confidence

def minmax_rescale(scores: np.ndarray) -> np.ndarray:
    """predict_proba semantics (BaseDetector.py:140-186): min-max rescale;
    constant scores pass through iff already within [0, 1], else error."""
    s = np.asarray(scores, dtype=np.float64)
    mn, mx = s.min(), s.max()
    if mn == mx:
        if 0.0 <= mn <= 1.0:
            return s.copy()
        raise ValueError("Constant anomaly scores outside [0, 1] cannot be rescaled")
    return (s - mn) / (mx - mn)


def _betacf(a: float, b: float, x: float, max_iter: int = 200, eps: float = 3e-12) -> float:
    """Continued fraction for the incomplete beta (Numerical Recipes style)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, max_iter + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    import math

    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _betacf_vec(a: float, b: float, xv: np.ndarray,
                max_iter: int = 200, eps: float = 3e-12) -> np.ndarray:
    """Vectorized :func:`_betacf` for scalar (a, b) and an x ARRAY —
    per-lane freeze-on-convergence reproduces the scalar loop's control
    flow exactly (each lane's last applied step is the one whose delta
    met eps); values match the scalar loop to a few ulp (numpy vs libm
    log/exp), far inside the 5e-11 exact-summation pin."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = np.ones_like(xv)
    d = 1.0 - qab * xv / qap
    d = np.where(np.abs(d) < tiny, tiny, d)
    d = 1.0 / d
    h = d.copy()
    active = np.ones(xv.shape[0], dtype=bool)
    for m in range(1, max_iter + 1):
        m2 = 2 * m
        aa = m * (b - m) * xv / ((qam + m2) * (a + m2))
        d1 = 1.0 + aa * d
        d1 = np.where(np.abs(d1) < tiny, tiny, d1)
        c1 = 1.0 + aa / c
        c1 = np.where(np.abs(c1) < tiny, tiny, c1)
        d1 = 1.0 / d1
        h1 = h * (d1 * c1)
        aa = -(a + m) * (qab + m) * xv / ((a + m2) * (qap + m2))
        d2 = 1.0 + aa * d1
        d2 = np.where(np.abs(d2) < tiny, tiny, d2)
        c2 = 1.0 + aa / c1
        c2 = np.where(np.abs(c2) < tiny, tiny, c2)
        d2 = 1.0 / d2
        delta = d2 * c2
        d = np.where(active, d2, d)
        c = np.where(active, c2, c)
        h = np.where(active, h1 * delta, h)
        active &= np.abs(delta - 1.0) >= eps
        if not active.any():
            break
    return h


def _betainc_reg_vec(a: float, b: float, xv: np.ndarray) -> np.ndarray:
    """Vectorized :func:`betainc_reg` for scalar (a, b): lanes split into
    the direct and symmetry-transformed continued-fraction branches,
    each evaluated by :func:`_betacf_vec`."""
    import math

    out = np.full_like(xv, np.nan)  # NaN x stays NaN (scalar-path parity)
    out[xv <= 0.0] = 0.0
    out[xv >= 1.0] = 1.0
    mid = (xv > 0.0) & (xv < 1.0)
    if not mid.any():
        return out
    x = xv[mid]
    lg = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    front = np.exp(lg + a * np.log(x) + b * np.log(1.0 - x))
    direct = x < (a + 1.0) / (a + b + 2.0)
    res = np.empty_like(x)
    if direct.any():
        res[direct] = front[direct] * _betacf_vec(a, b, x[direct]) / a
    flip = ~direct
    if flip.any():
        res[flip] = 1.0 - front[flip] * _betacf_vec(b, a, 1.0 - x[flip]) / b
    out[mid] = res
    return out


def binom_cdf(k, n: int, p) -> np.ndarray:
    """P(X <= k) for X ~ Binomial(n, p) via the incomplete beta.
    ``k`` and ``p`` broadcast against each other (scipy.stats.binom.cdf
    semantics — ExCeeD calls this with scalar k and per-point p; that
    all-equal-k case runs the vectorized continued fraction, ~50x over
    the per-point Python loop; values within a few ulp of the scalar
    path)."""
    k_arr, p_arr = np.broadcast_arrays(
        np.asarray(k, dtype=np.float64), np.asarray(p, dtype=np.float64)
    )
    out = np.empty(k_arr.shape, dtype=np.float64)
    kf, pf, of = k_arr.reshape(-1), p_arr.reshape(-1), out.reshape(-1)
    if kf.shape[0] > 1 and np.all(kf == kf[0]):
        ki = int(np.floor(kf[0]))
        if ki < 0:
            of[:] = 0.0
        elif ki >= n:
            of[:] = 1.0
        else:
            of[:] = _betainc_reg_vec(
                float(n - ki), float(ki + 1), 1.0 - pf.astype(np.float64)
            )
        return out
    for i in range(kf.shape[0]):
        ki = int(np.floor(kf[i]))
        if ki < 0:
            of[i] = 0.0
        elif ki >= n:
            of[i] = 1.0
        else:
            of[i] = betainc_reg(n - ki, ki + 1, 1.0 - float(pf[i]))
    return out


def exceed_confidence(
    train_scores: np.ndarray, test_scores: np.ndarray, contamination: float
) -> np.ndarray:
    """ExCeeD confidence (BaseDetector.predict_confidence semantics):
    posterior outlier probability from the train-score ECDF, binomial tail
    at the contamination threshold, flipped for predicted-normal points."""
    train = np.asarray(train_scores, dtype=np.float64)
    test = np.asarray(test_scores, dtype=np.float64)
    n = train.shape[0]
    # P(score <= s) with add-one smoothing (ExCeeD eq. 4)
    counts = np.searchsorted(np.sort(train), test, side="right")
    p = (1.0 + counts) / (2.0 + n)
    conf = 1.0 - binom_cdf(np.floor(n * contamination) - 1, n, 1 - p)
    cutoff = np.quantile(test, 1.0 - contamination)
    predicted_anomaly = test >= cutoff
    return np.where(predicted_anomaly, conf, 1.0 - conf)


# --- motif / discord extraction -----------------------------------------
# The other half of the matrix-profile literature (Yeh et al., ICDM 2016
# 'Matrix Profile I'): the profile's MINIMA are motifs (best-repeated
# subsequences), its MAXIMA are discords. Extraction applies the standard
# exclusion zone (ceil(w/4)) around every reported window so the top-k
# are non-overlapping.

def matrix_profile_pair_index(x: np.ndarray, w: int):
    """Self-join matrix profile WITH nearest-neighbor indices:
    (profile, nn_idx) arrays of length n-w+1; exclusion zone ceil(w/4).

    Same symmetric upper-triangle sweep as ``_matrix_profile_self`` —
    the shared ``_self_join_sweep`` in index-tracking mode (~1.6x over
    the full-matrix row sweep this kernel used to run): a block's row
    argmin covers each window's LATER neighbors, the accumulated column
    (min, argmin) pair covers its EARLIER ones, and the final combine
    prefers the earlier-index side on exact ties — the same
    lowest-index tie rule as a full-row argmin."""
    x = np.asarray(x, dtype=np.float64).reshape(-1)
    if x.shape[0] - w + 1 <= 0:
        return np.zeros(0), np.zeros(0, dtype=np.int64)
    return _self_join_sweep(x, w, want_nn=True)


def top_motifs(profile: np.ndarray, nn: np.ndarray, k: int, excl: int):
    """Top-k non-overlapping motif PAIRS from (profile, nn): ascending
    profile order; a pair is taken if BOTH windows are >= excl away from
    every previously reported window. Returns [(idx_a, idx_b, dist)]."""
    used: list[int] = []
    out = []
    for i in np.argsort(profile, kind="stable"):
        j = nn[i]
        if j < 0:
            continue
        a, b = int(min(i, j)), int(max(i, j))
        if any(abs(a - u) < excl or abs(b - u) < excl for u in used):
            continue
        out.append((a, b, float(profile[i])))
        used += [a, b]
        if len(out) == k:
            break
    return out


def top_discords(profile: np.ndarray, k: int, excl: int):
    """Top-k non-overlapping discords: descending profile order with the
    exclusion zone. Returns [(idx, dist)]."""
    used: list[int] = []
    out = []
    for i in np.argsort(profile, kind="stable")[::-1]:
        if any(abs(int(i) - u) < excl for u in used):
            continue
        out.append((int(i), float(profile[i])))
        used.append(int(i))
        if len(out) == k:
            break
    return out
