"""Sliding-window kernels (vectorized NumPy).

Semantics match the reference implementation
(``/root/reference/dtaianomaly/anomaly_detection/windowing_utils.py:11-399``)
but the code is new and vectorized: the reference builds windows with a
Python list comprehension and walks the reverse mapping with an O(n) pointer
loop; here both are index arithmetic + prefix sums so the same kernel is fast
enough to run inside an Arrow UDF over millions of series.

Key semantic quirks reproduced exactly:

* ``sliding_window`` window starts are ``range(0, n - w, stride)`` — the end
  is *exclusive* even when ``(n - w) % stride == 0`` — plus one final
  irregular window covering ``X[n-w:]``. (reference: windowing_utils.py:32-36)
* ``reverse_sliding_window`` treats window ``i`` as if it started at
  ``i * stride`` (including the irregular tail window) and averages all
  windows covering each observation; the last ``w`` observations average
  over *all remaining* windows. (reference: windowing_utils.py:76-99)
* window-size selection (``fft`` / ``acf`` / ``mwf`` / ``suss``) follows the
  public window-size-selection algorithms (Ermshaus et al. 2023) exactly as
  the reference parameterizes them (windowing_utils.py:130-399).
"""

from __future__ import annotations

import math
from typing import Optional, Union

import numpy as np

VALID_AUTO_WINDOW_SIZES = ("fft", "acf", "mwf", "suss")


def window_starts(n: int, window_size: int, stride: int) -> np.ndarray:
    """Start offsets of every window, the irregular tail window last."""
    if window_size > n:
        raise ValueError(f"window_size {window_size} > series length {n}")
    regular = np.arange(0, n - window_size, stride, dtype=np.int64)
    return np.concatenate([regular, [n - window_size]])


def num_windows(n: int, window_size: int, stride: int) -> int:
    """len(range(0, n-w, stride)) regular windows + the tail window."""
    if n - window_size <= 0:
        return 1
    return -((n - window_size) // -stride) + 1


def sliding_window(X: np.ndarray, window_size: int, stride: int) -> np.ndarray:
    """2-D window matrix, one flattened window per row.

    Multivariate input is flattened time-major / attribute-minor (the
    reference's ``X[t:t+w].ravel()``).
    """
    X = np.asarray(X)
    starts = window_starts(X.shape[0], window_size, stride)
    idx = starts[:, None] + np.arange(window_size)[None, :]
    wins = X[idx]  # (n_win, w) or (n_win, w, d)
    return wins.reshape(wins.shape[0], -1)


def reverse_sliding_window(
    per_window_scores: np.ndarray,
    window_size: int,
    stride: int,
    length_time_series: int,
) -> np.ndarray:
    """Per-window scores -> per-observation scores (mean of covering windows).

    Window ``i`` is treated as covering positions ``[i*stride, i*stride + w)``
    — including the appended tail window — and each observation past
    ``n - w`` averages every window from its first covering one to the end.
    """
    scores = np.asarray(per_window_scores, dtype=np.float64)
    n = length_time_series
    w, s = window_size, stride
    n_win = scores.shape[0]

    t = np.arange(n, dtype=np.int64)
    # first covering window: smallest i with i*s + w > t
    a = np.where(t >= w, (t - w) // s + 1, 0)
    a = np.minimum(a, n_win)  # defensive clip
    # one-past-last covering window: count of i with i*s <= t, capped; in the
    # tail region every remaining window contributes
    b = np.where(t < n - w, t // s + 1, n_win)
    b = np.minimum(b, n_win)

    csum = np.concatenate([[0.0], np.cumsum(scores)])
    cnt = (b - a).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = (csum[b] - csum[a]) / cnt
    return out


def check_is_valid_window_size(window_size: Union[int, str]) -> None:
    """Raise ValueError unless strictly-positive int or an auto-mode name."""
    if isinstance(window_size, bool):
        raise ValueError("The window size can not be a boolean value!")
    if isinstance(window_size, int):
        if window_size <= 0:
            raise ValueError("An integer window size should be strictly positive.")
    elif window_size not in VALID_AUTO_WINDOW_SIZES:
        raise ValueError(f"Invalid window_size given: '{window_size}'.")


def compute_window_size(
    X: np.ndarray,
    window_size: Union[int, str],
    lower_bound: int = 10,
    relative_lower_bound: float = 0.0,
    upper_bound: int = 1000,
    relative_upper_bound: float = 1.0,
    threshold: float = 0.89,
    default_window_size: Optional[int] = None,
) -> int:
    """Window-size selection dispatch (reference windowing_utils.py:130-257)."""
    check_is_valid_window_size(window_size)
    X = np.asarray(X)
    if isinstance(window_size, int):
        return window_size
    if X.ndim > 1 and X.shape[1] > 1:
        raise ValueError(
            "It only makes sense to compute the window size in univariate time series."
        )
    x = np.asarray(X, dtype=np.float64).reshape(-1)

    lb = max(lower_bound, int(relative_lower_bound * x.shape[0]))
    ub = min(upper_bound, int(relative_upper_bound * x.shape[0]))

    computed = -1
    if not (0 <= lb < ub <= x.shape[0]):
        computed = -1
    elif window_size == "fft":
        computed = dominant_fourier_frequency(x, lb, ub)
    elif window_size == "acf":
        computed = highest_autocorrelation(x, lb, ub)
    elif window_size == "mwf":
        computed = multi_window_finder(x, lb, ub)
    elif window_size == "suss":
        computed = suss(x, lb, threshold)

    if computed == -1:
        if default_window_size is None:
            raise ValueError(
                f"Could not compute a window size using '{window_size}' "
                f"(bounds [{lb}, {ub}], series shape {X.shape})."
            )
        return default_window_size
    return int(computed)


def dominant_fourier_frequency(x: np.ndarray, lower_bound: int, upper_bound: int) -> int:
    """w = int(1/f) of the largest-magnitude positive in-bounds Fourier coef."""
    coefs = np.fft.fft(x)
    freqs = np.fft.fftfreq(x.shape[0], 1.0)
    pos = (freqs > 0) & (coefs != 0)
    if not pos.any():
        return -1
    cand_w = (1.0 / freqs[pos]).astype(np.int64)
    mags = np.abs(coefs[pos])
    in_bounds = (cand_w >= lower_bound) & (cand_w <= upper_bound)
    if not in_bounds.any():
        return -1
    cand_w, mags = cand_w[in_bounds], mags[in_bounds]
    return int(cand_w[np.argmax(mags)])


def acf(x: np.ndarray, nlags: int) -> np.ndarray:
    """FFT-based autocorrelation, statsmodels ``acf(x, fft=True)`` semantics:
    demean, biased autocovariance via the convolution theorem, normalized by
    lag-0."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    xd = x - x.mean()
    # next fast length >= 2n (power of two is fine without scipy)
    nfft = 1 << int(math.ceil(math.log2(2 * n)))
    f = np.fft.rfft(xd, nfft)
    acov = np.fft.irfft(f * np.conjugate(f), nfft)[: nlags + 1] / n
    if acov[0] == 0:
        return np.full(nlags + 1, np.nan)
    return acov / acov[0]


def find_peaks_simple(values: np.ndarray) -> np.ndarray:
    """Local maxima with scipy.signal.find_peaks default semantics:
    a sample strictly greater than both neighbors; flat peaks report the
    midpoint ``(left_edge + right_edge) // 2``."""
    v = np.asarray(values, dtype=np.float64)
    peaks = []
    i, n = 1, v.shape[0]
    while i < n - 1:
        if v[i] > v[i - 1]:
            # scan over a possible plateau
            j = i
            while j < n - 1 and v[j + 1] == v[i]:
                j += 1
            if j < n - 1 and v[j + 1] < v[i]:
                peaks.append((i + j) // 2)
            i = j + 1
        else:
            i += 1
    return np.asarray(peaks, dtype=np.int64)


def highest_autocorrelation(x: np.ndarray, lower_bound: int, upper_bound: int) -> int:
    """Lag of the highest in-bounds ACF peak (bounds: lb <= lag < ub)."""
    values = acf(x, nlags=int(x.shape[0] / 2))
    peaks = find_peaks_simple(values)
    peaks = peaks[(peaks >= lower_bound) & (peaks < upper_bound)]
    if peaks.shape[0] == 0:
        return -1
    return int(peaks[np.argmax(values[peaks])])


def multi_window_finder(x: np.ndarray, lower_bound: int, upper_bound: int) -> int:
    """Multi-Window-Finder (Imani & Keogh 2021): log moving-average residual
    per candidate w, average of the first three local minima / their rank."""
    x = np.asarray(x, dtype=np.float64)
    csum = np.concatenate([[0.0], np.cumsum(x)])
    sizes = np.arange(lower_bound, upper_bound, dtype=np.int64)
    if sizes.shape[0] == 0:
        return -1
    # all moving means truncated to the shortest (largest-w) length,
    # built as (block, shortest) gathers off the prefix sums — the
    # per-candidate loop was ~1000 small NumPy calls per series, the
    # dominant cost of the mwf driver query. Blocked (~2M doubles per
    # gather, same budget as detectors._block) so a long series with a
    # wide size range never materializes an unbounded matrix.
    shortest = x.shape[0] - sizes[-1] + 1
    idx = np.arange(shortest)
    residuals = np.empty(sizes.shape[0])
    step = max(1, (1 << 21) // max(1, shortest))
    for k0 in range(0, sizes.shape[0], step):
        k1 = min(k0 + step, sizes.shape[0])
        blk = sizes[k0:k1, None]
        MM = csum[blk + idx[None, :]] - csum[idx[None, :]]
        MM /= blk.astype(np.float64)
        MM -= MM.mean(axis=1, keepdims=True)
        np.abs(MM, out=MM)
        residuals[k0:k1] = np.log(MM.sum(axis=1))
    local_min = (np.diff(np.sign(np.diff(residuals))) > 0).nonzero()[0] + 1
    if local_min.shape[0] == 0:
        return -1
    if local_min.shape[0] < 3:
        return int(sizes[local_min[0]])
    return int(np.mean([sizes[local_min[i]] / (i + 1) for i in range(3)]))


def suss(x: np.ndarray, lower_bound: int, threshold: float) -> int:
    """Summary-Statistics-Subsequence window size (Ermshaus et al., ClaSP).

    Min-max normalize, then exponential + binary search for the smallest w
    whose windowed (mean, std, range) stats are within ``threshold`` of the
    global stats; returns ``2 * lbound``.
    """
    x = np.asarray(x, dtype=np.float64)
    if x.max() > x.min():
        x = (x - x.min()) / (x.max() - x.min())

    g_mean, g_std = x.mean(), x.std()
    g_range = x.max() - x.min()

    def score(w: int) -> float:
        wins = np.lib.stride_tricks.sliding_window_view(x, w)
        d_mean = wins.mean(axis=1) - g_mean
        d_std = wins.std(axis=1) - g_std
        d_rng = (wins.max(axis=1) - wins.min(axis=1)) - g_range
        dist = np.sqrt(d_mean**2 + d_std**2 + d_rng**2) / math.sqrt(w)
        return float(dist.mean())

    s_max = score(1)
    s_min = score(x.shape[0] - 1)
    if s_min == s_max:
        return -1

    def norm_score(w: int) -> float:
        return 1 - (score(w) - s_min) / (s_max - s_min)

    exp = 0
    while True:
        w = 2**exp
        if w < lower_bound:
            exp += 1
            continue
        if norm_score(w) > threshold:
            break
        exp += 1

    lo = max(lower_bound, 2 ** (exp - 1))
    hi = min(2**exp + 1, x.shape[0] - 1)
    while lo <= hi:
        w = int((lo + hi) / 2)
        sc = norm_score(w)
        if sc < threshold:
            lo = w + 1
        elif sc > threshold:
            hi = w - 1
        else:
            lo = w
            break
    return 2 * lo


def pacf_from_acf(rho: np.ndarray) -> np.ndarray:
    """Partial autocorrelations at lags 1..K from the autocorrelations
    rho[0..K] (rho[0] == 1) via the Durbin-Levinson recursion — the
    statsmodels ``pacf(method='ld')`` convention. pacf_k is the lag-k
    coefficient of the order-k Yule-Walker AR fit (pinned in pytest
    against an independent per-order Toeplitz solve). Sequential float
    recursion — bit-reproducible."""
    rho = np.asarray(rho, dtype=np.float64)
    K = rho.shape[0] - 1
    if K < 1:
        raise ValueError("need rho[0..K] with K >= 1")
    pacf = np.empty(K, dtype=np.float64)
    phi = np.zeros(K + 1, dtype=np.float64)  # phi[j] = phi_{k,j}
    pacf[0] = phi[1] = rho[1]
    denom = 1.0 - rho[1] * rho[1]
    for k in range(2, K + 1):
        num = rho[k]
        for j in range(1, k):
            num -= phi[j] * rho[k - j]
        a = num / denom
        new = phi.copy()
        new[k] = a
        for j in range(1, k):
            new[j] = phi[j] - a * phi[k - j]
        phi = new
        pacf[k - 1] = a
        denom *= 1.0 - a * a
    return pacf


def periodogram(x: np.ndarray) -> np.ndarray:
    """One-sided raw periodogram of a real series at the positive
    Fourier frequencies k = 1..n//2 (DC excluded — the series is mean-
    centered first, so bin 0 is identically 0 and carries no period):

        P[k-1] = |FFT(x - mean)[k]|^2 / n

    The scaling follows the classical Schuster periodogram (the same
    I(ω) statsmodels/scipy report up to their density conventions);
    only relative magnitudes matter to the consumers here (peak
    ranking, normalized spectral entropy), so no density factor."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n < 4:
        raise ValueError(f"need n >= 4 points, got {n}")
    c = np.fft.rfft(x - x.mean())
    p = (c.real * c.real + c.imag * c.imag) / n
    return p[1 : n // 2 + 1]


def spectral_peaks(p: np.ndarray, topk: int) -> np.ndarray:
    """Indices (0-based into the k=1.. grid) of the ``topk`` largest
    periodogram ordinates, deterministic: power DESC, then smaller k
    (longer period) first on exact float ties."""
    order = np.lexsort((np.arange(p.shape[0]), -p))
    return order[: min(topk, p.shape[0])]


def spectral_entropy(p: np.ndarray) -> float:
    """Normalized Shannon entropy of the periodogram distribution
    (Pincus-style regularity feature, as in tsfresh/catch22): powers
    normalized to a pmf, entropy / log(m) so 1.0 = white noise,
    0.0 = single pure tone. Zero bins contribute 0 (lim p->0 p log p);
    an all-zero spectrum (constant series) returns NULL upstream —
    here it raises."""
    s = float(p.sum())
    if s <= 0.0:
        raise ValueError("all-zero spectrum (constant series)")
    q = p / s
    nz = q[q > 0.0]
    h = float(-(nz * np.log(nz)).sum())
    m = p.shape[0]
    return h / float(np.log(m)) if m > 1 else 0.0


def _moments_kurtosis(x: np.ndarray) -> float:
    """Population excess-kurtosis-free kurtosis m4/m2² (the plain
    Pearson kurtosis ASAP compares — 3.0 for a normal)."""
    mu = x.mean()
    d = x - mu
    m2 = float((d * d).sum()) / d.shape[0]
    if m2 <= 0.0:
        return float("nan")
    m4 = float((d * d * d * d).sum()) / d.shape[0]
    return m4 / (m2 * m2)


def _sma(x: np.ndarray, w: int) -> np.ndarray:
    """Simple moving average with window w (valid positions only)."""
    c = np.concatenate([[0.0], np.cumsum(x)])
    return (c[w:] - c[:-w]) / w


def _roughness(x: np.ndarray) -> float:
    """ASAP's roughness: std of the first differences."""
    d = np.diff(x)
    if d.shape[0] < 1:
        return float("nan")
    return float(d.std())


def asap_window(x: np.ndarray, max_frac: float = 0.1) -> tuple:
    """ASAP smoothing parameter search (Rong & Bailis, VLDB 2017,
    "ASAP: Prioritizing Attention via Time Series Smoothing"),
    simplified to the exhaustive grid the paper's pruned search
    approximates: over SMA windows w = 1..floor(n*max_frac), choose the
    w whose smoothed series has the LOWEST roughness (std of first
    differences) among those that PRESERVE kurtosis (smoothed kurtosis
    >= original kurtosis — the paper's spike-preservation criterion);
    ties break to the smallest w. w=1 (identity) always qualifies, so
    the search never comes back empty.

    Returns (w, orig_kurt, smooth_kurt, orig_rough, smooth_rough)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n < 8:
        raise ValueError(f"need n >= 8 points, got {n}")
    ok = _moments_kurtosis(x)
    orough = _roughness(x)
    max_w = max(1, int(n * max_frac))
    best = (1, ok, orough)
    for w in range(2, max_w + 1):
        s = _sma(x, w)
        k = _moments_kurtosis(s)
        if not np.isnan(k) and k >= ok:
            r = _roughness(s)
            if r < best[2]:
                best = (w, k, r)
    return best[0], ok, best[1], orough, best[2]


def mann_kendall_s(x: np.ndarray, block: int = 256) -> int:
    """Mann-Kendall S statistic: S = Σ_{i<j} sign(x_j − x_i), the
    integer concordance count behind the classic nonparametric trend
    test (Mann 1945, Kendall 1975). Pairs are evaluated ``block`` rows
    at a time, so peak memory grows with block·n, not n²: each block
    holds a block×n float64 difference matrix, a block×n bool mask, and
    the masked float64 differences and their signs — about 25·block·n
    bytes (≈ 64 MB at the default block and n = 10 000)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    s = 0
    for lo in range(0, n - 1, block):
        hi = min(lo + block, n - 1)
        # rows i in [lo, hi): compare against all j > i
        seg = x[lo:hi]
        diffs = x[np.newaxis, lo + 1:] - seg[:, np.newaxis]
        # mask j <= i within the rectangle
        jidx = np.arange(lo + 1, n)[np.newaxis, :]
        iidx = np.arange(lo, hi)[:, np.newaxis]
        valid = jidx > iidx
        s += int(np.sign(diffs[valid]).sum())
    return s


def mann_kendall_report_from_s(x: np.ndarray, s: int) -> tuple:
    """(S, tau, z) from a PRE-COMPUTED S (the fused-sweep path) — the
    tie corrections need only the value multiset."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n < 8:
        raise ValueError(f"need n >= 8 points, got {n}")
    _, counts = np.unique(x, return_counts=True)
    t = counts[counts > 1].astype(np.int64)
    n0 = n * (n - 1) // 2
    tie_pairs = int((t * (t - 1) // 2).sum())
    den = float(np.sqrt(float(n0) * float(n0 - tie_pairs)))
    tau = float(s) / den if den > 0 else 0.0
    var = (n * (n - 1) * (2 * n + 5)
           - int((t * (t - 1) * (2 * t + 5)).sum())) / 18.0
    if var <= 0:
        return s, tau, 0.0
    if s > 0:
        z = (s - 1) / np.sqrt(var)
    elif s < 0:
        z = (s + 1) / np.sqrt(var)
    else:
        z = 0.0
    return s, tau, float(z)


def mann_kendall_report(x: np.ndarray) -> tuple:
    """(S, tau, z): tau is the tie-adjusted tau-b denominator form
    (Kendall 1975), z the normal approximation with the tie-corrected
    variance Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 and the ±1
    continuity correction; z = 0 when Var = 0 (all values tied)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n < 8:
        raise ValueError(f"need n >= 8 points, got {n}")
    return mann_kendall_report_from_s(x, mann_kendall_s(x))


def mk_and_theil_sen(x: np.ndarray, block: int = 256) -> tuple:
    """Fused single sweep over the i<j pairs: Mann-Kendall S and the
    Theil-Sen slope share the pairwise differences (dx > 0 always, so
    sign(slope) == sign(dy) and S falls out of the same blocks the
    slopes come from — computing them separately would double the
    O(n²) work, the pp_robust_trend hot path). Bit-identical to
    calling :func:`mann_kendall_s` and :func:`theil_sen_slope`
    separately (pinned in pytest)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n < 2:
        raise ValueError(f"need n >= 2 points, got {n}")
    s = 0
    chunks = []
    for lo in range(0, n - 1, block):
        hi = min(lo + block, n - 1)
        seg = x[lo:hi]
        jidx = np.arange(lo + 1, n)[np.newaxis, :]
        iidx = np.arange(lo, hi)[:, np.newaxis]
        valid = jidx > iidx
        dy = (x[np.newaxis, lo + 1:] - seg[:, np.newaxis])[valid]
        s += int(np.sign(dy).sum())
        dx = (jidx - iidx)[valid].astype(np.float64)
        chunks.append(dy / dx)
    return s, float(np.median(np.concatenate(chunks)))


def theil_sen_slope(x: np.ndarray, block: int = 256) -> float:
    """Theil-Sen slope over (t, x_t): the median of all pairwise slopes
    (x_j − x_i)/(j − i), i<j (Theil 1950, Sen 1968) — the classic
    breakdown-point-0.29 robust alternative to OLS. Positions are the
    regressor (unit spacing), so no dx=0 pairs exist. Blocked to bound
    peak memory; the slopes ARE materialized once for the exact median
    (n ≤ a few thousand per series here — ~n²/2 doubles, the same
    budget as the matrix-profile kernels)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n < 2:
        raise ValueError(f"need n >= 2 points, got {n}")
    chunks = []
    for lo in range(0, n - 1, block):
        hi = min(lo + block, n - 1)
        seg = x[lo:hi]
        jidx = np.arange(lo + 1, n)[np.newaxis, :]
        iidx = np.arange(lo, hi)[:, np.newaxis]
        valid = jidx > iidx
        dx = (jidx - iidx)[valid].astype(np.float64)
        dy = (x[np.newaxis, lo + 1:] - seg[:, np.newaxis])[valid]
        chunks.append(dy / dx)
    return float(np.median(np.concatenate(chunks)))
