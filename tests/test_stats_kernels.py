"""Tests for the rollup-stats kernels: contiguous tumbling-bucket stats,
exact tier composition (1m partials -> 1h equals direct aggregation),
derived floats."""

import numpy as np
import pytest

from dtaianomaly_spark.kernels import stats as S


def brute_stats(v, bucket):
    return {
        "count": len(bucket), "sum": sum(bucket), "sumsq": sum(x * x for x in bucket),
        "min": min(bucket), "max": max(bucket), "first": bucket[0], "last": bucket[-1],
    }


def tumbling(v, bucket):
    """contiguous_stats over tumbling buckets of ``bucket`` positions."""
    return S.contiguous_stats(v, np.arange(0, v.shape[0], bucket))


class TestTumblingStats:
    def test_exact_small(self):
        v = np.array([1, 5, 3, 7, 8, 6, 4, 11, 2], dtype=np.int64)
        out = tumbling(v, 4)
        assert np.array_equal(out["count"], [4, 4, 1])
        assert np.array_equal(out["sum"], [16, 29, 2])
        assert np.array_equal(out["sumsq"], [84, 237, 4])
        assert np.array_equal(out["min"], [1, 4, 2])
        assert np.array_equal(out["max"], [7, 11, 2])
        assert np.array_equal(out["first"], [1, 8, 2])
        assert np.array_equal(out["last"], [7, 11, 2])

    def test_matches_brute_force(self):
        rng = np.random.default_rng(3)
        v = rng.integers(-1000, 1000, size=997).astype(np.int64)
        out = tumbling(v, 60)
        for j in range(out["count"].shape[0]):
            b = v[j * 60 : (j + 1) * 60]
            exp = brute_stats(v, list(b))
            for f in ("sum", "sumsq", "min", "max", "first", "last"):
                assert out[f][j] == exp[f], f
            assert out["count"][j] == b.shape[0]


class TestMergeStats:
    def test_composition_exact(self):
        """1m -> 1h composition must equal direct aggregation over tokens."""
        rng = np.random.default_rng(11)
        v = rng.integers(-2000, 2000, size=10_000).astype(np.int64)
        one_m = tumbling(v, 60)
        n_1m = one_m["count"].shape[0]
        one_h = S.merge_contiguous(one_m, np.arange(0, n_1m, 60))
        direct = tumbling(v, 3600)
        for f in S.STAT_FIELDS:
            assert np.array_equal(one_h[f], direct[f]), f


class TestDerive:
    def test_mean_std(self):
        v = np.array([1, 5, 3, 7], dtype=np.int64)
        st = tumbling(v, 4)
        mean, std = S.derive_mean_std(st["count"], st["sum"], st["sumsq"])
        assert mean[0] == pytest.approx(v.mean())
        assert std[0] == pytest.approx(v.std())  # population

    def test_empty_bucket_nan(self):
        mean, std = S.derive_mean_std(np.array([0]), np.array([0]), np.array([0]))
        assert np.isnan(mean[0]) and np.isnan(std[0])


def test_binom_cdf_matches_exact_summation():
    """Pin the _betacf/betainc_reg numerics (kernels/detectors.py:335-406)
    against the exact finite sum  binom.cdf(k; n, p) =
    sum_{i<=k} C(n,i) p^i (1-p)^(n-i)  computed with exact integer
    binomials (math.comb) — the same values scipy.stats.binom.cdf
    returns (scipy is not available in this container)."""
    import math

    import numpy as np

    from dtaianomaly_spark.kernels.detectors import binom_cdf

    def exact_cdf(k, n, p):
        if k < 0:
            return 0.0
        k = min(int(k), n)
        return float(sum(
            math.comb(n, i) * (p ** i) * ((1.0 - p) ** (n - i))
            for i in range(k + 1)
        ))

    cases = [
        (0, 10, 0.1), (3, 10, 0.3), (9, 10, 0.95), (10, 10, 0.5),
        (-1, 10, 0.5), (4, 100, 0.05), (95, 100, 0.95), (50, 100, 0.5),
        (12, 250, 0.05), (200, 250, 0.8), (0, 250, 0.001), (249, 250, 0.999),
    ]
    for k, n, p in cases:
        got = float(np.asarray(binom_cdf(np.array([float(k)]), n, np.array([p])))[0])
        want = exact_cdf(k, n, p)
        assert got == pytest.approx(want, abs=5e-11), (k, n, p)


def test_binom_cdf_vectorized_consistency():
    import numpy as np

    from dtaianomaly_spark.kernels.detectors import binom_cdf

    n = 128
    ks = np.arange(-1, n + 1, dtype=np.float64)
    ps = np.full_like(ks, 0.07)
    vec = np.asarray(binom_cdf(ks, n, ps))
    # a CDF: monotone nondecreasing in k, within [0, 1], endpoints exact
    assert np.all(np.diff(vec) >= -1e-12)
    assert vec[0] == 0.0 and vec[-1] == pytest.approx(1.0, abs=1e-12)


def test_sliding_znorm_dist_property_random():
    """Property: the FFT sliding z-norm distance equals the brute-force
    per-window z-normalized Euclidean distance (hypothesis-driven)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dtaianomaly_spark.kernels.detectors_ext import sliding_znorm_dist

    @settings(max_examples=30, deadline=None)
    @given(st.integers(0, 10**6), st.integers(40, 200), st.integers(4, 16))
    def run(seed, n, w):
        rng = np.random.default_rng(seed)
        x = np.round(rng.normal(0, 100, n))
        c = np.round(rng.normal(0, 100, w))
        got = sliding_znorm_dist(x, c, w)
        zc = (c - c.mean()) / c.std()
        for i in range(0, n - w + 1, max(1, (n - w) // 7)):
            win = x[i:i + w]
            if win.std() < 1e-9:
                continue
            zw = (win - win.mean()) / win.std()
            assert abs(got[i] - np.linalg.norm(zw - zc)) < 1e-6

    run()


def test_binom_cdf_property_random():
    """Property: betainc-based binom_cdf equals the exact math.comb
    summation on random (k, n, p)."""
    import math

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dtaianomaly_spark.kernels.detectors import binom_cdf

    @settings(max_examples=50, deadline=None)
    @given(st.integers(1, 300), st.floats(0.001, 0.999), st.floats(0.0, 1.0))
    def run(n, p, kf):
        k = int(kf * n)
        want = float(sum(
            math.comb(n, i) * (p ** i) * ((1.0 - p) ** (n - i))
            for i in range(k + 1)
        ))
        got = float(np.asarray(binom_cdf(np.array([float(k)]), n, np.array([p])))[0])
        assert abs(got - want) < 1e-9

    run()
