"""Spark operators vs the shared NumPy kernels (reference semantics).

The oracle-parity suite proves Spark == DuckDB on the same SQL semantics;
this suite proves the Spark operators == the NumPy kernels that replicate
the *reference's* semantics (windowing tail rule, reverse mapping,
np.quantile interpolation, linspace undersampling) — closing the loop
engine ⇄ oracle ⇄ reference.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.kernels import detectors as KD
from dtaianomaly_spark.kernels import windowing as KW
from dtaianomaly_spark.kernels import preprocessing as KP
from dtaianomaly_spark.sources import corpus as C

SF_DIR = "/root/testdata/sf0.001"
W, S = 64, 32


def _token_series(spark, limit=25):
    rows = (
        C.token_arrays(spark, SF_DIR)
        .orderBy("doc_id")
        .limit(limit)
        .collect()
    )
    return {int(r["doc_id"]): np.asarray(r["tokens"], dtype=np.int64) for r in rows}


@pytest.fixture(scope="module")
def series(spark):
    return _token_series(spark)


def test_sliding_stats_matches_kernel_windows(spark, series):
    from dtaianomaly_spark.operators import windows as OW
    from pyspark.sql import functions as F

    arrays = (
        C.token_arrays(spark, SF_DIR)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "tokens", "n_tok")
        .filter(F.col("doc_id") < 25)
    )
    got = {
        (int(r["doc_id"]), int(r["idx"])): r
        for r in OW.sliding_stats(arrays, W, S).collect()
    }
    for doc_id, x in series.items():
        starts = KW.window_starts(x.shape[0], W, S)
        assert KW.num_windows(x.shape[0], W, S) == starts.shape[0]
        wins = KW.sliding_window(x, W, S)
        for i, (st, win) in enumerate(zip(starts, wins)):
            row = got[(doc_id, i)]
            assert row["start"] == st
            assert row["sum"] == win.sum()
            assert row["min"] == win.min() and row["max"] == win.max()
            mean = row["sum"] / row["cnt"]
            assert row["mean"] == mean


@pytest.mark.parametrize("w,s", [(64, 32), (16, 16)])
def test_sliding_stats_short_series_follow_oracle_grid(spark, w, s):
    """Series shorter than the window, empty ones included, in one
    DataFrame: the DuckDB oracle's grid gives ``0 < n < w`` one
    whole-series window (start = n - w, cnt = n) and ``n = 0`` none, and
    reverse_scores over those windows equals the kernel's reverse map."""
    from dtaianomaly_spark.operators import windows as OW
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    series = {
        d: rng.integers(-105, 400, n)
        for d, n in enumerate((0, 1, 10, 63, 64, 65, 96, 100))
    }
    arrays = spark.createDataFrame(
        [(d, x.tolist(), len(x)) for d, x in series.items()],
        "doc_id long, tokens array<int>, n_tok long",
    )
    win = OW.sliding_stats(arrays, w, s)
    want, want_scores = [], {}
    for d, x in series.items():
        n = x.shape[0]
        starts = KW.window_starts(n, w, s) if n >= w else ([n - w] if n else [])
        wins = [x[max(st, 0):st + w] for st in starts]
        for i, (st, v) in enumerate(zip(starts, wins)):
            cnt, tot, sq = v.shape[0], int(v.sum()), int((v * v).sum())
            mean = tot / cnt
            std = float(np.sqrt(max(sq / cnt - mean * mean, 0.0)))
            want.append((d, i, st, cnt, tot, sq, v.min(), v.max(), mean, std))
        if n:
            scores = np.array([v.sum() for v in wins], dtype=np.float64)
            want_scores[d] = KW.reverse_sliding_window(scores, w, s, n)
    assert sorted(tuple(r) for r in win.collect()) == sorted(want)

    series_n = spark.createDataFrame(
        [(d, x.shape[0]) for d, x in series.items()], "doc_id long, n long"
    )
    got = {}
    rev = OW.reverse_scores(
        win.select("doc_id", "idx", F.col("sum").alias("score")), series_n, w, s
    )
    for r in rev.collect():
        got.setdefault(r["doc_id"], {})[r["pos"]] = r["score"]
    assert sorted(got) == sorted(want_scores)
    for d, expect in want_scores.items():
        out = np.array([got[d][p] for p in range(expect.shape[0])])
        assert np.array_equal(out, expect), f"doc {d}"


def test_reverse_scores_matches_kernel(spark, series):
    from dtaianomaly_spark.operators import windows as OW
    from pyspark.sql import functions as F

    arrays = (
        C.token_arrays(spark, SF_DIR)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "tokens", "n_tok")
        .filter(F.col("doc_id") < 25)
    )
    win = OW.sliding_stats(arrays, W, S).select(
        "doc_id", "idx", F.col("sum").alias("score")
    )
    series_n = C.documents_series(spark, SF_DIR).filter(F.col("doc_id") < 25)
    got = {}
    for r in OW.reverse_scores(win, series_n, W, S).collect():
        got.setdefault(int(r["doc_id"]), {})[int(r["pos"])] = r["score"]
    for doc_id, x in series.items():
        wins = KW.sliding_window(x, W, S)
        scores = wins.sum(axis=1).astype(np.float64)
        expect = KW.reverse_sliding_window(scores, W, S, x.shape[0])
        out = np.array([got[doc_id][p] for p in range(x.shape[0])])
        assert np.array_equal(out, expect), f"doc {doc_id}"


def test_contamination_matches_np_quantile(spark, series):
    from dtaianomaly_spark.operators import evaluation as EV
    from pyspark.sql import functions as F

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 25)
    scored = lf.select("doc_id", "pos", F.col("value").alias("score"))
    got = {}
    for r in EV.contamination_rate(scored, rate=0.05).collect():
        got.setdefault(int(r["doc_id"]), {})[int(r["pos"])] = r["label"]
    for doc_id, x in series.items():
        cutoff = np.quantile(x.astype(np.float64), 0.95)  # linear interp
        expect = (x.astype(np.float64) >= cutoff).astype(int)
        out = np.array([got[doc_id][p] for p in range(x.shape[0])])
        assert np.array_equal(out, expect), f"doc {doc_id}"


def test_undersample_nb_matches_linspace(spark, series):
    from dtaianomaly_spark.operators import preprocessing as PP
    from pyspark.sql import functions as F

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 25)
    got = {}
    for r in PP.undersample_nb(lf, 100).collect():
        got.setdefault(int(r["doc_id"]), {})[int(r["pos"])] = r["value"]
    for doc_id, x in series.items():
        idx = KP.undersample_indices(x.shape[0], 100)
        expect = x[idx]
        out = np.array([got[doc_id][k] for k in range(len(idx))])
        assert np.array_equal(out, expect), f"doc {doc_id}"


def test_moving_average_matches_kernel(spark, series):
    from dtaianomaly_spark.operators import preprocessing as PP
    from pyspark.sql import functions as F

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 25)
    got = {}
    for r in PP.moving_average(lf, 8).collect():
        got.setdefault(int(r["doc_id"]), {})[int(r["pos"])] = r["out"]
    for doc_id, x in series.items():
        expect = KP.moving_average(x.astype(np.float64), 8)
        out = np.array([got[doc_id][p] for p in range(x.shape[0])])
        assert np.allclose(out, expect, rtol=0, atol=1e-9), f"doc {doc_id}"


def test_ema_operator_matches_sequential_recursion(spark, series):
    from dtaianomaly_spark.operators import preprocessing as PP
    from pyspark.sql import functions as F

    arrays = C.token_arrays(spark, SF_DIR).filter(F.col("doc_id") < 10)
    got = {}
    for r in PP.ema(arrays, alpha=0.9).collect():
        got.setdefault(int(r["doc_id"]), {})[int(r["pos"])] = r["out"]
    for doc_id in list(series)[:10]:
        x = series[doc_id].astype(np.float64)
        # sequential reference recursion (ExponentialMovingAverage.py:39-47)
        y = np.empty_like(x)
        y[0] = x[0]
        for t in range(1, x.shape[0]):
            y[t] = 0.9 * y[t - 1] + 0.1 * x[t]
        out = np.array([got[doc_id][p] for p in range(x.shape[0])])
        assert np.allclose(out, y, rtol=1e-9, atol=1e-6), f"doc {doc_id}"


def test_cusum_equals_naive_recurrence(spark):
    """The relational prefix-min form equals Page's sequential recurrence
    s_i = max(0, s_{i-1} + x_i - k) computed naively in NumPy."""
    import numpy as np
    from pyspark.sql import functions as F

    from dtaianomaly_spark.operators.detectors import cusum_scores
    from dtaianomaly_spark.sources import corpus as C

    lf = C.token_long_form(spark, "/root/testdata/sf0.001").filter(
        "CAST(doc_id AS BIGINT) < 6"
    )
    got = {}
    for r in cusum_scores(lf, 60, 300).collect():
        got.setdefault(r["doc_id"], {})[r["pos"]] = (r["cusum"], r["alarm"])
    series = {}
    for r in lf.collect():
        series.setdefault(r["doc_id"], {})[r["pos"]] = r["value"]
    assert len(got) == 6
    for doc_id, vals in series.items():
        s = 0
        for pos in sorted(vals):
            s = max(0, s + vals[pos] - 60)
            assert got[doc_id][pos] == (s, int(s > 300)), (doc_id, pos)


def test_motif_discord_from_shared_stage_equal_standalone(spark):
    """The persisted (profile, nn) stage both reports derive from must
    change nothing: motif/discord extracted from one
    matrix_profile_pair_stage equal the standalone operators AND the
    direct kernel extraction on each series."""
    from pyspark.sql import functions as F

    from dtaianomaly_spark.operators import detectors as DET

    docs = (
        C.token_arrays(spark, "/root/testdata/sf0.001")
        .filter(F.expr("CAST(doc_id AS BIGINT) < 6"))
    )
    w, k = 32, 3
    stage = DET.matrix_profile_pair_stage(docs, w).persist()
    try:
        got_m = {
            (r["doc_id"], r["rank"]): (r["idx_a"], r["idx_b"], r["dist"])
            for r in DET.motif_topk_from_stage(stage, w, k).collect()
        }
        got_d = {
            (r["doc_id"], r["rank"]): (r["idx"], r["dist"])
            for r in DET.discord_topk_from_stage(stage, w, k).collect()
        }
        alone_m = {
            (r["doc_id"], r["rank"]): (r["idx_a"], r["idx_b"], r["dist"])
            for r in DET.motif_topk(docs, w, k).collect()
        }
        alone_d = {
            (r["doc_id"], r["rank"]): (r["idx"], r["dist"])
            for r in DET.discord_topk(docs, w, k).collect()
        }
        assert got_m == alone_m and got_m
        assert got_d == alone_d and got_d
        # and both agree with the kernel run directly on each series
        excl = int(np.ceil(w / 4))
        for row in docs.collect():
            did = str(row["doc_id"])  # the stage casts doc_id to string
            x = np.asarray(row["tokens"], dtype=np.float64)
            prof, nn = KD.matrix_profile_pair_index(x, w)
            for r, (a, b, d) in enumerate(
                KD.top_motifs(prof, nn, k, excl), start=1
            ):
                assert got_m[(did, r)] == (a, b, d)
            for r, (i, d) in enumerate(
                KD.top_discords(prof, k, excl), start=1
            ):
                assert got_d[(did, r)] == (i, d)
    finally:
        stage.unpersist()


def test_lttb_operator_matches_kernel_per_series(spark):
    from dtaianomaly_spark.kernels import preprocessing as KP
    from dtaianomaly_spark.operators.preprocessing import lttb
    from dtaianomaly_spark.sources import corpus as C

    lf = C.token_long_form(spark, SF_DIR).filter("doc_id < 30")
    got = {}
    for r in lttb(lf, 48).collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["value"]))
    rows = lf.orderBy("doc_id", "pos").collect()
    series: dict = {}
    for r in rows:
        series.setdefault(r["doc_id"], []).append(int(r["value"]))
    import numpy as np

    for doc_id, vals in series.items():
        idx = KP.lttb_indices(np.array(vals), 48)
        want = [(int(i), vals[int(i)]) for i in idx]
        assert sorted(got[doc_id]) == want, doc_id
        assert len(want) == min(len(vals), 48)
    # partitioning invariance: bit-equal at a different layout
    again = {
        (r["doc_id"], r["pos"], r["value"])
        for r in lttb(lf.repartition(17), 48).collect()
    }
    assert again == {
        (d, p, v) for d, pv in got.items() for p, v in pv
    }


def test_m4_matches_naive_per_bucket(spark):
    from dtaianomaly_spark.operators.preprocessing import m4
    from dtaianomaly_spark.sources import corpus as C

    lf = C.token_long_form(spark, SF_DIR).filter("doc_id < 30")
    got = {
        (r["doc_id"], r["bucket"]): (
            r["pos_first"], r["v_first"], r["pos_last"], r["v_last"],
            r["pos_min"], r["v_min"], r["pos_max"], r["v_max"],
        )
        for r in m4(lf, 32).collect()
    }
    series: dict = {}
    for r in lf.orderBy("doc_id", "pos").collect():
        series.setdefault(r["doc_id"], []).append(
            (int(r["pos"]), int(r["value"]))
        )
    want = {}
    for doc_id, pts in series.items():
        n = len(pts)
        buckets: dict = {}
        for pos, v in pts:
            buckets.setdefault(pos * 32 // n, []).append((pos, v))
        for bk, bp in buckets.items():
            pf, vf = bp[0]
            pl, vl = bp[-1]
            # pinned ties: v_min earliest pos, v_max latest pos
            vmin, pmin = min((v, p) for p, v in bp)
            vmax, pmax = max((v, p) for p, v in bp)
            want[(doc_id, bk)] = (pf, vf, pl, vl, pmin, vmin, pmax, vmax)
    assert got == want
    # every rendered bucket keeps <= 4 distinct points and brackets the
    # bucket's value range
    for (d, bk), (pf, vf, pl, vl, pmin, vmin, pmax, vmax) in got.items():
        assert pf <= pmin <= pl and pf <= pmax <= pl
        assert vmin <= min(vf, vl) and vmax >= max(vf, vl)


# ------------------------------------------------ spectral residual

def test_sr_saliency_matches_naive_dft():
    """The FFT path reproduces an independent O(n^2) DFT-matrix
    implementation of the same SR pipeline (different algorithm, same
    math) to float precision."""
    from dtaianomaly_spark.kernels.detectors_ext import (
        _causal_mavg, sr_extend, sr_saliency,
    )

    rng = np.random.default_rng(7)
    for n in (17, 64, 129):
        x = np.cumsum(rng.normal(0, 1, n))
        ext = sr_extend(x)
        ne = ext.shape[0]
        W = np.exp(-2j * np.pi * np.outer(np.arange(ne), np.arange(ne)) / ne)
        spec = W @ ext
        amp = np.abs(spec)
        safe = np.where(amp > 0, amp, 1.0)
        resid = np.log(safe) - _causal_mavg(np.log(safe), 3)
        sal = np.abs(np.conj(W).T @ (spec * (np.exp(resid) / safe)) / ne)
        np.testing.assert_allclose(sr_saliency(x), sal[:n], atol=1e-9)


def test_sr_scores_spike_finite_and_deterministic():
    from dtaianomaly_spark.kernels.detectors_ext import sr_scores_1d

    rng = np.random.default_rng(1)
    x = np.sin(np.linspace(0, 20 * np.pi, 500)) + rng.normal(0, 0.05, 500)
    x[300] += 5.0
    s = sr_scores_1d(x)
    assert s.shape == x.shape and np.isfinite(s).all()
    assert int(np.argmax(s)) == 300
    np.testing.assert_array_equal(s, sr_scores_1d(x))
    # degenerate inputs stay finite and shaped
    for bad in (np.zeros(50), np.full(64, 3.0), np.array([]), np.arange(3.0)):
        out = sr_scores_1d(bad)
        assert out.shape == bad.shape and np.isfinite(out).all()


def test_sr_operator_matches_kernel_per_series(spark):
    from dtaianomaly_spark.kernels.detectors_ext import sr_scores_1d
    from dtaianomaly_spark.operators.detectors import spectral_residual_scores

    arrays = C.token_arrays(spark, SF_DIR).limit(12)
    got = {
        (r["doc_id"], r["pos"]): r["score"]
        for r in spectral_residual_scores(arrays).collect()
    }
    for r in arrays.collect():
        want = sr_scores_1d(np.asarray(r["tokens"], dtype=np.float64))
        for p, v in enumerate(want):
            assert got[(str(r["doc_id"]), p)] == v


# ------------------------------------------------ generalized ESD / S-H-ESD

def test_t_ppf_textbook_values_and_roundtrip():
    from dtaianomaly_spark.kernels.detectors_ext import t_cdf, t_ppf

    # standard t-table critical values (4 decimals)
    for p, df, want in [
        (0.975, 10, 2.2281), (0.95, 5, 2.0150), (0.975, 1, 12.7062),
        (0.995, 20, 2.8453), (0.95, 30, 1.6973),
    ]:
        assert abs(t_ppf(p, df) - want) < 2e-4
    for p in (0.01, 0.3, 0.5, 0.9, 0.999):
        assert abs(t_cdf(t_ppf(p, 7), 7) - p) < 1e-10
    assert t_ppf(0.25, 9) == -t_ppf(0.75, 9)
    with pytest.raises(ValueError, match="p must"):
        t_ppf(1.0, 5)
    with pytest.raises(ValueError, match="df must"):
        t_cdf(1.0, 0)


def test_gesd_planted_outliers_masking_and_independent_lambda():
    from dtaianomaly_spark.kernels.detectors_ext import gesd_outliers, t_ppf

    rng = np.random.default_rng(3)
    x = rng.normal(0, 1, 200)
    planted = [10, 50, 120]
    x[planted] += np.array([9.0, -8.0, 10.0])
    for robust in (False, True):
        idx, rs, lam, k = gesd_outliers(x, 10, robust=robust)
        assert k == 3 and sorted(idx[:k].tolist()) == planted
    # lambda_i recomputed independently from Rosner 1983's published
    # formula with the ORIGINAL-n indexing (i = 1..k)
    n = 200
    _, _, lam, _ = gesd_outliers(x, 10)
    for i1 in range(1, 11):
        t = t_ppf(1.0 - 0.05 / (2 * (n - i1 + 1)), n - i1 - 1)
        want = (n - i1) * t / np.sqrt((n - i1 - 1 + t * t) * (n - i1 + 1))
        assert abs(lam[i1 - 1] - want) < 1e-12
    # clean data declares nothing at this seed
    assert gesd_outliers(rng.normal(0, 1, 200), 10)[3] == 0
    # MASKING: a tight pair of extreme duplicates inflates the plain
    # std enough that naive one-at-a-time Grubbs would stop early; the
    # robust (median/MAD) variant must still catch both
    y = rng.normal(0, 1, 100)
    y[[20, 70]] = 40.0
    idx, _, _, k = gesd_outliers(y, 5, robust=True)
    assert k >= 2 and {20, 70} <= set(idx[:k].tolist())
    # degenerate sizes
    assert gesd_outliers(np.array([1.0, 2.0]), 3)[3] == 0


def test_shesd_report_finds_generator_spikes(spark):
    from pyspark.sql import functions as F

    from dtaianomaly_spark.operators.detectors import shesd_report

    lf = C.token_long_form(spark, SF_DIR)
    rows = shesd_report(lf, period=64).collect()
    assert len(rows) > 100
    # the synthetic generator plants +400 spikes exactly where
    # (doc_id * 7919 + pos * 104729) % 997 == 0 — ground truth
    is_spike = lambda d, p: (int(d) * 7919 + p * 104729) % 997 == 0  # noqa: E731
    hits = sum(is_spike(r["doc_id"], r["pos"]) for r in rows)
    assert hits / len(rows) > 0.6  # true spikes dominate the report
    # the FIRST removal per series (the most extreme point) is almost
    # always a true planted spike
    it0 = [r for r in rows if r["iteration"] == 0]
    assert sum(is_spike(r["doc_id"], r["pos"]) for r in it0) / len(it0) > 0.9
    # recall: most planted spikes in reported series are found
    reported = {(r["doc_id"], r["pos"]) for r in rows}
    docs = {r["doc_id"] for r in rows}
    n_of = {str(r["doc_id"]): r["n"] for r in
            lf.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    planted = {
        (d, p) for d in docs for p in range(n_of[d]) if is_spike(d, p)
    }
    assert len(reported & planted) / len(planted) > 0.8
    # per-series cap and iteration contract
    import collections
    per_doc = collections.Counter(r["doc_id"] for r in rows)
    for d, c in per_doc.items():
        assert c <= -(-n_of[d] * 2 // 100)  # ceil(0.02 n)
    for r in rows:
        assert r["r_stat"] > 0 and r["lambda_crit"] > 0
    with pytest.raises(ValueError, match="max_frac"):
        shesd_report(lf, period=64, max_frac=0.9)


# ------------------------------------------------ Holt-Winters

def test_hw_matches_independent_recursion_twin():
    """The kernel against a from-scratch rewrite of the additive
    Holt-Winters equations (different code, same math — byte-equal
    because both use plain float arithmetic in the same order)."""
    from dtaianomaly_spark.kernels.detectors_ext import hw_scores_1d

    rng = np.random.default_rng(31)
    m, n, a, b_, g = 7, 300, 0.3, 0.1, 0.2
    x = (np.arange(n) * 0.2 + 5 * np.sin(np.arange(n) * 2 * np.pi / m)
         + rng.normal(0, 0.5, n))

    # independent twin
    want = np.zeros(n)
    mean1 = sum(x[:m]) / m
    mean2 = sum(x[m:2 * m]) / m
    lvl, tr = mean1, (mean2 - mean1) / m
    seas = [x[i] - mean1 for i in range(m)]
    for t in range(m, n):
        f = lvl + tr + seas[t % m]
        if t >= 2 * m:
            want[t] = abs(x[t] - f)
        lvl_new = a * (x[t] - seas[t % m]) + (1 - a) * (lvl + tr)
        tr = b_ * (lvl_new - lvl) + (1 - b_) * tr
        seas[t % m] = g * (x[t] - lvl_new) + (1 - g) * seas[t % m]
        lvl = lvl_new
    np.testing.assert_array_equal(hw_scores_1d(x, m, a, b_, g), want)


def test_hw_properties_and_operator(spark):
    from dtaianomaly_spark.kernels.detectors_ext import hw_scores_1d
    from dtaianomaly_spark.operators.detectors import holt_winters_scores

    m = 24
    t = np.arange(600, dtype=float)
    x = 0.05 * t + 10 * np.sin(2 * np.pi * t / m)
    s = hw_scores_1d(x, m)
    # forecaster learns the periodic + linear structure
    assert np.abs(s[-100:]).max() < 0.5
    # a planted spike is the top score
    x2 = x.copy()
    x2[400] += 50
    assert int(np.argmax(hw_scores_1d(x2, m))) == 400
    # warmup zeros / short series / errors
    assert not hw_scores_1d(x, m)[: 2 * m].any()
    assert not hw_scores_1d(np.arange(10.0), m).any()
    with pytest.raises(ValueError, match="period"):
        hw_scores_1d(x, 1)
    # operator == kernel per series
    arrays = C.token_arrays(spark, SF_DIR).limit(10)
    got = {
        (r["doc_id"], r["pos"]): r["score"]
        for r in holt_winters_scores(arrays, period=24).collect()
    }
    for r in arrays.collect():
        want = hw_scores_1d(np.asarray(r["tokens"], dtype=np.float64), 24)
        for p, v in enumerate(want):
            assert got[(str(r["doc_id"]), p)] == v


# ------------------------------------------------ PELT changepoints

def _brute_optimal_partition(x, beta):
    """O(n^2) optimal-partitioning DP — the exactness oracle PELT must
    equal (same cost, full minimization, no pruning)."""
    from dtaianomaly_spark.kernels.detectors_ext import _seg_cost

    n = len(x)
    cs = np.concatenate([[0.0], np.cumsum(np.asarray(x, float))])
    cs2 = np.concatenate([[0.0], np.cumsum(np.asarray(x, float) ** 2)])
    F, prev = [-beta], [0]
    for t in range(1, n + 1):
        best, bs = None, 0
        for s in range(t):
            v = F[s] + _seg_cost(cs, cs2, np.int64(s), t) + beta
            if best is None or v < best - 1e-12:
                best, bs = v, s
        F.append(best)
        prev.append(bs)
    cps, t = [], n
    while t > 0:
        s = prev[t]
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


def test_pelt_equals_brute_dp_and_properties():
    from dtaianomaly_spark.kernels.detectors_ext import pelt_mean

    rng = np.random.default_rng(8)
    for trial in range(10):
        n = int(rng.integers(20, 120))
        x = rng.normal(0, 1, n)
        for cp in rng.choice(np.arange(5, n - 5), size=2, replace=False):
            x[cp:] += rng.normal(0, 4)
        prev_count = None
        for beta in (2.0, 8.0, 20.0, 80.0):
            got = pelt_mean(x, beta).tolist()
            assert got == _brute_optimal_partition(x, beta)
            # larger penalty never yields more changepoints
            if prev_count is not None:
                assert len(got) <= prev_count
            prev_count = len(got)
    # planted high-SNR shifts recovered exactly; constants segment once
    x = np.concatenate([np.zeros(100), np.full(100, 10.0), np.zeros(100)])
    x += rng.normal(0, 0.3, 300)
    assert pelt_mean(x, 15.0).tolist() == [100, 200]
    assert pelt_mean(np.full(200, 3.0), 5.0).tolist() == []
    assert pelt_mean(np.array([]), 5.0).tolist() == []
    with pytest.raises(ValueError, match="beta"):
        pelt_mean(x, -1.0)


def test_pelt_operator_matches_kernel(spark):
    from dtaianomaly_spark.kernels.detectors_ext import pelt_mean
    from dtaianomaly_spark.operators.detectors import pelt_report

    arrays = C.token_arrays(spark, SF_DIR).limit(15)
    arrays.persist().count()
    got = {}
    for r in pelt_report(arrays).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["seg"], r["seg_start"], r["seg_end"],
             r["seg_mean"], r["seg_rss"])
        )
    for r in arrays.collect():
        x = np.asarray(r["tokens"], dtype=np.float64)
        beta = 2.0 * float(x.var()) * float(np.log(max(x.shape[0], 2)))
        cps = pelt_mean(x, beta)
        bounds = [0] + cps.tolist() + [x.shape[0]]
        want = []
        for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
            seg = x[a:b]
            want.append((i, a, b - 1, float(seg.mean()),
                         float(((seg - seg.mean()) ** 2).sum())))
        assert sorted(got[str(r["doc_id"])]) == want
        # segments tile the series
        assert want[0][1] == 0 and want[-1][2] == x.shape[0] - 1
    arrays.unpersist()


# ------------------------------------------------ pattern search (MASS)

def test_pattern_search_matches_naive_and_finds_spikes(spark):
    from dtaianomaly_spark.kernels.detectors_ext import sliding_znorm_dist
    from dtaianomaly_spark.operators.detectors import pattern_search_topk

    # kernel vs naive per-window z-norm distance
    rng = np.random.default_rng(13)
    x = np.cumsum(rng.normal(0, 1, 300))
    q = rng.normal(0, 1, 24)
    d = sliding_znorm_dist(x, q, 24)
    qz = (q - q.mean()) / q.std()
    for p in range(0, 277, 13):
        win = x[p:p + 24]
        wz = (win - win.mean()) / win.std()
        assert abs(d[p] - np.sqrt(((wz - qz) ** 2).sum())) < 1e-8
    # operator: spike template finds the generator's planted spikes
    arrays = C.token_arrays(spark, SF_DIR).limit(40)
    pat = np.zeros(32)
    pat[16] = 400.0
    rows = pattern_search_topk(arrays, pat, k=3).collect()
    assert rows
    is_spike = lambda d_, p: (int(d_) * 7919 + p * 104729) % 997 == 0  # noqa: E731
    best = [r for r in rows if r["rank"] == 0]
    # rank-0 matches point at a window whose center is the spike
    hits = sum(is_spike(r["doc_id"], r["pos"] + 16) for r in best)
    docs_with_spike = {
        str(r["doc_id"])
        for r in arrays.collect()
        if any(is_spike(r["doc_id"], p) for p in range(16, r["n_tok"] - 15))
    }
    assert hits >= 0.9 * len([r for r in best if r["doc_id"] in docs_with_spike])
    # non-overlap within each series
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["pos"])
    for ps in per_doc.values():
        ps = sorted(ps)
        assert all(b - a >= 8 for a, b in zip(ps, ps[1:]))
    with pytest.raises(ValueError, match="pattern"):
        pattern_search_topk(arrays, np.array([1.0]))


def test_forecast_skill_report_matches_recomputation(spark):
    from dtaianomaly_spark.kernels.detectors_ext import hw_scores_1d
    from dtaianomaly_spark.operators.detectors import forecast_skill_report

    arrays = C.token_arrays(spark, SF_DIR).limit(25)
    arrays.persist().count()
    m = 24
    got = {r["doc_id"]: r for r in
           forecast_skill_report(arrays, period=m).collect()}
    n_checked = 0
    for r in arrays.collect():
        x = np.asarray(r["tokens"], dtype=np.float64)
        if x.shape[0] < 2 * m + 1:
            assert str(r["doc_id"]) not in got
            continue
        rep = got[str(r["doc_id"])]
        hw = hw_scores_1d(x, m)[2 * m:]
        naive = np.abs(np.diff(x))[2 * m - 1:]
        snaive = np.abs(x[2 * m:] - x[m:-m])
        assert rep["n_eval"] == x.shape[0] - 2 * m
        assert rep["hw_mae"] == float(hw.mean())
        assert rep["naive_mae"] == float(naive.mean())
        assert rep["snaive_mae"] == float(snaive.mean())
        assert rep["skill_naive"] == rep["hw_mae"] / rep["naive_mae"]
        n_checked += 1
    assert n_checked > 10
    # on a genuinely seasonal series the forecaster beats both baselines
    t = np.arange(800, dtype=float)
    xs = 0.1 * t + 20 * np.sin(2 * np.pi * t / m)
    df = spark.createDataFrame(
        [("s", [float(v) for v in xs])], "doc_id string, tokens array<double>"
    )
    rep = forecast_skill_report(df, period=m).collect()[0]
    assert rep["skill_naive"] < 1.0 and rep["skill_snaive"] < 1.0
    arrays.unpersist()


def test_gesd_zero_spread_declares_nothing():
    from dtaianomaly_spark.kernels.detectors_ext import gesd_outliers

    # constant input: zero spread at iteration 0 -> empty sweep
    for robust in (False, True):
        idx, rs, lam, k = gesd_outliers(np.full(50, 7.0), 5, robust=robust)
        assert k == 0 and len(idx) == len(rs) == len(lam) == 0
    # becomes constant mid-sweep: one huge outlier over a constant base
    y = np.full(40, 3.0)
    y[10] = 1000.0
    idx, rs, lam, k = gesd_outliers(y, 5, robust=False)
    # iteration 0 removes the spike; spread then hits 0 and the sweep
    # truncates instead of declaring constant points with inf stats
    assert idx.tolist()[:1] == [10] and len(rs) == 1
    assert np.isfinite(rs).all() and k == 1


def test_acf_report_matches_fft_kernel_and_exact_replay(spark):
    """The relational exact-integer ACF equals (a) the FFT kernel the
    acf window-size selector uses (statsmodels semantics) to float
    tolerance, and (b) a direct exact NumPy replay of the n²-scaled
    identity bit-for-bit."""
    from pyspark.sql import functions as F

    from dtaianomaly_spark.operators.windows import acf_report

    series = _token_series(spark, limit=12)
    lf = C.token_long_form(spark, SF_DIR).filter(
        F.col("doc_id").isin(*series.keys())
    )
    got = {}
    for r in acf_report(lf, 8).collect():
        got[(int(r.doc_id), int(r.lag))] = r.acf
    assert len(got) == 12 * 8
    for did, x in series.items():
        fft = KW.acf(x, 8)
        n = x.shape[0]
        S_, Sxx = int(x.sum()), int((x * x).sum())
        den = n * n * Sxx - n * S_ * S_
        for lag in range(1, 9):
            # (a) float-tolerance vs the FFT kernel
            assert got[(did, lag)] == pytest.approx(fft[lag], rel=1e-9,
                                                    abs=1e-12)
            # (b) bit-for-bit vs the exact integer identity
            sxy = int((x[:-lag] * x[lag:]).sum())
            h, t = int(x[:-lag].sum()), int(x[lag:].sum())
            num = n * n * sxy - n * S_ * (h + t) + (n - lag) * S_ * S_
            assert got[(did, lag)] == float(num) / float(den)


def test_acf_report_validates_and_drops_degenerates(spark):
    from dtaianomaly_spark.operators.windows import acf_report
    import pandas as pd

    with pytest.raises(ValueError):
        acf_report(None, 0)
    # constant series (zero variance) and lags >= n produce no rows
    lf = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1] * 4 + [2] * 3,
            "pos": [0, 1, 2, 3, 0, 1, 2],
            "value": [7, 7, 7, 7, 1, 5, 2],
        })
    )
    rows = acf_report(lf, 5).collect()
    assert {r.doc_id for r in rows} == {2}
    assert sorted(r.lag for r in rows) == [1, 2]  # lags 3,4,5 >= n drop


def test_ljung_box_discriminates_noise_from_structure(spark):
    """An iid series passes the whiteness test (Q below the chi-sq(8)
    5% cut), the corpus' modular pattern fails it, and Q equals an
    exact NumPy replay bit-for-bit (same left-to-right term order)."""
    import pandas as pd

    from dtaianomaly_spark.operators.windows import (
        LJUNG_BOX_CRIT_K8, ljung_box_report,
    )

    rng = np.random.default_rng(31)
    white_vals = rng.integers(-100, 101, 512)
    periodic_vals = np.array([((17 * t) % 13) - 6 for t in range(512)])
    lf = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1] * 512 + [2] * 512,
        "pos": list(range(512)) * 2,
        "value": np.concatenate([white_vals, periodic_vals]),
    }))
    got = {r.doc_id: r for r in ljung_box_report(lf, 8).collect()}
    assert got[1].white == 1 and got[1].q < LJUNG_BOX_CRIT_K8
    assert got[2].white == 0 and got[2].q > LJUNG_BOX_CRIT_K8

    for did, x in ((1, white_vals), (2, periodic_vals)):
        x = np.asarray(x, dtype=np.int64)
        n = x.shape[0]
        S_, Sxx = int(x.sum()), int((x * x).sum())
        den = n * n * Sxx - n * S_ * S_
        q = 0.0
        for lag in range(1, 9):
            sxy = int((x[:-lag] * x[lag:]).sum())
            h, t = int(x[:-lag].sum()), int(x[lag:].sum())
            num = n * n * sxy - n * S_ * (h + t) + (n - lag) * S_ * S_
            a = float(num) / float(den)
            q = q + (a * a) / float(n - lag)
        q = float(n) * float(n + 2) * q
        assert got[did].q == q  # bit-equal

    with pytest.raises(ValueError):
        ljung_box_report(lf, 4)  # critical value pinned for K=8 only


def test_trend_report_matches_numpy_lstsq(spark):
    """Slope/intercept/R2/forecast per series equal np.polyfit-style
    least squares on the raw values; a perfectly linear series gives
    R2 == 1 and an exact forecast."""
    import pandas as pd

    from dtaianomaly_spark.operators.windows import trend_report

    lf = C.token_long_form(spark, SF_DIR).filter("CAST(doc_id AS BIGINT) < 8")
    got = {int(r.doc_id): r for r in trend_report(lf, 64).collect()}
    series = _token_series(spark, limit=8)
    for did, x in series.items():
        n = x.shape[0]
        t = np.arange(n, dtype=np.float64)
        A = np.vstack([t, np.ones(n)]).T
        (sl, ic), res, *_ = np.linalg.lstsq(A, x.astype(np.float64),
                                            rcond=None)
        r = got[did]
        assert r.slope == pytest.approx(sl, rel=1e-9)
        assert r.intercept == pytest.approx(ic, rel=1e-9)
        ss_tot = float(((x - x.mean()) ** 2).sum())
        ss_res = float(res[0]) if len(res) else 0.0
        assert r.r2 == pytest.approx(1 - ss_res / ss_tot, rel=1e-9)
        assert r.forecast == pytest.approx(ic + sl * (n - 1 + 64), rel=1e-9)

    # exact linear series: R2 == 1, forecast continues the line exactly
    lin = spark.createDataFrame(pd.DataFrame({
        "doc_id": [99] * 50, "pos": range(50),
        "value": [3 * p - 7 for p in range(50)],
    }))
    r = trend_report(lin, 10).collect()[0]
    assert r.slope == pytest.approx(3.0, abs=1e-12)
    assert r.r2 == pytest.approx(1.0, abs=1e-12)
    assert r.forecast == pytest.approx(3 * 59 - 7, abs=1e-9)
    with pytest.raises(ValueError):
        trend_report(lin, -1)


def test_pacf_report_matches_exact_acf_plus_kernel(spark):
    """pacf_report == Durbin-Levinson over the bit-exact integer-moment
    ACF, replayed independently in NumPy per series; lag-1 pacf == the
    pp_acf lag-1 autocorrelation by definition."""
    from dtaianomaly_spark.operators.windows import acf_report, pacf_report

    lf = C.token_long_form(spark, SF_DIR).filter("CAST(doc_id AS BIGINT) < 8")
    got = {}
    for r in pacf_report(lf, 8).collect():
        got[(int(r.doc_id), int(r.lag))] = r.pacf
    acf1 = {
        int(r.doc_id): r.acf
        for r in acf_report(lf, 8).filter("lag = 1").collect()
    }
    series = _token_series(spark, limit=8)
    assert len(got) == 8 * 8
    for did, x in series.items():
        n = x.shape[0]
        S_, Sxx = int(x.sum()), int((x * x).sum())
        den = float(n * n * Sxx - n * S_ * S_)
        rho = np.empty(9)
        rho[0] = 1.0
        for lag in range(1, 9):
            sxy = int((x[:-lag] * x[lag:]).sum())
            h, t = int(x[:-lag].sum()), int(x[lag:].sum())
            rho[lag] = float(n * n * sxy - n * S_ * (h + t)
                             + (n - lag) * S_ * S_) / den
        expect = KW.pacf_from_acf(rho)
        for lag in range(1, 9):
            assert got[(did, lag)] == expect[lag - 1]  # bit-equal
        assert got[(did, 1)] == acf1[did]
    from dtaianomaly_spark.operators.windows import pacf_report as PR
    with pytest.raises(ValueError):
        PR(lf, 0)


def test_hysteresis_identity_equals_sequential_replay(spark):
    """The last-crossing identity == the sequential Schmitt-trigger
    state machine, raise/clear edges included."""
    import numpy as np

    from dtaianomaly_spark.operators.detectors import hysteresis_alarm

    rng = np.random.default_rng(67)
    rows = []
    for d in range(4):
        vals = rng.integers(0, 520, 300)
        rows += [(f"d{d}", p, int(v)) for p, v in enumerate(vals)]
    lf = spark.createDataFrame(rows, "doc_id string, pos long, value long")
    hi, lo = 380, 250
    out = {
        (r["doc_id"], r["pos"]): (r["alarm"], r["edge"])
        for r in hysteresis_alarm(lf, hi, lo).collect()
    }
    fired = 0
    for d in range(4):
        alarm_prev = 0
        series = [v for (doc, p, v) in rows if doc == f"d{d}"]
        for p, v in enumerate(series):
            if alarm_prev == 0:
                alarm = 1 if v > hi else 0
            else:
                alarm = 0 if v <= lo else 1
            edge = 1 if alarm != alarm_prev else 0
            assert out[(f"d{d}", p)] == (alarm, edge), (d, p, v)
            fired += alarm
            alarm_prev = alarm
    assert fired > 0  # thresholds actually exercise both states
