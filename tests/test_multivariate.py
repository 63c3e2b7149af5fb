"""Multivariate (n, d) detector support: attribute-interleaved window
flatten (windowing_utils.py:33) and per-attribute matrix-profile sum
(MatrixProfileDetector.py:141-178), checked against NumPy oracles."""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.kernels import detectors as KD
from dtaianomaly_spark.kernels import windowing as KW
from dtaianomaly_spark.operators import detectors as DET
from dtaianomaly_spark.sources import corpus as C

SF_DIR = "/root/testdata/sf0.001"


def _mv_oracle(doc_id: int, n: int, d: int = 2) -> np.ndarray:
    pos = np.arange(n)[:, None]
    attr = np.arange(d)[None, :]
    return ((doc_id * 37 + pos * 17 + attr * 53) % 211 - 105).astype(np.float64)


def test_token_arrays_mv_matches_long_form(spark):
    arrays = C.token_arrays_mv(spark, SF_DIR).filter("doc_id < 10").collect()
    assert len(arrays) > 0
    for r in arrays:
        x = np.asarray(r["tokens"], dtype=np.float64)
        assert x.shape == (r["n_tok"], 2)
        assert np.array_equal(x, _mv_oracle(int(r["doc_id"]), r["n_tok"]))


def test_sliding_window_mv_interleaves_like_reference(univariate_time_series):
    """(n, d) windows flatten to X[t:t+w].ravel() (windowing_utils.py:33)."""
    x = np.stack([univariate_time_series[:200], univariate_time_series[:200] * 2], axis=1)
    wins = KW.sliding_window(x, 16, 4)
    assert wins.shape[1] == 32
    assert np.array_equal(wins[0], x[0:16].ravel())
    assert np.array_equal(wins[3], x[12:28].ravel())


def test_matrix_profile_mv_matches_numpy_oracle(spark):
    """The Spark mv path must equal the mstump-composition kernel
    (mstump_profile_sum is itself pinned against a naive sort-and-average
    oracle in test_matrix_profile_params.py) — NOT the plain
    per-attribute sum, which is the reference's novelty-branch
    composition only."""
    got = {}
    for r in (
        DET.matrix_profile_scores(
            C.token_arrays_mv(spark, SF_DIR).filter("doc_id < 6"), 32
        ).collect()
    ):
        got.setdefault(r["doc_id"], {})[r["pos"]] = r["score"]
    assert len(got) == 6
    for doc_id, scores in got.items():
        d = int(doc_id)
        n = len(scores)
        x = _mv_oracle(d, n)
        prof = KD.mstump_profile_sum(x, 32, discords=True)
        expect = KW.reverse_sliding_window(prof, 32, 1, n)
        out = np.array([scores[p] for p in range(n)])
        assert np.allclose(out, expect, atol=1e-9)
        plain = KD.matrix_profile(
            np.ascontiguousarray(x[:, 0]), 32
        ) + KD.matrix_profile(np.ascontiguousarray(x[:, 1]), 32)
        assert not np.allclose(
            out, KW.reverse_sliding_window(plain, 32, 1, n)
        ), "mv self-join must use the mstump composition, not the plain sum"


def test_kmeans_mv_matches_numpy_oracle(spark):
    """The shared fit->broadcast->score path over (n, d) arrays equals
    driving the same kernels on the NumPy (n, d) matrix directly."""
    arrays = C.token_arrays_mv(spark, SF_DIR).filter("doc_id < 30")
    got = {}
    for r in DET.kmeans_scores(arrays, 32, 16, k=4).collect():
        got.setdefault(r["doc_id"], {})[r["pos"]] = r["score"]
    assert len(got) > 0

    # NumPy oracle: identical fit sample + kernels
    train = DET.fit_sample_windows(arrays, 32, 16)
    assert train.shape[1] == 64  # interleaved 2-attribute windows
    centers = KD.kmeans_fit(train, 4, seed=42)
    for doc_id, scores in list(got.items())[:5]:
        d = int(doc_id)
        n = len(scores)
        x = _mv_oracle(d, n)
        wins = KW.sliding_window(x, 32, 16)
        expect = KW.reverse_sliding_window(
            KD.kmeans_score(wins, centers), 32, 16, n
        )
        out = np.array([scores[p] for p in range(n)])
        assert np.allclose(out, expect, atol=1e-9)
