"""Detector operators + compressed-tier round trip."""

import os
import sys

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.kernels import detectors as KD
from dtaianomaly_spark.kernels import windowing as KW
from dtaianomaly_spark.sources import corpus as C

SF_DIR = "/root/testdata/sf0.001"


def _small_arrays(spark, n=20):
    return C.token_arrays(spark, SF_DIR).filter(F.col("doc_id") < n)


def test_matrix_profile_operator_matches_kernel(spark):
    from dtaianomaly_spark.operators import detectors as DET

    arrays = _small_arrays(spark, 6)
    got = {}
    for r in DET.matrix_profile_scores(arrays, 32).collect():
        got.setdefault(int(r["doc_id"]), {})[int(r["pos"])] = r["score"]
    rows = arrays.collect()
    for r in rows:
        x = np.asarray(r["tokens"], dtype=np.float64)
        profile = KD.matrix_profile(x, 32)
        expect = KW.reverse_sliding_window(profile, 32, 1, x.shape[0])
        out = np.array([got[int(r["doc_id"])][p] for p in range(x.shape[0])])
        assert np.array_equal(out, expect)


def test_distributed_matrix_profile_matches_monolithic(spark):
    from dtaianomaly_spark.operators import detectors as DET

    arrays = _small_arrays(spark, 8)
    got = {}
    for r in DET.matrix_profile_distributed(arrays, 32, chunk_windows=200).collect():
        got.setdefault(r["doc_id"], {})[r["idx"]] = r["profile"]
    for r in arrays.collect():
        x = np.asarray(r["tokens"], dtype=np.float64)
        ref = KD.matrix_profile(x, 32)
        out = np.array([got[str(r["doc_id"])][i] for i in range(ref.shape[0])])
        assert np.allclose(out, ref, atol=1e-5), "chunked != monolithic"


def test_kmeans_iforest_scores_deterministic_and_complete(spark):
    from dtaianomaly_spark.operators import detectors as DET

    arrays = _small_arrays(spark)
    n_obs = arrays.agg(F.sum("n_tok")).collect()[0][0]
    for fn in (
        lambda: DET.kmeans_scores(arrays, 32, 16, k=4),
        lambda: DET.iforest_scores(arrays, 32, 16, n_trees=10),
    ):
        a = {(r["doc_id"], r["pos"]): r["score"] for r in fn().collect()}
        b = {(r["doc_id"], r["pos"]): r["score"] for r in fn().collect()}
        assert len(a) == n_obs
        assert a == b  # seeded fit => identical across runs
        assert all(np.isfinite(v) for v in a.values())


def test_exceed_confidence_bounds(spark):
    from dtaianomaly_spark.operators import detectors as DET

    rows = DET.exceed_confidence_scores(_small_arrays(spark)).collect()
    vals = np.array([r["score"] for r in rows])
    assert ((vals >= 0.0) & (vals <= 1.0)).all()


def test_compress_roundtrip_exact(spark):
    from dtaianomaly_spark.rollup import compress as CMP
    from dtaianomaly_spark.rollup import tiers as T

    arrays = _small_arrays(spark, 40)
    rolled = T.rollup_tiers_map(arrays)
    restored = CMP.decompress_tiers(CMP.rollup_compress_map(arrays))
    a = rolled.orderBy("doc_id", "tier", "bucket").collect()
    b = restored.orderBy("doc_id", "tier", "bucket").collect()
    assert len(a) == len(b) and len(a) > 0
    for ra, rb in zip(a, b):
        assert ra == rb


def test_compress_roundtrip_matches_brute_force_stats(spark):
    """decompress(rollup_compress_map(x)) equals a per-bucket NumPy
    computation on every tier, for series lengths on each side of every
    tier boundary (16, 960, 57 600 ticks); the empty series has no rows."""
    import pytest

    from dtaianomaly_spark.rollup import compress as CMP
    from dtaianomaly_spark.rollup import tiers as T

    rng = np.random.default_rng(5)
    lengths = (0, 1, 15, 16, 17, 959, 960, 961, 57_600, 57_601)
    series = {
        f"s{n}": rng.integers(-(2**20), 2**20, size=n).astype(np.int64)
        for n in lengths
    }
    arrays = spark.createDataFrame(
        [(d, x.tolist()) for d, x in series.items()],
        "doc_id string, tokens array<int>",
    )
    got = {}
    for r in CMP.decompress_tiers(CMP.rollup_compress_map(arrays)).collect():
        got[(r["doc_id"], r["tier"], r["bucket"])] = r

    want = {}
    for d, x in series.items():
        for tier, ticks in T.TIER_TICKS.items():
            for k in range(-(x.shape[0] // -ticks)):
                b = x[k * ticks : (k + 1) * ticks]
                want[(d, tier, k)] = {
                    "cnt": b.size, "sum": int(b.sum()),
                    "sumsq": int((b * b).sum()), "min": int(b.min()),
                    "max": int(b.max()), "first": int(b[0]),
                    "last": int(b[-1]), "mean": b.sum() / b.size,
                    "std": float(b.std()),
                }
    assert got.keys() == want.keys()
    assert not any(d == "s0" for d, _, _ in got)
    for key, exp in want.items():
        r = got[key]
        for f in ("cnt", "sum", "sumsq", "min", "max", "first", "last", "mean"):
            assert r[f] == exp[f], (key, f)
        assert r["std"] == pytest.approx(exp["std"], rel=1e-9), key


def test_compression_beats_raw_on_long_blocks(spark):
    from dtaianomaly_spark.rollup import compress as CMP

    compressed = CMP.rollup_compress_map(
        C.token_arrays(spark, SF_DIR), tiers=("raw",)
    )
    rep = CMP.compression_report(compressed).collect()
    raw = {r["tier"]: r["ratio"] for r in rep}
    assert raw["raw"] > 2.0  # delta-of-delta beats the 8-byte raw layout
    blobs = compressed.select(*(f"{c}_enc" for c in CMP.INT_COLS)).collect()
    assert rep[0]["enc_bytes"] == sum(len(b) for r in blobs for b in r)


def _one_series_blocks(spark):
    """The three compressed blocks (raw, 1m, 1h) of one 40-tick series."""
    from dtaianomaly_spark.rollup import compress as CMP

    arrays = spark.createDataFrame(
        [("a", list(range(40)))], "doc_id string, tokens array<int>"
    )
    return {r["tier"]: r.asDict() for r in CMP.rollup_compress_map(arrays).collect()}


def test_decompress_rejects_n_points_mismatch(spark):
    """bucket is rebuilt from n_points, so a block whose streams do not
    hold exactly n_points values is rejected, naming (doc_id, tier)."""
    import pytest

    from dtaianomaly_spark.rollup import compress as CMP

    blocks = _one_series_blocks(spark)
    assert blocks["raw"]["n_points"] == 3
    blocks["raw"]["n_points"] = 4
    bad = spark.createDataFrame(list(blocks.values()), CMP.COMPRESSED_SCHEMA)
    with pytest.raises(Exception, match=r"compressed block \('a', 'raw'\)"):
        CMP.decompress_tiers(bad).collect()


def test_decompress_rejects_truncated_blob(spark):
    import pytest

    from dtaianomaly_spark.kernels import codec as KC
    from dtaianomaly_spark.rollup import compress as CMP

    blocks = _one_series_blocks(spark)
    blob = blocks["raw"]["sum_enc"]
    with pytest.raises(ValueError, match="past the bit stream end"):
        KC.dod_decode(blob[:6])
    blocks["raw"]["sum_enc"] = blob[:6]
    bad = spark.createDataFrame(list(blocks.values()), CMP.COMPRESSED_SCHEMA)
    with pytest.raises(Exception, match="past the bit stream end"):
        CMP.decompress_tiers(bad).collect()


def test_sliding_znorm_dist_equals_single_ref_matrix_profile():
    """The FFT kshape scoring kernel must equal matrix_profile(x, w,
    x_ref=c) (n_ref=1 AB-join), including flat-window semantics."""
    from dtaianomaly_spark.kernels import detectors_ext as KX

    rng = np.random.default_rng(7)
    x = rng.normal(0, 1, 1500)
    x[200:240] = 2.5  # constant run
    w = 32
    for c in (rng.normal(0, 1, w), np.full(w, 1.3), x[200:232]):
        a = KD.matrix_profile(x, w, x_ref=c)
        b = KX.sliding_znorm_dist(x, c, w)
        assert np.allclose(a, b, atol=1e-9)


def test_retention_policy_tiers(spark):
    """Retention: raw survives only near the series head, 1h always; no
    surviving raw bucket is older than the horizon."""
    from dtaianomaly_spark.rollup import tiers as T

    lf = C.token_long_form(spark, "/root/testdata/sf0.001")
    raw = T.rollup_relational(lf, 16, "raw")
    m1 = T.compose_tier(raw, 60, "1m")
    h1 = T.compose_tier(m1, 60, "1h")
    tiered = raw.unionByName(m1).unionByName(h1)
    series_n = C.documents_series(spark, "/root/testdata/sf0.001")
    kept = T.apply_retention(tiered, series_n)

    before = {r["tier"]: r["count"] for r in tiered.groupBy("tier").count().collect()}
    after = {r["tier"]: r["count"] for r in kept.groupBy("tier").count().collect()}
    assert after["1h"] == before["1h"]          # coarsest kept forever
    assert after["raw"] < before["raw"]          # raw aged out
    assert after["1m"] <= before["1m"]
    # surviving raw buckets are within the horizon of their series head
    viol = (
        kept.filter("tier = 'raw'")
        .join(series_n, "doc_id")
        .filter(f"n - (bucket + 1) * 16 >= {T.RETENTION_TICKS['raw']}")
        .count()
    )
    assert viol == 0


def test_distributed_matrix_profile_mv_matches_monolithic(spark):
    """Chunked multivariate path (mstump pair kernel, per-k min-combine
    then sum over k) equals the monolithic mstump composition at two
    different chunk sizes (VERDICT r2 item 4)."""
    import pytest
    from dtaianomaly_spark.operators import detectors as DET

    arrays = C.token_arrays_mv(spark, SF_DIR).filter(F.col("doc_id") < 8)
    refs = {}
    for r in arrays.collect():
        X = np.asarray([list(t) for t in r["tokens"]], dtype=np.float64)
        refs[str(r["doc_id"])] = KD.mstump_profile_sum(X, 32)
    assert any(len(v) > 300 for v in refs.values())  # chunked path exercised

    for cw in (200, 333):
        got = {}
        for r in DET.matrix_profile_distributed(
            arrays, 32, chunk_windows=cw, monolithic_threshold=300
        ).collect():
            got.setdefault(r["doc_id"], {})[r["idx"]] = r["profile"]
        for doc_id, ref in refs.items():
            out = np.array([got[doc_id][i] for i in range(ref.shape[0])])
            assert np.allclose(out, ref, atol=1e-5), (cw, doc_id)


def test_distributed_matrix_profile_chunked_emits_every_window(spark):
    """Edge-semantics normalization (ADVICE r2): the chunked path must
    emit a row for EVERY window — including windows whose exclusion zone
    covers all neighbors — with the monolithic kernel's 0.0 fallback."""
    from dtaianomaly_spark.operators import detectors as DET

    # constant series: w=8 over n=24 -> 17 windows, excl=2; all pairwise
    # distances are 0 (both-flat convention) so profiles are 0.0 —
    # every window must appear exactly once regardless of routing
    rows = [("c", list(range(5)) * 0 + [7] * 24, 24)]
    arrays = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int"
    )
    for mono in (1, 1000):  # force chunked vs monolithic routing
        got = (
            DET.matrix_profile_distributed(
                arrays, 8, chunk_windows=5, monolithic_threshold=mono
            )
            .orderBy("idx")
            .collect()
        )
        assert [r["idx"] for r in got] == list(range(17)), mono
        assert all(r["profile"] == 0.0 for r in got), mono


def test_distributed_matrix_profile_kth_nn_matches_monolithic(spark):
    """k>1 distributed path: per-pair top-k lists, combiner takes the
    k-th smallest of the union — equals the monolithic k-th-NN profile
    at two chunk sizes; non-normalized (aamp) distributed also checked."""
    from dtaianomaly_spark.operators import detectors as DET

    arrays = _small_arrays(spark, 8)
    series = {
        str(r["doc_id"]): np.asarray(r["tokens"], dtype=np.float64)
        for r in arrays.collect()
    }
    for kwargs in ({"k": 3}, {"normalize": False, "p": 2.0},
                   {"normalize": False, "p": 1.5, "k": 2}):
        refs = {
            d: KD.matrix_profile_general(x, 32, **kwargs)
            for d, x in series.items()
        }
        for cw in (200, 350):
            got = {}
            for r in DET.matrix_profile_distributed(
                arrays, 32, chunk_windows=cw, monolithic_threshold=300,
                **kwargs,
            ).collect():
                got.setdefault(r["doc_id"], {})[r["idx"]] = r["profile"]
            for d, ref in refs.items():
                out = np.array([got[d][i] for i in range(ref.shape[0])])
                fin = np.isfinite(ref)
                assert np.array_equal(fin, np.isfinite(out)), (kwargs, cw, d)
                assert np.allclose(out[fin], ref[fin], atol=1e-5), (kwargs, cw, d)


def test_distributed_matrix_profile_mv_rejects_k(spark):
    import pytest
    from dtaianomaly_spark.operators import detectors as DET

    arrays = C.token_arrays_mv(spark, SF_DIR).filter(F.col("doc_id") < 2)
    with pytest.raises(ValueError, match="univariate-only"):
        DET.matrix_profile_distributed(arrays, 32, k=2)
