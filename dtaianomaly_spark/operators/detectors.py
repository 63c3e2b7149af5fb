"""Detector scoring operators: the fit→broadcast→score pattern.

Reference protocol (anomaly_detection/BaseDetector.py:54-186): ``fit``
learns a small state object, ``decision_function`` maps a series to
per-observation scores via sliding windows + ``reverse_sliding_window``.

Spark mapping: **fit is a driver-side action over a deterministic
sample** (iterative solvers — Lloyd, tree induction — don't distribute
profitably at these model sizes), the fitted state is broadcast via task
closure, and **scoring is one shuffle-free Arrow pass** per series with
the same NumPy kernels the pytest oracle runs:

* MatrixProfileDetector (MatrixProfileDetector.py:116-178) — STOMP
  self-join per series, no fit state at all.
* KMeansAnomalyDetector (KMeansAnomalyDetector.py:84-98) — distance to
  the assigned centroid over sliding windows.
* IsolationForest (IsolationForest.py:7-58 via PyODAnomalyDetector) —
  forest of random split trees on sliding windows.
* predict_proba (BaseDetector.py:140-186) — per-series min-max rescale,
  pure relational (oracle-verified).
* predict_confidence / ExCeeD (BaseDetector.py:188-287) — train-ECDF
  binomial posterior, vectorized kernel in the same Arrow pass.

At 100 TB: the sample collect is a bounded ``limit`` on a filtered
series subset (never a full-table collect); scoring is map-only so it
scales with executors like the rollup path.
"""

from __future__ import annotations

from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from dtaianomaly_spark.kernels import detectors as KD
from dtaianomaly_spark.kernels import windowing as KW

SCORE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("pos", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def _score_map(
    arrays: DataFrame,
    per_series: Callable[[np.ndarray], np.ndarray],
    with_doc_id: bool = False,
) -> DataFrame:
    """Shuffle-free per-series scoring: one Arrow pass, long-form out.

    ``tokens`` may be univariate (``array<int>`` -> (n,)) or multivariate
    time-major (``array<array<int>>`` -> (n, d)); the window kernels
    flatten (n, d) windows attribute-interleaved exactly like the
    reference (windowing_utils.py:33), so every windowed detector built
    on this map handles (n, d) input unchanged.

    ``with_doc_id=True`` calls ``per_series(x, doc_id)`` — for scorers
    whose broadcast state is keyed per series (e.g. novelty AB-joins
    against a per-series reference)."""

    def run(batches):
        for pdf in batches:
            doc_ids, poss, outs = [], [], []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                # Arrow hands nested (mv) arrays over as an object-dtype
                # vector of per-timestep arrays — stack via list()
                if len(tokens) and isinstance(tokens[0], np.ndarray):
                    x = np.asarray(list(tokens), dtype=np.float64)
                else:
                    x = np.asarray(tokens, dtype=np.float64)
                s = per_series(x, doc_id) if with_doc_id else per_series(x)
                doc_ids.append(np.repeat(doc_id, x.shape[0]))
                poss.append(np.arange(x.shape[0], dtype=np.int64))
                outs.append(s)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_ids),
                        "pos": np.concatenate(poss),
                        "score": np.concatenate(outs),
                    }
                )

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, SCORE_SCHEMA)


def mp_profile(
    x: np.ndarray,
    w: int,
    x_ref: Optional[np.ndarray] = None,
    normalize: bool = True,
    p: float = 2.0,
    k: int = 1,
) -> np.ndarray:
    """The reference's full matrix-profile branch structure
    (MatrixProfileDetector.py:121-176) over one NumPy series:

    * univariate self-join  -> stump semantics (normalize/p/k),
    * univariate AB-join    -> stump with T_B (novelty),
    * multivariate self-join -> mstump(discords=True) summed over k-dim
      profiles (k/p-norm only via normalize=False, as stumpy),
    * multivariate AB-join  -> per-attribute stump AB-joins summed
      (the novelty branch, :153-168).
    """
    if x.ndim == 1 or x.shape[1] == 1:
        xs = np.ascontiguousarray(x.reshape(-1))
        ref = (
            None if x_ref is None
            else np.ascontiguousarray(np.asarray(x_ref, dtype=np.float64).reshape(-1))
        )
        return KD.matrix_profile_general(xs, w, ref, normalize=normalize, p=p, k=k)
    if x_ref is None:
        return KD.mstump_profile_sum(x, w, discords=True, normalize=normalize, p=p)
    ref = np.asarray(x_ref, dtype=np.float64)
    if ref.ndim == 1:
        ref = ref[:, None]
    if ref.shape[1] != x.shape[1]:
        raise ValueError(
            "Trying to detect anomalies with Matrix Profile using novelty=True,"
            " but the number of attributes in the reference data is different"
            f" from the test data: ({ref.shape[1]} != {x.shape[1]})!"
        )
    prof = None
    for a in range(x.shape[1]):
        pa = KD.matrix_profile_general(
            np.ascontiguousarray(x[:, a]), w,
            np.ascontiguousarray(ref[:, a]), normalize=normalize, p=p, k=k,
        )
        prof = pa if prof is None else prof + pa
    return prof


def matrix_profile_scores(
    arrays: DataFrame, window_size: int,
    normalize: bool = True, p: float = 2.0, k: int = 1,
) -> DataFrame:
    """STOMP matrix-profile anomaly scores per observation
    (MatrixProfileDetector.py:116-178; per-window profile mapped back via
    reverse_sliding_window with stride 1). Handles univariate AND
    (n, d) multivariate series — the latter via the mstump composition."""
    w = window_size

    def per_series(x: np.ndarray) -> np.ndarray:
        profile = mp_profile(x, w, normalize=normalize, p=p, k=k)
        return KW.reverse_sliding_window(profile, w, 1, x.shape[0])

    return _score_map(arrays, per_series)


def matrix_profile_novelty_scores(
    arrays: DataFrame, reference: dict, window_size,
    normalize: bool = True, p: float = 2.0, k: int = 1,
) -> DataFrame:
    """Novelty (AB-join) matrix-profile scores from a CALLER-PROVIDED
    reference dict ``{doc_id: np.ndarray}`` broadcast in the task
    closure: each test series joins against ITS OWN reference series
    (same doc_id) — the per-series reading of the reference's
    ``novelty=True`` fit-then-score contract
    (MatrixProfileDetector.py:122-168). Use this form only when the
    reference is already a small in-memory dict; every distributed
    caller (the workflow component, the driver query) uses
    :func:`matrix_profile_novelty_scores_join`, which this form serves
    as the equivalence oracle for. An auto window mode ('fft'/...)
    resolves per series from the REFERENCE series, mirroring the
    reference's compute-at-fit.

    A SINGLE-series reference corpus scores EVERY test series against
    that one series — exactly the reference's shape (it pickles one
    ``X_reference_`` and joins any test series against it), and the
    right semantics for train/test splits whose doc_ids differ (e.g.
    the UCR bridge). With multiple reference series the join is by
    doc_id, and a test series with no reference raises (scoring against
    nothing has no semantics)."""
    spec = window_size
    only = next(iter(reference.values())) if len(reference) == 1 else None

    def per_series(x: np.ndarray, doc_id: str) -> np.ndarray:
        ref = only if only is not None else reference.get(doc_id)
        if ref is None:
            raise KeyError(
                f"novelty scoring: no reference series for doc_id={doc_id!r}"
            )
        w = (
            spec if isinstance(spec, int)
            else KW.compute_window_size(ref, spec, default_window_size=16)
        )
        prof = mp_profile(x, w, x_ref=ref, normalize=normalize, p=p, k=k)
        return KW.reverse_sliding_window(prof, w, 1, x.shape[0])

    return _score_map(arrays, per_series, with_doc_id=True)


MOTIF_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("rank", LongType(), False),
        StructField("idx_a", LongType(), False),
        StructField("idx_b", LongType(), False),
        StructField("dist", DoubleType(), False),
    ]
)

DISCORD_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("rank", LongType(), False),
        StructField("idx", LongType(), False),
        StructField("dist", DoubleType(), False),
    ]
)


PAIR_STAGE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("prof", ArrayType(DoubleType()), False),
        StructField("nn", ArrayType(LongType()), False),
    ]
)


def matrix_profile_pair_stage(
    arrays: DataFrame, window_size: int
) -> DataFrame:
    """Per-series (doc_id, prof, nn): the self-join matrix profile WITH
    nearest-neighbor indices — the one O(n²) sweep that BOTH motif and
    discord extraction consume. Compute (and persist) this stage once,
    then derive every report from it with the cheap
    ``motif_topk_from_stage`` / ``discord_topk_from_stage`` passes.
    Shuffle-free Arrow map; output rows are O(n) per series."""
    w = window_size

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                prof, nn = KD.matrix_profile_pair_index(x, w)
                out.append((doc_id, prof.tolist(), nn.tolist()))
            if out:
                yield pd.DataFrame(out, columns=PAIR_STAGE_SCHEMA.names)

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, PAIR_STAGE_SCHEMA)


def motif_topk_from_stage(
    stage: DataFrame, window_size: int, k: int = 3
) -> DataFrame:
    """Motif report from a precomputed (prof, nn) stage — O(n log n)
    per series, shuffle-free."""
    excl = int(np.ceil(window_size / 4))

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, prof, nn in zip(
                pdf["doc_id"], pdf["prof"], pdf["nn"]
            ):
                p = np.asarray(prof, dtype=np.float64)
                j = np.asarray(nn, dtype=np.int64)
                for r, (a, b, d) in enumerate(
                    KD.top_motifs(p, j, k, excl), start=1
                ):
                    out.append((doc_id, r, a, b, d))
            if out:
                yield pd.DataFrame(out, columns=MOTIF_SCHEMA.names)

    return stage.mapInPandas(run, MOTIF_SCHEMA)


def discord_topk_from_stage(
    stage: DataFrame, window_size: int, k: int = 3
) -> DataFrame:
    """Discord report from a precomputed (prof, nn) stage — O(n log n)
    per series, shuffle-free."""
    excl = int(np.ceil(window_size / 4))

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, prof in zip(pdf["doc_id"], pdf["prof"]):
                p = np.asarray(prof, dtype=np.float64)
                for r, (i, d) in enumerate(
                    KD.top_discords(p, k, excl), start=1
                ):
                    out.append((doc_id, r, i, d))
            if out:
                yield pd.DataFrame(out, columns=DISCORD_SCHEMA.names)

    return stage.mapInPandas(run, DISCORD_SCHEMA)


def motif_topk(arrays: DataFrame, window_size: int, k: int = 3) -> DataFrame:
    """Top-k non-overlapping MOTIF pairs per series (Yeh et al., ICDM
    2016 'Matrix Profile I'): the profile's smallest entries with the
    standard ceil(w/4) exclusion zone around every reported window.
    One shuffle-free Arrow pass; output
    (doc_id, rank, idx_a, idx_b, dist). Callers extracting BOTH motifs
    and discords should build ``matrix_profile_pair_stage`` once,
    persist it, and use the ``*_from_stage`` variants."""
    return motif_topk_from_stage(
        matrix_profile_pair_stage(arrays, window_size), window_size, k
    )


def discord_topk(arrays: DataFrame, window_size: int, k: int = 3) -> DataFrame:
    """Top-k non-overlapping DISCORDS per series — the window-level
    anomaly report (vs the per-observation scores of
    matrix_profile_scores); same Arrow pass shape. Output
    (doc_id, rank, idx, dist). Shares ``matrix_profile_pair_stage``
    with the motif report (see ``motif_topk``)."""
    return discord_topk_from_stage(
        matrix_profile_pair_stage(arrays, window_size), window_size, k
    )


def cusum_scores(long_form: DataFrame, k: int, h: int) -> DataFrame:
    """Page's one-sided CUSUM change detector (Page 1954) over the
    integer long form: ``s_i = max(0, s_{i-1} + value_i - k)``, alarm
    when ``s_i > h``.

    The recurrence looks inherently sequential, but the classic
    prefix-min identity makes it RELATIONAL: with
    ``pref_i = Σ_{j<=i} (value_j - k)``,

        s_i = pref_i - min(0, min_{j<=i} pref_j)

    so the whole detector is two running window aggregates over one
    (doc_id, pos) partition order — ONE exchange, zero UDF, exact
    integer arithmetic end to end (oracle-able). Output:
    (doc_id, pos, cusum, alarm)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    pref = long_form.select(
        "doc_id", "pos",
        F.sum(F.expr(f"value - {int(k)}")).over(w).cast("long").alias("pref"),
    )
    return pref.select(
        "doc_id", "pos",
        (F.col("pref") - F.least(F.lit(0), F.min("pref").over(w)))
        .cast("long").alias("cusum"),
    ).select(
        "doc_id", "pos", "cusum",
        (F.col("cusum") > h).cast("int").alias("alarm"),
    )


def matrix_profile_novelty_scores_join(
    arrays: DataFrame, reference_arrays: DataFrame, window_size,
    normalize: bool = True, p: float = 2.0, k: int = 1,
) -> DataFrame:
    """Distributed novelty (AB-join) matrix-profile scores: test and
    reference series pair per ``doc_id`` via an equi-JOIN, then one
    Arrow pass scores each paired row — the scale-safe form of
    :func:`matrix_profile_novelty_scores`. No driver collect, no
    task-closure reference dict (every executor held the WHOLE
    reference corpus), no ``max_points`` guard: reference corpora
    scale with executors like the test corpus does.

    Physical shape: a LEFT join on ``doc_id`` (one series per row on
    both sides) feeds ``mapInPandas`` — deliberately NOT
    ``cogroup().applyInPandas``, which shuffles AND sorts both sides
    and pays a per-group Python call; measured 3.6x slower at sf0.1
    for identical output. The left join keeps the missing-reference
    contract: a test series with no reference row raises in the UDF
    (scoring against nothing has no semantics) instead of being
    silently inner-joined away.

    Same semantics as the dict form (MatrixProfileDetector.py:122-168):
    an int ``window_size`` is used directly; an auto mode ('fft'/...)
    resolves per series from the REFERENCE series (the reference's
    compute-at-fit). The single-reference-for-all-series shape (one
    pickled ``X_reference_`` scoring every test series) stays on the
    dict/broadcast form, where broadcasting the one series IS the
    right plan."""
    spec = window_size

    def as_np(tokens):
        if len(tokens) and isinstance(tokens[0], np.ndarray):
            return np.asarray(list(tokens), dtype=np.float64)
        return np.asarray(tokens, dtype=np.float64)

    def run(batches):
        for pdf in batches:
            doc_ids, poss, outs = [], [], []
            for doc_id, tokens, ref_tokens, nref in zip(
                pdf["doc_id"], pdf["tokens"], pdf["_ref_tokens"],
                pdf["_nref"],
            ):
                if ref_tokens is None or (
                    isinstance(ref_tokens, float) and pd.isna(ref_tokens)
                ):
                    raise KeyError(
                        "novelty scoring: no reference series for"
                        f" doc_id={doc_id!r}"
                    )
                if int(nref) != 1:
                    # the dict form could never hold two references per
                    # doc_id; a duplicated reference row here would fan
                    # the join out and silently double-emit scores
                    raise ValueError(
                        f"novelty scoring: {int(nref)} reference series"
                        f" for doc_id={doc_id!r} — deduplicate the"
                        " reference frame (one series per doc_id)"
                    )
                x, ref = as_np(tokens), as_np(ref_tokens)
                w = (
                    spec if isinstance(spec, int)
                    else KW.compute_window_size(
                        ref, spec, default_window_size=16
                    )
                )
                prof = mp_profile(
                    x, w, x_ref=ref, normalize=normalize, p=p, k=k
                )
                s = KW.reverse_sliding_window(prof, w, 1, x.shape[0])
                doc_ids.append(np.repeat(doc_id, x.shape[0]))
                poss.append(np.arange(x.shape[0], dtype=np.int64))
                outs.append(s)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_ids),
                        "pos": np.concatenate(poss),
                        "score": np.concatenate(outs),
                    }
                )

    test = arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    )
    # pre-aggregate the reference to one row per doc_id WITH the row
    # count: a duplicated reference series must raise in the UDF, never
    # fan the join out into silently double-emitted scores. The groupBy
    # supplies the join's partitioning, so the exchange count is
    # unchanged.
    ref = (
        reference_arrays.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("tokens").alias("_ref_tokens"),
        )
        .groupBy("doc_id")
        .agg(
            F.first("_ref_tokens").alias("_ref_tokens"),
            F.count("*").alias("_nref"),
        )
    )
    return test.join(ref, "doc_id", "left").mapInPandas(run, SCORE_SCHEMA)


def matrix_profile_distributed(
    arrays: DataFrame, window_size: int, chunk_windows: int = 512,
    monolithic_threshold: int | None = None,
    k: int = 1, normalize: bool = True, p: float = 2.0,
) -> DataFrame:
    """Chunked distributed matrix profile (SURVEY §4.2-5 — the custom
    physical strategy for series too long for one task): each series is
    split into chunks of ``chunk_windows`` windows with ``w-1`` token
    overlap; every UNORDERED chunk pair runs one AB-join with a
    global-coordinate exclusion mask
    (kernels.detectors.matrix_profile_ab_excl_both) that emits BOTH
    chunks' minima — the distance matrix is computed once per pair, not
    once per side; per-window minima combine in a hash aggregate.
    Output: (doc_id, idx, profile) — one row per global window.

    Series at or below ``monolithic_threshold`` windows (default
    ``4 * chunk_windows``) route to the monolithic STOMP kernel in a
    single task: chunking a series that fits one task trades a 1x kernel
    pass for ~m(m+1)/2 overlapping pair passes plus a shuffle (measured
    3.8x overhead) — it only pays off once a single series' O(m²) work
    is bigger than several tasks' worth. The routing keeps the common
    case on the no-shuffle path while the heavy tail fans out. Work on the
    tail decomposes into m(m+1)/2 independent pair tasks per series (the
    O(n²) of a self-join spread across executors); the combine is an
    exact min — equal to the monolithic profile up to STOMP's rolling-
    recurrence float noise (tested ≤1e-6).

    MULTIVARIATE input (``tokens array<array<int>>``, time-major (n, d))
    is detected from the schema and routes through the mstump pair
    kernel: each chunk pair emits per-k partial minima
    (kernels.detectors.mstump_ab_excl_pair — the k-dim distance is
    symmetric and min-over-j distributes over chunks per k), the combine
    is min per (doc_id, idx, k) then SUM over k — equal to the
    monolithic ``mstump_profile_sum`` composition
    (MatrixProfileDetector.py:169-176). Same chunk/pair plan shape, one
    extra tiny aggregation level.

    ``k > 1`` (the k-th-NN profile, univariate only — mstump has no k)
    swaps the pair kernel for the top-k variant: each pair emits its k
    smallest admissible distances per window (self pairs inf-padded for
    coverage) and the combine takes the k-th smallest of the union —
    exact, because every global top-k member is inside its own pair's
    top-k. ``normalize``/``p`` select the distance family as in
    ``matrix_profile_general``."""
    import math

    from pyspark.sql.types import ArrayType, IntegerType

    w = window_size
    cw = chunk_windows
    if monolithic_threshold is None:
        monolithic_threshold = 4 * cw

    is_mv = isinstance(
        arrays.schema["tokens"].dataType.elementType, ArrayType
    )
    if is_mv and k != 1:
        raise ValueError(
            "k-th-NN matrix profile is univariate-only (the reference's"
            " multivariate mstump branch takes no k)"
        )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("idx", LongType(), False),
            StructField("profile", DoubleType(), False),
        ]
    )
    pair_schema = schema if not is_mv else StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("idx", LongType(), False),
            StructField("k", IntegerType(), False),
            StructField("profile", DoubleType(), False),
        ]
    )
    excl = int(math.ceil(w / 4))

    n_windows = F.col("n_tok") - F.lit(w) + 1
    base = arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_tok", "tokens"
    )
    small = base.filter(n_windows <= monolithic_threshold)
    big = base.filter(n_windows > monolithic_threshold)

    def _to_np(tokens):
        if len(tokens) and isinstance(tokens[0], np.ndarray):
            return np.asarray(list(tokens), dtype=np.float64)
        return np.asarray(tokens, dtype=np.float64)

    def run_small(batches):
        for pdf in batches:
            doc_ids, idxs, vals = [], [], []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = _to_np(tokens)
                if x.shape[0] < w:
                    continue
                prof = (
                    KD.mstump_profile_sum(x, w, normalize=normalize, p=p)
                    if x.ndim == 2
                    else KD.matrix_profile_general(
                        x, w, normalize=normalize, p=p, k=k
                    )
                )
                doc_ids.append(np.repeat(doc_id, prof.shape[0]))
                idxs.append(np.arange(prof.shape[0], dtype=np.int64))
                vals.append(prof)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_ids),
                        "idx": np.concatenate(idxs),
                        "profile": np.concatenate(vals),
                    }
                )

    small_prof = small.mapInPandas(run_small, schema)

    chunks = big.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.expr(
                f"sequence(CAST(0 AS BIGINT),"
                f" CAST((n_tok - {w}) DIV {cw} AS BIGINT))"
            )
        ).alias("chunk"),
        "tokens",
    ).select(
        "doc_id", "chunk",
        (F.col("chunk") * cw).alias("off"),
        F.expr(
            f"slice(tokens, chunk * {cw} + 1,"
            f" least(CAST({cw + w - 1} AS BIGINT), n_tok - chunk * {cw}))"
        ).alias("ctokens"),
    )
    a = chunks.select(
        "doc_id",
        F.col("off").alias("off_a"),
        F.col("ctokens").alias("tok_a"),
    )
    b = chunks.select(
        "doc_id",
        F.col("off").alias("off_b"),
        F.col("ctokens").alias("tok_b"),
    )
    # unordered pairs only: one kernel call serves both sides
    pairs = a.join(b, "doc_id").where(F.col("off_a") <= F.col("off_b"))

    def run_mv(batches):
        for pdf in batches:
            doc_ids, idxs, ks, vals = [], [], [], []

            def emit(doc_id, P, off, keep_inf):
                # P: (d, n) per-k partial minima; long-form (idx, k) rows
                d, n = P.shape
                if keep_inf:
                    flat = P.ravel()
                    doc_ids.append(np.repeat(doc_id, flat.shape[0]))
                    idxs.append(np.tile(np.arange(n, dtype=np.int64) + int(off), d))
                    ks.append(np.repeat(np.arange(1, d + 1, dtype=np.int32), n))
                    vals.append(flat)
                    return
                keep = np.isfinite(P)
                cnt = int(keep.sum())
                if cnt:
                    kk, jj = np.nonzero(keep)
                    doc_ids.append(np.repeat(doc_id, cnt))
                    idxs.append(jj.astype(np.int64) + int(off))
                    ks.append((kk + 1).astype(np.int32))
                    vals.append(P[keep])

            for doc_id, off_a, tok_a, off_b, tok_b in zip(
                pdf["doc_id"], pdf["off_a"], pdf["tok_a"],
                pdf["off_b"], pdf["tok_b"],
            ):
                Xa = _to_np(tok_a)
                Xb = _to_np(tok_b)
                if Xa.shape[0] < w or Xb.shape[0] < w:
                    continue
                is_self = int(off_a) == int(off_b)
                P_a, P_b = KD.mstump_ab_excl_pair(
                    Xa, Xb, w, int(off_a) - int(off_b), excl,
                    normalize=normalize, p=p,
                )
                emit(doc_id, P_a, off_a, keep_inf=is_self)
                if not is_self:
                    emit(doc_id, P_b, off_b, keep_inf=False)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_ids),
                        "idx": np.concatenate(idxs),
                        "k": np.concatenate(ks),
                        "profile": np.concatenate(vals),
                    }
                )

    if is_mv:
        per_pair = pairs.mapInPandas(run_mv, pair_schema)
        combined = (
            per_pair.groupBy("doc_id", "idx", "k")
            .agg(F.min("profile").alias("profile"))
            .groupBy("doc_id", "idx")
            .agg(F.sum("profile").alias("profile"))
        )
        return small_prof.unionByName(combined)

    def run(batches):
        for pdf in batches:
            doc_ids, idxs, vals = [], [], []

            def emit(doc_id, prof, off, keep_inf):
                # cross pairs drop +inf (no admissible neighbor in that
                # pair — the min-combine ignores them); SELF pairs keep
                # them so every window owns at least one row, and the
                # combine can coalesce an all-inf window to the
                # monolithic kernel's 0.0 (same edge semantics for any
                # monolithic_threshold)
                keep = slice(None) if keep_inf else np.isfinite(prof)
                kept = prof[keep]
                if kept.shape[0]:
                    doc_ids.append(np.repeat(doc_id, kept.shape[0]))
                    idxs.append(
                        np.arange(prof.shape[0], dtype=np.int64)[keep] + int(off)
                    )
                    vals.append(kept)

            for doc_id, off_a, tok_a, off_b, tok_b in zip(
                pdf["doc_id"], pdf["off_a"], pdf["tok_a"],
                pdf["off_b"], pdf["tok_b"],
            ):
                x = np.asarray(tok_a, dtype=np.float64)
                y = np.asarray(tok_b, dtype=np.float64)
                if x.shape[0] < w or y.shape[0] < w:
                    continue
                is_self = int(off_a) == int(off_b)
                if k == 1 and normalize:
                    prof_a, prof_b = KD.matrix_profile_ab_excl_both(
                        x, y, w, int(off_a) - int(off_b), excl
                    )
                    emit(doc_id, prof_a, off_a, keep_inf=is_self)
                    if not is_self:  # self pair: both sides equal
                        emit(doc_id, prof_b, off_b, keep_inf=False)
                else:
                    # top-k lists per window, long-form (self pairs keep
                    # the inf padding so every window owns >= k rows)
                    P_a, P_b = KD.matrix_profile_ab_excl_topk(
                        x, y, w, int(off_a) - int(off_b), excl, k,
                        normalize=normalize, p=p,
                    )
                    for col in range(k):
                        emit(doc_id, P_a[:, col], off_a, keep_inf=is_self)
                        if not is_self:
                            emit(doc_id, P_b[:, col], off_b, keep_inf=False)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_ids),
                        "idx": np.concatenate(idxs),
                        "profile": np.concatenate(vals),
                    }
                )

    per_pair = pairs.mapInPandas(run, schema)
    if k == 1:
        combined = per_pair.groupBy("doc_id", "idx").agg(
            F.min("profile").alias("profile")
        ).select(
            "doc_id", "idx",
            # window with no admissible neighbor anywhere -> 0.0, matching
            # the monolithic kernel (matrix_profile's isfinite fallback)
            F.expr(
                "CASE WHEN isnan(profile) OR profile = double('Infinity')"
                " THEN 0.0 ELSE profile END"
            ).alias("profile"),
        )
    else:
        # k-th smallest of the union of per-pair top-k lists == the
        # global k-th-NN distance; stays +inf when fewer than k
        # admissible neighbors exist, matching matrix_profile_general
        from pyspark.sql import Window as W

        rk = W.partitionBy("doc_id", "idx").orderBy("profile")
        combined = (
            per_pair.withColumn("_rn", F.row_number().over(rk))
            .filter(F.col("_rn") == k)
            .select("doc_id", "idx", "profile")
        )
    return small_prof.unionByName(combined)


def fit_sample_windows(
    arrays: DataFrame, window_size: int, stride: int,
    sample_mod: int = 20, max_series: int = 50,
    max_windows: int | None = None,
) -> np.ndarray:
    """Deterministic driver-side fit sample: sliding windows from every
    ``sample_mod``-th series, capped at ``max_series`` series (and
    optionally ``max_windows`` via even subsampling — kernel-matrix
    fits are quadratic in the sample). The collect is bounded regardless
    of table size."""
    # numeric ids sample by value (stable across runs and partitionings);
    # non-numeric ids (e.g. UCR series names) fall back to a hash key —
    # try_cast, because ANSI mode throws on a malformed cast
    key = F.coalesce(
        F.expr("try_cast(doc_id AS BIGINT)"),
        F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000_007)),
    )
    rows = (
        arrays.filter(key % sample_mod == 0)
        .orderBy("doc_id")
        .limit(max_series)
        .select("tokens")
        .collect()
    )
    if not rows:  # tiny input missed by the 1-in-mod sample: take the head
        rows = arrays.orderBy("doc_id").limit(max_series).select("tokens").collect()
    wins = [
        KW.sliding_window(np.asarray(r["tokens"], dtype=np.float64), window_size, stride)
        for r in rows
        if len(r["tokens"]) >= window_size
    ]
    if not wins:
        raise ValueError(
            f"window_size={window_size} exceeds the length of every sampled"
            f" series ({len(rows)} sampled) — choose a smaller window or an"
            " auto mode ('fft'/'acf'/'mwf'/'suss')"
        )
    out = np.concatenate(wins, axis=0)
    if max_windows is not None and out.shape[0] > max_windows:
        idx = np.linspace(0, out.shape[0] - 1, max_windows).astype(np.int64)
        out = out[idx]
    return out


def kmeans_scores(
    arrays: DataFrame, window_size: int, stride: int, k: int = 8, seed: int = 42
) -> DataFrame:
    """KMeans window-distance scores (KMeansAnomalyDetector.py:84-98):
    driver-fit seeded k-means on the deterministic window sample,
    centroids broadcast in the task closure, per-series scoring +
    reverse window mapping in one Arrow pass."""
    w, s = window_size, stride
    centers = KD.kmeans_fit(fit_sample_windows(arrays, w, s), k, seed=seed)

    def per_series(x: np.ndarray) -> np.ndarray:
        wins = KW.sliding_window(x, w, s)
        d = KD.kmeans_score(wins, centers)
        return KW.reverse_sliding_window(d, w, s, x.shape[0])

    return _score_map(arrays, per_series)


def pattern_search_topk(
    arrays: DataFrame, pattern: np.ndarray, k: int = 3,
    excl: int | None = None,
) -> DataFrame:
    """MASS-style query-driven pattern search (Mueen's z-normalized
    FFT distance — the single-reference degenerate of the matrix
    profile, kernels/detectors_ext.sliding_znorm_dist): for every
    series, the top-``k`` windows closest in shape to the broadcast
    ``pattern``, mutually separated by an EXCLUSION ZONE of ``excl``
    positions (default ceil(w/4), the motif/discord convention — it
    suppresses trivial one-step shifts of the same match but still
    allows partial overlap; pass ``excl=w`` for strictly
    non-overlapping windows; ties break on the lowest position — a
    pinned total order). The retrieval complement of the
    motif/discord reports: those find what recurs, this finds what YOU
    ask for.

    Output (doc_id, pos, dist, rank) with rank 0 the best match.
    Scale: the pattern rides the task closure (broadcast); one Arrow
    pass per series, one FFT cross-correlation each — no shuffle, no
    index."""
    from dtaianomaly_spark.kernels.detectors_ext import sliding_znorm_dist

    q = np.asarray(pattern, dtype=np.float64).reshape(-1)
    w = q.shape[0]
    if w < 2:
        raise ValueError(f"pattern must have >= 2 points, got {w}")
    excl = int(np.ceil(w / 4)) if excl is None else int(excl)
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("pos", LongType(), False),
            StructField("dist", DoubleType(), False),
            StructField("rank", LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                if x.shape[0] < w:
                    continue
                d = sliding_znorm_dist(x, q, w)
                order = np.lexsort((np.arange(d.shape[0]), d))
                taken = []
                for p in order:
                    if len(taken) == k:
                        break
                    if all(abs(int(p) - t) >= excl for t in taken):
                        taken.append(int(p))
                rows.extend(
                    (str(doc_id), p, float(d[p]), i)
                    for i, p in enumerate(taken)
                )
            yield pd.DataFrame(rows, columns=schema.names)

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def pelt_report(arrays: DataFrame, beta_factor: float = 2.0) -> DataFrame:
    """PELT exact changepoint segmentation report (Killick, Fearnhead &
    Eckley 2012): per series, the GLOBALLY optimal mean-shift
    segmentation under penalty ``beta = beta_factor * var(x) * ln(n)``
    (the BIC-style default), one row per segment with its bounds, mean
    and residual sum of squares. Engine addition in the changepoint
    family next to det_cusum (sequential alarm) — PELT is the exact
    retrospective answer. Extraction report, not a per-observation
    scorer.

    Scale: map-only Arrow stage; PELT's pruning makes the per-series
    sweep effectively linear (worst-case O(n^2) like the DP it equals,
    pinned by test). No shuffle, no fit stage."""
    from dtaianomaly_spark.kernels import detectors_ext as KX

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("seg", LongType(), False),
            StructField("seg_start", LongType(), False),
            StructField("seg_end", LongType(), False),
            StructField("seg_mean", DoubleType(), False),
            StructField("seg_rss", DoubleType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                n = x.shape[0]
                if n == 0:
                    continue
                beta = beta_factor * float(x.var()) * float(np.log(max(n, 2)))
                cps = KX.pelt_mean(x, beta)
                bounds = [0] + cps.tolist() + [n]
                for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
                    seg = x[a:b]
                    rows.append(
                        (str(doc_id), i, a, b - 1, float(seg.mean()),
                         float(((seg - seg.mean()) ** 2).sum()))
                    )
            yield pd.DataFrame(rows, columns=schema.names)

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def holt_winters_scores(
    arrays: DataFrame, period: int = 64, alpha: float = 0.3,
    beta: float = 0.1, gamma: float = 0.2,
) -> DataFrame:
    """Holt-Winters one-step-ahead forecast-error scores (Winters 1960,
    additive): per observation, |x_t - (level + trend + seasonal)|
    with the textbook two-period warmup scoring 0 — a genuine online
    forecaster replayed in batch (a point's score never uses its own
    value). Engine addition in the forecasting-error family next to
    det_cusum/det_spectral_residual; the same hw_step code path drives
    the streaming twin, so streamed scores byte-match.

    Scale: map-only Arrow stage, O(n) sequential recursion with O(m)
    state per series, no shuffle, no fit stage. Multivariate input
    scores each attribute independently and keeps the max."""
    from dtaianomaly_spark.kernels import detectors_ext as KX

    def per_series(x: np.ndarray) -> np.ndarray:
        if x.ndim == 2:
            cols = [KX.hw_scores_1d(x[:, j], period, alpha, beta, gamma)
                    for j in range(x.shape[1])]
            return np.max(np.stack(cols, axis=1), axis=1)
        return KX.hw_scores_1d(x, period, alpha, beta, gamma)

    return _score_map(arrays, per_series)


def forecast_skill_report(
    arrays: DataFrame, period: int = 64, alpha: float = 0.3,
    beta: float = 0.1, gamma: float = 0.2,
) -> DataFrame:
    """Forecast-skill report: per series, the Holt-Winters one-step
    MAE against the two canonical no-model baselines over the SAME
    evaluation positions (t >= 2 * period, the post-warmup region) —
    ``naive`` (tomorrow == today) and ``seasonal naive`` (tomorrow ==
    one period ago), the standard skill denominators (Hyndman &
    Koehler 2006's benchmark convention from the MASE definition).
    ``skill_* = hw_mae / *_mae`` < 1 means the forecaster beats that
    baseline. Series shorter than 2 * period + 1 are skipped (no
    evaluation region).

    One Arrow pass computes all three error streams from the same
    array — no second scan, no join; output is one bounded row per
    series."""
    import math

    from dtaianomaly_spark.kernels import detectors_ext as KX

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("n_eval", LongType(), False),
            StructField("hw_mae", DoubleType(), False),
            StructField("naive_mae", DoubleType(), False),
            StructField("snaive_mae", DoubleType(), False),
            StructField("skill_naive", DoubleType(), False),
            StructField("skill_snaive", DoubleType(), False),
        ]
    )
    m = period

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                n = x.shape[0]
                if n < 2 * m + 1:
                    continue
                hw = KX.hw_scores_1d(x, m, alpha, beta, gamma)[2 * m:]
                naive = np.abs(np.diff(x))[2 * m - 1:]
                snaive = np.abs(x[2 * m:] - x[m:-m])
                hw_mae = float(hw.mean())
                nv = float(naive.mean())
                sn = float(snaive.mean())
                rows.append(
                    (str(doc_id), n - 2 * m, hw_mae, nv, sn,
                     hw_mae / nv if nv > 0 else math.inf if hw_mae > 0 else 1.0,
                     hw_mae / sn if sn > 0 else math.inf if hw_mae > 0 else 1.0)
                )
            yield pd.DataFrame(rows, columns=schema.names)

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def shesd_report(
    long_form: DataFrame,
    period: int = 64,
    max_frac: float = 0.02,
    alpha: float = 0.05,
) -> DataFrame:
    """Seasonal-Hybrid ESD anomaly report (Hochenbaum, Vallis &
    Kejariwal 2017; the generalized ESD test of Rosner 1983 on
    seasonally-adjusted residuals): per series, residual = value -
    seasonal - median(value) (the hybrid step: median, not trend, so
    level shifts cannot mask outliers), then the many-outlier ESD
    procedure with median/MAD studentization declares up to
    ``ceil(max_frac * n)`` anomalies at level ``alpha`` (max_frac defaults to the S-H-ESD
    paper's 2% max_anoms; the sweep cost scales with it). Engine
    addition from the public papers — the statistically-calibrated
    companion to det_cusum/det_spectral_residual (it returns a
    DECISION with a significance level, not just a score).

    Extraction report (k rows per series), not a per-observation
    scorer: output (doc_id, pos, value, resid, r_stat, lambda_crit,
    iteration) for declared anomalies only, iteration = removal order.

    Scale: seasonal adjustment is the relational classical_decompose
    (doc_id-keyed window + aggregates); the ESD sweep is one Arrow
    stage per series with bounded iterations (max_k × O(n) with
    vectorized deviations). Everything is keyed on doc_id — the rollup
    partitioning, no corpus-wide state."""
    import math

    from dtaianomaly_spark.kernels import detectors_ext as KX
    from dtaianomaly_spark.operators.preprocessing import classical_decompose

    if not 0.0 < max_frac <= 0.5:
        raise ValueError(f"max_frac must be in (0, 0.5], got {max_frac}")
    dec = classical_decompose(long_form, period)
    med = long_form.groupBy("doc_id").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    )
    resid = dec.join(med, "doc_id").select(
        "doc_id", "pos", "value",
        (F.col("value") - F.coalesce("seasonal", F.lit(0.0)) - F.col("_med"))
        .alias("resid"),
    )
    arrays = resid.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "resid", "value"))
        ).alias("pv")
    )
    out_schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("pos", LongType(), False),
            StructField("value", DoubleType(), False),
            StructField("resid", DoubleType(), False),
            StructField("r_stat", DoubleType(), False),
            StructField("lambda_crit", DoubleType(), False),
            StructField("iteration", LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, pv in zip(pdf["doc_id"], pdf["pv"]):
                pos = np.asarray([e["pos"] for e in pv], dtype=np.int64)
                r = np.asarray([e["resid"] for e in pv], dtype=np.float64)
                val = np.asarray([e["value"] for e in pv], dtype=np.float64)
                max_k = math.ceil(max_frac * r.shape[0])
                idx, rs, lam, k = KX.gesd_outliers(
                    r, max_k, alpha, robust=True
                )
                rows.extend(
                    (str(doc_id), int(pos[idx[i]]), float(val[idx[i]]),
                     float(r[idx[i]]), float(rs[i]), float(lam[i]), i)
                    for i in range(k)
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return arrays.mapInPandas(run, out_schema)


def spectral_residual_scores(
    arrays: DataFrame, q: int = 3, m: int = 5, kappa: int = 5, z: int = 21
) -> DataFrame:
    """Spectral-residual saliency scores (Ren et al. 2019, KDD, "Time-
    Series Anomaly Detection Service at Microsoft") — the FFT-based
    per-observation detector: log-amplitude spectrum minus its q-point
    moving average, recombined with the phase, back-transformed, then
    scored as relative deviation from the local saliency average
    (kernels/detectors_ext.sr_scores_1d). Not a reference detector —
    an engine addition from the public SR paper, next to CUSUM in the
    change/novelty family.

    Scale: map-only — one Arrow pass per series, no shuffle, no fit
    stage, no broadcast state; O(n log n) per series. Multivariate
    input scores each attribute independently and keeps the max
    per-timestep deviation."""
    from dtaianomaly_spark.kernels import detectors_ext as KX

    def per_series(x: np.ndarray) -> np.ndarray:
        if x.ndim == 2:
            cols = [KX.sr_scores_1d(x[:, j], q, m, kappa, z)
                    for j in range(x.shape[1])]
            return np.max(np.stack(cols, axis=1), axis=1)
        return KX.sr_scores_1d(x, q, m, kappa, z)

    return _score_map(arrays, per_series)


def iforest_scores(
    arrays: DataFrame, window_size: int, stride: int,
    n_trees: int = 50, seed: int = 42,
) -> DataFrame:
    """Isolation-forest window scores (IsolationForest.py:7-58):
    driver-fit on the deterministic window sample, node-table trees
    broadcast, Arrow-pass scoring."""
    w, s = window_size, stride
    trees = KD.iforest_fit(fit_sample_windows(arrays, w, s), n_trees=n_trees, seed=seed)

    def per_series(x: np.ndarray) -> np.ndarray:
        wins = KW.sliding_window(x, w, s)
        d = KD.iforest_score(wins, trees)
        return KW.reverse_sliding_window(d, w, s, x.shape[0])

    return _score_map(arrays, per_series)


def window_model_scores(
    arrays: DataFrame, window_size: int, stride: int,
    fit_fn: Callable[[np.ndarray], object],
    score_fn: Callable[[np.ndarray, object], np.ndarray],
    max_windows: Optional[int] = None,
) -> DataFrame:
    """Generic fit-broadcast-score: driver-fit ``fit_fn`` on the bounded
    window sample, broadcast the model in the task closure, score each
    series' windows with ``score_fn`` and reverse-map — the skeleton
    every pyod-style detector shares (PyODAnomalyDetector.py:101-113)."""
    w, s = window_size, stride
    model = fit_fn(
        fit_sample_windows(arrays, w, s, max_windows=max_windows)
    )

    def per_series(x: np.ndarray) -> np.ndarray:
        wins = KW.sliding_window(x, w, s)
        d = score_fn(wins, model)
        return KW.reverse_sliding_window(d, w, s, x.shape[0])

    return _score_map(arrays, per_series)


def knn_scores(arrays, window_size=32, stride=16, k=5):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: tr, lambda te, tr: KX.knn_score(te, tr, k),
        max_windows=2000,
    )


def lof_scores(arrays, window_size=32, stride=16, k=10):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.lof_fit(tr, k), KX.lof_score, max_windows=2000,
    )


def hbos_scores(arrays, window_size=32, stride=16, n_bins=10):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.hbos_fit(tr, n_bins), KX.hbos_score,
    )


def copod_scores(arrays, window_size=32, stride=16):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride, KX.copod_fit, KX.copod_score,
    )


def pca_scores(arrays, window_size=32, stride=16, n_components=4):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.pca_fit(tr, n_components), KX.pca_score,
    )


def kpca_scores(arrays, window_size=32, stride=16, n_components=4):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.kpca_fit(tr, n_components), KX.kpca_score,
        max_windows=500,  # kernel matrix is quadratic in the sample
    )


def cblof_scores(arrays, window_size=32, stride=16, k=8):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.cblof_fit(tr, k), KX.cblof_score,
    )


def ocsvm_scores(arrays, window_size=32, stride=16, nu=0.1):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.ocsvm_fit(tr, nu=nu), KX.ocsvm_score,
        max_windows=500,
    )


def rpca_scores(arrays, window_size=32, stride=16, n_components=4):
    from dtaianomaly_spark.kernels import detectors_ext as KX

    return window_model_scores(
        arrays, window_size, stride,
        lambda tr: KX.rpca_fit(tr, n_components=n_components), KX.rpca_score,
        max_windows=500,  # iterative SVD loop on the sample
    )


def kshape_scores_df(arrays, window_size=32, stride=16, k=3):
    """KShape-style weighted centroid-distance scores
    (KShapeAnomalyDetector.py:142-193; centroids from z-normalized
    windows, per-window AB-join distances, stride-1 reverse map)."""
    from dtaianomaly_spark.kernels import detectors_ext as KX

    model = KX.kshape_fit(
        fit_sample_windows(arrays, window_size, stride, max_windows=2000), k
    )
    w = window_size

    def per_series(x: np.ndarray) -> np.ndarray:
        d = KX.kshape_scores(x, model, w)
        return KW.reverse_sliding_window(d, w, 1, x.shape[0])

    return _score_map(arrays, per_series)


def predict_proba(scored: DataFrame, strict: bool = True) -> DataFrame:
    """Per-series min-max rescale of scores to [0, 1]
    (BaseDetector.py:140-186). Pure relational — single window
    partitioning, no join. Constant-score series pass through when the
    constant is a legal probability; per the reference contract, a
    constant score OUTSIDE [0, 1] is an error (``strict=True`` raises it
    executor-side via ``raise_error``; ``strict=False`` passes through)."""
    from pyspark.sql import Window

    const_branch = (
        "CASE WHEN score >= 0 AND score <= 1 THEN score"
        " ELSE raise_error('predict_proba: cannot normalize constant decision"
        " scores outside [0, 1] (BaseDetector.py:140-186)') END"
        if strict
        else "score"
    )
    wall = Window.partitionBy("doc_id")
    return (
        scored.withColumn("_mn", F.min("score").over(wall))
        .withColumn("_mx", F.max("score").over(wall))
        .select(
            "doc_id", "pos",
            F.expr(
                f"CASE WHEN _mn = _mx THEN {const_branch}"
                " ELSE (score - _mn) / (_mx - _mn) END"
            ).alias("proba"),
        )
    )


# Baseline detectors (baselines/baselines.py:8-64) ---------------------------
#
# Sanity-check scorers. RandomDetector's np.random stream is replaced by a
# coordinate-seeded uniform (md5 of doc:pos:seed -> 52-bit mantissa): a
# sequential RNG stream has no distributed analog, but a hash-keyed one is
# deterministic under ANY partitioning/ordering AND reproducible by an
# ANSI-SQL oracle — the property the seed exists to provide.

def always_normal_scores(long_form: DataFrame) -> DataFrame:
    """score = 0.0 everywhere (baselines.py:8-23)."""
    return long_form.select("doc_id", "pos", F.lit(0.0).alias("score"))


def always_anomalous_scores(long_form: DataFrame) -> DataFrame:
    """score = 1.0 everywhere (baselines.py:26-40)."""
    return long_form.select("doc_id", "pos", F.lit(1.0).alias("score"))


def random_scores(long_form: DataFrame, seed: int = 0) -> DataFrame:
    """Deterministic uniform [0, 1) per observation, keyed on
    (doc_id, pos, seed) (baselines.py:43-64). md5 is bit-identical
    across engines; 13 hex digits = 52 bits fit a double exactly."""
    return long_form.select(
        "doc_id", "pos",
        F.expr(
            f"CAST(conv(substring(md5(concat_ws(':', doc_id, pos, '{int(seed)}')),"
            " 1, 13), 16, 10) AS DOUBLE)"
            " / CAST(4503599627370496 AS DOUBLE)"
        ).alias("score"),
    )


def exceed_confidence_scores(
    arrays: DataFrame, neighborhood: int = 16, contamination: float = 0.05
) -> DataFrame:
    """ExCeeD confidence over MedianMethod scores, train ECDF = the
    series' own scores (the unsupervised fit-on-test path,
    Workflow.py:426-428): one Arrow pass per series."""

    def per_series(x: np.ndarray) -> np.ndarray:
        s = KD.median_method_scores(x, neighborhood)
        return KD.exceed_confidence(s, s, contamination)

    return _score_map(arrays, per_series)


def mad_zscore(long_form: DataFrame) -> DataFrame:
    """Robust (median/MAD) z-score per observation — the
    outlier-resistant twin of StandardScaler-then-threshold: score =
    |x − median| / MAD with MAD = median(|x − median|), the classic
    Hampel/robust-statistics detector a single extreme point cannot
    poison (unlike mean/std, both of which it drags).

    Exactness: both medians are EXACT ceil-rank selections from
    per-series sorted integer arrays (median of ints is an int; the
    absolute deviations are ints, so MAD is an int too) — the float
    enters once, in the shared score divide. MAD = 0 (over half the
    series constant) yields NULL scores, the documented degenerate
    case. Output: (doc_id, pos, value, med, mad, score).

    Scale shape: TWO doc_id-keyed aggregates (value median, then
    deviation median) and two co-keyed joins — all on the rollup
    partitioning; per-series sorted arrays bounded by series length,
    exactly like pp_seasonal_bands."""
    med = (
        long_form.groupBy("doc_id")
        .agg(F.expr("array_sort(collect_list(value))").alias("arr"))
        .select(
            "doc_id",
            F.expr(
                "CAST(element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))"
                " AS BIGINT)"
            ).alias("med"),
        )
    )
    dev = long_form.join(med, "doc_id").select(
        "doc_id", "pos", "value", "med",
        F.expr("abs(value - med)").alias("ad"),
    )
    mad = (
        dev.groupBy("doc_id")
        .agg(F.expr("array_sort(collect_list(ad))").alias("arr"))
        .select(
            "doc_id",
            F.expr(
                "CAST(element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))"
                " AS BIGINT)"
            ).alias("mad"),
        )
    )
    return dev.join(mad, "doc_id").select(
        "doc_id", "pos", "value", "med", "mad",
        F.expr(
            "CASE WHEN mad > 0 THEN CAST(ad AS DOUBLE) / mad"
            " ELSE NULL END"
        ).alias("score"),
    )


def hysteresis_alarm(
    long_form: DataFrame, hi: int, lo: int
) -> DataFrame:
    """Two-threshold hysteresis alarm (Schmitt trigger — the
    alerting-rule semantic behind Grafana/Kapacitor dual-threshold
    rules): the alarm RAISES when value > ``hi`` and stays raised
    until value <= ``lo`` (lo < hi), suppressing the flapping a single
    threshold produces on noisy series.

    The state machine looks sequential, but the last-crossing identity
    makes it RELATIONAL: alarm_i ⟺ the most recent value > hi is more
    recent than the most recent value <= lo —

        alarm_i = max_{j<=i}(pos_j · [v_j > hi]) > max_{j<=i}(pos_j · [v_j <= lo])

    (with −1 defaults), i.e. TWO conditional running MAX windows over
    one (doc_id, pos) partition order — ONE exchange, zero UDF, exact
    integers end to end. Output: (doc_id, pos, value, alarm) plus the
    per-transition flag (raise/clear edges) for alert routing."""
    if lo >= hi:
        raise ValueError(f"need lo < hi, got lo={lo}, hi={hi}")
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    marked = long_form.select(
        "doc_id", "pos", "value",
        F.max(
            F.expr(f"CASE WHEN value > {int(hi)} THEN pos ELSE -1 END")
        ).over(w).alias("last_hi"),
        F.max(
            F.expr(f"CASE WHEN value <= {int(lo)} THEN pos ELSE -1 END")
        ).over(w).alias("last_lo"),
    ).select(
        "doc_id", "pos", "value",
        F.expr("CAST(last_hi > last_lo AS INT)").cast("long").alias("alarm"),
    )
    w1 = W.partitionBy("doc_id").orderBy("pos")
    return marked.select(
        "doc_id", "pos", "value", "alarm",
        F.expr(
            "CAST(alarm != coalesce(lag(alarm) OVER (PARTITION BY doc_id"
            " ORDER BY pos), 0) AS INT)"
        ).cast("long").alias("edge"),
    )
