"""Preprocessor operators as DataFrame transforms over long-form series.

Input contract: a long-form DataFrame ``(doc_id, pos, value, ...)`` with
integer ``value`` (token) and dense per-series positions ``0..n-1``. Each
operator returns a long-form result whose float columns derive from exact
integer partials via ONE shared formula, so the DuckDB oracle in
``__spark_entry__`` byte-matches.

Reference semantics (citations into /root/reference/):
* StandardScaler — per-attribute nanmean / population nanstd
  (preprocessing/StandardScaler.py:50-87); here "per attribute" of one
  series == per ``doc_id`` group.
* MinMaxScaler — preprocessing/MinMaxScaler.py:41-72 (constant series map
  to (0,1) i.e. pass through shifted — we keep the raw-x fallback).
* RobustScaler — exact linear-interpolation percentiles
  (preprocessing/RobustScaler.py:92-121), NaN fallback to raw x.
* MovingAverage — centered window, edges average fewer samples
  (preprocessing/MovingAverage.py:38-60).
* Differencing — preprocessing/Differencing.py:50-57 (first ``m`` outputs
  0 via self-prepend).
* UnderSampler — preprocessing/UnderSampler.py:33-78.
* PiecewiseAggregateApproximation —
  preprocessing/PiecewiseAggregateApproximation.py:55-70; the linspace
  frame boundary ``b_k = floor(k*n/f)`` inverts to
  ``frame(pos) = floor(((pos+1)*f - 1) / n)`` (integer-exact).
* ExponentialMovingAverage — preprocessing/ExponentialMovingAverage.py:39-47;
  inherently sequential → Arrow kernel over per-series arrays.

Scale notes: every per-series fit is a hash aggregate on ``doc_id`` (one
shuffle of tiny stat rows), joined back broadcast-style; Catalyst plans
partial+final aggregation and prunes columns. Moving ops are window
functions over ``(doc_id, pos)`` — one shuffle shared by any stacked
window op on the same key (Spark reuses the partitioning).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.tiers import DERIVE_MEAN_SQL, DERIVE_STD_SQL


def _series_int_stats(long_form: DataFrame) -> DataFrame:
    """Per-series exact integer partials (cnt, sum, sumsq, min, max)."""
    return long_form.groupBy("doc_id").agg(
        F.count("value").alias("cnt"),
        F.sum("value").alias("sum"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
    )


def standard_scale(long_form: DataFrame, min_std: float = 1e-9) -> DataFrame:
    """Z-normalize each series; series with population std < min_std pass
    through unchanged. (StandardScaler.py:68-87)"""
    stats = _series_int_stats(long_form).select(
        "doc_id",
        F.expr(DERIVE_MEAN_SQL).alias("mean"),
        F.expr(DERIVE_STD_SQL).alias("std"),
    )
    return (
        long_form.join(stats, "doc_id")
        .select(
            "doc_id",
            "pos",
            F.expr(
                f"CASE WHEN std < {min_std!r} THEN CAST(value AS DOUBLE) "
                "ELSE (CAST(value AS DOUBLE) - mean) / std END"
            ).alias("out"),
        )
    )


def minmax_scale(long_form: DataFrame) -> DataFrame:
    """(x - min) / (max - min) per series; constant series pass through
    raw (reference maps constant attrs to bounds (0,1), i.e. out = x - 0
    over 1). (MinMaxScaler.py:41-72)"""
    stats = _series_int_stats(long_form).select("doc_id", "min", "max")
    return (
        long_form.join(stats, "doc_id")
        .select(
            "doc_id",
            "pos",
            F.expr(
                "CASE WHEN min = max THEN CAST(value AS DOUBLE) "
                "ELSE CAST(value - min AS DOUBLE) / CAST(max - min AS DOUBLE) END"
            ).alias("out"),
        )
    )


def robust_scale(
    long_form: DataFrame, q_lo: float = 0.25, q_hi: float = 0.75
) -> DataFrame:
    """(x - median) / (q_hi - q_lo) per series with EXACT linear-interp
    percentiles (never percentile_approx — byte-match requires exact);
    zero-IQR series fall back to raw x. (RobustScaler.py:92-121)"""
    stats = long_form.groupBy("doc_id").agg(
        F.expr(f"percentile(value, {q_lo!r})").alias("qlo"),
        F.expr("percentile(value, 0.5)").alias("med"),
        F.expr(f"percentile(value, {q_hi!r})").alias("qhi"),
    )
    return (
        long_form.join(stats, "doc_id")
        .select(
            "doc_id",
            "pos",
            F.expr(
                "CASE WHEN qhi - qlo = 0.0 THEN CAST(value AS DOUBLE) "
                "ELSE (CAST(value AS DOUBLE) - med) / (qhi - qlo) END"
            ).alias("out"),
        )
    )


def moving_average(long_form: DataFrame, window_size: int) -> DataFrame:
    """Centered moving mean, window ``w``: frame [-(w//2), w-1-(w//2)]
    around each position; edges average fewer samples (the reference pads
    NaN and nanmeans — Spark's frame clipping at series edges is the same
    thing). Exact: integer window sums / counts. (MovingAverage.py:38-60)"""
    w = window_size
    front = w // 2
    back = w - 1 - front
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-front, back)
    return long_form.select(
        "doc_id",
        "pos",
        F.sum("value").over(win).alias("sum"),
        F.count("value").over(win).alias("cnt"),
    ).select("doc_id", "pos", F.expr(DERIVE_MEAN_SQL).alias("out"))


def differencing(long_form: DataFrame, order: int, window_size: int = 1) -> DataFrame:
    """Seasonal differencing ``order`` times; first ``m`` outputs of each
    pass are 0 (reference self-prepend trick ≡ coalesce(lag) with the
    value itself). Integer-exact. (Differencing.py:50-57)"""
    w = Window.partitionBy("doc_id").orderBy("pos")
    df = long_form.select("doc_id", "pos", F.col("value").cast("long").alias("out"))
    for _ in range(order):
        df = df.select(
            "doc_id",
            "pos",
            (F.col("out") - F.coalesce(F.lag("out", window_size).over(w), F.col("out"))).alias("out"),
        )
    return df


def undersample_rate(long_form: DataFrame, k: int) -> DataFrame:
    """Every k-th sample, renumbered to a dense position grid.
    (UnderSampler.py:33-42)"""
    return long_form.filter(F.col("pos") % k == 0).select(
        "doc_id", (F.col("pos") / k).cast("long").alias("pos"), "value"
    )


def undersample_nb(long_form: DataFrame, nb_samples: int) -> DataFrame:
    """Keep exactly m samples at the ``np.linspace(0, n-1, m, dtype=int)``
    integer grid; identity when m >= n. (UnderSampler.py:70-78)

    linspace truncates ``k * step`` where ``step`` is the ROUNDED double
    ``(n-1)/(m-1)`` and then forces the endpoint to ``n-1`` — the SQL below
    reproduces that op order exactly (divide first, multiply, floor), which
    differs from ``floor(k*(n-1)/(m-1))`` for ~2% of lengths.

    The index set is generated from the per-series length and
    semi-joined — positions not on the grid never leave the scan once
    Catalyst pushes the join. Duplicated indices (short series) collapse:
    reference keeps duplicates, but m < n in engine use."""
    m = nb_samples
    series = long_form.select("doc_id", "n").distinct()
    idx = series.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("k"),
        "n",
    ).select(
        "doc_id",
        "k",
        F.expr(
            f"CASE WHEN n <= {m} THEN k "
            f"WHEN k = {m} - 1 THEN CAST(n - 1 AS BIGINT) "
            f"ELSE CAST(floor(k * (CAST(n - 1 AS DOUBLE) / ({m} - 1))) AS BIGINT) END"
        ).alias("pos"),
    )
    # k >= n under the identity branch yields pos >= n, which simply finds
    # no partner in the join — no explicit filter needed. Non-key columns
    # (e.g. a ground-truth label riding the long form, the reference's
    # (X, y) pair transform) pass through at the same index grid.
    extra = [c for c in long_form.columns if c not in ("doc_id", "pos", "n")]
    return (
        idx.join(long_form, ["doc_id", "pos"])
        .select("doc_id", F.col("k").cast("long").alias("pos"), *extra)
    )


def paa(long_form: DataFrame, n_frames: int) -> DataFrame:
    """PAA downsample to ``n_frames`` frames per series: frame of pos =
    floor(((pos+1)*f - 1) / n) under linspace boundaries; frame value =
    exact mean. Series with n <= f pass through (frame = pos).
    (PiecewiseAggregateApproximation.py:55-70)

    This is precisely the rollup's bucket aggregate with data-dependent
    bucket edges — same partial+final hash aggregate, same scale path."""
    f = n_frames
    framed = long_form.select(
        "doc_id",
        F.expr(
            f"CASE WHEN n <= {f} THEN pos "
            f"ELSE CAST(((pos + 1) * {f} - 1) DIV n AS BIGINT) END"
        ).alias("frame"),
        "value",
    )
    agg = framed.groupBy("doc_id", "frame").agg(
        F.count("value").alias("cnt"),
        F.sum("value").alias("sum"),
    )
    return agg.select(
        "doc_id", "frame", "cnt", "sum", F.expr(DERIVE_MEAN_SQL).alias("out")
    )


# SAX z-score -> symbol mapping for alphabet size 4 (Lin et al. 2003,
# "A Symbolic Representation of Time Series": Gaussian equiprobable
# breakpoints, i.e. the standard-normal quartiles ±0.6745 and 0). The
# breakpoint constant is spelled as an integer RATIO so both engines
# build the identical correctly-rounded double — shared verbatim with
# the DuckDB oracle. A constant series (std = 0) maps to symbol 2,
# agreeing with the z -> 0 limit of the breakpoint CASE (z < 0 false,
# z < 0.6745 true), so an infinitesimal perturbation cannot flip the
# symbol.
SAX_SYMBOL_SQL = (
    "CASE WHEN std = CAST(0 AS DOUBLE) THEN 2 "
    "WHEN z < CAST(0 AS DOUBLE) - CAST(6745 AS DOUBLE) / 10000 THEN 0 "
    "WHEN z < CAST(0 AS DOUBLE) THEN 1 "
    "WHEN z < CAST(6745 AS DOUBLE) / 10000 THEN 2 "
    "ELSE 3 END"
)
SAX_Z_SQL = (
    "CASE WHEN std = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) "
    "ELSE (CAST(seg_sum AS DOUBLE) / seg_cnt - mean) / std END"
)


def sax_symbols(long_form: DataFrame, seg_len: int = 32) -> DataFrame:
    """SAX symbolization (Lin et al. 2003), alphabet size 4: per series,
    z-normalize by the SERIES mean/std (population), average into
    fixed-length ``seg_len`` segments (the PAA step on a fixed grid),
    and quantize each segment mean at the Gaussian equiprobable
    breakpoints. Output: (doc_id, seg, seg_cnt, symbol).

    Fully relational and integer-fed: segment and series statistics are
    integer sums; the z and symbol formulas are single shared float
    expressions (IEEE ops only), so the symbols are bit-reproducible
    against a SQL oracle. Two hash aggregates on the same doc_id-keyed
    data + one co-partitioned join — the rollup tier's scale shape."""
    seg_agg = long_form.select(
        "doc_id", F.expr(f"pos DIV {int(seg_len)}").alias("seg"), "value"
    ).groupBy("doc_id", "seg").agg(
        F.count("value").cast("long").alias("seg_cnt"),
        F.sum("value").cast("long").alias("seg_sum"),
    )
    series = long_form.groupBy("doc_id").agg(
        F.count("value").cast("long").alias("cnt"),
        F.sum("value").cast("long").alias("sum"),
        F.sum(F.expr("value * value")).cast("long").alias("sumsq"),
    ).select(
        "doc_id",
        F.expr(DERIVE_MEAN_SQL).alias("mean"),
        F.expr(DERIVE_STD_SQL).alias("std"),
    )
    return (
        seg_agg.join(series, "doc_id")
        .withColumn("z", F.expr(SAX_Z_SQL))
        .select(
            "doc_id", "seg", "seg_cnt",
            F.expr(SAX_SYMBOL_SQL).cast("int").alias("symbol"),
        )
    )


def classical_decompose(
    long_form: DataFrame, period: int, half_window: int | None = None
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method of Macaulay 1931 / the 'classical decomposition' of
    forecasting textbooks): per series,

    * trend_t   = centered moving average over 2k+1 points (k defaults
      to period//2), defined only where the FULL window exists (NULL at
      the edges — the textbook convention),
    * seasonal_p = mean of the detrended values at phase p = pos % period
      (re-centered so the seasonal component sums to ~0 over a period),
    * remainder_t = value - trend_t - seasonal_{pos % period}.

    Everything is relational and oracle-exact: the trend is one shared
    float formula over integer window sums; the seasonal phase mean and
    the re-centering mean are DETERMINISTIC SORTED FOLDS over the float
    detrended values (float addition is not associative — a plain SUM
    would not reproduce across engines). Output:
    (doc_id, pos, value, trend, seasonal, remainder).

    Scale shape: one window pass + two doc-level aggregates, all keyed
    on doc_id — the rollup tier's partitioning, reused."""
    k = period // 2 if half_window is None else half_window
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-k, k)
    full = 2 * k + 1
    trended = long_form.select(
        "doc_id", "pos", "value",
        F.expr(f"pos % {int(period)}").alias("phase"),
        F.count("value").over(w).alias("cnt"),
        F.sum("value").over(w).alias("sum"),
    ).select(
        "doc_id", "pos", "value", "phase",
        F.expr(
            f"CASE WHEN cnt = {full} THEN {DERIVE_MEAN_SQL} ELSE NULL END"
        ).alias("trend"),
    ).withColumn(
        "detr", F.expr("CAST(value AS DOUBLE) - trend")
    )
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(pos, detr))),"
        " s -> s.detr), CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )
    phase_means = (
        trended.filter(F.col("detr").isNotNull())
        .groupBy("doc_id", "phase")
        .agg(
            F.expr(fold).alias("_psum"),
            F.count("*").cast("long").alias("_pcnt"),
        )
        .select(
            "doc_id", "phase",
            F.expr("_psum / _pcnt").alias("_praw"),
        )
    )
    centers = (
        phase_means.groupBy("doc_id")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(phase,"
                " _praw))), s -> s._praw), CAST(0 AS DOUBLE),"
                " (a, x) -> a + x)"
            ).alias("_csum"),
            F.count("*").cast("long").alias("_ccnt"),
        )
        .select("doc_id", F.expr("_csum / _ccnt").alias("_center"))
    )
    seasonal = phase_means.join(centers, "doc_id").select(
        "doc_id", "phase", F.expr("_praw - _center").alias("seasonal")
    )
    return (
        trended.join(seasonal, ["doc_id", "phase"], "left")
        .select(
            "doc_id", "pos", "value", "trend",
            "seasonal",
            F.expr("CAST(value AS DOUBLE) - trend - seasonal").alias(
                "remainder"
            ),
        )
    )


def ema(arrays: DataFrame, alpha: float) -> DataFrame:
    """Exponential moving average per series — inherently sequential, so
    it runs as the shared NumPy kernel (log2(n) affine-scan) inside one
    Arrow pass over per-row token arrays; long-form output.
    (ExponentialMovingAverage.py:39-47)"""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from dtaianomaly_spark.kernels import preprocessing as P

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("pos", LongType(), False),
            StructField("out", DoubleType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            doc_ids, poss, outs = [], [], []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                y = P.exponential_moving_average(x, alpha)
                doc_ids.append(np.repeat(doc_id, x.shape[0]))
                poss.append(np.arange(x.shape[0], dtype=np.int64))
                outs.append(y)
            if doc_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_ids),
                        "pos": np.concatenate(poss),
                        "out": np.concatenate(outs),
                    }
                )

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def lttb(long_form: DataFrame, n_out: int) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to ``n_out`` points
    per series (Steinarsson 2013) — the visualization-grade downsample
    a rollup store serves next to its PAA/aggregate tiers: keeps the
    perceptually dominant extremes instead of bucket means. The
    selection chain is sequential per series (each pick is a triangle
    against the PREVIOUS pick), so it runs as one
    ``groupBy(doc_id).applyInPandas`` Arrow stage over the kernel —
    ONE shuffle, the same doc_id partitioning every other per-series op
    uses, per-task state bounded by one series.

    EXACT integer arithmetic (kernel docstring): integer x/y make the
    scaled doubled-triangle-area argmax float-free, so results are
    bit-deterministic at any partitioning; ties keep the earliest
    position. Series with n <= n_out pass through complete.

    Output: the selected (doc_id, pos, value) rows, pos-sorted within
    each series by construction."""
    from dtaianomaly_spark.kernels import preprocessing as KP

    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        idx = KP.lttb_indices(pdf["value"].to_numpy(), n_out)
        return pdf.iloc[idx][["doc_id", "pos", "value"]]

    return (
        long_form.select("doc_id", "pos", "value")
        .groupBy("doc_id")
        .applyInPandas(run, "doc_id long, pos long, value long")
    )


def m4(long_form: DataFrame, n_buckets: int) -> DataFrame:
    """M4 downsample (Jugel et al., VLDB 2014 "M4: A Visualization-
    Oriented Time Series Data Aggregation"): per equal-width pixel
    bucket keep the four line-join-determining points — first, last,
    value-min, value-max — the downsample that renders pixel-perfect
    at the target width, complementing :func:`paa` (means) and
    :func:`lttb` (perceptual triangles).

    Pure relational: bucket = ``pos * n_buckets DIV n`` and ONE
    partial+final hash aggregate (min/max over (value, pos) structs and
    (pos, value) structs) — expression-only, a single exchange, the
    same scale path as the rollup tiers. Deterministic ties from the
    lexicographic struct order: v_min ties keep the EARLIEST position,
    v_max ties the LATEST (documented, pinned in pytest).

    Output per (doc_id, bucket): (pos_first, v_first, pos_last, v_last,
    pos_min, v_min, pos_max, v_max)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    return _m4_agg(
        long_form.select(
            "doc_id",
            F.expr(f"pos * {int(n_buckets)} DIV n").alias("bucket"),
            "pos",
            "value",
        )
    )


def m4_fixed(long_form: DataFrame, width: int) -> DataFrame:
    """:func:`m4` over FIXED-width buckets (``bucket = pos DIV width``,
    the rollup tiers' bucketing) instead of per-series equal-width
    pixel buckets — the batch twin of the streaming M4 operator, whose
    buckets cannot depend on the (unknown) final series length."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    return _m4_agg(
        long_form.select(
            "doc_id",
            F.expr(f"pos DIV {int(width)}").alias("bucket"),
            "pos",
            "value",
        )
    )


def _m4_agg(bucketed: DataFrame) -> DataFrame:
    agg = bucketed.groupBy("doc_id", "bucket").agg(
        F.min(F.struct("pos", "value")).alias("first"),
        F.max(F.struct("pos", "value")).alias("last"),
        F.min(F.struct("value", "pos")).alias("vmin"),
        F.max(F.struct("value", "pos")).alias("vmax"),
    )
    return agg.select(
        "doc_id",
        "bucket",
        F.col("first.pos").alias("pos_first"),
        F.col("first.value").alias("v_first"),
        F.col("last.pos").alias("pos_last"),
        F.col("last.value").alias("v_last"),
        F.col("vmin.pos").alias("pos_min"),
        F.col("vmin.value").alias("v_min"),
        F.col("vmax.pos").alias("pos_max"),
        F.col("vmax.value").alias("v_max"),
    )


def strength_report(
    long_form: DataFrame, period: int, half_window: int | None = None
) -> DataFrame:
    """Trend / seasonal STRENGTH per series (Hyndman & Athanasopoulos,
    *Forecasting: Principles and Practice* §STL features; the same
    F_T / F_S the tsfeatures package reports):

        F_trend = max(0, 1 − Var(R) / Var(value − seasonal))
        F_seas  = max(0, 1 − Var(R) / Var(value − trend))

    computed over the rows where :func:`classical_decompose` defines
    the full (trend, seasonal, remainder) triple. Oracle-exact: the
    decomposition is already bit-reproducible, and every variance here
    is derived from deterministic SORTED FOLDS of each component's
    (x, x²) in pos order — float addition is not associative, so a
    plain SUM would not reproduce across engines — with the population
    variance and the two strength ratios as single shared float
    formulas. Zero-variance denominators report NULL strength.

    Output: (doc_id, n_used, var_rem, var_deseason, var_detrend,
    f_trend, f_seas).

    Scale shape: the decompose DAG (one window pass + two doc-keyed
    aggregates) plus ONE more doc-keyed aggregate holding six folds —
    all on the same doc_id partitioning; per-series fold arrays are
    bounded by series length, exactly like the decompose stage they
    extend."""
    dec = classical_decompose(long_form, period, half_window)
    rows = dec.filter(F.col("remainder").isNotNull()).select(
        "doc_id", "pos",
        F.col("remainder").alias("r"),
        F.expr("CAST(value AS DOUBLE) - seasonal").alias("ds"),
        F.expr("CAST(value AS DOUBLE) - trend").alias("dt"),
    )
    # collect each component's pos-sorted array ONCE; both folds (sum
    # and sum-of-squares) then run over the same array in a post-agg
    # projection — identical float order to folding during the agg,
    # at half the collect_list volume (the pp_strength hot path)
    arr = (
        "transform(array_sort(collect_list(struct(pos, {x}))),"
        " s -> s.{x})"
    )
    fsum = "aggregate({a}, CAST(0 AS DOUBLE), (a, x) -> a + x)"
    fsq = "aggregate({a}, CAST(0 AS DOUBLE), (a, x) -> a + x * x)"
    g = rows.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_used"),
        F.expr(arr.format(x="r")).alias("ar"),
        F.expr(arr.format(x="ds")).alias("ads"),
        F.expr(arr.format(x="dt")).alias("adt"),
    ).select(
        "doc_id", "n_used",
        F.expr(fsum.format(a="ar")).alias("sr"),
        F.expr(fsq.format(a="ar")).alias("srr"),
        F.expr(fsum.format(a="ads")).alias("sds"),
        F.expr(fsq.format(a="ads")).alias("sdss"),
        F.expr(fsum.format(a="adt")).alias("sdt"),
        F.expr(fsq.format(a="adt")).alias("sdts"),
    )
    var = "({ss} / n_used - ({s} / n_used) * ({s} / n_used))"
    v_r = var.format(ss="srr", s="sr")
    v_ds = var.format(ss="sdss", s="sds")
    v_dt = var.format(ss="sdts", s="sdt")
    strength = (
        "CASE WHEN {den} > 0 THEN"
        " greatest(CAST(0 AS DOUBLE), 1 - {num} / {den})"
        " ELSE NULL END"
    )
    return g.select(
        "doc_id", "n_used",
        F.expr(v_r).alias("var_rem"),
        F.expr(v_ds).alias("var_deseason"),
        F.expr(v_dt).alias("var_detrend"),
        F.expr(strength.format(num=v_r, den=v_ds)).alias("f_trend"),
        F.expr(strength.format(num=v_r, den=v_dt)).alias("f_seas"),
    )


def seasonal_bands(
    long_form: DataFrame, period: int,
    quantiles: tuple = ((1, 10), (1, 2), (9, 10)),
) -> DataFrame:
    """Seasonal percentile bands: per series and phase p = pos % period,
    the EXACT p10/p50/p90 of the integer values observed at that phase —
    the band chart a seasonal-threshold detector alarms against ("this
    minute-of-day is usually between a and b"). Quantile rule is the
    engine's fixed ceil-rank convention (rank = ceil(q·n), 1-indexed
    into the sorted values — integer arithmetic, no interpolation), so
    every output is an int64 the oracle matches bit-for-bit.

    Output: (doc_id, phase, n, p10, p50, p90).

    Scale shape: ONE hash aggregate on (doc_id, phase) — the per-group
    sorted array is bounded by series_length / period, and the phase
    key fans the series' positions out across the cluster (finer
    parallelism than per-series ops, same single exchange)."""
    if period < 1:
        raise ValueError(f"period must be >= 1, got {period}")
    names = ("p10", "p50", "p90")
    sel = [
        F.expr(
            f"element_at(arr, CAST(({num} * size(arr) + {den} - 1)"
            f" DIV {den} AS INT))"
        ).cast("long").alias(nm)
        for nm, (num, den) in zip(names, quantiles)
    ]
    return (
        long_form.groupBy(
            "doc_id", F.expr(f"pos % {int(period)}").alias("phase")
        )
        .agg(F.expr("array_sort(collect_list(value))").alias("arr"))
        .select(
            "doc_id", "phase",
            F.expr("CAST(size(arr) AS BIGINT)").alias("n"),
            *sel,
        )
    )


def longest_run(long_form: DataFrame) -> DataFrame:
    """Longest run of equal consecutive values per series — the
    degenerate-repetition signal (a generation stuck emitting one
    token, a sensor stuck at one reading). Classic gaps-and-islands:
    ``pos − row_number() over (doc, value order pos)`` is constant
    exactly within a run, so runs materialize as ONE window pass + a
    grouped count, all integers. Ties (several runs of the max length)
    resolve to the earliest start.

    Output: (doc_id, value, run_len, start_pos).

    Scale shape: one (doc_id) window partitioning shared by the island
    id and the final per-series argmax (min_by over the bounded island
    table); no self-joins."""
    isl = long_form.select(
        "doc_id", "pos", "value",
        F.expr(
            "pos - row_number() OVER (PARTITION BY doc_id, value"
            " ORDER BY pos)"
        ).alias("grp"),
    )
    runs = isl.groupBy("doc_id", "value", "grp").agg(
        F.count("*").cast("long").alias("run_len"),
        F.min("pos").alias("start_pos"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("run_len"), F.col("start_pos")
    )
    return (
        runs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "value", "run_len", "start_pos")
    )
