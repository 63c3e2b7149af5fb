"""Sliding-window operators: the windows every reference detector consumes.

Reference semantics (citations into /root/reference/):
* sliding_window — anomaly_detection/windowing_utils.py:11-37. Window
  starts are ``range(0, n-w, stride)`` PLUS one irregular tail window at
  ``n-w`` (it may overlap the previous one); ``num_windows =
  ceil((n-w)/stride) + 1`` for n > w, else 1.
* reverse_sliding_window — windowing_utils.py:40-99. Per-observation score
  = mean of all covering windows; observations in the tail region
  (pos >= n-w) average every window from their first covering one to the
  last.
* compute_window_size — windowing_utils.py:130-257 (fft/acf/mwf/suss) —
  per-series scalar, Arrow kernel.

Physical strategy: per-window statistics are computed with array
higher-order functions (``slice`` + ``aggregate``) directly over the
per-row token arrays — JVM-side, whole-stage-codegen'd, ZERO shuffle; the
window grid is generated per row with ``sequence``. It stays JVM-side on
purpose: a Python stage here (``mapInArrow`` or an Arrow UDF) drops the
input's doc_id hash partitioning, so reverse_scores' Window would add a
shuffle of its own. The reverse mapping is relational: a prefix-sum over
window scores plus two co-partitioned joins (all keyed on doc_id — one
shuffle reused across the three steps).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.tiers import DERIVE_MEAN_SQL, DERIVE_STD_SQL

NUM_WINDOWS_SQL = (
    "CASE WHEN n_tok <= {w} THEN CAST(1 AS BIGINT) "
    "ELSE (n_tok - {w} + {s} - 1) DIV {s} + 1 END"
)
START_SQL = (
    "CASE WHEN idx = nw - 1 THEN n_tok - {w} ELSE idx * {s} END"
)


def sliding_stats(arrays: DataFrame, window_size: int, stride: int) -> DataFrame:
    """Per-window integer stats over every series, tail rule included.

    One row per (series, window); everything stays inside the row's token
    array via HOFs — no explode of positions, no shuffle. The grid is the
    DuckDB oracle's: a series shorter than the window has one window,
    ``start = n - w`` (negative) and ``cnt = n``, and an empty series has
    none."""
    w, s = window_size, stride
    nw = NUM_WINDOWS_SQL.format(w=w, s=s)
    start = START_SQL.format(w=w, s=s)
    return (
        arrays.filter("n_tok > 0")
        .select(
            "doc_id", "tokens", "n_tok", F.expr(nw).alias("nw")
        )
        .select(
            "doc_id", "tokens", "n_tok", "nw",
            F.explode(F.expr("sequence(CAST(0 AS BIGINT), nw - 1)")).alias("idx"),
        )
        .select(
            "doc_id", "idx",
            F.expr(start).alias("start"),
            F.expr(f"slice(tokens, greatest({start}, 0) + 1, {w})").alias("win"),
        )
        .select(
            "doc_id", "idx", "start",
            F.expr("CAST(size(win) AS BIGINT)").alias("cnt"),
            F.expr(
                "aggregate(win, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("sum"),
            F.expr(
                "aggregate(win, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT) * x)"
            ).alias("sumsq"),
            F.expr("CAST(array_min(win) AS BIGINT)").alias("min"),
            F.expr("CAST(array_max(win) AS BIGINT)").alias("max"),
        )
        .select(
            "doc_id", "idx", "start", "cnt", "sum", "sumsq", "min", "max",
            F.expr(DERIVE_MEAN_SQL).alias("mean"),
            F.expr(DERIVE_STD_SQL).alias("std"),
        )
    )


def reverse_scores(
    win_scores: DataFrame, series_n: DataFrame, window_size: int, stride: int
) -> DataFrame:
    """Per-window integer scores -> per-observation mean of covering
    windows (windowing_utils.py:40-99 semantics incl. the tail rule).

    ``win_scores``: (doc_id, idx, score) with integer score.
    ``series_n``: (doc_id, n) series lengths.

    Prefix sums over window index turn "mean of windows a..b-1" into
    ``(cum[b] - cum[a]) / (b - a)``. The prefix-sum array lives in ONE
    row per series (windows-per-series is bounded by n/stride), so the
    whole mapping is a single doc-level join + per-row element_at — no
    row-level shuffle of the n-sized position grid at all."""
    w, s = window_size, stride
    # per-series prefix-sum array: cs[k] (1-based) = Σ score[idx < k].
    # Built O(nw) per series: a running-sum window (one pass over the
    # sorted partition) then collect_list — NOT an aggregate() lambda
    # concat'ing the accumulator, which copies the array every step and
    # makes the build O(nw²) (fatal at 100× series length). The window's
    # hash partitioning on doc_id is the same one the groupBy needs, so
    # this stays a single exchange.
    running = Window.partitionBy("doc_id").orderBy("idx")
    per_doc = (
        win_scores.select(
            "doc_id", "idx", F.sum("score").over(running).alias("cs")
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("idx", "cs"))).alias("wcs")
        )
        .select(
            "doc_id",
            F.expr("size(wcs)").cast("long").alias("nw"),
            F.expr(
                "concat(array(CAST(0 AS BIGINT)),"
                " transform(wcs, x -> CAST(x.cs AS BIGINT)))"
            ).alias("cs0"),  # cs0[1] = 0, cs0[k+1] = csum[k]
        )
    )
    return (
        series_n.join(per_doc, "doc_id")
        .select(
            "doc_id", "nw", "cs0",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("pos"),
            "n",
        )
        .select(
            "doc_id", "pos", "nw", "cs0",
            F.expr(
                f"least(CASE WHEN pos >= {w} THEN (pos - {w}) DIV {s} + 1 "
                "ELSE CAST(0 AS BIGINT) END, nw)"
            ).alias("a"),
            F.expr(
                f"least(CASE WHEN pos < n - {w} THEN pos DIV {s} + 1 "
                "ELSE nw END, nw)"
            ).alias("b"),
        )
        .select(
            "doc_id", "pos",
            F.expr(
                "CAST(element_at(cs0, CAST(b + 1 AS INT))"
                " - element_at(cs0, CAST(a + 1 AS INT)) AS DOUBLE) / (b - a)"
            ).alias("score"),
        )
    )


def window_size_select(arrays: DataFrame, mode: str, **kwargs) -> DataFrame:
    """Auto window-size per series (fft/acf/mwf/suss) via the shared NumPy
    kernel in one Arrow pass — one scalar out per series, broadcastable
    back onto the corpus. (windowing_utils.py:130-257)"""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from dtaianomaly_spark.kernels import windowing as KW

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("window_size", IntegerType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                ws = KW.compute_window_size(x, mode, **kwargs)
                out.append((doc_id, int(ws)))
            if out:
                yield pd.DataFrame(out, columns=["doc_id", "window_size"])

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def eh_sliding_count_map(
    flagged_long: DataFrame, window: int, r: int = 4
) -> DataFrame:
    """Sliding-window flagged-event counts with DGIM bounded state
    (kernels/eh.ExpHistogram; Datar et al. 2002): for every position
    of every series, the exponential histogram's estimate of how many
    flagged ticks fall in the last ``window`` positions — the ONLINE
    answer replayed in one batch Arrow pass, so the whole trajectory of
    the bounded-state counter is audit-able against the exact
    relational window count (which the driver query joins alongside).

    Input: (doc_id, pos, flag) long form with every position present
    (flag 0/1). Output: (doc_id, pos, est, n_buckets) — ``n_buckets``
    makes the O(r log W) state bound visible in the rows.

    Scale: per-series state is ``r * (log2 W + 2)`` buckets no matter
    how long the series or how dense the flags — the sliding shape the
    tumbling monoid tiers cannot express with bounded state. One
    doc-keyed array rebuild feeds a map-only Arrow stage."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from dtaianomaly_spark.kernels.eh import ExpHistogram

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("pos", LongType(), False),
            StructField("est", DoubleType(), False),
            StructField("n_buckets", LongType(), False),
        ]
    )
    arrays = flagged_long.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "flag"))).alias("pf")
    ).select(F.col("doc_id").cast("string").alias("doc_id"), "pf")

    def _fill(P, buckets, est_out, nb_out):
        """Vectorized estimates over positions P for a FROZEN bucket
        list (no adds inside the span): buckets only EXPIRE as the
        clock advances, at known death times ts + W — so the live
        count at each position is one searchsorted, and the estimate
        is a gather over prefix totals. Arithmetic matches
        ExpHistogram.estimate exactly: int total - int oldest +
        oldest / 2.0 (ints < 2^53 — the float results are identical
        to the per-step replay, pinned by test)."""
        L = len(buckets)
        if L == 0:
            est_out[:] = 0.0
            nb_out[:] = 0
            return
        ts = np.array([t for t, _ in buckets], dtype=np.int64)
        sz = np.array([z for _, z in buckets], dtype=np.int64)
        deaths = ts[::-1] + window  # oldest-first -> ascending
        dead = np.searchsorted(deaths, P, side="right")
        j = L - dead
        totals = np.concatenate([[0], np.cumsum(sz)])
        oldest = sz[np.maximum(j - 1, 0)]
        est_out[:] = np.where(
            j > 0, (totals[j] - oldest) + oldest / 2.0, 0.0
        )
        nb_out[:] = j

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, pf in zip(pdf["doc_id"], pdf["pf"]):
                n = len(pf)
                poss = np.fromiter(
                    (e["pos"] for e in pf), dtype=np.int64, count=n
                )
                flags = np.fromiter(
                    (1 if e["flag"] else 0 for e in pf),
                    dtype=np.int64, count=n,
                )
                est = np.empty(n, dtype=np.float64)
                nb = np.empty(n, dtype=np.int64)
                eh = ExpHistogram(window, r)
                hits = np.nonzero(flags)[0]
                prev = 0
                for h in np.concatenate([hits, [n]]):
                    h = int(h)
                    if h > prev:  # frozen span: vectorized fill
                        _fill(poss[prev:h], eh.buckets,
                              est[prev:h], nb[prev:h])
                    if h == n:
                        break
                    p = int(poss[h])
                    eh.add(p)
                    est[h] = eh.estimate(p)
                    nb[h] = eh.n_buckets()
                    prev = h + 1
                rows.append(pd.DataFrame({
                    "doc_id": np.repeat(doc_id, n),
                    "pos": poss, "est": est, "n_buckets": nb,
                }))
            yield (
                pd.concat(rows, ignore_index=True)
                if rows else pd.DataFrame(columns=schema.names)
            )

    return arrays.mapInPandas(run, schema)


def _acf_moments(long_form: DataFrame, nlags: int) -> DataFrame:
    """Shared moment stage for acf_report / ljung_box_report: one
    (doc_id, pos) window pass attaching all nlags leads, then the
    per-doc integer aggregate (cnt, s, sxx, and per-lag sxy/h/t) on the
    same partitioning."""
    if nlags < 1:
        raise ValueError(f"nlags must be >= 1, got {nlags}")
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = long_form.select(
        "doc_id", "value",
        *[F.lead("value", lag).over(w).alias(f"v{lag}")
          for lag in range(1, nlags + 1)],
    )
    aggs = [
        F.count("*").cast("long").alias("cnt"),
        F.sum("value").alias("s"),
        F.sum(F.expr("value * value")).alias("sxx"),
    ]
    for lag in range(1, nlags + 1):
        aggs += [
            F.sum(F.expr(f"value * v{lag}")).alias(f"sxy{lag}"),
            F.sum(F.expr(
                f"CASE WHEN v{lag} IS NOT NULL THEN value END"
            )).alias(f"h{lag}"),
            F.sum(f"v{lag}").alias(f"t{lag}"),
        ]
    return leads.groupBy("doc_id").agg(*aggs)


# chi-square(8 dof) upper 5% critical value (Abramowitz & Stegun table
# 26.8 convention) — the whiteness cut both engines share verbatim
LJUNG_BOX_CRIT_K8 = 15.50731305586545


def ljung_box_report(long_form: DataFrame, nlags: int = 8) -> DataFrame:
    """Ljung-Box portmanteau whiteness test per series (Ljung & Box
    1978): Q = n(n+2) * Σ_{l=1..K} acf_l² / (n−l), compared against the
    chi-square(K) 5% critical value — the classic "is this series just
    noise?" gate run before fitting any seasonal/AR structure.

    Q is assembled from the SAME exact integer moments as acf_report
    (shared `_acf_moments` stage, 1 exchange): each acf_l is one double
    divide of two exact int64s, and the K terms are added in an
    EXPLICIT left-associated expression (never a SQL SUM, whose order
    is partition-dependent) — so the DuckDB oracle reproduces Q to the
    bit. Series with n <= nlags or zero variance drop out, as in the
    oracle. Output: (doc_id, n, q, white)."""
    m = _acf_moments(long_form, nlags)
    terms = " + ".join(
        f"(CAST(cnt*cnt*sxy{lag} - cnt*s*(h{lag}+t{lag})"
        f"      + (cnt-{lag})*s*s AS DOUBLE)"
        f" / CAST(cnt*cnt*sxx - cnt*s*s AS DOUBLE))"
        f" * (CAST(cnt*cnt*sxy{lag} - cnt*s*(h{lag}+t{lag})"
        f"      + (cnt-{lag})*s*s AS DOUBLE)"
        f" / CAST(cnt*cnt*sxx - cnt*s*s AS DOUBLE))"
        f" / CAST(cnt - {lag} AS DOUBLE)"
        for lag in range(1, nlags + 1)
    )
    crit = repr(LJUNG_BOX_CRIT_K8) if nlags == 8 else None
    if crit is None:
        raise ValueError(
            "ljung_box_report pins the chi-square critical value for"
            f" nlags=8 only, got {nlags}"
        )
    return (
        m.filter(F.expr(f"cnt > {nlags} AND cnt*cnt*sxx - cnt*s*s > 0"))
        .select(
            "doc_id",
            F.col("cnt").alias("n"),
            F.expr(
                f"CAST(cnt AS DOUBLE) * CAST(cnt + 2 AS DOUBLE)"
                f" * ({terms})"
            ).alias("q"),
        )
        .withColumn(
            "white", (F.col("q") < F.lit(LJUNG_BOX_CRIT_K8)).cast("int")
        )
    )


def acf_report(long_form: DataFrame, nlags: int = 8) -> DataFrame:
    """Exact per-series autocorrelation report: acf at lags 1..nlags
    under the statsmodels convention the kernel's FFT path implements
    (`kernels/windowing.py:acf` — full-series mean, biased
    autocovariance, lag-0 normalization) but computed RELATIONALLY as
    exact integer moments, zero UDF, so the DuckDB oracle reproduces
    every float bit.

    The n²-scaled identity removes the rational mean: with S = Σx,
    H_l = Σ_{t<=n-l} x_t, T_l = Σ_{t>l} x_t, Sxy_l = Σ x_t·x_{t+l},

        n²·C_l = n²·Sxy_l − n·S·(H_l + T_l) + (n−l)·S²
        n²·C_0 = n²·Σx² − n·S²
        acf_l  = C_l / C_0   (ONE double divide of two exact int64s)

    Every moment of this corpus fits int64 with room (|x| <= 505,
    n <= 2048 ⇒ n²·Sxy < 2^51), and both operands are < 2^53 so the
    DOUBLE casts are exact.

    Scale shape: ONE window pass attaches all nlags leads in a single
    (doc_id, pos) sort; the per-doc aggregate reuses that hash
    partitioning (hash-on-subset) — 1 exchange beyond the corpus
    repartition; `stack` unpivots the bounded per-doc row to (doc_id,
    lag, acf) rows map-side. Zero-variance series (C_0 = 0) and lags
    >= n drop out (NULL acf filtered), exactly as the oracle does."""
    m = _acf_moments(long_form, nlags)
    pairs = ", ".join(
        f"CAST({lag} AS BIGINT),"
        f" CAST(cnt*cnt*sxy{lag} - cnt*s*(h{lag}+t{lag})"
        f"      + (cnt-{lag})*s*s AS DOUBLE)"
        f" / CAST(cnt*cnt*sxx - cnt*s*s AS DOUBLE)"
        for lag in range(1, nlags + 1)
    )
    return (
        m.filter(F.expr("cnt*cnt*sxx - cnt*s*s > 0"))
        .selectExpr("doc_id", f"stack({nlags}, {pairs}) AS (lag, acf)")
        .filter(F.col("acf").isNotNull())
    )


def trend_report(long_form: DataFrame, horizon: int = 64) -> DataFrame:
    """Per-series OLS trend over (pos, value) — the PromQL
    ``predict_linear`` / TimescaleDB ``stats_agg`` analytic: slope,
    intercept, R² and the linear forecast ``horizon`` steps past the
    series end, from exact integer moments (pos IS the regressor, so
    St/Stt are closed-form but summed like everything else):

        slope = (n·Sty − St·Sy) / (n·Stt − St²)
        intercept = (Sy − slope·St) / n
        R² = (n·Sty − St·Sy)² / ((n·Stt − St²)(n·Syy − Sy²))
        forecast = intercept + slope·(n − 1 + horizon)

    All moments int64 (n ≤ 2048, |value| ≤ 505 ⇒ n·Stt < 2^43); every
    float is derived from exact DOUBLE casts in a fixed expression
    shape, so the DuckDB oracle reproduces each bit. Constant series
    (zero y-variance) report R² = NULL (slope 0 is still emitted); the
    single aggregate reuses the corpus partitioning — 1 exchange."""
    if horizon < 0:
        raise ValueError(f"horizon must be >= 0, got {horizon}")
    m = long_form.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("pos").alias("st"),
        F.sum(F.expr("pos * pos")).alias("stt"),
        F.sum("value").alias("sy"),
        F.sum(F.expr("value * value")).alias("syy"),
        F.sum(F.expr("pos * value")).alias("sty"),
    )
    slope = (
        "(CAST(cnt*sty - st*sy AS DOUBLE)"
        " / CAST(cnt*stt - st*st AS DOUBLE))"
    )
    intercept = (
        f"((CAST(sy AS DOUBLE) - {slope} * CAST(st AS DOUBLE))"
        " / CAST(cnt AS DOUBLE))"
    )
    return (
        m.filter(F.col("cnt") >= 2)
        .select(
            "doc_id",
            F.col("cnt").alias("n"),
            F.expr(slope).alias("slope"),
            F.expr(intercept).alias("intercept"),
            F.expr(
                "CASE WHEN cnt*syy - sy*sy > 0 THEN"
                " (CAST(cnt*sty - st*sy AS DOUBLE)"
                "  * CAST(cnt*sty - st*sy AS DOUBLE))"
                " / (CAST(cnt*stt - st*st AS DOUBLE)"
                "    * CAST(cnt*syy - sy*sy AS DOUBLE))"
                " ELSE CAST(NULL AS DOUBLE) END"
            ).alias("r2"),
            F.expr(
                f"{intercept} + {slope}"
                f" * CAST(cnt - 1 + {int(horizon)} AS DOUBLE)"
            ).alias("forecast"),
        )
    )


def pacf_report(long_form: DataFrame, nlags: int = 8) -> DataFrame:
    """Partial autocorrelations at lags 1..nlags per series: the exact
    relational ACF (same `_acf_moments` stage and float shapes as
    acf_report, so pacf is derived from BIT-identical autocorrelations)
    fed through the Durbin-Levinson recursion
    (`kernels/windowing.py:pacf_from_acf`, statsmodels method='ld') in
    one Arrow stage over the bounded per-doc moment rows. The AR-order
    identification companion to acf_report/ljung_box_report; rows-only
    (the recursion is not SQL-expressible), pinned in pytest against an
    independent per-order Yule-Walker Toeplitz solve.

    Scale shape: 1 exchange (the shared moment aggregate); the Arrow
    stage sees ONE bounded row per series, never the positions."""
    import pandas as pd

    from dtaianomaly_spark.kernels import windowing as KW

    if nlags < 1:
        raise ValueError(f"nlags must be >= 1, got {nlags}")
    m = _acf_moments(long_form, nlags).filter(
        F.expr(f"cnt > {nlags} AND cnt*cnt*sxx - cnt*s*s > 0")
    )
    schema = "doc_id long, lag long, pacf double"

    def run(batches):
        for pdf in batches:
            out_doc, out_lag, out_p = [], [], []
            for row in pdf.itertuples(index=False):
                cnt, s, sxx = int(row.cnt), int(row.s), int(row.sxx)
                den = float(cnt * cnt * sxx - cnt * s * s)
                rho = np.empty(nlags + 1)
                rho[0] = 1.0
                for lag in range(1, nlags + 1):
                    sxy = int(getattr(row, f"sxy{lag}"))
                    h = int(getattr(row, f"h{lag}"))
                    t = int(getattr(row, f"t{lag}"))
                    num = (cnt * cnt * sxy - cnt * s * (h + t)
                           + (cnt - lag) * s * s)
                    rho[lag] = float(num) / den
                pacf = KW.pacf_from_acf(rho)
                out_doc += [int(row.doc_id)] * nlags
                out_lag += list(range(1, nlags + 1))
                out_p += pacf.tolist()
            yield pd.DataFrame({
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "lag": pd.Series(out_lag, dtype="int64"),
                "pacf": pd.Series(out_p, dtype="float64"),
            })

    return m.mapInPandas(run, schema)


def periodogram_report(arrays: DataFrame, topk: int = 3) -> DataFrame:
    """Per-series spectral report: the ``topk`` dominant periodogram
    peaks (frequency index, period in samples, power) plus the series'
    normalized spectral entropy — the seasonality-diagnostics sibling
    of the fft window-size selector (which keeps only argmax) and the
    Box-Jenkins triad (pp_acf/pp_pacf/pp_ljungbox). Deterministic:
    peaks rank by power DESC then longer period first on exact ties;
    constant series (all-zero spectrum) report NULL entropy and no
    peak rows... except they emit a single rank-0 row so every series
    stays visible in the output.

    Rows-only (FFT — transcendental, not SQL-expressible); the kernel
    is pinned in pytest against a naive O(n²) DFT and an analytic
    pure-tone case.

    Scale shape: map-only Arrow pass over the per-row token arrays
    (the one exchange is token_arrays' corpus repartition); O(n log n)
    per series, one bounded output group per series."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from dtaianomaly_spark.kernels import windowing as KW

    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("rnk", LongType(), False),
            StructField("freq_k", LongType(), True),
            StructField("period", DoubleType(), True),
            StructField("power", DoubleType(), True),
            StructField("spec_entropy", DoubleType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            doc_l, rnk_l, k_l, per_l, pow_l, ent_l = [], [], [], [], [], []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                n = x.shape[0]
                p = KW.periodogram(x)
                if float(p.sum()) <= 0.0:
                    doc_l.append(doc_id); rnk_l.append(0)
                    k_l.append(None); per_l.append(None)
                    pow_l.append(None); ent_l.append(None)
                    continue
                ent = KW.spectral_entropy(p)
                for r, i in enumerate(KW.spectral_peaks(p, topk), 1):
                    k = int(i) + 1
                    doc_l.append(doc_id); rnk_l.append(r)
                    k_l.append(k); per_l.append(float(n) / float(k))
                    pow_l.append(float(p[i])); ent_l.append(ent)
            yield pd.DataFrame({
                "doc_id": pd.Series(doc_l, dtype="object"),
                "rnk": pd.Series(rnk_l, dtype="int64"),
                "freq_k": pd.Series(k_l, dtype="Int64"),
                "period": pd.Series(per_l, dtype="Float64"),
                "power": pd.Series(pow_l, dtype="Float64"),
                "spec_entropy": pd.Series(ent_l, dtype="Float64"),
            })

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def asap_report(arrays: DataFrame, max_frac: float = 0.1) -> DataFrame:
    """Per-series ASAP auto-smoothing report (Rong & Bailis 2017): the
    SMA window that minimizes roughness subject to kurtosis
    preservation, plus the before/after kurtosis and roughness — the
    "how much should a dashboard smooth this series" analytic
    completing the visualization-downsample family (LTTB picks points,
    M4 picks extremes, ASAP picks the smoothing bandwidth).

    Rows-only (an argmin over a window grid — not SQL-expressible);
    kernel pinned in pytest against a brute-force reimplementation and
    a noisy-sine sanity case.

    Scale shape: map-only Arrow pass over per-row token arrays (the
    one exchange is the token-array rebuild); O(n · n·max_frac) per
    series, bounded output of one row per series."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from dtaianomaly_spark.kernels import windowing as KW

    if not 0.0 < max_frac <= 0.5:
        raise ValueError(f"max_frac must be in (0, 0.5], got {max_frac}")
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("asap_window", LongType(), False),
            StructField("orig_kurt", DoubleType(), True),
            StructField("smooth_kurt", DoubleType(), True),
            StructField("orig_rough", DoubleType(), True),
            StructField("smooth_rough", DoubleType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                w, ok, sk, orr, sr = KW.asap_window(x, max_frac)
                out.append((doc_id, int(w), ok, sk, orr, sr))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id", "asap_window", "orig_kurt",
                        "smooth_kurt", "orig_rough", "smooth_rough",
                    ],
                )

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)


def robust_trend_report(arrays: DataFrame) -> DataFrame:
    """Per-series ROBUST trend analytics — the nonparametric sibling of
    :func:`trend_report` (OLS): Mann-Kendall S (integer-exact pairwise
    concordance), tie-adjusted tau-b, the tie-corrected normal z, and
    the Theil-Sen median-of-pairwise-slopes estimate. The pair answers
    "is there a monotonic trend, and how steep, without believing in
    Gaussian residuals" — the standard hydrology/climatology toolkit
    (Mann 1945, Sen 1968) next to the OLS report's PromQL shape.

    Rows-only (pairwise medians are not SQL-expressible at this
    cardinality); kernels pinned in pytest against explicit O(n²)
    loops; S is INTEGER-exact so the column doubles as a cheap
    cross-engine invariant.

    Scale shape: map-only Arrow pass (the one exchange is the
    token-array rebuild); O(n²/block) memory-bounded pairwise blocks
    per series — the same per-task budget as the matrix-profile
    kernels, embarrassingly parallel across series."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from dtaianomaly_spark.kernels import windowing as KW

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("mk_s", LongType(), False),
            StructField("mk_tau", DoubleType(), False),
            StructField("mk_z", DoubleType(), False),
            StructField("ts_slope", DoubleType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                # fused pairwise sweep: S and the slopes share blocks
                s, slope = KW.mk_and_theil_sen(x)
                _, tau, z = KW.mann_kendall_report_from_s(x, s)
                out.append((doc_id, int(s), tau, z, slope))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["doc_id", "mk_s", "mk_tau", "mk_z", "ts_slope"],
                )

    return arrays.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, schema)
