"""Thresholding + evaluation-metric operators (per-series, DataFrame-only).

Reference semantics (citations into /root/reference/):
* FixedCutoff — thresholding/thresholding.py:50-74 (label = score >= c),
  one column expression inlined by ``workflow/grid._labeled``.
* ContaminationRate — thresholding/thresholding.py:102-127: cutoff =
  np.quantile(scores, 1-rate) with linear interpolation. Implemented from
  the order-statistic DEFINITION (floor/ceil ranks + interpolation) with
  one shared SQL text, because builtin percentile implementations differ
  in interpolation op-order across engines and that breaks byte-match.
* TopN — thresholding/thresholding.py:153-182: cutoff = n-th largest.
* Precision/Recall/FBeta — evaluation/simple_binary_metrics.py:7-118
  (sklearn zero_division -> 0).
* AreaUnderROC — evaluation/simple_proba_metrics.py:7-30: rank statistic
  with tie midranks.
* point_adjust — evaluation/point_adjusted_binary_metrics.py:9-40: any hit
  inside a ground-truth event run marks the whole run predicted.
* BestThresholdMetric — evaluation/BestThresholdMetric.py:58-118: max
  metric over candidate thresholds; one sorted pass over distinct scores
  yields every threshold's confusion matrix at once (the cumulative-count
  trick), so no per-threshold rescan.

All metrics are integer-count arithmetic + one shared float formula —
exact across engines. Per-series grouping means the only shuffle is the
hash aggregate / window partitioning on ``doc_id``; at cluster scale the
scores already live partitioned by series, making these map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

F1_SQL = (
    "CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 "
    "ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END"
)
PRECISION_SQL = "CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END"
RECALL_SQL = "CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END"


def fbeta_sql(beta: float) -> str:
    """General F-beta over integer tp/fp/fn columns, sklearn
    zero-division -> 0 (simple_binary_metrics.py:83-118):
    F_b = (1+b^2)*tp / ((1+b^2)*tp + fp + b^2*fn).

    The b^2 constants are emitted as exact float literals wrapped in
    CAST(.. AS DOUBLE) — Spark parses bare `4.0` as DECIMAL(2,1), which
    silently switches the arithmetic domain and breaks byte-parity with
    a DOUBLE-typed oracle. One shared text for Spark AND DuckDB."""
    if not beta > 0:
        raise ValueError("`beta` should be strictly positive")
    b2 = float(beta) * float(beta)
    c1 = 1.0 + b2
    return (
        f"CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 0.0 "
        f"ELSE (CAST({c1!r} AS DOUBLE) * tp) / "
        f"(CAST({c1!r} AS DOUBLE) * tp + fp + CAST({b2!r} AS DOUBLE) * fn) END"
    )


def contamination_rate(scored: DataFrame, rate: float) -> DataFrame:
    """Per-series cutoff = linear-interp quantile(1-rate) of the scores,
    computed from order statistics: idx = (1-rate)*(n-1), cutoff =
    v[floor(idx)] + (v[ceil(idx)] - v[floor(idx)]) * frac(idx).
    (thresholding.py:102-127)

    Single pass: one sort-within-series gives ranks, and the two boundary
    order statistics are pulled out with conditional window maxes — no
    join back, no second shuffle. Extra input columns pass through."""
    q = 1.0 - rate
    w = Window.partitionBy("doc_id").orderBy("score")
    wall = Window.partitionBy("doc_id")
    ranked = (
        scored.withColumn("_rk", F.row_number().over(w) - 1)
        .withColumn("_idx", F.expr(f"{q!r} * (count(*) OVER (PARTITION BY doc_id) - 1)"))
    )
    cut = ranked.withColumn(
        "_lo", F.max(F.when(F.col("_rk") == F.floor("_idx"), F.col("score"))).over(wall)
    ).withColumn(
        "_hi", F.max(F.when(F.col("_rk") == F.ceil("_idx"), F.col("score"))).over(wall)
    ).withColumn(
        "_cutoff",
        F.expr(
            "CAST(_lo AS DOUBLE) + (CAST(_hi AS DOUBLE) - CAST(_lo AS DOUBLE))"
            " * (_idx - floor(_idx))"
        ),
    )
    out_cols = [c for c in scored.columns] + [
        (F.col("score").cast("double") >= F.col("_cutoff")).cast("int").alias("label")
    ]
    return cut.select(*out_cols)


def top_n(scored: DataFrame, n: int) -> DataFrame:
    """label = score >= n-th largest score of the series; single pass via
    a conditional window max of the rank-n score, extra columns pass
    through. (thresholding.py:153-182)"""
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc())
    wall = Window.partitionBy("doc_id")
    ranked = scored.withColumn("_rk", F.row_number().over(w))
    cut = ranked.withColumn(
        "_cutoff", F.max(F.when(F.col("_rk") == n, F.col("score"))).over(wall)
    )
    out_cols = [c for c in scored.columns] + [
        (F.col("score") >= F.col("_cutoff")).cast("int").alias("label")
    ]
    return cut.select(*out_cols)


def confusion_metrics(labeled: DataFrame) -> DataFrame:
    """Per-series tp/fp/fn/tn + precision/recall/f1 from columns
    ``label`` (prediction) and ``truth``. (simple_binary_metrics.py:7-118)"""
    agg = labeled.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN label = 1 AND truth = 1 THEN 1 ELSE 0 END")).alias("tp"),
        F.sum(F.expr("CASE WHEN label = 1 AND truth = 0 THEN 1 ELSE 0 END")).alias("fp"),
        F.sum(F.expr("CASE WHEN label = 0 AND truth = 1 THEN 1 ELSE 0 END")).alias("fn"),
        F.sum(F.expr("CASE WHEN label = 0 AND truth = 0 THEN 1 ELSE 0 END")).alias("tn"),
    )
    return agg.select(
        "doc_id", "tp", "fp", "fn", "tn",
        F.expr(PRECISION_SQL).alias("precision"),
        F.expr(RECALL_SQL).alias("recall"),
        F.expr(F1_SQL).alias("f1"),
    )


def fbeta_metrics(labeled: DataFrame, beta: float) -> DataFrame:
    """Per-series F-beta for an arbitrary beta > 0.
    (simple_binary_metrics.py:83-118)"""
    agg = labeled.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN label = 1 AND truth = 1 THEN 1 ELSE 0 END")).alias("tp"),
        F.sum(F.expr("CASE WHEN label = 1 AND truth = 0 THEN 1 ELSE 0 END")).alias("fp"),
        F.sum(F.expr("CASE WHEN label = 0 AND truth = 1 THEN 1 ELSE 0 END")).alias("fn"),
    )
    return agg.select("doc_id", "tp", "fp", "fn", F.expr(fbeta_sql(beta)).alias("fbeta"))


def auc_roc(scored_truth: DataFrame) -> DataFrame:
    """Per-series ROC AUC via the Mann-Whitney rank statistic with tie
    midranks: AUC = (sum_pos_midrank - P(P+1)/2) / (P*N). Midranks kept in
    doubled-integer form (2*midrank = 2*rank + ties - 1) so the numerator
    stays exact. Series with one class only are dropped (sklearn raises).
    (simple_proba_metrics.py:7-30)"""
    w = Window.partitionBy("doc_id").orderBy("score")
    wt = Window.partitionBy("doc_id", "score")
    ranked = scored_truth.select(
        "doc_id", "truth",
        (2 * F.rank().over(w) + F.count("*").over(wt) - 1).alias("mr2"),
    )
    agg = ranked.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN truth = 1 THEN mr2 ELSE 0 END")).alias("sum_mr2"),
        F.sum(F.expr("CASE WHEN truth = 1 THEN 1 ELSE 0 END")).alias("p"),
        F.sum(F.expr("CASE WHEN truth = 0 THEN 1 ELSE 0 END")).alias("neg"),
    )
    return agg.filter("p > 0 AND neg > 0").select(
        "doc_id",
        F.expr(
            "(CAST(sum_mr2 AS DOUBLE) / 2 - CAST(p AS DOUBLE) * (p + 1) / 2)"
            " / (CAST(p AS DOUBLE) * neg)"
        ).alias("auc"),
    )


def auc_pr(scored_truth: DataFrame) -> DataFrame:
    """Per-series area under the precision-recall curve, trapezoidal
    (the reference's precision_recall_curve + metrics.auc composition,
    evaluation/simple_proba_metrics.py:33-55): one sorted pass over
    distinct scores descending gives (recall_i, precision_i) per
    threshold; the curve is anchored at (recall=0, precision=1). All
    counts integer; the trapezoid sum is the shared float formula."""
    per_score = scored_truth.groupBy("doc_id", "score").agg(
        F.count("*").alias("cnt"),
        F.sum("truth").alias("pos_cnt"),
    )
    wd = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("doc_id")
    wlag = Window.partitionBy("doc_id").orderBy(F.col("score").desc())
    cum = per_score.select(
        "doc_id", "score",
        F.sum("pos_cnt").over(wd).alias("tp"),
        (F.sum("cnt").over(wd) - F.sum("pos_cnt").over(wd)).alias("fp"),
        F.sum("pos_cnt").over(wall).alias("p"),
    ).filter("p > 0")
    seg = cum.select(
        "doc_id",
        F.expr(
            "(CAST(tp AS DOUBLE) / p - CAST(coalesce(lag(tp) OVER (PARTITION BY doc_id"
            " ORDER BY score DESC), 0) AS DOUBLE) / p)"
        ).alias("dr"),
        F.expr(
            "(CAST(tp AS DOUBLE) / (tp + fp)"
            " + CASE WHEN lag(tp) OVER (PARTITION BY doc_id ORDER BY score DESC) IS NULL"
            " THEN 1.0 ELSE CAST(lag(tp) OVER (PARTITION BY doc_id ORDER BY score DESC) AS DOUBLE)"
            " / (lag(tp) OVER (PARTITION BY doc_id ORDER BY score DESC)"
            " + lag(fp) OVER (PARTITION BY doc_id ORDER BY score DESC)) END) / 2.0"
        ).alias("ptrap"),
    )
    return seg.groupBy("doc_id").agg(
        F.sum(F.expr("dr * ptrap")).alias("auc_pr")
    )


def point_adjust(labeled: DataFrame) -> DataFrame:
    """Point-adjusted predictions: ground-truth events are maximal runs of
    consecutive truth=1; if any prediction falls inside a run the whole
    run becomes predicted. (point_adjusted_binary_metrics.py:9-40)"""
    w = Window.partitionBy("doc_id").orderBy("pos")
    ev = labeled.select(
        "doc_id", "pos", "label", "truth",
        F.sum(
            F.expr("CASE WHEN truth != coalesce(lag(truth) over "
                   "(partition by doc_id order by pos), -1) THEN 1 ELSE 0 END")
        ).over(w).alias("event"),
    )
    return ev.select(
        "doc_id", "pos", "truth",
        F.expr(
            "CASE WHEN truth = 1 THEN max(label) OVER "
            "(PARTITION BY doc_id, event) ELSE label END"
        ).alias("label"),
    )


def point_adjusted_metrics(labeled: DataFrame) -> DataFrame:
    """point_adjust ∘ confusion_metrics.
    (point_adjusted_binary_metrics.py:43-147)"""
    return confusion_metrics(point_adjust(labeled))


def _threshold_confusions(
    scored_truth: DataFrame, max_nb_thresholds: int = -1
) -> DataFrame:
    """Per-series confusion matrix at EVERY candidate threshold in one
    sorted pass (BestThresholdMetric.py:58-118): group by distinct score
    desc, cumulative positives give tp at each cut (label = score >=
    cut); fp/fn/tn follow from totals.

    The reference's candidate set is {0} U midpoints(unique scores) U
    {1}; every midpoint's label-set equals some distinct-score cut's and
    the 0-threshold set is the smallest cut, so the distinct cuts
    enumerate all of them except the t=1 EMPTY prediction set — appended
    here as an explicit (tp=0, fp=0, fn=P, tn=N) row so any metric
    (including ones that reward predicting nothing) sees it.

    ``max_nb_thresholds`` reproduces the reference's linspace subsample
    of threshold indices (0-based rank ``j`` over u+1 candidates:
    selected j = trunc(k * (u+1)/(m+1)), k=1..m) via a per-series
    sequence explode + semi-join — the candidate list is tiny relative
    to the points, so this is a per-series map-side dedup, not a real
    shuffle."""
    per_score = scored_truth.groupBy("doc_id", "score").agg(
        F.count("*").alias("cnt"),
        F.sum("truth").alias("pos_cnt"),
    )
    wd = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wasc = Window.partitionBy("doc_id").orderBy(F.col("score").asc())
    wall = Window.partitionBy("doc_id")
    cum = per_score.select(
        "doc_id",
        (F.row_number().over(wasc) - 1).alias("j"),
        F.count("*").over(wall).alias("u"),
        F.sum("pos_cnt").over(wd).alias("tp"),
        (F.sum("cnt").over(wd) - F.sum("pos_cnt").over(wd)).alias("fp"),
        (F.sum("pos_cnt").over(wall) - F.sum("pos_cnt").over(wd)).alias("fn"),
        (
            F.sum("cnt").over(wall)
            - F.sum("pos_cnt").over(wall)
            - (F.sum("cnt").over(wd) - F.sum("pos_cnt").over(wd))
        ).alias("tn"),
    )
    empty_set = per_score.groupBy("doc_id").agg(
        F.count("*").alias("j"),  # j = u: the t=1 empty prediction set
        F.count("*").alias("u"),
        F.lit(0).cast("long").alias("tp"),
        F.lit(0).cast("long").alias("fp"),
        F.sum("pos_cnt").alias("fn"),
        (F.sum("cnt") - F.sum("pos_cnt")).alias("tn"),
    )
    cuts = cum.unionByName(empty_set.select(cum.columns))
    return _linspace_subsample_cuts(cuts, max_nb_thresholds)


def _linspace_subsample_cuts(cuts: DataFrame, max_nb_thresholds: int) -> DataFrame:
    """The reference's threshold subsampling, shared by every
    best-threshold enumerator (plain and point-adjusted — ONE copy of
    the parity-sensitive truncation formula): candidates are indexed
    ``j`` over ``u + 1`` per series (distinct scores ascending + the
    empty set at j = u); selected j = np.linspace(0, u+1, m+2,
    dtype=int)[1:-1], i.e. float step k*(u+1)/(m+1) truncated toward
    zero. ``cuts`` needs columns (doc_id, j, u); extra columns pass
    through."""
    if max_nb_thresholds == -1:
        return cuts
    if max_nb_thresholds <= 0:
        raise ValueError(
            "`max_nb_thresholds` must be strictly positive or equal to -1"
        )
    m = int(max_nb_thresholds)
    sel = (
        cuts.select("doc_id", "u")
        .distinct()
        .select(
            "doc_id", "u",
            F.explode(F.sequence(F.lit(1), F.lit(m))).alias("k"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CAST(k * (CAST(u + 1 AS DOUBLE) / {float(m + 1)!r}) AS BIGINT)"
            ).alias("j"),
        )
        .distinct()
    )
    return cuts.where(F.expr(f"u + 1 > {m}")).join(
        sel, ["doc_id", "j"]
    ).unionByName(cuts.where(F.expr(f"u + 1 <= {m}")))


def best_threshold_metric(
    scored_truth: DataFrame,
    metric_sql: str = F1_SQL,
    max_nb_thresholds: int = -1,
    out_col: str = "best_metric",
) -> DataFrame:
    """Max of ANY confusion-matrix metric (SQL text over tp/fp/fn/tn)
    over all candidate thresholds. (BestThresholdMetric.py:58-118)"""
    cuts = _threshold_confusions(scored_truth, max_nb_thresholds)
    return cuts.groupBy("doc_id").agg(F.max(F.expr(metric_sql)).alias(out_col))


def best_threshold_f1(scored_truth: DataFrame) -> DataFrame:
    """Max F1 over every candidate threshold. (BestThresholdMetric.py:58-118)"""
    return best_threshold_metric(scored_truth, F1_SQL, out_col="best_f1")


def best_threshold_point_adjusted(
    scored_truth: DataFrame,
    metric_sql: str = F1_SQL,
    max_nb_thresholds: int = -1,
    out_col: str = "best_metric",
) -> DataFrame:
    """Max of a POINT-ADJUSTED confusion metric over every candidate
    threshold, in ONE sorted pass — the composition the reference
    expresses as ``BestThresholdMetric(PointAdjustedFBeta())``
    (BestThresholdMetric.py:58-118 over
    point_adjusted_binary_metrics.py:9-40).

    Key identity making this single-pass: at threshold t, a ground-truth
    event run is predicted iff ANY of its points scores >= t, i.e. iff
    the run's MAX score >= t. So:

    * pa_tp(t) = Σ run_size over runs with run_max >= t,
    * pa_fn(t) = P − pa_tp(t),
    * pa_fp(t) = count of truth=0 points with score >= t (negatives are
      untouched by point adjustment), pa_tn(t) = N − pa_fp(t).

    Both cumulative counts land in one descending RANGE-frame window
    over a union of contribution rows (runs contribute run_size at
    run_max; negatives contribute 1 at their score; every distinct score
    contributes a zero row so each candidate cut exists) — the RANGE
    frame includes ties, exactly the ``score >= t`` semantics. The t=1
    empty prediction set is appended as (0, 0, P, N), as in
    ``_threshold_confusions``. Candidate-cut equivalence to the
    reference's midpoint enumeration is the same argument as there;
    ``max_nb_thresholds`` applies the same linspace index subsampling
    over the ascending candidate list (j = trunc(k*(u+1)/(m+1)))."""
    # event segmentation: maximal runs of consecutive truth=1 (the same
    # lag/cumsum trick as point_adjust)
    w = Window.partitionBy("doc_id").orderBy("pos")
    ev = scored_truth.select(
        "doc_id", "pos", "truth", "score",
        F.sum(
            F.expr(
                "CASE WHEN truth != coalesce(lag(truth) over "
                "(partition by doc_id order by pos), -1) THEN 1 ELSE 0 END"
            )
        ).over(w).alias("event"),
    )
    run_stats = (
        ev.filter("truth = 1")
        .groupBy("doc_id", "event")
        .agg(
            F.max("score").alias("score"),
            F.count("*").cast("long").alias("tp_add"),
        )
        .select("doc_id", "score", "tp_add", F.lit(0).cast("long").alias("fp_add"))
    )
    neg = scored_truth.filter("truth = 0").select(
        "doc_id", "score",
        F.lit(0).cast("long").alias("tp_add"),
        F.lit(1).cast("long").alias("fp_add"),
    )
    zero_cuts = scored_truth.select("doc_id", "score").distinct().select(
        "doc_id", "score",
        F.lit(0).cast("long").alias("tp_add"),
        F.lit(0).cast("long").alias("fp_add"),
    )
    contrib = run_stats.unionByName(neg).unionByName(zero_cuts)
    wrange = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("score").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cum = contrib.select(
        "doc_id", "score",
        F.sum("tp_add").over(wrange).alias("tp"),
        F.sum("fp_add").over(wrange).alias("fp"),
    ).groupBy("doc_id", "score").agg(
        F.max("tp").alias("tp"), F.max("fp").alias("fp")
    )
    totals = scored_truth.groupBy("doc_id").agg(
        F.sum("truth").cast("long").alias("p"),
        F.sum(F.expr("CASE WHEN truth = 0 THEN 1 ELSE 0 END"))
        .cast("long").alias("n"),
    )
    wasc = Window.partitionBy("doc_id").orderBy(F.col("score").asc())
    wall = Window.partitionBy("doc_id")
    cum_j = cum.select(
        "doc_id", "tp", "fp",
        (F.row_number().over(wasc) - 1).alias("j"),
        F.count("*").over(wall).alias("u"),
    )
    empty_set = cum.groupBy("doc_id").agg(
        F.lit(0).cast("long").alias("tp"),
        F.lit(0).cast("long").alias("fp"),
        F.count("*").alias("j"),  # j = u: the t=1 empty prediction set
        F.count("*").alias("u"),
    )
    all_cuts = _linspace_subsample_cuts(
        cum_j.unionByName(empty_set.select(cum_j.columns)), max_nb_thresholds
    )
    conf = all_cuts.join(totals, "doc_id").select(
        "doc_id", "tp", "fp",
        (F.col("p") - F.col("tp")).alias("fn"),
        (F.col("n") - F.col("fp")).alias("tn"),
    )
    return conf.groupBy("doc_id").agg(
        F.max(F.expr(metric_sql)).alias(out_col)
    )


def anomaly_spans(
    labeled: DataFrame,
    merge_gap: int = 0,
    min_length: int = 1,
) -> DataFrame:
    """Alerting output: collapse per-observation labels into anomaly
    SPANS with the classic gaps-and-islands identity — island id =
    pos - row_number() over labeled positions, constant exactly while
    flagged positions are consecutive. ``merge_gap`` bridges runs
    separated by <= that many unflagged ticks (bridge first, then
    island: positions whose predecessor flagged position is within
    merge_gap + 1 join its island), ``min_length`` drops blips shorter
    than the floor — the two knobs every paging pipeline needs
    (Hochenbaum et al. 2017 report anomalies exactly this way).

    Input: (doc_id, pos, label[, score]) — a threshold operator's
    output; when a ``score`` column is present the span carries its
    peak and mean. Output one row per span:
    (doc_id, span_start, span_end, length, n_flagged[, peak_score,
    mean_score]).

    Scale: flagged rows only enter the window (the filter comes first,
    so the sort is over the anomalies, not the corpus — anomalies are
    rare by definition); one doc_id-keyed window + one aggregate, both
    on the rollup partitioning. Fully relational, zero UDF."""
    if merge_gap < 0 or min_length < 1:
        raise ValueError(
            f"need merge_gap >= 0 and min_length >= 1,"
            f" got {merge_gap}/{min_length}"
        )
    has_score = "score" in labeled.columns
    flagged = labeled.filter(F.col("label") == 1)
    w = Window.partitionBy("doc_id").orderBy("pos")
    # bridge: a flagged position within merge_gap + 1 of its flagged
    # predecessor continues the island; farther starts a new one
    islands = flagged.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > merge_gap + 1),
            1,
        ).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    aggs = [
        F.min("pos").alias("span_start"),
        F.max("pos").alias("span_end"),
        (F.max("pos") - F.min("pos") + 1).alias("length"),
        F.count("*").alias("n_flagged"),
    ]
    if has_score:
        aggs += [
            F.max("score").cast("double").alias("peak_score"),
            F.avg("score").alias("mean_score"),
        ]
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(*aggs)
        .filter(F.col("length") >= min_length)
        .drop("_isl")
    )
