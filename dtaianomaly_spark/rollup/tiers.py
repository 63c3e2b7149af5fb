"""Tiered continuous aggregates: raw -> 1m -> 1h.

Position index = time tick. Retention tiers are hierarchical tumbling
buckets so higher tiers compose *exactly* from lower-tier partials
(partial+final aggregation — the integer sums/counts/min/max/first/last
re-aggregate without float error):

    raw  bucket = 16 ticks       (the reference's windowed-stat window,
                                  cf. sliding_window w=16/stride=16)
    1m   bucket = 60 raw  = 960 ticks
    1h   bucket = 60 x 1m = 57 600 ticks

Two physical strategies, same semantics:

* :func:`rollup_tiers_map` — the engine's ingest path. Each series is
  one row (``tokens array<int>``), and one ``mapInArrow`` pass computes
  all three tiers of every batch of rows: map-only, with no shuffle. The
  kernels are the exact-int64 ``contiguous_stats``/``merge_contiguous``
  in kernels/stats.py, and
  :func:`~dtaianomaly_spark.rollup.compress.rollup_compress_map` runs
  the same batched rollup before encoding.

* :func:`rollup_relational` — pure DataFrame ops over the exploded long
  form: ``groupBy(doc_id, pos div bucket)`` hash aggregate (Catalyst gives
  partial+final map-side combine). Used by the DuckDB-oracle correctness
  queries and wherever the data already lives in long form.

Float stats (mean, population std) derive from the exact integer partials
with ONE formula shared by the kernel, the Spark SQL expression and the
DuckDB oracle — identical IEEE-754 operation sequence, hence byte-equal:

    mean = sum / count
    std  = sqrt(max(sumsq / count - mean * mean, 0))

The reference's windowed aggregates these tiers must match are the
per-window stats its detectors consume (e.g. SUSS local stats,
windowing_utils.py:340-346; MedianMethod neighborhoods,
MedianMethod.py:99-106), reproduced by kernels/stats.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from dtaianomaly_spark.kernels import stats as K

RAW_BUCKET_TICKS = 16
M1_FACTOR = 60   # raw buckets per 1m bucket
H1_FACTOR = 60   # 1m buckets per 1h bucket

TIER_TICKS = {
    "raw": RAW_BUCKET_TICKS,
    "1m": RAW_BUCKET_TICKS * M1_FACTOR,
    "1h": RAW_BUCKET_TICKS * M1_FACTOR * H1_FACTOR,
}

ROLLUP_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tier", StringType(), False),
        StructField("bucket", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("sum", LongType(), False),
        StructField("sumsq", LongType(), False),
        StructField("min", LongType(), True),
        StructField("max", LongType(), True),
        StructField("first", LongType(), True),
        StructField("last", LongType(), True),
        StructField("mean", DoubleType(), True),
        StructField("std", DoubleType(), True),
    ]
)


def _blocks(counts: np.ndarray):
    """Blocks of ``counts[i]`` rows laid end to end: their offsets, and
    each row's block index and position within its block."""
    off = np.zeros(counts.shape[0] + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    local = np.arange(int(off[-1]), dtype=np.int64) - np.repeat(off[:-1], counts)
    return off, np.repeat(np.arange(counts.shape[0]), counts), local


def _tier_batch(
    doc_id_arr, tier_arr, doc_idx: np.ndarray, local: np.ndarray, st: dict
):
    """``ROLLUP_SCHEMA`` rows: row ``i`` takes doc_id and tier from row
    ``doc_idx[i]`` of the pyarrow string columns (take() keeps the repeat
    in C++), bucket from ``local``, and mean/std derived from ``st``."""
    import pyarrow as pa

    mean, std = K.derive_mean_std(st["count"], st["sum"], st["sumsq"])
    idx = pa.array(doc_idx)
    return pa.RecordBatch.from_arrays(
        [
            doc_id_arr.take(idx),
            tier_arr.take(idx),
            pa.array(local),
            pa.array(st["count"]),
            pa.array(st["sum"]),
            pa.array(st["sumsq"]),
            pa.array(st["min"]),
            pa.array(st["max"]),
            pa.array(st["first"]),
            pa.array(st["last"]),
            pa.array(mean),
            pa.array(std),
        ],
        names=list(ROLLUP_SCHEMA.names),
    )


def _rollup_arrow_batch(batch) -> list:
    """Raw, 1m and 1h rollup batches of one Arrow batch, fully vectorized
    and (nearly) zero-copy: the list column's flat value buffer is the
    concatenation of every series' tokens, so per-series tumbling buckets
    become contiguous ranges and ONE exact-int64 ``reduceat`` pass per
    statistic covers the whole batch — no per-row Python loop, no pandas
    objects. An empty series has no buckets, so it yields no rows; a
    null ``tokens`` array counts as empty (its length is filled with 0)."""
    import pyarrow as pa

    la = batch.column("tokens")
    doc_id_arr = batch.column("doc_id")
    lens = la.value_lengths().fill_null(0).to_numpy().astype(np.int64)
    if lens.shape[0] == 0 or lens.sum() == 0:
        return []
    values = la.flatten().to_numpy()  # zero-copy view of the flat buffer

    n_series = lens.shape[0]
    series_start = np.cumsum(lens) - lens
    # raw tier: bucket k of series s spans series_start[s] + 16*k ...
    nb = -(lens // -RAW_BUCKET_TICKS)
    off, doc_idx, local = _blocks(nb)
    starts = np.repeat(series_start, nb) + local * RAW_BUCKET_TICKS
    st = K.contiguous_stats(values, starts)

    out = [_tier_batch(doc_id_arr, pa.repeat("raw", n_series), doc_idx, local, st)]
    for tier, factor in (("1m", M1_FACTOR), ("1h", H1_FACTOR)):
        nb_up = -(nb // -factor)
        off_up, doc_idx, local_up = _blocks(nb_up)
        # start index into the *lower-tier partial arrays*
        starts_up = np.repeat(off[:-1], nb_up) + local_up * factor
        st = K.merge_contiguous(st, starts_up)
        nb, off, local = nb_up, off_up, local_up
        out.append(_tier_batch(
            doc_id_arr, pa.repeat(tier, n_series), doc_idx, local, st))
    return out


def rollup_tiers_map(corpus: DataFrame) -> DataFrame:
    """Zero-shuffle raw/1m/1h rollup: one ``mapInArrow`` pass over per-row
    token arrays (the token buffers never become Python objects). It adds
    a projection and a ``MapInArrow`` to the corpus plan and no exchange;
    each input Arrow batch that holds any token yields one output batch
    per tier."""

    def run(batches):
        for batch in batches:
            yield from _rollup_arrow_batch(batch)

    return corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInArrow(run, ROLLUP_SCHEMA)


DERIVE_MEAN_SQL = "CAST(sum AS DOUBLE) / cnt"
DERIVE_STD_SQL = (
    "sqrt(greatest(CAST(sumsq AS DOUBLE) / cnt "
    "- (CAST(sum AS DOUBLE) / cnt) * (CAST(sum AS DOUBLE) / cnt), 0.0))"
)


def rollup_relational(long_form: DataFrame, bucket_ticks: int, tier: str) -> DataFrame:
    """Hash-aggregate rollup over long form (doc_id, pos, value). Catalyst
    plans partial+final aggregation; integer partials keep it exact."""
    by_bucket = (
        long_form
        .withColumn("bucket", (F.col("pos") / bucket_ticks).cast("long"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.sum(F.col("value") * F.col("value")).alias("sumsq"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.min_by("value", "pos").alias("first"),
            F.max_by("value", "pos").alias("last"),
        )
    )
    return by_bucket.select(
        "doc_id",
        F.lit(tier).alias("tier"),
        "bucket", "cnt", "sum", "sumsq", "min", "max", "first", "last",
        F.expr(DERIVE_MEAN_SQL).alias("mean"),
        F.expr(DERIVE_STD_SQL).alias("std"),
    )


def compose_tier(lower: DataFrame, factor: int, tier: str) -> DataFrame:
    """Exact partial+final composition of a higher tier from a lower one
    (relational form of kernels.stats.merge_contiguous)."""
    comp = (
        lower
        .withColumn("parent", (F.col("bucket") / factor).cast("long"))
        .groupBy("doc_id", "parent")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.sum("sumsq").alias("sumsq"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.min_by("first", "bucket").alias("first"),
            F.max_by("last", "bucket").alias("last"),
        )
        .withColumnRenamed("parent", "bucket")
    )
    return comp.select(
        "doc_id",
        F.lit(tier).alias("tier"),
        "bucket", "cnt", "sum", "sumsq", "min", "max", "first", "last",
        F.expr(DERIVE_MEAN_SQL).alias("mean"),
        F.expr(DERIVE_STD_SQL).alias("std"),
    )


def gap_fill(rollup: DataFrame, series_n: DataFrame, bucket_ticks: int) -> DataFrame:
    """Left-join the expected bucket grid (0 .. ceil(n/bucket)-1 per series;
    none for n = 0) against observed buckets; missing buckets materialize
    with cnt = 0 and NULL stats. ``series_n`` is (doc_id, n). The grid side
    is generated with sequence()+explode — no data shuffle beyond the join
    itself, and the join key (doc_id, bucket) is co-partitioned with the
    rollup output."""
    last = F.ceil(F.col("n") / bucket_ticks).cast("long") - 1
    grid = series_n.select(
        "doc_id",
        F.explode(F.when(last >= 0, F.sequence(F.lit(0), last))).alias("bucket"),
    )
    return (
        grid.join(rollup, ["doc_id", "bucket"], "left")
        .select(
            "doc_id",
            "bucket",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.coalesce(F.col("sum"), F.lit(0)).alias("sum"),
            F.coalesce(F.col("sumsq"), F.lit(0)).alias("sumsq"),
            "min", "max", "first", "last", "mean", "std",
        )
    )


# raw kept ~1 "day", 1m kept ~1 "month", 1h forever (in raw ticks)
RETENTION_TICKS = {"raw": 512, "1m": 16384, "1h": None}


def apply_retention(tiered: DataFrame, series_n: DataFrame) -> DataFrame:
    """Tiered retention policy — the third leg of rollup/downsample/
    RETENTION (the continuous-aggregate pattern: raw data ages out
    first, each coarser tier lives longer, the coarsest is kept
    forever). A tier row survives iff the age of its bucket's END,
    measured from the series head (``n``, the series' newest tick), is
    within the tier's horizon:

        n - (bucket + 1) * TIER_TICKS[tier] < RETENTION_TICKS[tier]

    ``tiered`` is the union-of-tiers shape (doc_id, tier, bucket, ...);
    ``series_n`` is (doc_id, n). Pure relational row filter applied
    at read time: expired rows are hidden from the result but stay on
    disk, and no code deletes files or bucket ranges from a store. On a
    store partitioned by bucket, this predicate is also the condition
    under which a whole partition could be dropped."""
    cases = " ".join(
        f"WHEN tier = '{t}' THEN "
        + ("TRUE" if RETENTION_TICKS[t] is None else
           f"n - (bucket + 1) * {ticks} < {RETENTION_TICKS[t]}")
        for t, ticks in TIER_TICKS.items()
    )
    return (
        tiered.join(series_n.select("doc_id", "n"), "doc_id")
        .filter(F.expr(f"CASE {cases} ELSE TRUE END"))
        .drop("n")
    )


def distinct_rollup(
    long_form: DataFrame, fine_ticks: int = 960, factor: int = 60
) -> DataFrame:
    """Mergeable exact distinct-count rollup: per-series distinct token
    count at the coarse tier (fine_ticks * factor), composed by MERGING
    the fine tier's partial distinct SETS — the set-union composition a
    tiered store must use because distinct counts are not additive
    (``ndv_1m_sum`` is returned alongside to expose exactly that).

    Shape: the fine dedup (doc_id, fine bucket, value) is the mergeable
    summary (its rows ARE the set elements); the coarse tier re-dedups
    under the parent bucket. Both dedups hash-partition on doc_id-
    prefixed keys, so the second reuses the first's clustering; state
    is bounded by true NDV per bucket, never raw row count. The sketch
    twin (:func:`distinct_rollup_sketch`) swaps the exact sets for HLL
    registers when NDV itself is too large to carry.
    """
    fine = (
        long_form
        .select(
            "doc_id",
            (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
            "value",
        )
        .distinct()
    )
    fine_ndv = fine.groupBy(
        "doc_id", (F.col("fbucket") / factor).cast("long").alias("bucket")
    ).agg(F.count("*").alias("ndv_1m_sum"))
    coarse = (
        fine
        .select("doc_id", (F.col("fbucket") / factor).cast("long").alias("bucket"), "value")
        .distinct()
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("ndv"))
    )
    return coarse.join(fine_ndv, ["doc_id", "bucket"]).select(
        "doc_id", "bucket", "ndv", "ndv_1m_sum"
    )


def distinct_rollup_sketch(
    long_form: DataFrame, fine_ticks: int = 960, factor: int = 60, lgk: int = 12
) -> DataFrame:
    """HLL-sketch twin of :func:`distinct_rollup`: fine tier carries
    ``hll_sketch_agg`` registers (fixed lgK bytes per bucket regardless
    of NDV), coarse tier composes with ``hll_union_agg`` — the
    mergeable-summary property that makes distinct counts roll up like
    sums at 100 TB. Estimates only; the exact variant is the oracle."""
    fine = long_form.groupBy(
        "doc_id", (F.col("pos") / fine_ticks).cast("long").alias("fbucket")
    ).agg(F.hll_sketch_agg(F.col("value"), F.lit(lgk)).alias("sk"))
    return (
        fine.groupBy("doc_id", (F.col("fbucket") / factor).cast("long").alias("bucket"))
        .agg(F.hll_union_agg(F.col("sk")).alias("sk"))
        .select("doc_id", "bucket", F.hll_sketch_estimate("sk").alias("ndv_est"))
    )


# Shared verbatim by the Spark plan and the DuckDB oracle (bit-exact
# IEEE-754): linear interpolation of the bucket mean between the
# nearest observed buckets; observed buckets keep their own mean,
# edges (no prev / no next) stay NULL — TimescaleDB interpolate()
# semantics.
INTERP_SQL = (
    "CASE WHEN cnt > 0 THEN mean"
    " WHEN prev_mean IS NULL OR next_mean IS NULL THEN NULL"
    " ELSE prev_mean + (next_mean - prev_mean)"
    " * (CAST(bucket - prev_b AS DOUBLE) / CAST(next_b - prev_b AS DOUBLE))"
    " END"
)


def gap_fill_modes(
    rollup: DataFrame, series_n: DataFrame, bucket_ticks: int
) -> DataFrame:
    """Gap-fill with VALUE imputation — the locf()/interpolate() modes
    of a continuous-aggregate engine on top of the plain zero-count
    grid of :func:`gap_fill`:

    * ``locf_mean`` / ``locf_last`` — last observation carried forward
      (fills everything after the first observed bucket),
    * ``interp_mean`` — linear interpolation between the nearest
      observed buckets (edges stay NULL),
    * ``filled`` — 1 for imputed buckets.

    Two windows per series (backward carry, forward probe) over the
    dense grid — the grid join already co-partitioned by doc_id, so
    both windows reuse one shuffle.
    """
    from pyspark.sql import Window

    dense = gap_fill(rollup, series_n, bucket_ticks)
    wb = (
        Window.partitionBy("doc_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("doc_id").orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("cnt") > 0, F.col("bucket"))
    probed = dense.select(
        "doc_id", "bucket", "cnt", "mean", "last",
        F.last("mean", ignorenulls=True).over(wb).alias("prev_mean"),
        F.last(obs_bucket, ignorenulls=True).over(wb).alias("prev_b"),
        F.first("mean", ignorenulls=True).over(wf).alias("next_mean"),
        F.first(obs_bucket, ignorenulls=True).over(wf).alias("next_b"),
        F.last("last", ignorenulls=True).over(wb).alias("locf_last"),
    )
    return probed.select(
        "doc_id", "bucket", "cnt",
        F.col("prev_mean").alias("locf_mean"),
        "locf_last",
        F.expr(INTERP_SQL).alias("interp_mean"),
        (F.col("cnt") == 0).cast("int").alias("filled"),
    )


# Histogram tier geometry. Token values live in [-105, 505] (corpus
# derivation, sources/corpus.py); [-128, 512) with 32 bins gives an
# integer bin width of 20 so the bin id is pure integer arithmetic —
# bit-identical in Spark, DuckDB and NumPy (values are clamped into the
# range first, making the floor division a non-negative truncation in
# every engine).
HIST_LO = -128
HIST_HI = 512
HIST_BINS = 32


def hist_bin_expr(value="value", lo: int = HIST_LO, hi: int = HIST_HI,
                  n_bins: int = HIST_BINS):
    width = (hi - lo) // n_bins
    if width * n_bins != hi - lo:
        raise ValueError("histogram range must split into integer-width bins")
    v = F.greatest(F.lit(lo), F.least(F.lit(hi - 1), F.col(value)))
    return ((v - F.lit(lo)) / F.lit(width)).cast("long")


def hist_rollup(
    long_form: DataFrame, fine_ticks: int = 960, factor: int = 60,
    lo: int = HIST_LO, hi: int = HIST_HI, n_bins: int = HIST_BINS,
) -> DataFrame:
    """Mergeable fixed-bin histogram rollup: the fine tier keeps
    per-(series, bucket, bin) counts — a FIXED-size summary (≤ n_bins
    rows per bucket) that, unlike quantiles, composes to the coarse
    tier by plain bin-wise addition. This is the summary a tiered store
    carries so percentile queries at the 1h tier never touch raw data.
    The coarse counts are exactly the direct-from-raw histogram (the
    oracle computes it directly; the hash match proves merge == direct).
    Both aggregations hash-partition on doc_id-prefixed keys, so the
    coarse pass reuses the fine pass's clustering."""
    fine = (
        long_form
        .select(
            "doc_id",
            (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
            hist_bin_expr("value", lo, hi, n_bins).alias("bin"),
        )
        .groupBy("doc_id", "fbucket", "bin")
        .agg(F.count("*").alias("bcnt"))
    )
    return (
        fine.groupBy(
            "doc_id",
            (F.col("fbucket") / factor).cast("long").alias("bucket"),
            "bin",
        )
        .agg(F.sum("bcnt").alias("bcnt"))
        .select("doc_id", "bucket", "bin", "bcnt")
    )


def hist_quantiles(
    hist: DataFrame, lo: int = HIST_LO, hi: int = HIST_HI,
    n_bins: int = HIST_BINS,
) -> DataFrame:
    """p50/p95 per (series, coarse bucket) read off the merged histogram:
    the quantile estimate is the LOWER EDGE of the first bin whose
    cumulative count reaches the target rank — deterministic integer
    output, rank itself integer (ceil(q·t) = (num·t + num - 1) // den
    for q = num/den), so the oracle matches bit-for-bit. One window
    cumsum per (doc_id, bucket) over the ≤ n_bins-row histogram frame;
    the raw data is never touched — that is the point of carrying the
    mergeable summary."""
    from pyspark.sql import Window

    width = (hi - lo) // n_bins
    wt = Window.partitionBy("doc_id", "bucket")
    wc = wt.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "doc_id", "bucket", "bin", "bcnt",
        F.sum("bcnt").over(wc).alias("cum"),
        F.sum("bcnt").over(wt).alias("cnt"),
    )
    edge = F.lit(lo) + F.col("bin") * F.lit(width)
    r50 = F.expr("(cnt + 1) div 2")        # ceil(t/2), integer-only
    r95 = F.expr("(cnt * 19 + 19) div 20")  # ceil(19t/20), integer-only
    return cum.groupBy("doc_id", "bucket").agg(
        F.max("cnt").alias("cnt"),
        F.min(F.when(F.col("cum") >= r50, edge)).alias("p50"),
        F.min(F.when(F.col("cum") >= r95, edge)).alias("p95"),
    )


def topk_tokens(long_form: DataFrame, bucket_ticks: int = 960, k: int = 3) -> DataFrame:
    """Per-(series, bucket) top-k most frequent token values — the
    heavy-hitters tier a token store keeps next to the numeric stats.
    Exact: count per (doc_id, bucket, value) is a partial+final hash
    aggregate, then one rank window per (doc_id, bucket) over the
    already-aggregated (small) frame. Deterministic total order:
    (cnt DESC, value ASC). At sketch scale the same shape runs on a
    count-min/SpaceSaving summary; here NDV per bucket is bounded (the
    token alphabet), so exact is the right call even at 100 TB."""
    from pyspark.sql import Window

    counted = long_form.groupBy(
        "doc_id",
        (F.col("pos") / bucket_ticks).cast("long").alias("bucket"),
        "value",
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id", "bucket").orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "bucket", "value", "cnt", "rnk")
    )


def topk_sketch(
    long_form: DataFrame, fine_ticks: int = 64, factor: int = 15, m: int = 8
) -> DataFrame:
    """Mergeable heavy-hitter SKETCH tier — the bounded-memory twin of
    :func:`topk_tokens` for alphabets too large to count exactly
    (Misra-Gries in its deterministic, order-free batch form; merge
    rule from Agarwal et al., "Mergeable Summaries", PODS'12 §3.2).

    Fine tier: per (series, fine bucket) keep at most ``m`` counters —
    subtract the (m+1)-th largest count from every value's count, keep
    the positive remainders (``est``). Coarse tier: SUM the surviving
    estimates per value across the bucket's fine summaries and apply
    the same subtract-(m+1)-th-largest truncation. Both passes are pure
    hash-aggregate + rank-window plans, no UDF, and the result is
    partition-order invariant (unlike streaming MG) — which is what
    makes it oracle-able.

    Guarantees (pytest-verified): for EVERY value v of the coarse
    bucket, ``est(v) <= true(v) <= est(v) + err_bound`` where
    ``err_bound`` = sum of the fine-tier subtractions in the bucket
    plus the coarse subtraction — so any v with
    ``true(v) > err_bound`` is guaranteed present. With ``m`` at least
    the alphabet size every subtraction is 0 and the sketch degrades
    to the exact counts."""
    from pyspark.sql import Window

    counted = long_form.groupBy(
        "doc_id",
        (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
        "value",
    ).agg(F.count("*").alias("cnt"))
    # the (m+1)-th largest count folds into the SAME window partitioning
    # as the rank (max over rn > m) — no separate threshold frame, no
    # join; after the fine aggregation every frame is <= m rows per
    # bucket, so the remaining shuffles move only summary data
    wf = Window.partitionBy("doc_id", "fbucket").orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    wfa = Window.partitionBy("doc_id", "fbucket")
    ranked = counted.withColumn("rn", F.row_number().over(wf)).withColumn(
        "tf",
        F.coalesce(
            F.max(F.when(F.col("rn") > m, F.col("cnt"))).over(wfa), F.lit(0)
        ),
    )
    fine = (
        ranked.filter(F.col("rn") <= m)
        .withColumn("est", F.col("cnt") - F.col("tf"))
        .filter(F.col("est") > 0)
    )
    bucket = (F.col("fbucket") / factor).cast("long").alias("bucket")
    merged = (
        fine.groupBy("doc_id", bucket, "value")
        .agg(F.sum("est").alias("s"))
    )
    # total fine-tier deficit per coarse bucket: every fine bucket of
    # the group contributes its subtraction (incl. buckets whose
    # summaries emptied entirely) — hence from ranked's rn=1 carrier
    # rows (one per fine bucket), not from `fine`
    grid = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("doc_id", (F.col("fbucket") / factor).cast("long").alias("bucket"))
        .agg(F.sum("tf").alias("tf_sum"))
    )
    wc = Window.partitionBy("doc_id", "bucket").orderBy(
        F.col("s").desc(), F.col("value").asc()
    )
    wca = Window.partitionBy("doc_id", "bucket")
    ranked2 = merged.withColumn("rn", F.row_number().over(wc)).withColumn(
        "tc",
        F.coalesce(
            F.max(F.when(F.col("rn") > m, F.col("s"))).over(wca), F.lit(0)
        ),
    )
    return (
        ranked2.filter(F.col("rn") <= m)
        .withColumn("est", F.col("s") - F.col("tc"))
        .filter(F.col("est") > 0)
        .join(grid, ["doc_id", "bucket"])
        .select(
            "doc_id", "bucket", "value", "est",
            (F.col("tf_sum") + F.col("tc")).alias("err_bound"),
        )
    )


# ------------------------------------------------------- Count-Min tier

CMS_DEPTH = 4
CMS_WIDTH = 32


def _cms_cell_sql(value_col: str, row: int, width: int) -> str:
    """Deterministic row hash: md5 of the value salted with the row id,
    folded to a cell index — the independent-hash family of the sketch,
    reproducible bit-exactly by any engine (the repo's md5 convention)."""
    return (
        f"CAST(conv(substr(md5(concat(CAST({value_col} AS STRING),"
        f" '|r{int(row)}')), 1, 15), 16, 10) AS BIGINT) % {int(width)}"
    )


def _cms_cells_expr(value_col: str, depth: int, width: int) -> str:
    structs = ", ".join(
        f"struct(CAST({r} AS BIGINT) AS row,"
        f" {_cms_cell_sql(value_col, r, width)} AS cell)"
        for r in range(depth)
    )
    return f"array({structs})"


def countmin_rollup(
    long_form: DataFrame,
    fine_ticks: int = 64,
    factor: int = 15,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Mergeable Count-Min sketch tier (Cormode & Muthukrishnan 2005,
    "An improved data stream summary: the count-min sketch") — the
    fixed-size frequency summary for value domains too large even for
    the Misra-Gries tier's candidate lists: per (series, coarse bucket)
    a ``depth x width`` counter grid, stored SPARSE in long form
    ``(doc_id, bucket, row, cell, ccnt)`` (absent cells are zero).

    Fine tier: each value increments one cell per row
    (``cell = md5(value || row) % width``); coarse tier: CELL-WISE
    ADDITION of the fine grids — the sketch is a plain commutative
    monoid, so tier composition is exact by construction (pinned by
    test anyway, merge == direct). Point query via
    :func:`countmin_estimate`.

    Scale: the sketch is ``depth * width`` integers per bucket no
    matter the value domain — the whole pipeline is two hash
    aggregates (partial+final map-side combine) keyed on bounded keys;
    nothing grows with NDV. Zero UDF, zero window."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    fine = (
        long_form.select(
            "doc_id",
            (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
            F.explode(F.expr(_cms_cells_expr("value", depth, width))).alias("rc"),
        )
        .groupBy("doc_id", "fbucket", F.col("rc.row").alias("row"),
                 F.col("rc.cell").alias("cell"))
        .agg(F.count("*").cast("long").alias("ccnt"))
    )
    return (
        fine.groupBy(
            "doc_id",
            (F.col("fbucket") / factor).cast("long").alias("bucket"),
            "row", "cell",
        )
        .agg(F.sum("ccnt").cast("long").alias("ccnt"))
    )


def countmin_estimate(
    cms: DataFrame,
    candidates: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query estimates off a :func:`countmin_rollup` sketch:
    for each candidate ``(doc_id, bucket, value)`` row, ``est`` = the
    MINIMUM over the sketch's ``depth`` rows of the value's cell
    counter. The Count-Min guarantee (deterministic side, pinned by
    test): ``est >= true`` always — collisions only ever inflate; the
    probabilistic side bounds the inflation by ``e * N / width`` per
    row. Extra candidate columns pass through.

    The join is an equi-join on (doc_id, bucket, row, cell) against the
    bounded sketch frame; a candidate whose cell is absent from the
    sparse grid reads 0."""
    cand = candidates.select(
        "*",
        F.explode(F.expr(_cms_cells_expr("value", depth, width))).alias("rc"),
    ).select(
        *candidates.columns,
        F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"),
    )
    joined = cand.join(cms, ["doc_id", "bucket", "row", "cell"], "left")
    return (
        joined.groupBy(*candidates.columns)
        .agg(F.min(F.coalesce("ccnt", F.lit(0))).cast("long").alias("est"))
    )


# ------------------------------------------------------- Bloom tier

BLOOM_BITS = 256
BLOOM_K = 4


def _bloom_bit_sql(value_col: str, i: int, m_bits: int) -> str:
    """Deterministic bit index: md5 of the value salted with the hash
    id, folded to a bit position — the same reproducible md5 family as
    the Count-Min tier (``_cms_cell_sql``), so any engine (or the plain
    Python twin) sets byte-identical bits."""
    return (
        f"CAST(conv(substr(md5(concat(CAST({value_col} AS STRING),"
        f" '|b{int(i)}')), 1, 15), 16, 10) AS BIGINT) % {int(m_bits)}"
    )


def _bloom_bits_expr(value_col: str, k: int, m_bits: int) -> str:
    """The value's k bit positions, DISTINCT (two hash functions may
    collide on a bit; membership needs the set, not the multiset)."""
    bits = ", ".join(_bloom_bit_sql(value_col, i, m_bits) for i in range(k))
    return f"array_distinct(array({bits}))"


def bloom_rollup(
    long_form: DataFrame,
    fine_ticks: int = 64,
    factor: int = 15,
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Mergeable Bloom-filter tier (Bloom 1970, "Space/time trade-offs
    in hash coding with allowable errors") — the MEMBERSHIP summary
    completing the sketch family (HLL = how many distinct, MG/Count-Min
    = how often, Bloom = is it there at all): per (series, coarse
    bucket) an ``m_bits``-bit filter of the values present, stored
    SPARSE as set-bit rows ``(doc_id, bucket, bit)`` (absent bits are
    zero). This is the 100-TB decontamination/membership primitive: a
    bounded filter per partition broadcasts where the value set itself
    cannot.

    Fine tier: each value sets its ``k`` bits
    (``bit_i = md5(value || '|b' || i) % m_bits``); coarse tier: the
    UNION of the fine tiers' bit sets — a Bloom filter of a union of
    sets IS the OR of their filters, so the tier is a commutative
    idempotent monoid and composition is exact by construction (pinned
    by test anyway, merge == direct). Membership via
    :func:`bloom_contains`: no false negatives ever (deterministic
    side, pinned); false-positive rate ~ (1 - e^{-kn/m})^k
    (probabilistic side).

    Scale: the filter is at most ``m_bits`` rows per bucket no matter
    the value domain or count — two DISTINCT hash aggregates (map-side
    partial dedup) over bounded keys; nothing grows with NDV. Zero
    UDF, zero window."""
    if m_bits < 1 or k < 1:
        raise ValueError(f"m_bits/k must be >= 1, got {m_bits}/{k}")
    fine = (
        long_form.select(
            "doc_id",
            (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
            F.explode(F.expr(_bloom_bits_expr("value", k, m_bits))).alias(
                "bit"
            ),
        )
        .distinct()
    )
    return (
        fine.select(
            "doc_id",
            (F.col("fbucket") / factor).cast("long").alias("bucket"),
            "bit",
        )
        .distinct()
    )


def bloom_contains(
    bloom: DataFrame,
    candidates: DataFrame,
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Membership probes against a :func:`bloom_rollup` filter: for
    each candidate ``(doc_id, bucket, value)`` row, ``maybe`` = every
    one of the value's (distinct) bits is set in the bucket's filter.
    The Bloom guarantee (deterministic side, pinned by test): a value
    that WAS in the bucket always probes ``maybe = true`` — the filter
    can only over-admit, never miss. Extra candidate columns pass
    through; ``n_bits``/``n_hit`` are carried so the probe arithmetic
    is visible in the rows.

    The probe is an equi-join on (doc_id, bucket, bit) against the
    bounded sparse filter; an unset bit simply finds no row."""
    cand = candidates.select(
        "*",
        F.posexplode(
            F.expr(_bloom_bits_expr("value", k, m_bits))
        ).alias("_bp", "bit"),
    ).drop("_bp")
    hit = bloom.withColumn("_hit", F.lit(1))
    joined = cand.join(hit, ["doc_id", "bucket", "bit"], "left")
    return (
        joined.groupBy(*candidates.columns)
        .agg(
            F.count("*").cast("long").alias("n_bits"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn("maybe", F.col("n_hit") == F.col("n_bits"))
    )

# ------------------------------------------------------- KMV tier

KMV_K = 256
# 60-bit md5 hash space (first 15 hex digits), shared with the Bloom
# and Count-Min families; M is a power of two so h/M divides exactly
# in IEEE double and the estimator is bit-reproducible by any twin.
KMV_M = 1 << 60

KMV_HASH_SQL = (
    "CAST(conv(substr(md5(CAST({v} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
)

# Beyer et al. 2007 ("On synopses for distinct-value estimation under
# multiset operations"): with the k-th smallest of n >= k distinct
# uniform hashes at h_(k), the unbiased basic estimator is
# (k-1) / (h_(k) / M). Shared verbatim with the Python twin — the only
# rounding is the correctly-rounded int->double of h_(k).
KMV_EST_SQL = (
    "CASE WHEN size({a}) < {k} THEN CAST(size({a}) AS DOUBLE)"
    " ELSE CAST({k} - 1 AS DOUBLE)"
    " / (CAST(element_at({a}, {k}) AS DOUBLE) / CAST({m} AS DOUBLE)) END"
)


def kmv_agg(
    df: DataFrame, keys: list, value_col: str, k: int = KMV_K
) -> DataFrame:
    """Per-key KMV (k-minimum-values) distinct sketch: the k SMALLEST
    distinct 60-bit md5 hashes of ``value_col``, sorted ascending, plus
    the basic estimator ``ndv_est`` (EXACT when the key holds fewer
    than k distinct values — the sketch then IS the hash set, flagged
    ``exact``). KMV is the distinct sketch that supports SET
    INTERSECTIONS (Beyer et al. 2007): HLL unions only; two KMV
    sketches combine to a Jaccard/intersection estimate because the k
    smallest hashes of a union are a uniform sample of it — see
    :func:`kmv_rollup`'s merge and the pipelines' pairwise-overlap
    queries.

    Shape: dedup to (key, h) — 16-byte rows, the ONLY corpus-sized
    shuffle — then a sort-based window rank per key keeps rows 1..k.
    Spark's window sorts spill, so a 10^9-hash key sorts on disk rather
    than OOMing; when NDV per key is known to dwarf k, pre-filter
    ``h < M * (c*k) / ndv_lower_bound`` to shrink the sort input (the
    survivors still contain the k minima with probability -> 1) — the
    standard refinement, intentionally left to the caller because it
    changes no output row."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashes = df.select(
        *keys, F.expr(KMV_HASH_SQL.format(v=value_col)).alias("h")
    ).distinct()
    w = Window.partitionBy(*keys).orderBy("h")
    kmin = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("h")).alias("kmin"))
    )
    est = KMV_EST_SQL.format(a="kmin", k=k, m=KMV_M)
    return kmin.select(
        *keys, "kmin",
        F.expr(est).alias("ndv_est"),
        (F.size("kmin") < k).alias("exact"),
    )


def kmv_rollup(
    long_form: DataFrame,
    fine_ticks: int = 64,
    factor: int = 15,
    k: int = KMV_K,
) -> DataFrame:
    """Mergeable KMV distinct tier: fine tier = per (series, fine
    bucket) k-minimum hash lists, coarse tier = MERGE of the fine
    lists — union the hash sets, keep the k smallest
    (``slice(array_sort(array_distinct(flatten(...))), 1, k)``), which
    is exactly the sketch of the union (a commutative idempotent
    monoid; merge == direct pinned by test). The third distinct sketch
    in the family: exact sets when small (:func:`distinct_rollup`),
    HLL registers for pure counting (:func:`distinct_rollup_sketch`),
    KMV when downstream needs intersections too.

    Scale: after the fine dedup every row is a bounded hash list; the
    coarse merge moves <= k longs per fine bucket. Zero UDF; the one
    corpus-sized stage is the fine (key, h) dedup."""
    fine = kmv_agg(
        long_form.select(
            "doc_id",
            (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
            "value",
        ),
        ["doc_id", "fbucket"], "value", k,
    )
    merged = (
        fine.groupBy(
            "doc_id",
            (F.col("fbucket") / factor).cast("long").alias("bucket"),
        )
        .agg(
            F.expr(
                f"slice(array_sort(array_distinct("
                f"flatten(collect_list(kmin)))), 1, {int(k)})"
            ).alias("kmin")
        )
    )
    est = KMV_EST_SQL.format(a="kmin", k=k, m=KMV_M)
    return merged.select(
        "doc_id", "bucket", "kmin",
        F.expr(est).alias("ndv_est"),
        (F.size("kmin") < k).alias("exact"),
    )


# ------------------------------------------------------- DDSketch tier

# gamma = 51/50 (alpha ~ 1%): EXACT RATIONAL bucket boundaries so the
# value -> bucket map is pure integer arithmetic — bit-reproducible by
# any engine and by the plain-Python twin, with no log() in sight.
DD_G_NUM = 51
DD_G_DEN = 50
DD_VMAX = 1 << 20


def dd_boundaries(vmax: int = DD_VMAX, g_num: int = DD_G_NUM,
                  g_den: int = DD_G_DEN) -> list:
    """Exact DDSketch bucket upper edges ``T[i] = floor(gamma^i)`` for
    ``gamma = g_num/g_den``, computed with Python big-int rationals
    (``51**i // 50**i`` — never a float), extended until the edge
    covers ``vmax``. Positive bucket ``j`` (0-based) holds the integers
    ``T[j-1] < v <= T[j]`` (with ``T[-1] == 0``); consecutive equal
    edges are empty buckets that the count-based index map skips over
    naturally."""
    if vmax < 1:
        raise ValueError(f"vmax must be >= 1, got {vmax}")
    out, num, den = [], 1, 1
    while True:
        out.append(num // den)
        if out[-1] >= vmax:
            return out
        num *= g_num
        den *= g_den


def dd_index_py(v: int, bounds: list) -> int:
    """Plain-Python twin of the SQL index map: signed DDSketch bucket
    index for integer ``v`` — 0 for 0, ``+(1 + #{T < |v|})`` for
    positive, the negative mirror for negative; |v| clamps to the last
    edge (documented saturation, like the Bloom tier's fixed bits)."""
    if v == 0:
        return 0
    a = min(abs(v), bounds[-1])
    idx = 1 + sum(1 for t in bounds if t < a)
    return idx if v > 0 else -idx


def dd_bounds_py(sidx: int, bounds: list):
    """Exact integer value range ``[lo, hi]`` covered by signed bucket
    ``sidx`` — the read-off side of the index map, shared with the SQL
    expression in :func:`ddsketch_quantile`."""
    if sidx == 0:
        return 0, 0
    j = abs(sidx) - 1
    lo = (bounds[j - 1] if j > 0 else 0) + 1
    hi = bounds[j]
    return (lo, hi) if sidx > 0 else (-hi, -lo)


def _dd_sidx_sql(value_col: str, bounds: list) -> str:
    """Signed bucket index as ~a dozen codegen-able scalar ops per row
    (NOT an O(len(bounds)) higher-order filter): the float estimate
    ``ln(v)/ln(51/50)`` lands within +-1 of the true index, and FIVE
    exact integer probes of the edge array around it make the result
    exact regardless of float rounding — ``idx = start + #{probed
    T[j] < v}`` is correct because T is non-decreasing, every j < start
    has T[j] < v (start <= idx) and every j >= start + 5 has
    T[j] >= v (idx < start + 5). Bit-equal to :func:`dd_index_py` on
    every integer (pinned over the whole corpus domain in pytest)."""
    arr = f"array({', '.join(f'{int(t)}L' for t in bounds)})"
    nb = len(bounds)
    a = f"LEAST(ABS({value_col}), {int(bounds[-1])}L)"
    if nb < 5:
        # edge table too short for the 5-probe window (vmax <= ~1.08):
        # count the whole (tiny) array directly — same exact semantics
        return (
            f"CASE WHEN {value_col} = 0 THEN 0L"
            f" ELSE CAST(SIGN({value_col}) AS BIGINT)"
            f" * (1 + size(filter({arr}, t -> t < {a}))) END"
        )
    approx = f"CAST(LN({a}) / LN({DD_G_NUM} / CAST({DD_G_DEN} AS DOUBLE)) AS BIGINT)"
    start = f"GREATEST(0L, LEAST({approx} - 2L, {nb - 5}L))"
    probes = " + ".join(
        f"(CASE WHEN element_at({arr}, CAST({start} + {k + 1} AS INT))"
        f" < {a} THEN 1L ELSE 0L END)"
        for k in range(5)
    )
    return (
        f"CASE WHEN {value_col} = 0 THEN 0L"
        f" ELSE CAST(SIGN({value_col}) AS BIGINT)"
        f" * (1 + {start} + {probes}) END"
    )


def ddsketch_rollup(
    long_form: DataFrame,
    fine_ticks: int = 64,
    factor: int = 15,
    vmax: int = DD_VMAX,
) -> DataFrame:
    """Mergeable DDSketch quantile tier (Masson, Rim & Lee 2019,
    "DDSketch: a fast and fully-mergeable quantile sketch with
    relative-error guarantees") — the RELATIVE-error companion to the
    absolute-error histogram tier and the rank-error quantile summary:
    per (series, bucket) the counts of signed log-gamma buckets
    ``(doc_id, bucket, sidx, dcnt)``, gamma = 51/50 exactly (alpha ~
    1%), stored sparse. Unlike the float DDSketch, the bucket map here
    is EXACT integer arithmetic against big-int rational edges
    (:func:`dd_boundaries`), so every engine and the Python twin agree
    bit-for-bit.

    Fine tier: one count per (series, fine bucket, signed index);
    coarse tier: INDEX-WISE ADDITION of the fine grids — the sketch is
    a plain commutative monoid, composition exact by construction
    (merge == direct pinned by test). Quantile read-off via
    :func:`ddsketch_quantile`.

    Scale: state per bucket is bounded by the number of NONEMPTY
    log-buckets (<= 2 * len(bounds) + 1, ~700 for the default edge
    table — independent of n and of NDV); the pipeline is two hash
    aggregates with map-side partials, zero UDF, zero window."""
    bounds = dd_boundaries(vmax)
    fine = (
        long_form.select(
            "doc_id",
            (F.col("pos") / fine_ticks).cast("long").alias("fbucket"),
            F.expr(_dd_sidx_sql("value", bounds)).alias("sidx"),
        )
        .groupBy("doc_id", "fbucket", "sidx")
        .agg(F.count("*").cast("long").alias("dcnt"))
    )
    return (
        fine.groupBy(
            "doc_id",
            (F.col("fbucket") / factor).cast("long").alias("bucket"),
            "sidx",
        )
        .agg(F.sum("dcnt").cast("long").alias("dcnt"))
    )


def ddsketch_quantile(
    dd: DataFrame, q_num: int, q_den: int, vmax: int = DD_VMAX
) -> DataFrame:
    """Rank-``q`` read-off from a :func:`ddsketch_rollup` frame: for
    each (series, bucket), the 1-based target rank is the integer
    rational ``r = floor(q_num * (n - 1) / q_den) + 1`` (never a float
    quantile), and the answer is the unique signed log-bucket whose
    cumulative count first reaches ``r`` — found with ONE window
    cumulative sum over ``sidx`` order (sidx order IS value order) and
    the two-sided pick ``cum - dcnt < r <= cum``; no second aggregate,
    no join. Output ``(doc_id, bucket, n, rank, sidx, lo, hi)`` with
    the EXACT integer value range of the winning bucket; the DDSketch
    guarantee, pinned by test: the true r-th smallest value lies in
    ``[lo, hi]`` and ``|hi| * 50 <= |lo| * 51`` on nonzero buckets
    (the alpha relative-error bound in exact integers)."""
    from pyspark.sql import Window

    if not (0 <= q_num <= q_den) or q_den <= 0:
        raise ValueError(f"need 0 <= q_num <= q_den, got {q_num}/{q_den}")
    bounds = dd_boundaries(vmax)
    arr = f"array({', '.join(f'{int(t)}L' for t in bounds)})"
    j = "CAST(ABS(sidx) AS INT)"
    alo = f"(CASE WHEN {j} >= 2 THEN element_at({arr}, {j} - 1) ELSE 0L END + 1)"
    ahi = f"element_at({arr}, {j})"
    w = Window.partitionBy("doc_id", "bucket").orderBy("sidx")
    wall = Window.partitionBy("doc_id", "bucket")
    return (
        dd.withColumn("cum", F.sum("dcnt").over(w))
        .withColumn("n", F.sum("dcnt").over(wall))
        .withColumn(
            "rank",
            (F.lit(q_num) * (F.col("n") - 1) / F.lit(q_den))
            .cast("long") + 1,
        )
        .filter(
            (F.col("cum") >= F.col("rank"))
            & (F.col("cum") - F.col("dcnt") < F.col("rank"))
        )
        .select(
            "doc_id", "bucket", "n", "rank", "sidx",
            F.expr(
                f"CASE WHEN sidx = 0 THEN 0L WHEN sidx > 0 THEN {alo}"
                f" ELSE -{ahi} END"
            ).alias("lo"),
            F.expr(
                f"CASE WHEN sidx = 0 THEN 0L WHEN sidx > 0 THEN {ahi}"
                f" ELSE -{alo} END"
            ).alias("hi"),
        )
    )


# ------------------------------------------------------- entropy read-off

def entropy_rollup(long_form: DataFrame, bucket_ticks: int = 960) -> DataFrame:
    """Exact per-(series, bucket) Shannon entropy of the token
    distribution, ``H = ln(n) - (sum_v c_v ln c_v) / n`` (nats) — the
    information-content lens next to the NDV and heavy-hitter tiers
    (a bucket can keep its NDV while its entropy collapses onto one
    hot token; compression ratio and sample weighting follow entropy,
    not NDV). ``H = 0`` for constant buckets, ``H = ln(ndv)`` exactly
    when uniform — both pinned.

    Reproducibility: float addition is not associative, so the
    ``c ln c`` mass is a DETERMINISTIC SORTED FOLD over (value asc)
    per bucket — the engine's standard idiom (same as the seasonal
    phase means and the drift folds). The fold order is pinned; the
    individual ``ln`` evaluations are the platform's (ln is not
    IEEE-correctly-rounded, so engines may differ in the last ulp —
    the Python twin is pinned at 1e-12, the fold order bit-for-bit).
    One (series, bucket, value) count aggregate
    then one bucket-level fold; fold state is bounded by the bucket's
    NDV (<= value domain, <= bucket_ticks)."""
    counts = (
        long_form.groupBy(
            "doc_id",
            (F.col("pos") / bucket_ticks).cast("long").alias("bucket"),
            "value",
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        counts.groupBy("doc_id", "bucket")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("ndv"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(value, c))),"
                " CAST(0.0 AS DOUBLE),"
                " (acc, e) -> acc + CAST(e.c AS DOUBLE) * ln(CAST(e.c AS DOUBLE)))"
            ).alias("_clnc"),
        )
        .select(
            "doc_id", "bucket", "n", "ndv",
            (F.log(F.col("n").cast("double"))
             - F.col("_clnc") / F.col("n").cast("double")).alias("entropy"),
        )
    )
