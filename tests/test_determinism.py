"""Partition-order determinism: every oracle-verified query must produce
BIT-IDENTICAL results regardless of parallelism/partitioning — the
property that makes the driver's value-hash comparison (and any
exactly-once production contract) meaningful. Catches float-sum
order-sensitivity and nondeterministic tie-breaks.

One representative per query family (full sweep lives in the parity
suite; this test varies the execution environment instead).
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

FAMILIES = [
    "rollup_1h",          # partial+final tier composition
    "rollup_map_raw",     # Arrow kernel path
    "pp_robust_scale",    # exact percentiles
    "th_contamination",   # order statistics + interpolation
    "ev_auc_pr",          # float trapezoid accumulation (the risky one)
    "ev_auc_roc",         # rank statistics with ties
    "dd_minhash",         # hashing pipeline
    "ann_cosine_topk",    # ranking with ties
    "sw_reverse",         # prefix-sum arrays
    "ev_best_fbeta",      # all-threshold sweep + float metric max
    "det_baseline_random",  # coordinate-seeded RNG must ignore partitioning
    "dd_embed_neardup",   # LSH candidate generation + cosine threshold
    "ev_sessionize",      # lag-gap + cumulative session ids
    "ev_best_pa_f1",      # run-max contributions + RANGE-frame cumulative
    "dd_dup_clusters",    # iterative min-label propagation to fixpoint
    "rollup_topk_tokens",  # rank window with (cnt DESC, value ASC) tie-break
    "rollup_topk_sketch",  # MG truncation thresholds from rank windows
    "rollup_hist_quantile",  # window cumsum + first-bin-reaching-rank
    "ev_asof_skew",       # two-level scan-carry across bucket boundaries
    "rel_q18_volume",     # filter-on-aggregate + top-N tie-break
    "pp_lttb",            # sequential per-series integer-area argmax
    "pp_m4",              # struct-min/max lexicographic tie rules
    "tok_wp_merges",      # exact rational argmax over a double-ranked
                          # candidate window
    "tx_split_report",    # md5 cumulative-range assignment
    "mm_resize",          # decode + floor-index-map resize
    "tx_temp_mix",        # sorted-source float fold + sqrt normalizer
    "tx_gopher_rep",      # top-gram max(struct) total tie order
    "tok_epoch_order",    # global md5-key sort + dense row_number
    "rollup_bloom_contains",  # md5 bit family + distinct bit unions
    "rollup_kmv_ndv",     # union-take-k hash lists + int->double
                          # estimator divides
    "rollup_dd_quantile",  # window cumsum + rank-bucket pick + exact
                          # rank audit join
    "tx_vocab_overlap",   # pairwise sketch combine (array ops on
                          # bounded hash lists)
    "tx_quota_sample",    # md5-rank selection must ignore partitioning
    "tok_oov_ladder",     # global vocab rank (cnt DESC, value ASC) +
                          # stacked conditional sums
    "dd_canonical",       # per-cluster (quality DESC, doc_id ASC)
                          # keep selection
    "tok_roundtrip",      # Arrow merge replay + expression decode
    "tx_length_drift",    # integer KS cross-difference max over the
                          # dense length grid
    "tx_mix_plan",        # sorted watermark fold + shared float formula
    "det_spectral_residual",  # per-series FFT map must ignore
                          # partitioning
    "det_shesd_report",   # sorted decompose folds + lowest-index tie
                          # break in the ESD sweep
    "ev_anomaly_spans",   # islands over flagged positions + span aggs
    "sw_eh_sliding",      # sequential DGIM replay per series
    "det_hw_error",       # sequential HW recursion per series
    "det_pelt_report",    # pruned DP argmin per series
    "det_pattern_topk",   # lexsort tie order + greedy exclusion
    "ann_corr_pairs",     # SRP buckets + exact integer cosine filter
    "ev_forecast_skill",  # per-series HW recursion + mean folds
    "rollup_entropy",     # sorted c*ln(c) fold per bucket
    "ev_counter_1h",      # lag-step bucket attribution across the
                          # window/groupBy partitioning reuse
    "ev_time_weight",     # decimal integral sums + one float divide
    "ann_dtw_topk",       # ordered PAA/z-norm/LB folds + sequential DP
                          # + (lb, doc_id)/(dtw, doc_id) tie-breaks
    "ev_leadlag",         # integer moments on the zero-filled grid +
                          # (corr DESC, |lag|, lag) winner per pair
    "pp_acf",             # int64 lead moments + one divide per lag
    "pp_ljungbox",        # same moments + explicit left-assoc Q sum
    "pp_trend",           # int64 OLS moments, fixed float shapes
    "pp_pacf",            # exact-acf inputs + sequential DL recursion
]


def _fingerprint(df):
    cols = [F.col(c) for c in df.columns]
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).collect()[0]


@pytest.mark.parametrize("name", FAMILIES)
def test_result_invariant_under_partitioning(spark, name):
    fn = E.queries()[name]
    base = _fingerprint(fn(spark, SF_DIR))
    shuffled = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        alt = _fingerprint(fn(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffled)
    assert base["n"] == alt["n"]
    assert base["h"] == alt["h"], f"{name}: result depends on partitioning"


AQE_FAMILIES = [
    "rollup_1h", "rollup_qsummary", "rollup_topk_sketch",
    "ev_asof_join", "rel_q18_volume",
]


@pytest.mark.parametrize("name", AQE_FAMILIES)
def test_result_invariant_under_aqe_toggle(spark, name):
    """AQE re-plans (coalesced partitions, demoted broadcasts) must not
    change any result — catches accidental dependence on the physical
    partition layout that the shuffle-count toggle alone can miss."""
    fn = E.queries()[name]
    cur = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        on = _fingerprint(fn(spark, SF_DIR))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off = _fingerprint(fn(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", cur)
    assert on["n"] == off["n"] and on["h"] == off["h"], name
