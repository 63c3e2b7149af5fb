"""Physical-plan regression guards: the properties PLANS.md documents,
asserted so they cannot silently rot — no row-at-a-time Python UDFs
anywhere, shuffle-Exchange counts within each query's designed bound,
filters pushed into the parquet scans, and the binary/token payloads
pruned out of metadata-only scans."""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

# (query, max shuffle Exchanges in the final plan). Bounds are the
# DESIGNED plan shapes (PLANS.md), not aspirations — a bump means a
# physical regression (lost broadcast, lost partitioning reuse).
EXCHANGE_BOUNDS = [
    ("rollup_raw", 1),
    ("rollup_map_raw", 1),        # zero-shuffle map path (+corpus repartition)
    ("rollup_topk_tokens", 1),
    ("rollup_topk_sketch", 2),
    ("rollup_hist_merge", 1),
    ("rollup_hist_quantile", 1),
    ("rollup_qsummary", 2),
    ("median_method", 1),
    ("ev_asof_join", 1),          # the one-shuffle as-of contract
    ("ev_minute_rollup", 1),
    ("rel_q1_pricing", 1),
    ("rel_q5_region_revenue", 1),  # all dimension joins broadcast
    ("rel_q18_volume", 1),         # one fact-side shuffle (AQE join)
    ("compress_roundtrip", 1),     # fused zero-shuffle encode path
    ("sw_stats", 1),               # map-only HOF window stats; the
                                   # one exchange is token_arrays
    ("sw_reverse", 1),             # running-sum window reuses the groupBy
                                   # partitioning; series_n broadcasts
                                   # straight from its scan
    ("rollup_retention", 3),       # one per tier branch of the union;
                                   # series_n broadcasts from its scan
    ("tx_curation_funnel", 6),     # 4 stage aggregates over checkpointed
                                   # keep-sets (was 53 when the dedup
                                   # chain unrolled per stage)
    ("sw_eh_sliding", 3),          # per-doc array rebuild + exact
                                   # window pass + audit join (co-keyed)
    ("ev_anomaly_spans", 3),       # score window + threshold ranks +
                                   # island window/agg on flagged rows
    ("det_shesd_report", 5),       # decompose window + phase/center
                                   # aggregates + median join + per-doc
                                   # array rebuild before the Arrow ESD
    ("ev_forecast_skill", 1),      # map-only Arrow pass; the one
                                   # exchange is token_arrays
    ("ann_corr_pairs", 8),         # bucket sums + profile fold + SRP
                                   # bucket agg + bucketed self-join +
                                   # pair dedup + two profile joins
    ("det_pattern_topk", 1),       # map-only Arrow FFT search; the one
                                   # exchange is token_arrays
    ("det_pelt_report", 1),        # rollup agg + doc-level mean-array
                                   # fold share one doc_id shuffle
                                   # before the Arrow segmentation
    ("det_hw_error", 1),           # map-only Arrow recursion; the one
                                   # exchange is token_arrays
    ("det_spectral_residual", 1),  # map-only Arrow FFT stage; the one
                                   # exchange is token_arrays' rebuild
                                   # of (doc, tokens) rows
    ("det_cusum", 1),              # two running windows share one
                                   # (doc_id, pos) partition order
    ("pp_sax", 2),                 # segment agg + series agg, join
                                   # co-partitioned on doc_id
    ("det_matrix_profile_novelty", 3),  # equi-join of the two series
                                        # tables (+1 for the duplicate-
                                        # reference guard aggregate),
                                        # then map-only scoring
    ("tx_source_drift", 8),       # ONE corpus scan+shuffle (checkpointed
                                  # (source,word) cells shared by every
                                  # branch); the rest fold those cells
    ("mm_png_stats", 1),           # map-only Arrow decode (+ the corpus
                                   # repartition)
    ("mm_resize", 1),              # map-only Arrow decode+resize
    ("tx_split_report", 3),        # expression-only assignment + n_tok
                                   # join + per-(source,split) rollup
    ("mm_jpeg_stats", 1),          # map-only Arrow decode
    ("mm_wav_stats", 1),           # map-only Arrow decode
    ("mm_wav_energy", 1),          # map-only Arrow decode
    ("mm_avi_stats", 1),           # map-only Arrow decode
    ("mm_avi_motion", 1),          # map-only Arrow decode
    ("mm_wav_zcr", 1),             # map-only Arrow decode
    ("tx_pii_redact", 1),          # expression-only map stage (+ the
                                   # corpus repartition), zero Python
    ("mm_curation_funnel", 5),     # corpus repartition + 3 doc_id join
                                   # shuffles + per-source rollup
    ("tx_bigram_fluency", 10),     # bigram/unigram aggs + keyed joins +
                                   # per-doc fold; V broadcasts
    ("tx_substring_spans", 14),    # substring_dedup's DAG + ONE window
                                   # over the bounded interval table
    ("dd_semdedup", 1),            # ONE shuffle on cell; assignment and
                                   # per-cluster pruning are Arrow stages
    ("tx_dsir_select", 10),        # hashed-bucket model aggs (bounded
                                   # key space) + broadcast llr join +
                                   # per-doc fold + top-k heap
    ("tx_kn_fluency", 14),         # bigram + 3 model-table aggs + keyed
                                   # joins + per-doc fold; N1++ broadcasts
    ("tx_quality_classifier", 6),  # SCORING plan only (training is an
                                   # action at construction): feature agg
                                   # + L1-total join + broadcast w join +
                                   # per-doc fold
    ("ann_kcenter_coreset", 1),    # assignment plan: broadcast k centers
                                   # + ONE min_by aggregate (selection is
                                   # an action at construction)
    ("tok_unigram_model", 1),      # unit-table frame (training is an
                                   # action at construction)
    ("tok_unigram_encode", 1),     # map-only Arrow Viterbi (+ corpus
                                   # repartition)
    ("pp_lttb", 1),                # ONE doc_id shuffle into the
                                   # per-series Arrow kernel
    ("pp_m4", 1),                  # ONE partial+final struct-min/max
                                   # hash aggregate
    ("tok_wp_merges", 1),          # local 8-row model table (training
                                   # is an action at construction)
    ("tok_wp_encode", 1),          # map-only Arrow maximal munch
                                   # (+ corpus repartition)
    ("tok_vocab_growth", 1),       # local ladder frame (aggregates are
                                   # an action at construction)
    ("tok_zipf_fit", 1),           # local one-row frame (heap collect
                                   # at construction)
    ("tok_swap_report", 6),        # 3 encode legs + 3 doc_id joins +
                                   # union + per-(source,tok) rollup;
                                   # model tables broadcast
    ("tok_fertility", 3),          # encode stage + source join +
                                   # per-source rollup
    ("tx_hard_negatives", 15),     # bm25_topk's 13-exchange DAG + the
                                   # two embedding hash joins on the
                                   # n_queries x k key set
    ("rollup_cms_estimate", 2),    # fine+coarse sketch aggregates fold
                                   # into one shuffle; candidate probe
                                   # joins the bounded grid
    ("rollup_bloom_contains", 4),  # fine+coarse distinct bit sets +
                                   # top-3 probe window + the probe
                                   # join/group over the bounded filter
    ("rollup_kmv_ndv", 5),         # (key, h) dedup + rank window +
                                   # coarse union-take-k + the exact-
                                   # NDV tier's dedup/join (co-keyed)
    ("rollup_entropy", 2),         # value-count agg + bucket-level
                                   # sorted fold
    ("rollup_dd_quantile", 3),     # fine+coarse log-bucket aggregates
                                   # fold + read-off window + the
                                   # co-keyed sorted-array audit join
    ("tx_vocab_overlap", 2),       # pairwise join broadcasts bounded
                                   # hash lists; the ONE checkpointed
                                   # sketch stage (dedup + rank window)
                                   # runs once, shared by both sides
    ("tx_quota_sample", 3),        # md5-rank window + taken rollup over
                                   # the checkpointed metadata frame;
                                   # quota model frame checkpointed too
    ("tok_oov_ladder", 3),         # global-rank fold of the checkpointed
                                   # (source, token) cells + broadcast
                                   # rank join + ONE stacked ladder agg
    ("tx_length_drift", 4),        # length-cell grid (bounded by max
                                   # doc length) + per-source step-carry
                                   # + corpus-CDF window + per-source max
    ("tx_mix_plan", 3),            # |sources|-row frames only: one
                                   # sorted watermark fold + broadcast
                                   # back over the checkpointed mix
    ("tx_split_contam", 7),        # two gram-set distincts + per-doc +
                                   # per-split rollups; the held-out
                                   # vocabulary broadcasts both ways —
                                   # train grams never shuffle
    ("tx_temp_mix", 5),            # doc_id mass join + bounded source
                                   # agg + 1-row sorted-fold normalizer
    ("tx_gopher_rep", 4),          # one (doc, n, gram-hash) aggregate +
                                   # per-(doc, n) and per-doc rollups;
                                   # gram text never shuffles
    ("tok_epoch_order", 5),        # packing group shuffle + id join +
                                   # bin aggregate + the one range-
                                   # partitioned key sort
    ("ev_counter_agg", 1),         # lag window + per-type agg share one
                                   # event_type hash partitioning
    ("ev_counter_1h", 1),          # (type, bucket) agg reuses the
                                   # window's type partitioning (hash-
                                   # on-subset satisfies the clustering)
    ("ev_time_weight", 1),         # lead window + per-type decimal agg
                                   # on one partitioning
    ("ann_dtw_topk", 4),           # token_arrays repartition + query
                                   # TakeOrdered + the two bounded
                                   # (qid) rank windows; the LB stage
                                   # itself is a broadcast map pass
    ("pp_acf", 1),                 # all 8 leads in ONE (doc_id, pos)
                                   # window pass; the per-doc moment
                                   # agg and the stack unpivot reuse
                                   # that partitioning
    ("pp_ljungbox", 1),            # the same shared moments stage;
                                   # Q is a map-side expression
    ("pp_trend", 1),               # one per-doc moment aggregate on
                                   # the corpus partitioning
    ("pp_pacf", 1),                # shared moments stage + map-side
                                   # Arrow Durbin-Levinson
    ("ev_leadlag", 12),            # cnts/bounds/distinct aggs, the two
                                   # grid joins and the tiny per-pair
                                   # rank window — all over the bounded
                                   # |types| x span grid, never the raw
                                   # events beyond the first agg
    ("rel_q6_forecast", 1),        # pure pushdown scan + 1-row agg
    ("rel_q4_priority", 1),        # broadcast LEFT SEMI + 5-group agg
    ("rel_q8_share", 3),           # lineitem<->orders shuffle + year agg
                                   # (+AQE read); all dims broadcast
    ("rel_q14_promo", 1),          # broadcast part probe + 1-row agg
    ("rel_q15_top_supplier", 1),   # ONE per-supplier agg (checkpointed
                                   # view shared by MAX and probe)
    ("rel_q17_small_qty", 2),      # per-part stats agg + co-keyed
                                   # self-join; brand keys broadcast
    ("rel_q19_disjunct", 1),       # broadcast part probe + 1-row agg
    ("rel_q22_no_orders", 2),      # anti-join shuffle + segment agg
    ("ev_funnel", 4),              # three per-step user_id aggregates
                                   # (checkpointed chain) + 1-row KPI
    ("ev_cohort", 3),              # cohort map + distinct activity +
                                   # days²-bounded cell aggregate
    ("ev_transitions", 2),         # user lag window + pair aggregate;
                                   # rank runs on |types|² checkpointed
    ("pp_periodogram", 2),         # token-array rebuild + corpus
                                   # repartition; FFT stage is map-only
    ("pp_strength", 4),            # decompose's 3 (window + phase +
                                   # center aggs) + ONE more doc-keyed
                                   # six-fold variance aggregate
    ("pp_asap", 2),                # token-array rebuild + corpus
                                   # repartition; grid search map-only
    ("pp_robust_trend", 2),        # token-array rebuild + corpus
                                   # repartition; pairwise blocks map-only
    ("ev_sliding_users", 3),       # pair dedup + fan-out dedup + per-
                                   # window count; active set broadcast
    ("pp_seasonal_bands", 1),      # ONE (doc_id, phase) hash aggregate
    ("ann_centroid_drift", 6),     # (label,idx) cells + global + label
                                   # folds + counts; joins broadcast
    ("ann_silhouette", 5),         # centroid cells + label arrays +
                                   # counts + per-vec min + label fold;
                                   # scoring is a broadcast map pass
    ("ev_interarrival", 1),        # lag window + per-type agg share
                                   # one event_type partitioning
    ("tx_novelty_curve", 4),       # gram MIN(doc) agg + index join +
                                   # per-doc rollup (inverted index)
    ("rel_month_share", 2),        # month-grid agg + one status
                                   # partitioning for both windows
    ("mm_wav_spectral", 1),        # map-only Arrow decode+FFT
    ("tx_lz_complexity", 1),       # map-only Arrow LZ78 parse (+ the
                                   # corpus repartition)
    ("ev_rolling_corr", 9),        # minute agg + checkpointed dense
                                   # grid + type window + pair window +
                                   # three idx-keyed joins
    ("tx_collocations", 8),        # bigram + unigram + total aggs,
                                   # broadcast joins, TakeOrdered top-k
    ("det_mad_zscore", 4),         # two doc-keyed median aggregates +
                                   # two co-keyed joins
    ("mm_dhash_neardup", 3),       # banded bucket join + pair distinct
                                   # over the checkpointed hash frame
]


def test_source_drift_no_vocab_grid(spark):
    """The scale-safety contract of the r5 source_drift rewrite: no
    |sources|x|vocab| grid (the vocab side is never under a nested-loop
    join — the only cross joins broadcast the 1-row grand scalar), no
    corpus re-scan per branch (the (source, word) cell table is
    checkpointed once), and absent cells never materialize (present
    cells enter an INNER join, never a right/outer over vocab)."""
    df = E.queries()["tx_source_drift"](spark, SF_DIR)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    # every BroadcastNestedLoopJoin is a scalar cross join (grand):
    # the vocab table reaches the plan only through hash joins.
    assert len(re.findall(r"BroadcastNestedLoopJoin", tree)) <= 2
    assert "Outer" not in tree  # no absent-cell (outer-join) expansion
    # single materialized cell table, zero parquet re-scans per branch
    assert len(re.findall(r"Scan parquet", tree)) == 0


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# query name -> its cold-cache plan, as test_exchange_bound built it;
# test_no_row_python_udf_anywhere inspects these instead of planning
# the same queries a second time.
_COLD_PLANS = {}


@pytest.mark.parametrize("name,bound", EXCHANGE_BOUNDS)
def test_exchange_bound(spark, name, bound):
    # cold-cache plan, exactly how scripts/plan_audit.py measures: a
    # cache left materialized by an EARLIER test whose subtree matches
    # this query (e.g. the dtw z-norm stage) would otherwise swap in an
    # InMemoryRelation whose displayed child inflates the count
    # order-dependently
    spark.catalog.clearCache()
    plan = _COLD_PLANS[name] = _plan(E.queries()[name](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    n_ex = len(re.findall(r"\bExchange\b", tree))
    assert n_ex <= bound, f"{name}: {n_ex} exchanges > designed {bound}\n{tree}"


def test_no_row_python_udf_anywhere(spark):
    """Every Python stage must be Arrow-vectorized (MapInArrow /
    MapInPandas / FlatMapGroupsInPandas) — BatchEvalPython (row-at-a-
    time pickling) is banned from the whole query surface. The ban is
    only meaningful if it actually inspects the surface, so every query
    must plan (a build error in one query must not silently exempt it).
    A query whose cold plan test_exchange_bound already built is checked
    on that plan."""
    offenders, checked = [], 0
    for name, fn in E.queries().items():
        try:
            plan = _COLD_PLANS.get(name) or _plan(fn(spark, SF_DIR))
        except Exception:  # noqa: BLE001 — plan-ability itself is
            continue       # covered by the correctness tests
        checked += 1
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-Python UDF stages in: {offenders}"
    assert checked == len(E.queries()), f"ban inspected only {checked} plans"


def test_filters_and_pruning_reach_scans(spark):
    # Q1's DATE COMPARISON (not merely IsNotNull) is pushed into the
    # lineitem scan — unix_micros(CAST(...)) forms silently lose this
    plan = _plan(E.queries()["rel_q1_pricing"](spark, SF_DIR))
    assert re.search(
        r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", plan
    ), plan[:2000]
    # Q10's order-date range pushes both bounds into the orders scan
    plan = _plan(E.queries()["rel_q10_returns"](spark, SF_DIR))
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan
    ) and re.search(r"LessThan\(o_orderdate", plan), plan[:2000]
    # Q6 is NOTHING BUT pushdown: date range, discount band and
    # quantity cap must all reach the lineitem scan (the discount/
    # quantity bounds arrive as GreaterThan/LessThan on the raw
    # doubles — the floor(*100) integer forms are evaluated post-scan,
    # but Catalyst derives the raw-column range predicates)
    plan = _plan(E.queries()["rel_q6_forecast"](spark, SF_DIR))
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan
    ) and re.search(r"LessThan\(l_shipdate", plan), plan[:2000]
    # metadata-only multimodal query never reads the binary payload
    plan = _plan(E.queries()["mm_frame_sample"](spark, SF_DIR))
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and all("payload" not in cols for cols in m)
