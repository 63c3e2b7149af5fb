"""Unit tests for perfbench's own helpers; they need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import measure as M
import oracle as O
import run as R
import workloads as W


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


# ------------------------------------------------ percentile with sample count


@pytest.mark.parametrize("n, want", [
    (0, None), (9, None), (39, None), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_supported_percentile_needs_ten_samples_beyond(n, want):
    assert M.supported_percentile(n) == want


def test_latency_summary_reports_count_and_supported_tail():
    small = M.latency_summary([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0, "tail_p": None, "tail": None}
    xs = [float(i) for i in range(100)]
    big = M.latency_summary(xs)
    assert (big["n"], big["p50"], big["tail_p"]) == (100, 49.5, 90.0)
    assert big["tail"] == pytest.approx(89.1)


def test_percentile_interpolates_and_rejects_empty():
    assert M.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert M.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        M.percentile([], 50)


# ------------------------------------------------------------ span self time


def test_self_time_subtracts_the_union_of_children():
    clock = FakeClock()
    t = M.Tracer(clock)
    with t.span("root") as root:
        clock.now = 1.0
        with t.span("a"):
            clock.now = 3.0
        with t.span("b"):
            clock.now = 4.0
        clock.now = 10.0
    assert root.duration == 10.0
    assert t.self_time(root) == 7.0
    assert [s.name for s in t.children(root.id)] == ["a", "b"]
    assert t.path(t.by_name("b")[0]) == "root"


def test_self_time_counts_overlapping_children_once():
    t = M.Tracer()
    root = M.Span(0, "root", None, 0.0, 10.0)
    t.spans = [root, M.Span(1, "a", 0, 1.0, 5.0), M.Span(2, "b", 0, 4.0, 6.0),
               M.Span(3, "c", 0, 9.0, 12.0)]
    # children cover [1, 6] and [9, 10] of the root's interval
    assert t.self_time(root) == pytest.approx(4.0)


def test_tracer_json_has_name_start_end_parent_and_self_time():
    clock = FakeClock()
    t = M.Tracer(clock)
    with t.span("outer"):
        with t.span("inner"):
            clock.now = 2.0
    spans = {s["name"]: s for s in t.to_json()}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    assert spans["outer"]["self_s"] == 0.0
    assert spans["inner"]["end"] - spans["inner"]["start"] == 2.0


# ------------------------------------------------------------ bytes per point


def test_bytes_per_point():
    assert M.bytes_per_point(300, 100) == 3.0
    with pytest.raises(ValueError):
        M.bytes_per_point(10, 0)
    with pytest.raises(ValueError):
        M.bytes_per_point(-1, 10)


def test_dir_usage_counts_all_bytes_and_parquet_files(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x" * 10)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.parquet").write_bytes(b"x" * 5)
    (tmp_path / "_SUCCESS").write_bytes(b"ok")
    assert M.dir_usage(str(tmp_path)) == (17, 2)


def test_overhead_ratio():
    assert M.overhead_ratio([2.2, 2.0, 2.4], [2.0, 1.0, 3.0]) == pytest.approx(1.1)


# -------------------------------------------------------------------- plans


def test_count_exchanges_reads_only_the_final_adaptive_plan():
    plan = (
        "AdaptiveSparkPlan (9)\n"
        "+- == Final Plan ==\n"
        "   +- ShuffleQueryStage (4)\n"
        "      +- Exchange (3)\n"
        "+- == Initial Plan ==\n"
        "   +- Exchange (7)\n"
        "   +- BroadcastExchange (8)\n"
        "\n\n(1) Scan parquet\nExchange (3) details"
    )
    assert M.count_exchanges(plan) == 1
    assert M.count_exchanges("Project (2)\n+- Scan parquet (1)\n\n") == 0


# --------------------------------------------------------------- the oracle


def test_tier_rows_slice_buckets_and_match_expected_points():
    x = np.arange(2000, dtype=np.int32) % 97 - 40
    raw = O.tier_rows(x, "raw")
    assert len(raw) == 125
    assert raw[1]["sum"] == int(x[16:32].sum())
    assert raw[1]["first"] == int(x[16]) and raw[1]["last"] == int(x[31])
    assert O.tier_rows(x, "1m")[2]["cnt"] == 2000 - 2 * 960
    assert O.expected_points([2000, 16]) == {"raw": 126, "1m": 4, "1h": 2}


def test_window_starts_include_the_tail_window():
    assert O.window_starts(10, 64, 16) == [0]
    assert O.window_starts(100, 64, 16) == [0, 16, 32, 36]
    assert O.expected_windows([10, 100], 64, 16) == 5


def test_compare_rows_is_bitwise_on_floats():
    want = [{"bucket": 0, "mean": 0.1}]
    assert O.compare_rows("t", [{"bucket": 0, "mean": 0.1}], want, ("mean",)) == []
    got = [{"bucket": 0, "mean": np.nextafter(0.1, 1.0)}]
    assert len(O.compare_rows("t", got, want, ("mean",))) == 1
    assert len(O.compare_rows("t", [], want, ("mean",))) == 1


# ------------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_matches_the_metrics_and_workloads_reported():
    path = os.path.join(R.ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER


def test_every_per_layer_metric_has_a_parent_span():
    for name in R.PER_LAYER:
        assert name in R.TIMED_LAYERS or any(
            name.startswith(prefix) for prefix in R.PRODUCED_BY), name
