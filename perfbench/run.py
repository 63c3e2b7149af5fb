"""perfbench: the rollup engine's benchmark.

    python3 perfbench/run.py --workload tier_ingest --seed 1 --seconds 12 --trace 0

Runs one workload on ``local[nproc]`` from this single driver process,
checks every operation against an independent NumPy oracle, prints a
readable report, and as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans and reports the
per-layer metrics instead (see perfbench/README.md).

The benchmark reads and writes only inside the checkout it runs from:
each run works in a fresh ``.perfbench/work-<pid>/`` directory at the
repository root (corpus, stores, Spark local dirs, TMPDIR) and deletes it
when it ends. A traced run leaves its spans in
``.perfbench/trace-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import measure as M
import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(ROOT, ".perfbench")

# Metric name -> unit; README.md says what each metric means.
END_TO_END = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "store_bytes_per_point": "B/point",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "sources.generate_s": "s",
    "sources.scan_s": "s",
    "sources.bytes": "B",
    "sources.tokens": "count",
    "kernels.stats.points_per_s_1t": "points/s",
    "rollup.tiers.map_s": "s",
    "rollup.tiers.points_raw": "count",
    "rollup.tiers.points_1m": "count",
    "rollup.tiers.points_1h": "count",
    "rollup.tiers.gap_fill_s": "s",
    "rollup.tiers.apply_retention_s": "s",
    "streaming.incremental.run_s": "s",
    "streaming.incremental.write_s": "s",
    "streaming.incremental.commits": "count",
    "streaming.incremental.files_written": "count",
    "streaming.incremental.bytes_written": "B",
    "streaming.incremental.read_store_s": "s",
    "rollup.compress.map_s": "s",
    "rollup.compress.decompress_s": "s",
    "kernels.codec.encode_points_per_s_1t": "points/s",
    "kernels.codec.decode_points_per_s_1t": "points/s",
    "kernels.codec.enc_bytes_per_point.raw": "B/point",
    "kernels.codec.enc_bytes_per_point.1m": "B/point",
    "kernels.codec.enc_bytes_per_point.1h": "B/point",
    "operators.windows.sliding_stats_s": "s",
    "operators.windows.windows": "count",
    "operators.windows.reverse_scores_s": "s",
    "operators.detectors.matrix_profile_s": "s",
    "kernels.detectors.points_per_s_1t": "points/s",
    "operators.evaluation.auc_roc_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.exchanges": "count",
    "trace.overhead_ratio": "ratio",
}

# Operations one call of a workload stands for, counted as failed when
# the call raises.
OPS_PER_CALL = {"tier_ingest": W.N_BATCHES, "tier_query": 3}

# The store each workload writes, as recorded in ``Bench.last``.
STORE_OF = {"tier_ingest": "tier_store", "compressed_ingest": "compressed_store"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring time; BENCHMARK.json fixes it as run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def clear_stale_work() -> None:
    """Remove scratch directories of earlier runs that no longer exist,
    so a killed run does not leave disk use growing."""
    for name in os.listdir(BASE):
        if not name.startswith("work-"):
            continue
        try:
            os.kill(int(name[5:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(BASE, name), ignore_errors=True)
        except PermissionError:
            pass


def git_head() -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(spark, cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "git_head": git_head(),
    }


def call(bench: W.Bench, workload: str, tracer) -> W.OpResult:
    """One operation of ``workload``. An operation that raises counts as
    failed, with its traceback among the problems, and the run goes on."""
    t0 = time.perf_counter()
    try:
        return bench.op(workload)(tracer)
    except Exception:
        n = OPS_PER_CALL.get(workload, 1)
        bench.count(n, [f"{workload} raised: {traceback.format_exc()}"])
        return W.OpResult(time.perf_counter() - t0, 0, True)


def measure_loop(bench: W.Bench, workload: str, seconds: float, traced: bool,
                 mem: M.MemorySampler):
    """Warm up, then run operations back to back for ``seconds`` (at
    least MIN_OPS): a closed loop with one client. In a traced run every
    other operation is traced, so the two halves give the tracing
    overhead. Returns the operations and the peak memory during each."""
    with bench.job_group("perfbench-warmup"):
        until = time.perf_counter() + W.WARMUP_S
        n = 0
        while n < W.WARMUP_OPS or time.perf_counter() < until:
            call(bench, workload, M.NullTracer())
            n += 1
    plain, with_spans = [], []
    group = f"perfbench-{workload}"
    peaks = []
    mem.take_peak()
    deadline = time.perf_counter() + seconds
    with bench.job_group(group), bench.tracer.span("measure"):
        while time.perf_counter() < deadline or len(plain) + len(with_spans) < W.MIN_OPS:
            use_spans = traced and len(with_spans) <= len(plain)
            r = call(bench, workload, bench.tracer if use_spans else M.NullTracer())
            (with_spans if use_spans else plain).append(r)
            peaks.append(mem.take_peak())
    return plain, with_spans, group, peaks


def end_to_end(bench: W.Bench, workload: str, ops, setup_s: float, peaks) -> dict:
    # Failed operations are reported through the JSON line's ``failed``
    # count; the timings are those of the operations as measured. Memory
    # is the median over operations of the peak during each.
    return {
        "setup_s": setup_s,
        "points_per_s": statistics.median(r.points / r.latency for r in ops),
        "store_bytes_per_point": M.bytes_per_point(
            bench.last[STORE_OF[workload]]["bytes"], bench.n_points),
        "peak_rss_mb": statistics.median(peaks) / 2**20,
    }


# Per-layer timings: metric -> the span whose median duration it reports.
TIMED_LAYERS = {
    "session.start_s": "session.start",
    "session.worker_warm_s": "session.worker_warm",
    "sources.generate_s": "sources.generate",
    "sources.scan_s": "sources.scan",
    "rollup.tiers.map_s": "rollup.tiers.map",
    "rollup.tiers.gap_fill_s": "rollup.tiers.gap_fill",
    "rollup.tiers.apply_retention_s": "rollup.tiers.apply_retention",
    "streaming.incremental.run_s": "streaming.incremental.run",
    "streaming.incremental.read_store_s": "streaming.incremental.read_store",
    "rollup.compress.map_s": "rollup.compress.map",
    "rollup.compress.decompress_s": "rollup.compress.decompress",
    "operators.windows.sliding_stats_s": "operators.windows.sliding_stats",
    "operators.windows.reverse_scores_s": "operators.windows.reverse_scores",
    "operators.detectors.matrix_profile_s": "operators.detectors.matrix_profile",
    "operators.evaluation.auc_roc_s": "operators.evaluation.auc_roc",
}

# Counts and rates: metric-name prefix -> the span that produced them.
PRODUCED_BY = {
    "sources.": "sources.generate",
    "rollup.tiers.points_": "streaming.incremental.run",
    "streaming.incremental.": "streaming.incremental.run",
    "operators.windows.windows": "operators.windows.sliding_stats",
    "kernels.stats.": "kernels.stats",
    "kernels.codec.enc_bytes": "rollup.compress.write",
    "kernels.codec.encode": "kernels.codec.encode",
    "kernels.codec.decode": "kernels.codec.decode",
    "kernels.detectors.": "kernels.detectors",
    "spark.": "measure",
    "trace.": "measure",
}


def per_layer(bench: W.Bench, plain, with_spans, group: str) -> tuple[dict, dict]:
    """Per-layer metrics from the spans of a traced run, and the parent
    span path of each."""
    t = bench.tracer

    def med(name):
        spans = t.by_name(name)
        if not spans:
            raise RuntimeError(f"no span named {name}")
        return statistics.median(s.duration for s in spans)

    out = {name: med(span) for name, span in TIMED_LAYERS.items()}
    out.update({
        "sources.bytes": bench.corpus_bytes,
        "sources.tokens": bench.n_tokens,
        "streaming.incremental.commits": bench.last["tier_store"]["commits"],
        "streaming.incremental.files_written": bench.last["tier_store"]["files"],
        "streaming.incremental.bytes_written": bench.last["tier_store"]["bytes"],
        "operators.windows.windows": bench.last["windows"],
    })
    for tier in ("raw", "1m", "1h"):
        out[f"rollup.tiers.points_{tier}"] = bench.points[tier]
        out[f"kernels.codec.enc_bytes_per_point.{tier}"] = (
            bench.last["compression_report"][tier])
    out["streaming.incremental.write_s"] = (
        out["streaming.incremental.run_s"] - out["rollup.tiers.map_s"]
    )
    out.update(bench.kernel_metrics)
    out.update(bench.spark_counts(group, len(plain) + len(with_spans)))
    out["trace.overhead_ratio"] = M.overhead_ratio(
        [r.latency for r in with_spans if not r.failed],
        [r.latency for r in plain if not r.failed],
    )
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")

    parents = {}
    for name in PER_LAYER:
        span = TIMED_LAYERS.get(name)
        if span is not None:
            parents[name] = t.path(t.by_name(span)[0]) or "-"
            continue
        owner = next(v for k, v in PRODUCED_BY.items() if name.startswith(k))
        parents[name] = "/".join(p for p in (t.path(t.by_name(owner)[0]), owner) if p)
    return {name: out[name] for name in PER_LAYER}, parents


def run(args) -> dict:
    cpus = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    tracer = M.Tracer() if traced else M.NullTracer()
    work = os.path.join(BASE, f"work-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    bench = W.Bench(work, args.seed, tracer)
    try:
        with M.MemorySampler(os.getpid()) as mem:
            try:
                bench.start_session(cpus)
                report["env"] = environment(bench.spark, cpus)
                setup_s = bench.setup(traced)
                report["setup_parts_s"] = bench.setup_parts
                load0 = os.getloadavg()[0]
                plain, with_spans, group, peaks = measure_loop(
                    bench, args.workload, args.seconds, traced, mem)
                report["loadavg_1m"] = {"start": load0, "end": os.getloadavg()[0]}
                if traced:
                    with tracer.span("pass"):
                        for other in W.OPERATIONS:
                            if other != args.workload:
                                with bench.job_group("perfbench-pass"):
                                    call(bench, other, tracer)
                    bench.probe_layers()
                    bench.kernel_metrics = bench.probe_kernels()
                    metrics, parents = per_layer(bench, plain, with_spans, group)
                    report["parents"] = parents
                query_latency = bench.last.get("query_latency")
            finally:
                bench.stop()
        if not traced:
            metrics = end_to_end(bench, args.workload, plain, setup_s, peaks)
        ops = plain + with_spans
        report["ops"] = len(ops)
        report["op_latencies"] = [r.latency for r in ops]
        report["op_latency"] = M.latency_summary(
            float("inf") if r.failed else r.latency for r in ops)
        if query_latency:
            report["query_latency"] = {
                k: M.latency_summary(v) for k, v in query_latency.items()}
        report["attempted"] = bench.attempted
        report["failed"] = bench.failed
        report["error_rate"] = bench.failed / bench.attempted
        report["problems"] = bench.problems[:20]
        report["metrics"] = metrics
        if traced:
            with open(os.path.join(BASE, f"trace-{args.workload}.json"), "w") as f:
                json.dump({"report": report, "spans": tracer.to_json()}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report


def fmt_latency(s: dict) -> str:
    tail = (f"p{s['tail_p']:g}={s['tail']:.4f}s" if s["tail_p"]
            else "(too few samples for a tail percentile)")
    return f"p50={s['p50']:.4f}s n={s['n']} {tail}"


def print_report(report: dict) -> None:
    traced = report["trace"] == 1
    print(f"perfbench {report['workload']} seed={report['seed']} "
          f"{'traced' if traced else 'untraced'} ops={report['ops']} "
          f"attempted={report['attempted']} failed={report['failed']} "
          f"error_rate={report['error_rate']:.4g} loadavg_1m={report['loadavg_1m']}")
    print("env " + json.dumps(report["env"]))
    print("setup parts (s): " + json.dumps(report["setup_parts_s"]))
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in report["op_latencies"]))
    print("op latency: " + fmt_latency(report["op_latency"]))
    for kind, s in report.get("query_latency", {}).items():
        print(f"  {kind}: {fmt_latency(s)}")
    units = END_TO_END if not traced else PER_LAYER
    for name, value in report["metrics"].items():
        parent = report.get("parents", {}).get(name)
        print(f"  {name:45s} {value:>16.6g} {units[name]:9s}"
              + (f" parent={parent}" if parent else ""))
    for p in report["problems"]:
        print("problem: " + p)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dtaianomaly_spark")):
        print(f"perfbench: no dtaianomaly_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(BASE, exist_ok=True)
    clear_stale_work()
    report = run(args)
    print_report(report)
    units = END_TO_END if not args.trace else PER_LAYER
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {name: {"value": value, "unit": units[name]}
                    for name, value in report["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
