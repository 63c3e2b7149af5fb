"""The perfbench workloads, their correctness checks and the traced
per-layer probes.

Every layer is measured from outside: a span wraps a call into the
layer's public function together with the Spark action that runs that
layer's stage, because Spark plans are lazy and building a DataFrame does
no work.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

import measure as M
import oracle as O

N_SERIES = 1000        # corpus size: ~1.1 M tokens, ~72 k rolled-up points
N_BATCHES = 4          # IncrementalRollup batches (commits) per ingest
CORPUS_FILES = 8       # parquet files of the generated corpus
# Corpus generations per run. setup_s takes their median, so that one
# slow generation on a busy machine does not move it.
SETUP_REPEATS = 3
# Untimed operations before measuring, at least WARMUP_OPS and until
# WARMUP_S have passed: the JVM keeps compiling the driver's planning and
# scheduling code for several seconds, and short operations need more of
# them to get there.
WARMUP_OPS = 2
WARMUP_S = 15.0
MIN_OPS = 3            # measured operations per run, even past --seconds
QUERY_IDS = 4          # doc_ids per lookup / clookup
ORACLE_SAMPLE = 12     # seeded series checked against the NumPy oracle
MP_SHARE = 0.025       # share of series scored by the matrix profile
SS_W, SS_S = 64, 16    # sliding_stats window and stride
MP_W = 32              # matrix-profile window
CODEC_SAMPLE = 48      # series encoded by the in-process codec probe
MP_PROBE_SERIES = 8    # series scored by the in-process detector probe

# The measured workloads, each with why it is measured.
WORKLOADS = {
    "tier_ingest": "IncrementalRollup.run into a fresh parquet tier store: "
                   "scan, stats kernel, parquet writer, commit log",
    "compressed_ingest": "fused rollup_compress_map written as parquet: the "
                         "per-series Gorilla/delta-of-delta codec loop",
}

# Every operation a traced run passes through once, so that each layer
# has spans whichever workload is traced. Two are measured only here:
# tier_query (lookup through gap_fill, clookup through decompress_tiers,
# scan through apply_retention, over stores built in set-up) and
# window_detect (sliding_stats, reverse_scores, matrix_profile_scores on a
# seeded 2.5% subset, auc_roc). As workloads, on a 4-vCPU machine, they
# made a full set of runs of every workload longer than the benchmark's
# time budget, and tier_query's round of short Spark jobs varied by a
# quarter from run to run.
OPERATIONS = (*WORKLOADS, "tier_query", "window_detect")


@dataclass
class OpResult:
    latency: float
    points: int
    failed: bool


class Step:
    """Elapsed seconds of a ``with`` block, in ``.s``."""

    s: float = 0.0


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class Bench:
    """One benchmark run: a Spark session, a seeded corpus in a scratch
    directory, and the operations of every workload over it."""

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.setup_parts: dict[str, float] = {}
        self.last: dict = {}
        self._fresh = 0
        self.sample_rng = np.random.default_rng([seed, 1])
        self.query_rng = np.random.default_rng([seed, 2])
        self.subset_rng = np.random.default_rng([seed, 3])

    # ------------------------------------------------------------ plumbing

    @contextmanager
    def step(self, name: str):
        st = Step()
        with self.tracer.span(name):
            t0 = time.perf_counter()
            yield st
            st.s = time.perf_counter() - t0

    @contextmanager
    def job_group(self, group: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def fresh(self, kind: str) -> str:
        self._fresh += 1
        return os.path.join(self.work, f"{kind}-{self._fresh}")

    def count(self, attempted: int, problems: list[str], failed: int | None = None) -> bool:
        """Account ``attempted`` operations; ``failed`` of them failed
        (all of them when unspecified and there are problems)."""
        if failed is None:
            failed = attempted if problems else 0
        self.attempted += attempted
        self.failed += failed
        self.problems.extend(problems[:5])
        return failed > 0

    # ------------------------------------------------------------- set-up

    def start_session(self, cpus: int) -> None:
        spark_local = os.path.join(self.work, "spark-local")
        os.makedirs(spark_local)
        os.environ["SPARK_LOCAL_DIRS"] = spark_local
        with self.step("session.start") as st:
            from dtaianomaly_spark.session import get_spark

            self.spark = get_spark(
                app_name="perfbench", cpus=cpus,
                extra_conf={
                    "spark.driver.memory": "2g",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": spark_local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # The heap is committed and touched at its full size
                    # up front, as a deployed driver's is, so peak_rss_mb
                    # does not follow when the collector grows the heap.
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData "
                        "-Xms2g -XX:+AlwaysPreTouch",
                },
            )
        self.setup_parts["session.start"] = st.s
        with self.job_group("perfbench-setup"), self.step("session.worker_warm") as st:
            self.spark.range(2 * cpus, numPartitions=cpus).mapInArrow(
                lambda it: it, "id long"
            ).count()
        self.setup_parts["session.worker_warm"] = st.s

    def stop(self) -> None:
        """Stop Spark, end its JVM, and wait until every process the run
        started (JVM, Python daemon and workers) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        started = M.descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        M.wait_gone(started, timeout=30)

    def setup(self, traced: bool) -> float:
        """Generate the corpus SETUP_REPEATS times (keeping the last) and
        load it for the oracle; for a traced run also build the query
        stores and detection labels that the traced pass reads. Returns
        setup_s: session start + worker warm-up + median generation (+ the
        query-store build when ``traced``)."""
        from pyspark.sql import functions as F

        from dtaianomaly_spark.sources.corpus import synthetic_corpus

        gens = []
        prev = None
        with self.job_group("perfbench-setup"):
            for _ in range(SETUP_REPEATS):
                path = self.fresh("corpus")
                with self.step("sources.generate") as st:
                    synthetic_corpus(
                        self.spark, N_SERIES, seed=self.seed, partitions=CORPUS_FILES
                    ).write.parquet(path)
                gens.append(st.s)
                if prev:
                    shutil.rmtree(prev)
                prev = path
        self.corpus_path = path
        self.setup_parts["sources.generate"] = statistics.median(gens)
        self.corpus = self.spark.read.parquet(path)
        self.series_n = self.corpus.select("doc_id", F.col("n_tok").cast("long").alias("n"))
        self._load_corpus()
        if traced:
            with self.job_group("perfbench-setup"), self.step("setup.stores") as st:
                self._build_query_stores()
            self.setup_parts["setup.stores"] = st.s
            self._check_query_stores()
            self._write_truth()
        return sum(self.setup_parts.values())

    def _load_corpus(self) -> None:
        """The corpus as NumPy arrays on the driver, for the oracle."""
        tbl = ds.dataset(self.corpus_path, format="parquet").to_table(
            columns=["doc_id", "tokens"]
        )
        ids = tbl.column("doc_id").to_pylist()
        toks = tbl.column("tokens").combine_chunks()
        off = toks.offsets.to_numpy()
        vals = toks.values.to_numpy()
        self.tokens = {d: vals[off[i]:off[i + 1]] for i, d in enumerate(ids)}
        self.doc_ids = sorted(ids)
        self.lengths = [self.tokens[d].shape[0] for d in self.doc_ids]
        self.n_tokens = int(sum(self.lengths))
        self.points = O.expected_points(self.lengths)
        self.n_points = sum(self.points.values())
        self.corpus_bytes, _ = M.dir_usage(self.corpus_path)
        longest = self.doc_ids[int(np.argmax(self.lengths))]
        picked = self.sample_rng.choice(len(self.doc_ids), ORACLE_SAMPLE, replace=False)
        self.sample = sorted({self.doc_ids[i] for i in picked} | {longest})
        self._ref_tiers: dict = {}

    def ref_tier(self, doc_id: str, tier: str) -> list[dict]:
        key = (doc_id, tier)
        if key not in self._ref_tiers:
            self._ref_tiers[key] = O.tier_rows(self.tokens[doc_id], tier)
        return self._ref_tiers[key]

    def _build_query_stores(self) -> None:
        from dtaianomaly_spark.rollup.compress import rollup_compress_map
        from dtaianomaly_spark.streaming.incremental import IncrementalRollup

        self.qstore = self.fresh("query-tier-store")
        self.qinc = IncrementalRollup(self.qstore, N_BATCHES)
        self.qinc.run(self.corpus)
        self.qcstore = self.fresh("query-compressed-store")
        rollup_compress_map(self.corpus).write.parquet(self.qcstore)

    def _check_query_stores(self) -> None:
        failed = self.check_tier_store(self.qinc, self.qstore)
        self.count(N_BATCHES, self.problems_of(failed), failed=len(failed))
        self.count(1, self.check_compressed_store(self.qcstore))

    def _write_truth(self) -> None:
        import pandas as pd

        k = max(1, round(MP_SHARE * len(self.doc_ids)))
        picked = self.subset_rng.choice(len(self.doc_ids), k, replace=False)
        self.subset = sorted(self.doc_ids[i] for i in picked)
        self.truth = {d: O.spike_labels(self.tokens[d]) for d in self.subset}
        self.subset_tokens = sum(self.tokens[d].shape[0] for d in self.subset)
        pdf = pd.DataFrame({
            "doc_id": np.concatenate([np.repeat(d, self.truth[d].shape[0]) for d in self.subset]),
            "pos": np.concatenate([np.arange(self.truth[d].shape[0]) for d in self.subset]),
            "truth": np.concatenate([self.truth[d] for d in self.subset]),
        })
        path = self.fresh("truth")
        with self.job_group("perfbench-setup"):
            self.spark.createDataFrame(pdf, "doc_id string, pos long, truth int").write.parquet(path)
        self.truth_df = self.spark.read.parquet(path)

    # ------------------------------------------------------------- checks

    def problems_of(self, failed_batches: dict) -> list[str]:
        return [p for ps in failed_batches.values() for p in ps]

    def check_tier_store(self, inc, path: str) -> dict:
        """Failed batch -> problems. A store-wide fault fails every batch."""
        with self.job_group("perfbench-check"):
            committed = set(inc.committed())
        failed = {b: [f"batch {b} not committed"] for b in range(N_BATCHES) if b not in committed}
        data = ds.dataset(path, format="parquet", partitioning="hive")
        counts = data.to_table(columns=["tier"]).column("tier").value_counts().to_pylist()
        got = {c["values"]: c["counts"] for c in counts}
        if got != self.points:
            return {b: [f"tier store points {got} != expected {self.points}"]
                    for b in range(N_BATCHES)}
        rows = data.to_table(filter=pc.field("doc_id").isin(self.sample)).to_pylist()
        for doc in self.sample:
            for tier in O.TIER_TICKS:
                mine = [r for r in rows if r["doc_id"] == doc and r["tier"] == tier]
                bad = O.compare_rows(f"store {doc}/{tier}", mine, self.ref_tier(doc, tier),
                                     O.TIER_FIELDS)
                if bad:
                    batch = mine[0]["batch"] if mine else -1
                    failed.setdefault(batch, []).extend(bad)
        return failed

    def check_compressed_store(self, path: str) -> list[str]:
        from pyspark.sql import functions as F

        from dtaianomaly_spark.rollup.compress import decompress_tiers

        tbl = ds.dataset(path, format="parquet").to_table(columns=["tier", "n_points"])
        got = {t: 0 for t in O.TIER_TICKS}
        for tier, n in zip(tbl.column("tier").to_pylist(), tbl.column("n_points").to_pylist()):
            got[tier] += n
        if got != self.points:
            return [f"compressed store points {got} != expected {self.points}"]
        with self.job_group("perfbench-check"):
            rows = _rows(decompress_tiers(
                self.spark.read.parquet(path).filter(F.col("doc_id").isin(self.sample))
            ))
        problems = []
        for doc in self.sample:
            for tier in O.TIER_TICKS:
                mine = [r for r in rows if r["doc_id"] == doc and r["tier"] == tier]
                problems += O.compare_rows(f"decompressed {doc}/{tier}", mine,
                                           self.ref_tier(doc, tier), O.TIER_FIELDS)
        return problems

    # ---------------------------------------------------------- workloads

    def op_tier_ingest(self, t) -> OpResult:
        from dtaianomaly_spark.streaming.incremental import IncrementalRollup

        out = self.fresh("tier-store")
        t0 = time.perf_counter()
        with t.span("tier_ingest"), t.span("streaming.incremental.run"):
            inc = IncrementalRollup(out, N_BATCHES)
            inc.run(self.corpus)
        latency = time.perf_counter() - t0
        failed = self.check_tier_store(inc, out)
        n_bytes, n_files = M.dir_usage(out)
        self.last["tier_store"] = {"bytes": n_bytes, "files": n_files,
                                   "commits": len(inc.committed())}
        shutil.rmtree(out)
        bad = self.count(N_BATCHES, self.problems_of(failed), failed=len(failed))
        return OpResult(latency, self.n_points, bad)

    def op_compressed_ingest(self, t) -> OpResult:
        from dtaianomaly_spark.rollup.compress import rollup_compress_map

        out = self.fresh("compressed-store")
        t0 = time.perf_counter()
        with t.span("compressed_ingest"), t.span("rollup.compress.write"):
            rollup_compress_map(self.corpus).write.parquet(out)
        latency = time.perf_counter() - t0
        problems = self.check_compressed_store(out)
        n_bytes, n_files = M.dir_usage(out)
        self.last["compressed_store"] = {"bytes": n_bytes, "files": n_files}
        if self.tracer.enabled:
            self.last["compression_report"] = self._compression_report(out)
        shutil.rmtree(out)
        bad = self.count(1, problems)
        return OpResult(latency, self.n_points, bad)

    def _compression_report(self, path: str) -> dict:
        """Encoded bytes per point of each tier of a compressed store."""
        from dtaianomaly_spark.rollup.compress import compression_report

        with self.job_group("perfbench-check"):
            rep = compression_report(self.spark.read.parquet(path)).collect()
        return {r["tier"]: M.bytes_per_point(r["enc_bytes"], r["points"]) for r in rep}

    def op_tier_query(self, t) -> OpResult:
        """One round of the closed loop: a lookup, a clookup and a scan,
        each on freshly drawn doc_ids. Each counts as one operation."""
        from pyspark.sql import functions as F

        from dtaianomaly_spark.rollup.compress import decompress_tiers
        from dtaianomaly_spark.rollup.tiers import apply_retention, gap_fill

        spark = self.spark
        lat = {}
        ids = [str(d) for d in self.query_rng.choice(self.doc_ids, QUERY_IDS, replace=False)]
        pick = F.col("doc_id").isin(ids)
        with t.span("tier_query"):
            t0 = time.perf_counter()
            with t.span("tier_query.lookup"):
                with t.span("streaming.incremental.read_store"):
                    store = self.qinc.read_store(spark)
                with t.span("rollup.tiers.gap_fill"):
                    looked = _rows(gap_fill(
                        store.filter(pick & (F.col("tier") == "1m")).drop("tier"),
                        self.series_n.filter(pick), O.TIER_TICKS["1m"],
                    ))
            t1 = time.perf_counter()
            with t.span("tier_query.clookup"), t.span("rollup.compress.decompress"):
                decoded = _rows(decompress_tiers(
                    spark.read.parquet(self.qcstore).filter(pick & (F.col("tier") == "1m"))
                ))
            t2 = time.perf_counter()
            with t.span("tier_query.scan"):
                with t.span("streaming.incremental.read_store"):
                    store = self.qinc.read_store(spark)
                with t.span("rollup.tiers.apply_retention"):
                    scanned = apply_retention(store, self.series_n).groupBy("tier").agg(
                        F.count("*").alias("rows"), F.sum("cnt").alias("points")
                    ).collect()
            t3 = time.perf_counter()
        lat = {"lookup": t1 - t0, "clookup": t2 - t1, "scan": t3 - t2}
        want_scan = O.expected_retained(self.lengths)
        checks = {
            "lookup": [p for d in ids for p in O.compare_rows(
                f"lookup {d}", [r for r in looked if r["doc_id"] == d],
                self.ref_tier(d, "1m"), O.TIER_FIELDS)],
            "clookup": [p for d in ids for p in O.compare_rows(
                f"clookup {d}", [r for r in decoded if r["doc_id"] == d],
                self.ref_tier(d, "1m"), O.TIER_FIELDS)],
            "scan": [] if {r["tier"]: (r["rows"], r["points"]) for r in scanned} == want_scan
            else [f"scan {scanned} != expected {want_scan}"],
        }
        failed = False
        for kind, problems in checks.items():
            bad = self.count(1, problems)
            failed |= bad
            self.last.setdefault("query_latency", {}).setdefault(kind, []).append(
                float("inf") if bad else lat[kind])
        points = len(looked) + len(decoded) + sum(r["rows"] for r in scanned)
        return OpResult(t3 - t0, points, failed)

    def op_window_detect(self, t) -> OpResult:
        from pyspark.sql import functions as F

        from dtaianomaly_spark.operators.detectors import matrix_profile_scores
        from dtaianomaly_spark.operators.evaluation import auc_roc
        from dtaianomaly_spark.operators.windows import reverse_scores, sliding_stats

        t0 = time.perf_counter()
        with t.span("window_detect"):
            with t.span("operators.windows.sliding_stats"):
                windows = sliding_stats(self.corpus, SS_W, SS_S).cache()
                n_windows = windows.count()
            with t.span("operators.windows.reverse_scores"):
                scores = reverse_scores(
                    windows.select("doc_id", "idx", (F.col("max") - F.col("min")).alias("score")),
                    self.series_n, SS_W, SS_S,
                )
                n_scored = scores.agg(
                    F.count("*").alias("n"),
                    F.bit_xor(F.xxhash64("doc_id", "pos", "score")).alias("h"),
                ).collect()[0]["n"]
            with t.span("operators.detectors.matrix_profile"):
                mp = matrix_profile_scores(
                    self.corpus.filter(F.col("doc_id").isin(self.subset)), MP_W
                ).cache()
                n_mp = mp.count()
            with t.span("operators.evaluation.auc_roc"):
                aucs = {r["doc_id"]: r["auc"] for r in
                        auc_roc(mp.join(self.truth_df, ["doc_id", "pos"])).collect()}
        latency = time.perf_counter() - t0
        problems = []
        want_windows = O.expected_windows(self.lengths, SS_W, SS_S)
        if n_windows != want_windows:
            problems.append(f"windows {n_windows} != expected {want_windows}")
        if n_scored != self.n_tokens:
            problems.append(f"reverse_scores rows {n_scored} != tokens {self.n_tokens}")
        if n_mp != self.subset_tokens:
            problems.append(f"matrix profile rows {n_mp} != subset tokens {self.subset_tokens}")
        with self.job_group("perfbench-check"):
            got = _rows(windows.filter(F.col("doc_id").isin(self.sample)))
            mp_rows = mp.collect()
        for doc in self.sample:
            problems += O.compare_rows(
                f"window {doc}", [r for r in got if r["doc_id"] == doc],
                O.window_rows(self.tokens[doc], SS_W, SS_S), O.WINDOW_FIELDS, key="idx")
        per_doc: dict = {}
        for r in mp_rows:
            per_doc.setdefault(r["doc_id"], []).append((r["pos"], r["score"]))
        for doc in self.subset:
            sc = np.array([s for _, s in sorted(per_doc.get(doc, []))])
            want = O.auc_reference(sc, self.truth[doc]) if sc.shape[0] == self.truth[doc].shape[0] else -1.0
            have = aucs.get(doc)
            if (want is None) != (have is None) or (want is not None and abs(want - have) > 1e-9):
                problems.append(f"auc {doc}: {have} != expected {want}")
        windows.unpersist()
        mp.unpersist()
        self.last["windows"] = n_windows
        bad = self.count(1, problems)
        return OpResult(latency, self.n_tokens, bad)

    def op(self, workload: str):
        return getattr(self, f"op_{workload}")

    # ------------------------------------------------------ traced probes

    def probe_layers(self) -> None:
        """Map-only and scan actions that split a workload's time by layer."""
        from pyspark.sql import functions as F

        from dtaianomaly_spark.rollup.compress import rollup_compress_map
        from dtaianomaly_spark.rollup.tiers import rollup_tiers_map

        t = self.tracer
        with self.job_group("perfbench-layers"), t.span("layers"):
            with t.span("sources.scan"):
                self.corpus.agg(
                    F.count("*"), F.bit_xor(F.xxhash64(*self.corpus.columns))
                ).collect()
            with t.span("rollup.tiers.map"):
                n = rollup_tiers_map(self.corpus).count()
            self.count(1, [] if n == self.n_points else [f"map rows {n} != {self.n_points}"])
            with t.span("rollup.compress.map"):
                n = rollup_compress_map(self.corpus).count()
            want = len(self.doc_ids) * len(O.TIER_TICKS)
            self.count(1, [] if n == want else [f"compressed blocks {n} != {want}"])

    def probe_kernels(self) -> dict:
        """Single-threaded in-process throughput of the NumPy kernels on
        the driver: the per-core ceiling each Spark stage divides by."""
        from dtaianomaly_spark.kernels import codec as KC
        from dtaianomaly_spark.kernels import detectors as KD
        from dtaianomaly_spark.kernels import stats as K

        t = self.tracer
        out = {}
        with t.span("kernels"):
            batches = []
            for b in ds.dataset(self.corpus_path, format="parquet").to_batches(columns=["tokens"]):
                if b.num_rows:
                    batches.append(_bucket_starts(b.column(0)))
            points = sum(len(s) for _, starts in batches for s in starts)
            times = []
            for _ in range(3):
                with self.step("kernels.stats") as st:
                    for values, (s_raw, s_1m, s_1h) in batches:
                        part = K.contiguous_stats(values, s_raw)
                        K.derive_mean_std(part["count"], part["sum"], part["sumsq"])
                        for starts in (s_1m, s_1h):
                            part = K.merge_contiguous(part, starts)
                            K.derive_mean_std(part["count"], part["sum"], part["sumsq"])
                times.append(st.s)
            out["kernels.stats.points_per_s_1t"] = points / statistics.median(times)

            picked = self.sample_rng.choice(len(self.doc_ids), CODEC_SAMPLE, replace=False)
            cols = []
            for i in sorted(picked):
                for tier in O.TIER_TICKS:
                    rows = self.ref_tier(self.doc_ids[i], tier)
                    ints = [np.array([r[f] for r in rows], dtype=np.int64)
                            for f in ("cnt", "sum", "sumsq", "min", "max", "first", "last")]
                    ints.insert(0, np.arange(len(rows), dtype=np.int64))
                    floats = [np.array([r[f] for r in rows]) for f in ("mean", "std")]
                    cols.append((tier, ints, floats))
            n_codec = sum(len(ints[0]) for _, ints, _ in cols)
            with self.step("kernels.codec.encode") as st:
                encoded = []
                for tier, ints, floats in cols:
                    e = ([KC.dod_encode(c) for c in ints], [KC.xor_encode(c) for c in floats])
                    encoded.append(e)
            out["kernels.codec.encode_points_per_s_1t"] = n_codec / st.s
            with self.step("kernels.codec.decode") as st:
                decoded = [([KC.dod_decode(b) for b in ei], [KC.xor_decode(b) for b in ef])
                           for ei, ef in encoded]
            out["kernels.codec.decode_points_per_s_1t"] = n_codec / st.s
            bad = sum(
                any(not np.array_equal(a, b) for a, b in zip(ints, di))
                or any(a.tobytes() != b.tobytes() for a, b in zip(floats, df))
                for (_, ints, floats), (di, df) in zip(cols, decoded)
            )
            self.count(1, [f"codec round trip failed on {bad} blocks"] if bad else [])

            series = [self.tokens[d].astype(np.float64) for d in self.subset[:MP_PROBE_SERIES]]
            with self.step("kernels.detectors") as st:
                for x in series:
                    KD.matrix_profile_general(x, MP_W)
            out["kernels.detectors.points_per_s_1t"] = sum(x.shape[0] for x in series) / st.s
        return out

    def spark_counts(self, group: str, n_ops: int) -> dict:
        """Per-operation jobs, executed stages, tasks, failed tasks and
        plan Exchange nodes of every Spark job run under ``group``."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        stages = {}
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages[sid] = si
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        executions = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        exchanges = 0
        for i in range(executions.size()):
            e = executions.apply(i)
            if jobs & set(conv.asJava(e.jobs()).keys()):
                exchanges += M.count_exchanges(e.physicalPlanDescription())
        return {
            "spark.jobs": len(jobs) / n_ops,
            "spark.stages": len(stages) / n_ops,
            "spark.tasks": sum(s.numCompletedTasks for s in stages.values()) / n_ops,
            "spark.failed_tasks": sum(s.numFailedTasks for s in stages.values()) / n_ops,
            "spark.exchanges": exchanges / n_ops,
        }


def _bucket_starts(tokens):
    """Flat int values plus the raw-, 1m- and 1h-bucket start indices of
    one Arrow batch of series (1m/1h starts index the lower tier's
    partial arrays), for the in-process stats-kernel probe."""
    lens = tokens.value_lengths().to_numpy().astype(np.int64)
    values = tokens.flatten().to_numpy()
    series_start = np.cumsum(lens) - lens
    nb = -(lens // -O.TIER_TICKS["raw"])
    raw = np.concatenate([s + O.TIER_TICKS["raw"] * np.arange(k) for s, k in zip(series_start, nb)])
    starts = [raw]
    for factor in (60, 60):
        first = np.cumsum(nb) - nb
        nb_up = -(nb // -factor)
        starts.append(np.concatenate([f + factor * np.arange(k) for f, k in zip(first, nb_up)]))
        nb = nb_up
    return values, starts
