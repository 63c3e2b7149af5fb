"""Checkpoint-resume, Structured Streaming, and lineage/partitioning."""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.sources import corpus as C
from dtaianomaly_spark.rollup import tiers as T
from dtaianomaly_spark.streaming.incremental import _residue

SF_DIR = "/root/testdata/sf0.001"


def _canon(df):
    return sorted(
        tuple(r) for r in df.select(*T.ROLLUP_SCHEMA.names).collect()
    )


def _corpus(spark):
    return C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )


def _counts(df):
    r = df.agg(F.count("*").alias("s"), F.sum("n_tok").alias("t")).collect()[0]
    return r["s"], r["t"]


class _Crash(Exception):
    """The crash that :func:`_crash_after` injects."""


def _crash_after(monkeypatch, inc, corpus, k):
    """Run ``inc`` over ``corpus`` as a process that dies after its
    ``k``-th commit record (every pending directory is written, the
    rest is unlogged); returns the number of records in the log."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    append_commit, appended = IncrementalRollup._append_commit, []

    def append_then_crash(self, rec):
        if len(appended) == k:
            raise _Crash
        appended.append(rec)
        append_commit(self, rec)

    with monkeypatch.context() as m:
        m.setattr(IncrementalRollup, "_append_commit", append_then_crash)
        with pytest.raises(_Crash):
            inc.run(corpus)
    return len(inc.snapshots())


def test_incremental_rollup_resumes_from_checkpoint(spark, tmp_path, monkeypatch):
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _corpus(spark)
    store = str(tmp_path / "store")

    inc = IncrementalRollup(store, n_batches=6)
    # crash after 2 committed batches
    assert _crash_after(monkeypatch, inc, corpus, 2) == 2
    assert len(inc.committed()) == 2

    # resume: a NEW instance (fresh process semantics) picks up the log
    inc2 = IncrementalRollup(store, n_batches=6)
    assert inc2.run(corpus) == 4  # only the remaining batches
    committed = inc2.committed()
    assert sorted(committed) == list(range(6))
    # each record counts exactly its batch's series and tokens
    for b, rec in committed.items():
        part = corpus.filter(_residue(F.col("doc_id"), 6) == b)
        assert (rec["series"], rec["tokens"]) == _counts(part)
        assert rec["wall_ms"] >= 0
    assert (
        sum(r["series"] for r in committed.values()),
        sum(r["tokens"] for r in committed.values()),
    ) == _counts(corpus)

    # resumed store == one-shot rollup, exactly
    assert _canon(inc2.read_store(spark)) == _canon(rollup_once(corpus))

    # idempotent: nothing left to do
    assert inc2.run(corpus) == 0


def _jobs_of(spark, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"incremental-rollup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_rollup_runs_one_spark_job_per_run(spark, tmp_path, monkeypatch):
    """A run is one Spark job however many batches are pending: its tasks
    scan the corpus once, write every pending batch's files and report
    every batch's series and token counts, so no second query runs."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    src = str(tmp_path / "corpus")
    _corpus(spark).write.parquet(src)
    corpus = spark.read.parquet(src)  # a plain scan: no shuffle stage
    inc = IncrementalRollup(str(tmp_path / "store"), n_batches=4)
    assert _jobs_of(spark, lambda: inc.run(corpus)) == (4, 1)
    assert [r["batch"] for r in inc.snapshots()] == [0, 1, 2, 3]

    resumed = IncrementalRollup(str(tmp_path / "resumed"), n_batches=4)
    assert _crash_after(monkeypatch, resumed, corpus, 2) == 2
    assert _jobs_of(spark, lambda: resumed.run(corpus)) == (2, 1)
    assert [r["batch"] for r in resumed.snapshots()] == [0, 1, 2, 3]


_KILL_ON_SECOND_COMMIT = """
import os, signal, sys

from dtaianomaly_spark.session import get_spark
from dtaianomaly_spark.streaming.incremental import IncrementalRollup

corpus_dir, store, n_batches = sys.argv[1], sys.argv[2], int(sys.argv[3])
commits = []
append_commit = IncrementalRollup._append_commit


def kill_on_second(self, rec):
    commits.append(rec)
    if len(commits) == 2:  # every batch's directory is written, one record is
        os.kill(os.getpid(), signal.SIGKILL)
    append_commit(self, rec)


IncrementalRollup._append_commit = kill_on_second
spark = get_spark(app_name="sigkill-commit", cpus=2)
IncrementalRollup(store, n_batches).run(spark.read.parquet(corpus_dir))
"""


def test_sigkill_between_write_and_commit_resumes_exactly(spark, tmp_path):
    """A process SIGKILLed after the run's data write but before its
    second commit record leaves the unlogged batches' directories as
    orphans that no snapshot reads; a resume rewrites exactly those,
    leaves the committed directory's files untouched, and logs every
    batch exactly once."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src, store = str(tmp_path / "corpus"), str(tmp_path / "store")
    _corpus(spark).write.parquet(src)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_ON_SECOND_COMMIT, src, store, "4"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=500,
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]

    inc = IncrementalRollup(store, n_batches=4)
    assert [r["batch"] for r in inc.snapshots()] == [0]
    for b in (1, 2, 3):  # the orphans: written by the one job, not logged
        assert os.listdir(os.path.join(store, f"batch={b}"))
    committed_dir = os.path.join(store, "batch=0")

    def files_of(d):
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    before = files_of(committed_dir)
    assert before

    corpus = spark.read.parquet(src)
    assert inc.run(corpus) == 3
    assert [r["batch"] for r in inc.snapshots()] == [0, 1, 2, 3]
    assert files_of(committed_dir) == before  # same names, same mtimes
    assert _canon(inc.read_store(spark)) == _canon(rollup_once(corpus))


def _store_rows(spark, store):
    """Every row of the store's batch directories, ``batch`` included."""
    return sorted(tuple(r) for r in spark.read.parquet(store).collect())


def _staging_dirs(store):
    return glob.glob(os.path.join(store, "_staging-*"))


def test_commit_records_count_files_bytes_and_points(spark, tmp_path):
    """Each batch record counts its directory: ``files`` parquet files
    holding ``bytes`` bytes on disk and ``points`` rows per tier."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, n_batches=3)
    assert inc.run(_corpus(spark)) == 3
    per_tier = {
        (r["batch"], r["tier"]): r["count"]
        for r in spark.read.parquet(store).groupBy("batch", "tier").count()
        .collect()
    }
    for rec in inc.snapshots():
        out = os.path.join(store, rec["path"])
        names = os.listdir(out)
        assert rec["files"] == len(names) > 0
        assert all(n.endswith(".parquet") for n in names)
        assert rec["bytes"] == sum(
            os.path.getsize(os.path.join(out, n)) for n in names)
        assert rec["points"] == {
            tier: per_tier[rec["batch"], tier] for tier in T.TIER_TICKS}


def test_crash_before_publish_is_cleaned_up_by_the_resume(
    spark, tmp_path, monkeypatch
):
    """A run that dies after its job but before it publishes leaves its
    staging directory and no record; the resume removes the staging
    directory and stores the same rows as a clean run."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _corpus(spark)
    store, clean = str(tmp_path / "store"), str(tmp_path / "clean")

    def crash(self, files):
        raise _Crash

    with monkeypatch.context() as m:
        m.setattr(IncrementalRollup, "_publish", crash)
        with pytest.raises(_Crash):
            IncrementalRollup(store, n_batches=3).run(corpus)
    (staging,) = _staging_dirs(store)
    assert glob.glob(os.path.join(staging, "batch=*", "*.parquet"))
    assert not glob.glob(os.path.join(store, "batch=*"))
    assert IncrementalRollup(store, n_batches=3).snapshots() == []

    assert IncrementalRollup(store, n_batches=3).run(corpus) == 3
    assert _staging_dirs(store) == []
    assert IncrementalRollup(clean, n_batches=3).run(corpus) == 3
    assert _store_rows(spark, store) == _store_rows(spark, clean)


def test_unreported_staging_file_is_never_published(
    spark, tmp_path, monkeypatch
):
    """A parquet file in staging that no task reported, as a failed or
    speculative task attempt leaves, stays out of every ``batch=<b>/``
    and is removed with the staging directory."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _corpus(spark)
    store = str(tmp_path / "store")
    publish, strays = IncrementalRollup._publish, []

    def publish_beside_a_stray(self, files):
        for paths in files.values():
            stray = os.path.join(os.path.dirname(paths[0]),
                                 "part-00000-999999.parquet")
            shutil.copy(paths[0], stray)
            strays.append(stray)
        publish(self, files)

    monkeypatch.setattr(IncrementalRollup, "_publish", publish_beside_a_stray)
    inc = IncrementalRollup(store, n_batches=3)
    assert inc.run(corpus) == 3
    assert len(strays) == 3
    published = glob.glob(os.path.join(store, "batch=*", "*"))
    assert published and not {os.path.basename(p) for p in published} & {
        os.path.basename(p) for p in strays}
    assert _staging_dirs(store) == []
    assert sum(r["files"] for r in inc.snapshots()) == len(published)
    full = _canon(rollup_once(corpus))
    assert _canon(inc.read_store(spark)) == full
    assert _canon(spark.read.parquet(store)) == full


def test_batch_files_keep_the_parquet_mr_layout(spark, tmp_path):
    """Batch files are laid out as Spark's parquet-mr writer laid them
    out: one snappy row group per file and no dictionary on the
    near-unique ``sum``, ``sumsq``, ``mean`` and ``std``. Spark and
    ``pyarrow.dataset`` (hive partitioning, as perfbench reads the
    store) both read ``ROLLUP_SCHEMA`` plus the ``batch`` column."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import IntegerType

    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    store = str(tmp_path / "store")
    IncrementalRollup(store, n_batches=2).run(_corpus(spark))
    files = glob.glob(os.path.join(store, "batch=*", "*.parquet"))
    assert files
    plain = {"sum", "sumsq", "mean", "std"}
    for f in files:
        meta = pq.ParquetFile(f).metadata
        assert meta.num_row_groups == 1
        for i in range(meta.num_columns):
            col = meta.row_group(0).column(i)
            assert col.compression == "SNAPPY"
            assert col.has_dictionary_page == (col.path_in_schema not in plain)

    want = [(f.name, f.dataType) for f in T.ROLLUP_SCHEMA]
    assert [(f.name, f.dataType) for f in spark.read.parquet(store).schema] \
        == want + [("batch", IntegerType())]
    data = ds.dataset(store, format="parquet", partitioning="hive")
    assert [(f.name, f.type) for f in data.schema] == [
        (name, to_arrow_type(t)) for name, t in want] + [("batch", pa.int32())]


def test_commit_log_fsyncs_temp_file_then_renames_then_fsyncs_dir(
    tmp_path, monkeypatch
):
    """A commit record is durable: the temp file is flushed and fsynced
    before it replaces the log, and the checkpoint directory is fsynced
    after the rename."""
    import stat

    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    inc = IncrementalRollup(str(tmp_path / "store"))
    calls = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        kind = "dir" if stat.S_ISDIR(st.st_mode) else "file"
        calls.append(("fsync", kind, st.st_size if kind == "file" else None))
        real_fsync(fd)

    def replace(src, dst):
        calls.append(("replace", os.path.basename(dst), None))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    rec = {"batch": 0, "path": "p"}
    inc._append_commit(rec)

    line = len(json.dumps(rec)) + 1
    assert calls == [
        ("fsync", "file", line),  # flushed: the whole record is on disk
        ("replace", "committed.jsonl", None),
        ("fsync", "dir", None),
    ]
    assert inc.snapshots() == [rec]


def test_batch_filter_places_min_long_hash_in_one_batch(
    spark, tmp_path, monkeypatch
):
    """A doc_id whose xxhash64 is Long.MIN_VALUE lands in exactly one of
    three batches with ANSI mode on (abs(MIN_VALUE) would overflow) and
    off (a negative residue would match no batch): both as a residue
    and through a run, where one batch directory holds its points and
    that batch's record counts it."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(-(2**63)))
    df = spark.createDataFrame(
        [("x", [1, 2, 3], 3)], "doc_id string, tokens array<int>, n_tok int"
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            hits = [df.filter(_residue(F.col("doc_id"), 3) == b).count()
                    for b in range(3)]
            assert sorted(hits) == [0, 0, 1], (mode, hits)

            store = str(tmp_path / f"store-ansi-{mode}")
            inc = IncrementalRollup(store, n_batches=3)
            assert inc.run(df) == 3
            (b,) = [b for b in range(3) if hits[b]]
            assert sorted(glob.glob(os.path.join(store, "batch=*"))) == [
                os.path.join(store, f"batch={b}")
            ]
            assert {r["batch"]: r["series"] for r in inc.snapshots()} == {
                i: int(i == b) for i in range(3)
            }
            assert _canon(inc.read_store(spark)) == _canon(rollup_once(df))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_empty_batches_stay_readable(spark, tmp_path):
    """With more batches than series most batches are empty. Each is
    still committed with zero counts, and every snapshot, the full
    store and its compaction read back the one-shot rollup's rows."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    six = _corpus(spark).orderBy("doc_id").limit(6)
    corpus = spark.createDataFrame(six.collect(), six.schema)
    inc = IncrementalRollup(str(tmp_path / "store"), n_batches=20)
    assert inc.run(corpus) == 20

    recs = inc.snapshots()
    assert sorted(r["batch"] for r in recs) == list(range(20))
    empty = [r for r in recs if r["series"] == 0]
    assert empty and all(r["tokens"] == 0 for r in empty)
    full = _canon(rollup_once(corpus))
    assert _canon(inc.read_store(spark)) == full

    doc = T.ROLLUP_SCHEMA.names.index("doc_id")
    for k in range(len(recs) + 1):
        rows = _canon(inc.read_as_of(spark, k))
        assert set(rows) <= set(full)
        assert len({r[doc] for r in rows}) == sum(r["series"] for r in recs[:k])

    inc.compact(spark, target_files=1)
    assert _canon(inc.read_store(spark)) == full


def _store_state(store):
    """Every file under ``store`` with its size and mtime, and the log."""
    files = sorted(
        (os.path.relpath(p, store), os.stat(p).st_size, os.stat(p).st_mtime_ns)
        for p in glob.glob(os.path.join(store, "**"), recursive=True)
        if os.path.isfile(p)
    )
    with open(os.path.join(store, "_checkpoint", "committed.jsonl")) as f:
        return files, f.read()


@pytest.mark.parametrize(
    "first,crash_after,second", [(4, None, 8), (8, 3, 4)],
    ids=["complete-4-then-8", "partial-8-then-4"],
)
def test_resume_with_other_n_batches_is_refused(
    spark, tmp_path, monkeypatch, first, crash_after, second
):
    """Batch ids only name the same series under the same ``n_batches``.
    Resuming a log with another value would duplicate series (4 then 8)
    or drop them (8 cut short, then 4), so ``run`` refuses before it
    writes anything."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    twelve = _corpus(spark).orderBy("doc_id").limit(12)
    corpus = spark.createDataFrame(twelve.collect(), twelve.schema)
    store = str(tmp_path / "store")
    if crash_after is None:
        IncrementalRollup(store, first).run(corpus)
    else:
        _crash_after(monkeypatch, IncrementalRollup(store, first), corpus,
                     crash_after)
    before = _store_state(store)

    with pytest.raises(ValueError, match=f"n_batches=\\[{first}\\]"):
        IncrementalRollup(store, second).run(corpus)
    assert _store_state(store) == before


@pytest.mark.parametrize("change", ["added", "removed", "shortened"])
def test_resume_over_changed_corpus_is_refused(
    spark, tmp_path, monkeypatch, change
):
    """A resume rolls up only the pending batches, so a series added to,
    removed from or shortened in a committed batch would leave the store
    wrong without notice. The run compares every committed record with
    the corpus's counts and refuses: nothing is logged, the committed
    directories keep their files and no staging directory is left."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    twelve = _corpus(spark).orderBy("doc_id").limit(12)
    rows = [tuple(r) for r in twelve.collect()]
    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, 4)
    corpus = spark.createDataFrame(rows, twelve.schema)
    assert _crash_after(monkeypatch, inc, corpus, 2) == 2
    committed = {r["batch"] for r in inc.snapshots()}

    def batch_of(doc_ids):
        df = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
        return dict(df.select("doc_id", _residue(F.col("doc_id"), 4)).collect())

    batches = batch_of([r[0] for r in rows])
    i = next(i for i, (doc_id, _, n_tok) in enumerate(rows)
             if batches[doc_id] in committed and n_tok > 0)
    if change == "added":
        new = batch_of([f"added-{j}" for j in range(64)])
        rows.append((next(d for d, b in new.items() if b in committed),
                     [1, 2, 3], 3))
    elif change == "removed":
        del rows[i]
    else:
        doc_id, tokens, n_tok = rows[i]
        rows[i] = (doc_id, tokens[:-1], n_tok - 1)

    def committed_files():
        files, log = _store_state(store)
        return log, {f for f in files
                     if f[0].split(os.sep)[0] in {f"batch={b}" for b in committed}}

    before = committed_files()
    assert before[1]
    with pytest.raises(ValueError, match="corpus changed since batches"):
        IncrementalRollup(store, 4).run(spark.createDataFrame(rows, twelve.schema))
    assert len(before[0].splitlines()) == 2
    assert committed_files() == before  # same log, same sizes and mtimes
    assert _staging_dirs(store) == []


def test_fewer_than_one_batch_is_refused(tmp_path):
    """A run over no batches would commit nothing and look complete, so
    ``n_batches < 1`` is refused before any directory is made."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    for n in (0, -1):
        store = tmp_path / f"store{n}"
        with pytest.raises(ValueError, match="n_batches"):
            IncrementalRollup(str(store), n)
        assert not store.exists()


def rollup_once(corpus):
    return T.rollup_tiers_map(corpus)


def test_structured_streaming_rollup(spark, tmp_path):
    from dtaianomaly_spark.streaming.incremental import stream_rollup

    src = str(tmp_path / "src")
    corpus = _corpus(spark)
    corpus.repartition(4).write.parquet(src)

    store = str(tmp_path / "stream_store")
    ckpt = str(tmp_path / "ckpt")
    q = stream_rollup(spark, src, store, ckpt)
    q.awaitTermination(120)

    got = spark.read.schema(T.ROLLUP_SCHEMA).parquet(os.path.join(store, "data"))
    assert _canon(got) == _canon(rollup_once(corpus))

    # restart with no new files: checkpoint prevents reprocessing
    q2 = stream_rollup(spark, src, store, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.schema(T.ROLLUP_SCHEMA).parquet(os.path.join(store, "data"))
    assert got2.count() == got.count()


def test_stream_rollup_replayed_micro_batch_writes_rows_once(spark, tmp_path):
    """Spark replays a micro-batch whose sink write finished but whose
    checkpoint commit did not; the replay must not add its rows twice."""
    from dtaianomaly_spark.streaming.incremental import stream_rollup

    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    corpus = _corpus(spark)
    corpus.repartition(4).write.parquet(src)
    stream_rollup(spark, src, store, ckpt).awaitTermination(120)

    commit = os.path.join(ckpt, "commits", "0")
    assert os.path.exists(commit)
    for path in (commit, os.path.join(ckpt, "commits", ".0.crc")):
        if os.path.exists(path):
            os.remove(path)
    stream_rollup(spark, src, store, ckpt).awaitTermination(120)
    assert os.path.exists(commit)  # micro-batch 0 ran again

    got = spark.read.schema(T.ROLLUP_SCHEMA).parquet(os.path.join(store, "data"))
    assert _canon(got) == _canon(rollup_once(corpus))


def test_partition_metrics_cover_everything(spark):
    from dtaianomaly_spark.plans import lineage as L

    arrays = C.token_arrays(spark, SF_DIR)
    m = L.partition_metrics(arrays).collect()
    total = arrays.agg(
        F.count("*").alias("s"), F.sum("n_tok").alias("t")
    ).collect()[0]
    assert sum(r["n_series"] for r in m) == total["s"]
    assert sum(r["n_tokens"] for r in m) == total["t"]
    assert len({r["partition_id"] for r in m}) == len(m)


def test_weight_balanced_repartition_reduces_skew(spark):
    from dtaianomaly_spark.plans import lineage as L

    arrays = C.token_arrays(spark, SF_DIR)
    rep = L.skew_report(arrays, 16)
    assert rep["balanced_imbalance"] <= rep["hash_imbalance"] * 1.05
    assert rep["balanced_imbalance"] < 1.6


def test_salted_agg_equals_plain_groupby(spark):
    """Two-phase salted aggregation must equal the plain groupBy exactly
    (algebraic partial+final), while spreading the hot key over salts."""
    from pyspark.sql import functions as F

    from dtaianomaly_spark.plans.skew import salted_agg

    # heavy tail: one key owns 90% of rows
    df = spark.range(0, 100_000).select(
        F.expr("CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 97) END").alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    got = salted_agg(
        df, ["k"],
        {"cnt": ("count", "v"), "vsum": ("sum", "v"),
         "vmin": ("min", "v"), "vmax": ("max", "v")},
        n_salts=8,
    )
    want = df.groupBy("k").agg(
        F.count("v").alias("cnt"), F.sum("v").alias("vsum"),
        F.min("v").alias("vmin"), F.max("v").alias("vmax"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    hot = got.filter("k = 'hot'").collect()[0]
    assert hot["cnt"] == 90_000


def test_snapshot_time_travel(spark, tmp_path, monkeypatch):
    """read_as_of(k) is the store exactly after the k-th commit, and an
    earlier snapshot's content is immutable under later appends."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _corpus(spark)
    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, n_batches=5)
    assert _crash_after(monkeypatch, inc, corpus, 3) == 3

    snap3 = _canon(inc.read_as_of(spark, 3))
    recs = inc.snapshots()
    assert len(recs) == 3
    # snapshot 3 == union of the first three committed batch dirs
    first3 = [os.path.join(store, r["path"]) for r in recs]
    direct = spark.read.schema(T.ROLLUP_SCHEMA).parquet(*first3)
    assert snap3 == _canon(direct)
    # prefix property: snapshot 2 ⊂ snapshot 3 (row multiset)
    snap2 = _canon(inc.read_as_of(spark, 2))
    assert len(snap2) < len(snap3)

    # later appends must not change earlier snapshots
    assert inc.run(corpus) == 2
    assert _canon(inc.read_as_of(spark, 3)) == snap3
    assert _canon(inc.read_as_of(spark, 2)) == snap2
    # beyond-log snapshot == full store; snapshot 0 == empty
    assert _canon(inc.read_as_of(spark, 99)) == _canon(inc.read_store(spark))
    assert inc.read_as_of(spark, 0).count() == 0


def test_compaction_preserves_content_and_history(spark, tmp_path):
    """compact() rewrites the live set into few files, content-equal;
    pre-compaction snapshots still time-travel; resume logic ignores
    the compact record."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _corpus(spark)
    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, n_batches=5)
    inc.run(corpus)
    before = _canon(inc.read_store(spark))
    snap2 = _canon(inc.read_as_of(spark, 2))
    n_files_before = len(glob.glob(f"{store}/batch=*/*.parquet"))

    out_dir = inc.compact(spark, target_files=2)
    after = _canon(inc.read_store(spark))
    assert after == before
    assert len(glob.glob(f"{out_dir}/*.parquet")) <= 2 < n_files_before
    # pre-compaction snapshot unchanged
    assert _canon(inc.read_as_of(spark, 2)) == snap2
    # nothing to re-run: compaction is not a work unit
    assert inc.run(corpus) == 0
    # appends after compaction layer on top of the compacted state
    assert len(inc.snapshots()) == 6


def test_copied_store_reads_its_own_directories(spark, tmp_path):
    """Commit records name their directories relative to the store, so
    a copy whose original is gone reads, time-travels and compacts the
    same rows as the original did."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = _corpus(spark)
    store, copy = str(tmp_path / "store"), str(tmp_path / "copy")
    inc = IncrementalRollup(store, n_batches=3)
    inc.run(corpus)
    inc.compact(spark, target_files=2)
    assert [r["path"] for r in inc.snapshots()] == [
        "batch=0", "batch=1", "batch=2", "compact=3"]
    want = [_canon(inc.read_as_of(spark, k)) for k in range(5)]

    shutil.copytree(store, copy)
    shutil.rmtree(store)
    inc = IncrementalRollup(copy, n_batches=3)
    assert _canon(inc.read_store(spark)) == want[4]
    assert [_canon(inc.read_as_of(spark, k)) for k in range(5)] == want
    assert inc.compact(spark, target_files=1).startswith(copy)
    assert _canon(inc.read_store(spark)) == want[4]
    # records written before paths were relative hold absolute ones
    recs = inc.snapshots()
    with open(inc.log_path, "w") as f:
        f.writelines(json.dumps(dict(r, path=os.path.join(copy, r["path"])))
                     + "\n" for r in recs)
    assert _canon(inc.read_store(spark)) == want[4]
