"""Checkpoint-resume, Structured Streaming, and lineage/partitioning."""

import json
import os
import shutil
import sys
import tempfile

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.sources import corpus as C
from dtaianomaly_spark.rollup import tiers as T

SF_DIR = "/root/testdata/sf0.001"


def _canon(df):
    return sorted(
        tuple(r) for r in df.select(*T.ROLLUP_SCHEMA.names).collect()
    )


def test_incremental_rollup_resumes_from_checkpoint(spark, tmp_path):
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    store = str(tmp_path / "store")

    inc = IncrementalRollup(store, n_batches=6)
    # crash after 2 committed batches
    assert inc.run(corpus, fail_after=2) == 2
    assert len(inc.committed()) == 2

    # resume: a NEW instance (fresh process semantics) picks up the log
    inc2 = IncrementalRollup(store, n_batches=6)
    assert inc2.run(corpus) == 4  # only the remaining batches
    committed = inc2.committed()
    assert sorted(committed) == list(range(6))
    # lineage recorded per batch
    for rec in committed.values():
        assert rec["series"] > 0 and rec["tokens"] > 0 and rec["wall_ms"] >= 0

    # resumed store == one-shot rollup, exactly
    assert _canon(inc2.read_store(spark)) == _canon(rollup_once(corpus))

    # idempotent: nothing left to do
    assert inc2.run(corpus) == 0


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
    off (a negative residue would match no batch)."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(-(2**63)))
    inc = IncrementalRollup(str(tmp_path / "store"), n_batches=3)
    df = spark.createDataFrame([("x",)], "doc_id string")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            hits = [inc._batch_filter(df, b).count() for b in range(3)]
            assert sorted(hits) == [0, 0, 1], (mode, hits)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def rollup_once(corpus):
    return T.rollup_tiers_map(corpus)


def test_structured_streaming_rollup(spark, tmp_path):
    from dtaianomaly_spark.streaming.incremental import stream_rollup

    src = str(tmp_path / "src")
    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
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


def test_snapshot_time_travel(spark, tmp_path):
    """read_as_of(k) is the store exactly after the k-th commit, and an
    earlier snapshot's content is immutable under later appends."""
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    store = str(tmp_path / "store")
    inc = IncrementalRollup(store, n_batches=5)
    assert inc.run(corpus, fail_after=3) == 3

    snap3 = _canon(inc.read_as_of(spark, 3))
    recs = inc.snapshots()
    assert len(recs) == 3
    # snapshot 3 == union of the first three committed batch dirs
    first3 = [r["path"] for r in recs]
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
    import glob

    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, SF_DIR).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
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
