"""Checkpoint-resumable incremental rollup (north rule: a killed job
resumes from its last committed snapshot without recomputing).

Model: the corpus is partitioned into deterministic **batches**: batch
``b`` holds the series with ``abs(xxhash64(doc_id) % n_batches) == b``
(:func:`_residue`). A batch is one ``batch=<id>/`` parquet directory of
the tier store (the sandbox stand-in for an Iceberg snapshot commit) and
one record in ``_checkpoint/committed.jsonl`` (atomic rename). A run is
ONE Spark job, a ``mapInArrow`` over the corpus whose tasks count every
batch's series and tokens, roll up the pending batches' series and write
them with ``pyarrow.parquet`` into a ``_staging-<uuid>/`` directory of
the store, one file per task and pending batch. The driver then checks
the committed batches' counts, moves only the files the tasks reported
into fresh ``batch=<b>/`` directories, removes the staging directory and
appends one record per batch. The store must therefore be a path that
the driver and every executor see alike. A crash before the appends
leaves unlogged directories that no snapshot reads, and perhaps a
staging directory; the resume — the anti-join of work-units against the
commit log — removes staging leftovers, rewrites the unlogged
directories and never touches a committed one, and is refused if the
corpus no longer matches a committed record's counts.

The same rollup kernel also runs under real Structured Streaming
(:func:`stream_rollup`): files-source → ``mapInArrow`` rollup →
``foreachBatch`` overwrite of one directory per micro-batch, under
Spark's own streaming checkpoint; one code path, two execution modes —
exactly the "continuous aggregate built as incremental batch" design in
SURVEY.md §2.9.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.tiers import (
    ROLLUP_SCHEMA, TIER_TICKS, _rollup_arrow_batch, rollup_tiers_map,
)

# A batch file's parquet layout is the one Spark's parquet-mr writer gave
# it: one row group, snappy, and dictionary pages only on these columns
# (parquet-mr falls back to plain pages for the near-unique sum, sumsq,
# mean and std; pyarrow's default, a dictionary on every column, stores
# ~15 % more bytes per point).
_DICTIONARY_COLUMNS = ["doc_id", "tier", "bucket", "cnt", "min", "max",
                       "first", "last"]

# What each task of a run reports per batch.
_TASK_SCHEMA = ", ".join(
    ["batch long", "series long", "tokens long", "path string", "bytes long"]
    + [f"points_{tier} long" for tier in TIER_TICKS]
)


def _residue(doc_id: Column, n_batches: int) -> Column:
    """The batch of a series, in ``[0, n_batches)``: abs of the residue,
    not of the hash, since abs(Long.MIN_VALUE) overflows."""
    return F.abs(F.xxhash64(doc_id.cast("string")) % n_batches)


def _write_pending(n_batches: int, pending: list, staging: str):
    """The ``mapInArrow`` function of a run, over ``doc_id, tokens, batch``
    rows. A task counts every batch's series and tokens in exact int64,
    rolls up the rows of the ``pending`` batches with the ingest kernel
    and writes each pending batch's rollup to one parquet file
    ``<staging>/batch=<b>/part-<partition>-<attempt id>.parquet``. It
    yields one row per batch: the counts, and the file's path (null when
    the task has no rows of that batch), bytes and points per tier."""

    def task(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        series = np.zeros(n_batches, np.int64)
        tokens = np.zeros(n_batches, np.int64)
        points = np.zeros((n_batches, len(TIER_TICKS)), np.int64)
        parts = {b: [] for b in pending}
        for batch in batches:
            ids = batch.column("batch").to_numpy()
            lens = batch.column("tokens").value_lengths().fill_null(0)
            counts = np.bincount(ids, minlength=n_batches)
            series += counts
            np.add.at(tokens, ids, lens.to_numpy())
            # rows grouped by batch, in input order within a batch
            rows = batch.take(pa.array(np.argsort(ids, kind="stable")))
            start = np.cumsum(counts) - counts
            for b in pending:
                rolled = _rollup_arrow_batch(
                    rows.slice(int(start[b]), int(counts[b])))
                for i, tier in enumerate(rolled):  # raw, 1m, 1h
                    points[b, i] += tier.num_rows
                parts[b] += rolled

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
        paths, sizes = [None] * n_batches, [0] * n_batches
        for b, rolled in parts.items():
            if not rolled:
                continue
            paths[b] = os.path.join(staging, f"batch={b}", name)
            os.makedirs(os.path.dirname(paths[b]), exist_ok=True)
            table = pa.Table.from_batches(rolled)
            pq.write_table(table, paths[b], row_group_size=table.num_rows,
                           compression="snappy",
                           use_dictionary=_DICTIONARY_COLUMNS)
            sizes[b] = os.path.getsize(paths[b])
        yield pa.RecordBatch.from_pydict({
            "batch": np.arange(n_batches), "series": series, "tokens": tokens,
            "path": pa.array(paths, pa.string()),
            "bytes": np.array(sizes, np.int64),
            **{f"points_{tier}": points[:, i]
               for i, tier in enumerate(TIER_TICKS)},
        })

    return task


class IncrementalRollup:
    """Batch-incremental, checkpoint-resumable all-tier rollup."""

    def __init__(self, store_dir: str, n_batches: int = 8):
        if n_batches < 1:
            raise ValueError(f"n_batches must be >= 1, got {n_batches}")
        self.store_dir = store_dir
        self.n_batches = n_batches
        self.ckpt_dir = os.path.join(store_dir, "_checkpoint")
        self.log_path = os.path.join(self.ckpt_dir, "committed.jsonl")
        os.makedirs(self.ckpt_dir, exist_ok=True)

    # -- commit log ---------------------------------------------------------

    def committed(self) -> dict:
        """batch_id -> lineage record for every committed batch
        (compaction records carry no batch id and are skipped here —
        they matter for state replay, not for work-unit dedup)."""
        return {
            r["batch"]: r
            for r in self.snapshots()
            if r.get("batch") is not None
        }

    def _append_commit(self, rec: dict) -> None:
        """Atomic, durable append: copy-on-write + rename (POSIX rename is
        atomic; on an object store this is the Iceberg metadata swap). The
        temp file is fsynced before the rename and the directory after
        it, so a crash leaves either the old log or the new one, never an
        empty or truncated file."""
        tmp = os.path.join(self.ckpt_dir, f".tmp-{uuid.uuid4().hex}")
        existing = ""
        if os.path.exists(self.log_path):
            with open(self.log_path) as f:
                existing = f.read()
        with open(tmp, "w") as f:
            f.write(existing + json.dumps(rec) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.log_path)
        dir_fd = os.open(self.ckpt_dir, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)

    # -- processing ---------------------------------------------------------

    def run(self, corpus: DataFrame) -> int:
        """Roll up every not-yet-committed batch in one Spark job, then log
        one record per batch in batch order; returns the number logged.
        A record holds the batch's ``series`` and ``tokens``, and the
        ``files``, ``bytes`` and ``points`` per tier of its directory;
        ``wall_ms`` is the whole run's wall time. A batch with no tokens
        writes no directory: its ``path`` is ``None``.

        The job's tasks write the pending batches' files into a fresh
        ``_staging-<uuid>/`` directory (staging directories a crashed run
        left are removed first). Only the files the tasks reported then
        replace each pending ``batch=<b>/`` directory, so a file of a
        failed or speculative task attempt is never published.

        Each record stores ``n_batches``. A log holding a batch record
        with another value raises ``ValueError`` before anything is
        written: its batch ids name other series, so resuming would
        duplicate or drop them. Records without the key predate it and
        are accepted. A committed record whose series or token count
        differs from the corpus's raises ``ValueError`` naming its batch;
        then nothing is published or logged. Not detected: a changed
        corpus when nothing is pending (returns 0 without a scan), and a
        token value changed without a change in any length."""
        done = self.committed()
        other = {r.get("n_batches", self.n_batches) for r in done.values()}
        other.discard(self.n_batches)
        if other:
            raise ValueError(
                f"{self.log_path} was written with n_batches={sorted(other)},"
                f" not {self.n_batches}"
            )
        pending = [b for b in range(self.n_batches) if b not in done]
        if not pending:
            return 0
        t0 = time.perf_counter()
        for name in os.listdir(self.store_dir):
            if name.startswith("_staging-"):
                shutil.rmtree(os.path.join(self.store_dir, name))
        staging = os.path.join(self.store_dir, f"_staging-{uuid.uuid4().hex}")
        reports = corpus.select(
            F.col("doc_id").cast("string").alias("doc_id"), "tokens",
            _residue(F.col("doc_id"), self.n_batches).alias("batch"),
        ).mapInArrow(
            _write_pending(self.n_batches, pending, staging), _TASK_SCHEMA
        ).collect()

        recs = [{"batch": b, "n_batches": self.n_batches, "series": 0,
                 "tokens": 0, "bytes": 0,
                 "points": dict.fromkeys(TIER_TICKS, 0)}
                for b in range(self.n_batches)]
        files = {b: [] for b in pending}
        for r in reports:
            rec = recs[r["batch"]]
            rec["series"] += r["series"]
            rec["tokens"] += r["tokens"]
            rec["bytes"] += r["bytes"]
            for tier in TIER_TICKS:
                rec["points"][tier] += r[f"points_{tier}"]
            if r["path"] is not None:
                files[r["batch"]].append(r["path"])
        changed = [b for b in sorted(done)
                   if (done[b]["series"], done[b]["tokens"])
                   != (recs[b]["series"], recs[b]["tokens"])]
        if changed:
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(f"the corpus changed since batches {changed}"
                             f" of {self.log_path} were committed")
        self._publish(files)
        shutil.rmtree(staging, ignore_errors=True)
        wall_ms = int(1000 * (time.perf_counter() - t0))
        for b in pending:
            self._append_commit(dict(
                recs[b], files=len(files[b]), wall_ms=wall_ms,
                path=f"batch={b}" if files[b] else None, ts=time.time(),
            ))
        return len(pending)

    def _publish(self, files: dict) -> None:
        """Replace each batch's ``batch=<b>/`` directory by one holding
        exactly ``files[b]`` (none: no directory), moved by rename."""
        for b, paths in files.items():
            out = os.path.join(self.store_dir, f"batch={b}")
            if os.path.isdir(out):
                shutil.rmtree(out)
            if paths:
                os.makedirs(out)
            for path in paths:
                os.replace(path, os.path.join(out, os.path.basename(path)))

    # -- snapshot time travel + compaction ----------------------------------

    def snapshots(self) -> list:
        """Ordered commit records; record i is snapshot i+1 (the store
        state after that commit). The commit LOG ORDER — not batch id —
        is the snapshot sequence, exactly as an Iceberg metadata log.
        Two record kinds: batch commits (add a data directory) and
        ``compact`` commits (REPLACE every directory live at that
        point with one rewritten directory)."""
        out = []
        if os.path.exists(self.log_path):
            with open(self.log_path) as f:
                out = [json.loads(line) for line in f]
        return out

    def _paths_as_of(self, snapshot: int) -> list:
        """Replay the first ``snapshot`` log records into the live data
        directory set (compaction replaces, batch commits append). A
        record names its directory relative to the store (``batch=<b>``,
        ``compact=<n>``), so a copied or moved store reads its own; an
        absolute path of an older record is kept as it is."""
        paths = []
        for rec in self.snapshots()[: max(0, snapshot)]:
            if rec.get("kind") == "compact":
                paths = [rec["path"]]
            elif rec["path"] is not None:
                paths.append(rec["path"])
        return [os.path.join(self.store_dir, p) for p in paths]

    def read_as_of(self, spark: SparkSession, snapshot: int) -> DataFrame:
        """Time travel: the tier store exactly as it stood after the
        ``snapshot``-th commit (0 = empty). Data directories are
        immutable once committed and the log is append-only — a
        compaction only ADDS a rewritten directory plus a log record,
        so earlier snapshots keep reading the directories they always
        did (tested). ``snapshot`` beyond the log reads the full
        store."""
        paths = self._paths_as_of(snapshot)
        if not paths:
            return spark.createDataFrame([], ROLLUP_SCHEMA)
        return spark.read.schema(ROLLUP_SCHEMA).parquet(*paths)

    def read_store(self, spark: SparkSession) -> DataFrame:
        """Current state = full log replay (honors compactions)."""
        return self.read_as_of(spark, len(self.snapshots()))

    def compact(self, spark: SparkSession, target_files: int = 4) -> str:
        """Small-file maintenance: rewrite the CURRENT live directory
        set into one ``compact=<n>/`` directory with ``target_files``
        files, then commit a ``compact`` record — the Iceberg rewrite
        pattern. Content is untouched (row-multiset equality tested);
        pre-compaction snapshots still time-travel to the original
        directories, which are never deleted or modified."""
        snaps = self.snapshots()
        live = self._paths_as_of(len(snaps))
        if not live:
            raise ValueError("nothing to compact: empty store")
        name = f"compact={len(snaps)}"
        out_dir = os.path.join(self.store_dir, name)
        df = spark.read.schema(ROLLUP_SCHEMA).parquet(*live)
        df.coalesce(target_files).write.mode("overwrite").parquet(out_dir)
        self._append_commit(
            {
                "kind": "compact",
                "batch": None,
                "path": name,
                "replaces": [os.path.relpath(p, self.store_dir) for p in live],
                "ts": time.time(),
            }
        )
        return out_dir


def stream_rollup(
    spark: SparkSession, source_dir: str, store_dir: str, checkpoint_dir: str
):
    """Structured Streaming continuous aggregate: watch ``source_dir`` for
    new corpus parquet files, roll each micro-batch up through the SAME
    Arrow kernel, and write it under Spark's streaming checkpoint. Each
    micro-batch overwrites its own ``data/batch_id=<id>/`` directory, so
    a micro-batch that Spark replays after a crash between its write and
    its checkpoint commit replaces its earlier rows instead of adding to
    them. Returns the streaming query; it runs with
    ``trigger(availableNow=True)`` — the caller awaits termination."""
    corpus_schema = (
        spark.read.parquet(source_dir).schema
    )
    stream = (
        spark.readStream.schema(corpus_schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    rolled = rollup_tiers_map(stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(store_dir, "data", f"batch_id={batch_id}")
        batch_df.write.mode("overwrite").parquet(out_dir)

    return (
        rolled.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
