"""Checkpoint-resumable incremental rollup (north rule: a killed job
resumes from its last committed snapshot without recomputing).

Model: the corpus is partitioned into deterministic **batches** (hash
ranges of ``doc_id``). Each batch is rolled up and appended to the tier
store as its own parquet subdirectory (`batch=<id>/` — the sandbox stand-
in for an Iceberg snapshot commit: the directory append is atomic at the
batch level and carries a manifest entry). After each append the batch id
plus its lineage metrics are recorded in the checkpoint log
(``_checkpoint/committed.jsonl``, written via atomic rename). On restart,
committed batch ids are skipped — the anti-join of work-units against the
commit log.

The same rollup kernel also runs under real Structured Streaming
(:func:`stream_rollup`): files-source → ``mapInArrow`` rollup →
``foreachBatch`` append with Spark's own streaming checkpoint; one code
path, two execution modes — exactly the "continuous aggregate built as
incremental batch" design in SURVEY.md §2.9.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.tiers import ROLLUP_SCHEMA, rollup_tiers_map


class IncrementalRollup:
    """Batch-incremental, checkpoint-resumable all-tier rollup."""

    def __init__(self, store_dir: str, n_batches: int = 8):
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

    def _batch_filter(self, corpus: DataFrame, batch: int) -> DataFrame:
        # abs of the residue, not of the hash: abs(Long.MIN_VALUE) overflows,
        # and the residue keeps every other series in its earlier batch
        return corpus.filter(
            F.abs(F.xxhash64(F.col("doc_id").cast("string")) % self.n_batches)
            == batch
        )

    def run(self, corpus: DataFrame, fail_after: int | None = None) -> int:
        """Process all not-yet-committed batches; returns the number
        processed. ``fail_after`` aborts after N commits (crash
        injection for the resume tests)."""
        done = self.committed()
        processed = 0
        for batch in range(self.n_batches):
            if batch in done:
                continue
            t0 = time.perf_counter()
            part = self._batch_filter(corpus, batch)
            rolled = rollup_tiers_map(part)
            out_dir = os.path.join(self.store_dir, f"batch={batch}")
            rolled.write.mode("overwrite").parquet(out_dir)
            ms = int(1000 * (time.perf_counter() - t0))
            stats = (
                part.agg(
                    F.count("*").alias("series"), F.sum("n_tok").alias("tokens")
                ).collect()[0]
            )
            self._append_commit(
                {
                    "batch": batch,
                    "series": stats["series"],
                    "tokens": int(stats["tokens"] or 0),
                    "wall_ms": ms,
                    "path": out_dir,
                    "ts": time.time(),
                }
            )
            processed += 1
            if fail_after is not None and processed >= fail_after:
                break
        return processed

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
        directory set (compaction replaces, batch commits append)."""
        paths = []
        for rec in self.snapshots()[: max(0, snapshot)]:
            if rec.get("kind") == "compact":
                paths = [rec["path"]]
            else:
                paths.append(rec["path"])
        return paths

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
        out_dir = os.path.join(self.store_dir, f"compact={len(snaps)}")
        df = spark.read.schema(ROLLUP_SCHEMA).parquet(*live)
        df.coalesce(target_files).write.mode("overwrite").parquet(out_dir)
        self._append_commit(
            {
                "kind": "compact",
                "batch": None,
                "path": out_dir,
                "replaces": live,
                "ts": time.time(),
            }
        )
        return out_dir


def stream_rollup(
    spark: SparkSession, source_dir: str, store_dir: str, checkpoint_dir: str
):
    """Structured Streaming continuous aggregate: watch ``source_dir`` for
    new corpus parquet files, roll each micro-batch up through the SAME
    Arrow kernel, append to the tier store under Spark's streaming
    checkpoint (exactly-once via foreachBatch + batch-id dedup is
    delegated to Spark's commit log here). Returns the streaming query;
    use ``trigger(availableNow=True)`` semantics — the caller awaits
    termination."""
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
        batch_df.write.mode("append").parquet(os.path.join(store_dir, "data"))

    return (
        rolled.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
