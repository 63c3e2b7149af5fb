"""applyInPandasWithState bucket-completion rollup: out-of-order chunked
ingest must converge to the batch rollup's full buckets, with buckets
emitted exactly once."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dtaianomaly_spark.sources import corpus as C

SF_DIR = "/root/testdata/sf0.001"


def test_stateful_rollup_converges_to_batch(spark, tmp_path):
    from dtaianomaly_spark.streaming.stateful import stateful_bucket_rollup

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 80).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    # three position-range chunks written OUT OF ORDER (middle, last, first):
    # a bucket's points can span micro-batches
    for i, cond in enumerate(
        ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]
    ):
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")

    # flush_after_ms=None: finite availableNow replay — a pending
    # processing-time timer would keep the micro-batch engine scheduling
    # batches past end-of-data (see stateful_bucket_rollup docstring)
    q = (
        stateful_bucket_rollup(stream, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    # exactly-once per bucket, all completed-by-count (no TTL flushes ran)
    assert got.groupBy("doc_id", "bucket").count().filter("count > 1").count() == 0
    assert got.filter("NOT final").count() == 0
    got = got.drop("final")

    # batch reference: full (16-point) buckets only — the tail bucket
    # never completes and must NOT have been emitted
    batch = (
        lf.withColumn("bucket", (F.col("pos") / 16).cast("long"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.sum(F.col("value") * F.col("value")).alias("sumsq"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .filter("cnt = 16")
    )
    diff = got.exceptAll(batch).count() + batch.exceptAll(got).count()
    assert diff == 0
    assert got.count() == batch.count() > 0


def test_stateful_rollup_flushes_idle_series(spark, tmp_path):
    """With a processing-time flush timeout, an idle series' partial tail
    bucket is emitted (and leaves state) after the timeout elapses."""
    import time

    from dtaianomaly_spark.streaming.stateful import stateful_bucket_rollup

    # doc-a: one full bucket (16 pts) + a 4-point tail that never fills
    rows = [("doc-a", p, p * 3 % 11) for p in range(20)]
    lf = spark.createDataFrame(rows, "doc_id string, pos long, value long")
    src = str(tmp_path / "src")
    lf.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(lf.schema).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        stateful_bucket_rollup(stream, flush_after_ms=2000)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        tail = None
        for _ in range(90):
            time.sleep(1)
            try:
                got = spark.read.parquet(out_dir)
                tail_rows = got.filter("cnt < 16").collect()
            except Exception:
                continue
            if tail_rows:
                tail = tail_rows
                break
    finally:
        q.stop()

    assert tail is not None, "tail bucket was never flushed"
    got = spark.read.parquet(out_dir)
    # exactly once per bucket
    assert got.groupBy("doc_id", "bucket").count().filter("count > 1").count() == 0
    vals = {(r["doc_id"], r["bucket"]): r for r in got.collect()}
    full = vals[("doc-a", 0)]
    assert (full["cnt"], full["sum"], full["final"]) == (
        16, sum(p * 3 % 11 for p in range(16)), True
    )
    part = vals[("doc-a", 1)]
    expect = [p * 3 % 11 for p in range(16, 20)]
    assert (part["cnt"], part["sum"], part["min"], part["max"], part["final"]) == (
        4, sum(expect), min(expect), max(expect), False
    )


def test_stateful_rollup_revival_rows_combine_monoidally(spark, tmp_path):
    """A series that revives after a TTL flush re-emits the SAME bucket as
    a second final=false partial; the documented contract is that the
    rows are disjoint partials whose monoid combine (sum/sum/sum/min/max)
    reconstructs the exact bucket stats, and that final=true rows stay
    at-most-once per bucket."""
    import time

    from dtaianomaly_spark.streaming.stateful import stateful_bucket_rollup

    def v(p):
        return p * 7 % 13

    src = str(tmp_path / "src")
    first = spark.createDataFrame(
        [("doc-r", p, v(p)) for p in range(16, 20)],
        "doc_id string, pos long, value long",
    )
    first.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(first.schema).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        stateful_bucket_rollup(stream, flush_after_ms=2000)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # wait for the first TTL flush of the 4-point partial
        flushed = False
        for _ in range(60):
            time.sleep(1)
            try:
                if spark.read.parquet(out_dir).filter("NOT final").count() >= 1:
                    flushed = True
                    break
            except Exception:
                continue
        assert flushed, "first partial was never TTL-flushed"

        # revival: the rest of bucket 1 arrives (12 points — completes the
        # bucket's data but not its in-state count, so it TTL-flushes too)
        spark.createDataFrame(
            [("doc-r", p, v(p)) for p in range(20, 32)], first.schema
        ).coalesce(1).write.mode("append").parquet(src)

        rows = []
        for _ in range(60):
            time.sleep(1)
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:
                continue
            if len(rows) >= 2:
                break
    finally:
        q.stop()

    assert len(rows) == 2, f"expected two partial rows, got {rows}"
    assert all(r["bucket"] == 1 and not r["final"] for r in rows)
    expect = [v(p) for p in range(16, 32)]
    assert sum(r["cnt"] for r in rows) == 16
    assert sum(r["sum"] for r in rows) == sum(expect)
    assert sum(r["sumsq"] for r in rows) == sum(e * e for e in expect)
    assert min(r["min"] for r in rows) == min(expect)
    assert max(r["max"] for r in rows) == max(expect)


def test_stateful_tier_compose_matches_batch_1m(spark, tmp_path):
    """Two-level continuous aggregate: points -> (stateful) raw buckets
    -> durable raw sink -> (stateful) 1m composition; completed 1m rows
    must equal the batch 1m tier exactly (integer partial composition).
    The intermediate sink is the production shape — the raw tier IS a
    consumed output, and Spark restricts chaining two arbitrary stateful
    operators in one query."""
    from dtaianomaly_spark.streaming.stateful import (
        stateful_bucket_rollup, stateful_tier_compose,
    )

    def v(doc, p):
        return (doc * 31 + p * 7) % 23

    rows = [
        (f"doc-{d}", p, v(d, p)) for d in range(2) for p in range(2000)
    ]
    lf = spark.createDataFrame(rows, "doc_id string, pos long, value long")
    src = str(tmp_path / "src")
    # three in-order-agnostic chunks (bucket completion is count-based)
    for cond in ("pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"):
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    raw_out = str(tmp_path / "raw_out")
    q1 = (
        stateful_bucket_rollup(
            spark.readStream.schema(lf.schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            flush_after_ms=None,
        )
        .writeStream.format("parquet")
        .option("path", raw_out)
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(180)

    raw_schema = spark.read.parquet(raw_out).schema
    q2 = (
        stateful_tier_compose(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1).parquet(raw_out),
            flush_after_ms=None,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "m1_out"))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)

    got = spark.read.parquet(str(tmp_path / "m1_out"))
    assert got.filter("NOT final").count() == 0
    assert got.groupBy("doc_id", "bucket").count().filter("count > 1").count() == 0

    batch = (
        lf.withColumn("bucket", (F.col("pos") / 960).cast("long"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.sum(F.col("value") * F.col("value")).alias("sumsq"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .filter("cnt = 960")  # only COMPLETE 1m buckets stream out
    )
    g = got.drop("final")
    assert g.exceptAll(batch).count() == 0
    assert batch.exceptAll(g).count() == 0
    assert g.count() == batch.count() == 2 * 2  # 2000 pts -> two full 1m buckets/doc


def test_stateful_topk_matches_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed buckets' top-k rows equal
    the batch topk_tokens on the same points (full buckets only)."""
    from dtaianomaly_spark.rollup.tiers import topk_tokens
    from dtaianomaly_spark.streaming.stateful import stateful_topk_tokens

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    for cond in ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]:
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_topk_tokens(stream, bucket_ticks=64, k=3, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.filter("NOT final").count() == 0
    # exactly-once per (bucket, rank)
    assert (
        got.groupBy("doc_id", "bucket", "rnk").count().filter("count > 1").count()
        == 0
    )
    got = got.drop("final")

    full = (
        lf.groupBy("doc_id", (F.col("pos") / 64).cast("long").alias("bucket"))
        .count().filter("count = 64").drop("count")
    )
    batch = topk_tokens(lf, 64, 3).join(full, ["doc_id", "bucket"], "semi")
    diff = got.exceptAll(batch).count() + batch.exceptAll(got).count()
    assert diff == 0
    assert got.count() == batch.count() > 0


def test_stateful_hist_matches_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed buckets' histogram rows
    equal the batch hist_rollup bin counts on the same points."""
    from dtaianomaly_spark.rollup.tiers import hist_bin_expr
    from dtaianomaly_spark.streaming.stateful import stateful_hist_rollup

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    for cond in ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]:
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_hist_rollup(stream, bucket_ticks=64, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.filter("NOT final").count() == 0
    assert (
        got.groupBy("doc_id", "bucket", "bin").count().filter("count > 1").count()
        == 0
    )
    got = got.drop("final")

    full = (
        lf.groupBy("doc_id", (F.col("pos") / 64).cast("long").alias("bucket"))
        .count().filter("count = 64").drop("count")
    )
    batch = (
        lf.select(
            "doc_id",
            (F.col("pos") / 64).cast("long").alias("bucket"),
            hist_bin_expr("value").alias("bin"),
        )
        .groupBy("doc_id", "bucket", "bin")
        .agg(F.count("*").alias("bcnt"))
        .join(full, ["doc_id", "bucket"], "semi")
        .select(*got.columns)
    )
    diff = got.exceptAll(batch).count() + batch.exceptAll(got).count()
    assert diff == 0
    assert got.count() == batch.count() > 0


def test_stateful_m4_converges_to_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed fixed-width M4 buckets
    must byte-match the batch m4_fixed aggregate; the short tail bucket
    never completes and is never emitted (NoTimeout replay)."""
    from dtaianomaly_spark.operators.preprocessing import m4_fixed
    from dtaianomaly_spark.streaming.m4 import stateful_m4

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value", "n"
    )
    pts = lf.select("doc_id", "pos", "value")
    src = str(tmp_path / "src")
    for cond in ("pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"):
        pts.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_m4(stream, width=16, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got_df = spark.read.parquet(out_dir)
    assert got_df.filter("NOT final").count() == 0
    assert (
        got_df.groupBy("doc_id", "bucket").count().filter("count > 1").count()
        == 0
    )
    assert got_df.filter("cnt != 16").count() == 0
    got = {
        (r["doc_id"], r["bucket"]): (
            r["pos_first"], r["v_first"], r["pos_last"], r["v_last"],
            r["pos_min"], r["v_min"], r["pos_max"], r["v_max"],
        )
        for r in got_df.collect()
    }
    # batch reference restricted to FULL buckets (16 positions)
    batch = m4_fixed(lf, 16).join(
        lf.groupBy("doc_id", F.expr("pos DIV 16").alias("bucket")).agg(
            F.count("*").alias("cnt")
        ).filter("cnt = 16"),
        ["doc_id", "bucket"],
    )
    want = {
        (r["doc_id"], r["bucket"]): (
            r["pos_first"], r["v_first"], r["pos_last"], r["v_last"],
            r["pos_min"], r["v_min"], r["pos_max"], r["v_max"],
        )
        for r in batch.collect()
    }
    assert got == want


class _FakeState:
    """Minimal GroupState stub for driving an update fn directly."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.updated = v
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_stateful_m4_ttl_flush_partials_combine_to_batch():
    """Drive the update fn directly: a TTL flush mid-bucket emits
    final=false partials which, monoid-combined with the revived
    series' second flush, reconstruct the exact bucket corners."""
    import pandas as pd

    from dtaianomaly_spark.streaming.m4 import _absorb, _make_m4_update

    update = _make_m4_update(16, 1000)
    pts = [(i, (i * 7) % 23 - 11) for i in range(16)]
    first, second = pts[:5], pts[5:]

    st = _FakeState()
    out1 = list(
        update(("d",), iter([pd.DataFrame(first, columns=["pos", "value"])]), st)
    )
    assert out1 == []  # bucket incomplete, nothing emitted
    assert st.updated is not None and st.timeout_ms == 1000

    # TTL fires: partial flushed final=false, state dropped
    st2 = _FakeState(value=st.updated, timed_out=True)
    flush = list(update(("d",), iter([]), st2))[0]
    assert st2.removed
    assert not flush["final"].iloc[0]

    # series revives: remaining points accumulate fresh and complete
    # by count only when the bucket's full width arrives -> here the
    # remaining 11 points stay partial until a second TTL
    st3 = _FakeState()
    out3 = list(
        update(("d",), iter([pd.DataFrame(second, columns=["pos", "value"])]), st3)
    )
    assert out3 == []
    st4 = _FakeState(value=st3.updated, timed_out=True)
    flush2 = list(update(("d",), iter([]), st4))[0]

    # monoid-combine the two final=false partials = exact batch corners
    a = flush.iloc[0]
    b = flush2.iloc[0]
    merged = [
        int(a["cnt"]),
        int(a["pos_first"]), int(a["v_first"]),
        int(a["pos_last"]), int(a["v_last"]),
        int(a["pos_min"]), int(a["v_min"]),
        int(a["pos_max"]), int(a["v_max"]),
    ]
    # combine partial b into a via the same tie rules
    merged[0] += int(b["cnt"])
    if int(b["pos_first"]) < merged[1]:
        merged[1], merged[2] = int(b["pos_first"]), int(b["v_first"])
    if int(b["pos_last"]) > merged[3]:
        merged[3], merged[4] = int(b["pos_last"]), int(b["v_last"])
    if (int(b["v_min"]), int(b["pos_min"])) < (merged[6], merged[5]):
        merged[5], merged[6] = int(b["pos_min"]), int(b["v_min"])
    if (int(b["v_max"]), int(b["pos_max"])) > (merged[8], merged[7]):
        merged[7], merged[8] = int(b["pos_max"]), int(b["v_max"])

    want = [1, pts[0][0], pts[0][1], pts[0][0], pts[0][1],
            pts[0][0], pts[0][1], pts[0][0], pts[0][1]]
    for pos, v in pts[1:]:
        _absorb(want, pos, v)
    assert merged == want and want[0] == 16


def test_stateful_countmin_matches_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed buckets' sparse Count-Min
    cells byte-match the batch sketch at the same bucket width."""
    from dtaianomaly_spark.rollup.tiers import countmin_rollup
    from dtaianomaly_spark.streaming.stateful import stateful_countmin

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    for cond in ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]:
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_countmin(stream, bucket_ticks=64, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.filter("NOT final").count() == 0
    assert (
        got.groupBy("doc_id", "bucket", "row", "cell")
        .count().filter("count > 1").count() == 0
    )
    got = got.drop("final")

    full = (
        lf.groupBy("doc_id", (F.col("pos") / 64).cast("long").alias("bucket"))
        .count().filter("count = 64").drop("count")
    )
    batch = countmin_rollup(lf, fine_ticks=64, factor=1).join(
        full, ["doc_id", "bucket"], "semi"
    )
    cols = ("doc_id", "bucket", "row", "cell", "ccnt")
    key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    assert got.count() > 200


def test_stateful_countmin_ttl_partials_combine_to_batch():
    """TTL flush mid-bucket: the final=false sparse cells from two
    flushes monoid-combine (cell-wise sum) to the exact full grid."""
    import hashlib

    import pandas as pd

    from dtaianomaly_spark.streaming.stateful import _make_cms_update

    depth, width = 4, 8
    update = _make_cms_update(16, depth, width, 1000)
    pts = [(i, (i * 7) % 23 - 11) for i in range(16)]

    def run_flush(points):
        st = _FakeState()
        out = list(
            update(("d",), iter([pd.DataFrame(points, columns=["pos", "value"])]), st)
        )
        assert out == [] and st.updated is not None
        st2 = _FakeState(value=st.updated, timed_out=True)
        flush = list(update(("d",), iter([]), st2))[0]
        assert st2.removed and not flush["final"].any()
        return flush

    a, b = run_flush(pts[:5]), run_flush(pts[5:])
    merged = {}
    for fl in (a, b):
        for r in fl.itertuples():
            merged[(r.row, r.cell)] = merged.get((r.row, r.cell), 0) + r.ccnt
    want = {}
    for _, v in pts:
        for row in range(depth):
            cell = int(
                hashlib.md5(f"{v}|r{row}".encode()).hexdigest()[:15], 16
            ) % width
            want[(row, cell)] = want.get((row, cell), 0) + 1
    assert merged == want
    # completion by count: feeding all 16 points at once emits final=true
    st = _FakeState()
    done = list(
        update(("d",), iter([pd.DataFrame(pts, columns=["pos", "value"])]), st)
    )[0]
    assert done["final"].all() and st.updated is None
    got = {
        (r.row, r.cell): r.ccnt for r in done.itertuples()
    }
    assert got == want


def test_stateful_bloom_matches_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed buckets' sparse Bloom
    set-bit rows byte-match the batch filter at the same bucket width."""
    from dtaianomaly_spark.rollup.tiers import bloom_rollup
    from dtaianomaly_spark.streaming.stateful import stateful_bloom

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    for cond in ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]:
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_bloom(stream, bucket_ticks=64, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.filter("NOT final").count() == 0
    assert (
        got.groupBy("doc_id", "bucket", "bit")
        .count().filter("count > 1").count() == 0
    )
    got = got.drop("final")

    full = (
        lf.groupBy("doc_id", (F.col("pos") / 64).cast("long").alias("bucket"))
        .count().filter("count = 64").drop("count")
    )
    batch = bloom_rollup(lf, fine_ticks=64, factor=1).join(
        full, ["doc_id", "bucket"], "semi"
    )
    cols = ("doc_id", "bucket", "bit")
    key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    assert got.count() > 200


def test_stateful_bloom_ttl_partials_union_to_batch():
    """TTL flush mid-bucket: the final=false set-bit rows from two
    flushes monoid-combine (union) to the exact full filter — and the
    union is idempotent, so re-delivered flush rows change nothing."""
    import hashlib

    import pandas as pd

    from dtaianomaly_spark.streaming.stateful import _make_bloom_update

    m_bits, k = 64, 3
    update = _make_bloom_update(16, m_bits, k, 1000)
    pts = [(i, (i * 7) % 23 - 11) for i in range(16)]

    def run_flush(points):
        st = _FakeState()
        out = list(
            update(("d",), iter([pd.DataFrame(points, columns=["pos", "value"])]), st)
        )
        assert out == [] and st.updated is not None
        st2 = _FakeState(value=st.updated, timed_out=True)
        flush = list(update(("d",), iter([]), st2))[0]
        assert st2.removed and not flush["final"].any()
        return flush

    a, b = run_flush(pts[:5]), run_flush(pts[5:])
    merged = {int(r.bit) for fl in (a, b) for r in fl.itertuples()}
    want = {
        int(hashlib.md5(f"{v}|b{i}".encode()).hexdigest()[:15], 16) % m_bits
        for _, v in pts for i in range(k)
    }
    assert merged == want
    assert merged | merged == want  # idempotent re-delivery
    # completion by count: feeding all 16 points at once emits final=true
    st = _FakeState()
    done = list(
        update(("d",), iter([pd.DataFrame(pts, columns=["pos", "value"])]), st)
    )[0]
    assert done["final"].all() and st.updated is None
    assert {int(r.bit) for r in done.itertuples()} == want


def test_stateful_kmv_matches_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed buckets' KMV sketches
    byte-match the batch tier at the same bucket width — hash lists,
    estimator floats and exact flags alike."""
    from dtaianomaly_spark.rollup.tiers import kmv_rollup
    from dtaianomaly_spark.streaming.stateful import stateful_kmv

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    for cond in ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]:
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_kmv(stream, bucket_ticks=64, k=16, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.filter("NOT final").count() == 0
    got = got.drop("final")

    full = (
        lf.groupBy("doc_id", (F.col("pos") / 64).cast("long").alias("bucket"))
        .count().filter("count = 64").drop("count")
    )
    batch = kmv_rollup(lf, fine_ticks=64, factor=1, k=16).join(
        full, ["doc_id", "bucket"], "semi"
    )
    key = lambda r: (  # noqa: E731
        r["doc_id"], r["bucket"], tuple(r["kmin"]), r["ndv_est"], r["exact"]
    )
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    assert got.count() > 50


def test_stateful_kmv_ttl_partials_union_to_batch():
    """TTL flush mid-bucket: the final=false k-min lists from two
    flushes monoid-combine (union-take-k) to the exact full sketch."""
    import hashlib

    import pandas as pd

    from dtaianomaly_spark.streaming.stateful import _make_kmv_update

    k = 8
    update = _make_kmv_update(16, k, 1000)
    pts = [(i, (i * 7) % 23 - 11) for i in range(16)]

    def run_flush(points):
        st = _FakeState()
        out = list(
            update(("d",), iter([pd.DataFrame(points, columns=["pos", "value"])]), st)
        )
        assert out == [] and st.updated is not None
        st2 = _FakeState(value=st.updated, timed_out=True)
        flush = list(update(("d",), iter([]), st2))[0]
        assert st2.removed and not flush["final"].any()
        return flush

    a, b = run_flush(pts[:5]), run_flush(pts[5:])
    merged = sorted(
        set(a["kmin"].iloc[0]) | set(b["kmin"].iloc[0])
    )[:k]
    want = sorted({
        int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        for _, v in pts
    })[:k]
    assert merged == want
    # completion by count: all 16 points at once emits the final sketch
    st = _FakeState()
    done = list(
        update(("d",), iter([pd.DataFrame(pts, columns=["pos", "value"])]), st)
    )[0]
    assert done["final"].all() and st.updated is None
    assert list(done["kmin"].iloc[0]) == want


def test_stateful_ddsketch_matches_batch(spark, tmp_path):
    """Out-of-order chunked ingest: completed buckets' sparse log-gamma
    bucket counts byte-match the batch DDSketch at the same width."""
    from dtaianomaly_spark.rollup.tiers import ddsketch_rollup
    from dtaianomaly_spark.streaming.stateful import stateful_ddsketch

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos", "value"
    )
    src = str(tmp_path / "src")
    for cond in ["pos % 3 = 1", "pos % 3 = 2", "pos % 3 = 0"]:
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stateful_ddsketch(stream, bucket_ticks=64, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    assert got.filter("NOT final").count() == 0
    assert (
        got.groupBy("doc_id", "bucket", "sidx")
        .count().filter("count > 1").count() == 0
    )
    got = got.drop("final")

    full = (
        lf.groupBy("doc_id", (F.col("pos") / 64).cast("long").alias("bucket"))
        .count().filter("count = 64").drop("count")
    )
    batch = ddsketch_rollup(lf, fine_ticks=64, factor=1).join(
        full, ["doc_id", "bucket"], "semi"
    )
    cols = ("doc_id", "bucket", "sidx", "dcnt")
    key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    assert got.count() > 200


def test_stateful_ddsketch_ttl_partials_combine_to_batch():
    """TTL flush mid-bucket: the final=false histograms from two flushes
    monoid-combine (index-wise sum) to the exact full histogram."""
    import pandas as pd

    from dtaianomaly_spark.rollup.tiers import dd_boundaries, dd_index_py
    from dtaianomaly_spark.streaming.stateful import _make_dd_update

    bounds = dd_boundaries(1 << 10)
    update = _make_dd_update(16, bounds, 1000)
    pts = [(i, (i * 7) % 23 - 14) for i in range(16)]

    def run_flush(points):
        st = _FakeState()
        out = list(
            update(("d",), iter([pd.DataFrame(points, columns=["pos", "value"])]), st)
        )
        assert out == [] and st.updated is not None
        st2 = _FakeState(value=st.updated, timed_out=True)
        flush = list(update(("d",), iter([]), st2))[0]
        assert st2.removed and not flush["final"].any()
        return flush

    a, b = run_flush(pts[:5]), run_flush(pts[5:])
    merged = {}
    for fl in (a, b):
        for r in fl.itertuples():
            merged[r.sidx] = merged.get(r.sidx, 0) + r.dcnt
    want = {}
    for _, v in pts:
        s = dd_index_py(v, bounds)
        want[s] = want.get(s, 0) + 1
    assert merged == want
    # zero, negative and positive stores all live in this input
    assert min(want) < 0 < max(want) and 0 in want
    # completion by count: feeding all 16 points at once emits final=true
    st = _FakeState()
    done = list(
        update(("d",), iter([pd.DataFrame(pts, columns=["pos", "value"])]), st)
    )[0]
    assert done["final"].all() and st.updated is None
    assert {r.sidx: r.dcnt for r in done.itertuples()} == want


def test_stateful_eh_sliding_matches_batch_replay(spark, tmp_path):
    """In-order chunked ingest: the streaming DGIM's per-position
    estimates byte-match the batch replay operator (same ExpHistogram
    stepping in both; the state is the bucket list, carried verbatim
    across micro-batches)."""
    import os

    from dtaianomaly_spark.operators.windows import eh_sliding_count_map
    from dtaianomaly_spark.streaming.stateful import stateful_eh_sliding

    lf = C.token_long_form(spark, SF_DIR).filter(F.col("doc_id") < 40).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pos",
        (F.col("value") > 300).cast("int").alias("flag"),
    )
    src = str(tmp_path / "eh_src")
    seen: set = set()
    for i, cond in enumerate(
        ["pos < 100", "pos >= 100 AND pos < 400", "pos >= 400"]
    ):
        lf.filter(cond).coalesce(1).write.mode("append").parquet(src)
        base = 1_600_000_000 + i * 10
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in seen:
                os.utime(p, (base, base))
                seen.add(p)
    stream = (
        spark.readStream.schema(lf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "eh_out")
    q = (
        stateful_eh_sliding(stream, window=64, r=4, flush_after_ms=None)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "eh_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["pos"]): (r["est"], r["n_buckets"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r["doc_id"], r["pos"]): (r["est"], r["n_buckets"])
        for r in eh_sliding_count_map(lf, window=64, r=4).collect()
    }
    assert got == batch and len(got) == lf.count()
    assert any(nb > 0 for _, nb in got.values())
