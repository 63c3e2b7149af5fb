"""Compressed rollup tier: delta-of-delta blocks of the integer partials.

Per-window statistics at each retention tier are stored as per-series
compressed blocks, one delta-of-delta ``BinaryType`` column per exact
int64 partial (kernels/codec.py; Facebook Gorilla, VLDB'15 §4.1,
reimplemented from the paper's bit layouts). Nothing derivable is
stored: ``bucket`` runs ``0 .. n_points - 1`` within a block, and
``mean``/``std`` are derived on decode by the one shared formula.

Physical shape: :func:`rollup_compress_map` is one map-only
``mapInArrow`` pass. It rolls each Arrow batch up with the batched
kernel behind :func:`~dtaianomaly_spark.rollup.tiers.rollup_tiers_map`
and encodes each (series, tier) as one row of blocks. Decompression
(:func:`decompress_tiers`) is the exact inverse, also a ``mapInArrow``
that builds its rows with the ingest's own batch builder; the round
trip is tested, so queries can be served straight from compressed blocks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

from dtaianomaly_spark.kernels import codec as KC
from dtaianomaly_spark.kernels.stats import STAT_FIELDS
from dtaianomaly_spark.rollup.tiers import (
    ROLLUP_SCHEMA, _blocks, _rollup_arrow_batch, _tier_batch,
)

INT_COLS = ("cnt", "sum", "sumsq", "min", "max", "first", "last")

COMPRESSED_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False),
     StructField("tier", StringType(), False),
     StructField("n_points", LongType(), False)]
    + [StructField(f"{c}_enc", BinaryType(), False) for c in INT_COLS]
)


def _encode_tier_batch(tb):
    """Encode one per-tier RecordBatch of :func:`_rollup_arrow_batch` as
    compressed blocks. Its rows are series-contiguous with buckets
    counting up from 0, so every ``bucket == 0`` starts a new block."""
    import pyarrow as pa

    heads = np.flatnonzero(tb.column("bucket").to_numpy() == 0)
    bounds = np.append(heads, tb.num_rows)
    blocks = list(zip(bounds[:-1], bounds[1:]))
    arrays = [tb.column("doc_id").take(heads), tb.column("tier").take(heads),
              pa.array(np.diff(bounds))]
    for c in INT_COLS:
        v = tb.column(c).to_numpy()
        arrays.append(pa.array([KC.dod_encode(v[s:e]) for s, e in blocks],
                               type=pa.binary()))
    return pa.RecordBatch.from_arrays(arrays, names=COMPRESSED_SCHEMA.names)


def rollup_compress_map(corpus: DataFrame, tiers=("raw", "1m", "1h")) -> DataFrame:
    """Fused rollup + compress: one Arrow pass from token arrays straight
    to compressed tier blocks, with no intermediate point rows and no
    shuffle (scan -> mapInArrow -> parquet append). The statistics come
    from ``_rollup_arrow_batch``, the batched kernel behind
    :func:`~dtaianomaly_spark.rollup.tiers.rollup_tiers_map`; each
    series' rows of each tier are then encoded as one block."""

    def run(batches):
        for batch in batches:
            for tb in _rollup_arrow_batch(batch, tiers):
                yield _encode_tier_batch(tb)

    return corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInArrow(run, COMPRESSED_SCHEMA)


def _decode_batch(batch):
    """Rollup rows of one batch of compressed blocks. ``bucket`` comes
    from ``n_points``, so a block whose streams do not all hold exactly
    ``n_points`` values raises ``ValueError`` naming (doc_id, tier)."""
    n_points = batch.column("n_points").to_numpy()
    streams = [[KC.dod_decode(b) for b in batch.column(f"{c}_enc").to_pylist()]
               for c in INT_COLS]
    lens = np.array([[s.shape[0] for s in col] for col in streams])
    bad = np.flatnonzero((lens != n_points).any(axis=0))
    if bad.size:
        i = int(bad[0])
        block = (batch.column("doc_id")[i].as_py(), batch.column("tier")[i].as_py())
        raise ValueError(f"compressed block {block} has n_points={n_points[i]} "
                         f"but streams of {lens[:, i].tolist()} values")
    _, doc_idx, local = _blocks(n_points)
    st = dict(zip(STAT_FIELDS, (np.concatenate(col) for col in streams)))
    return _tier_batch(batch.column("doc_id"), batch.column("tier"), doc_idx, local, st)


def decompress_tiers(compressed: DataFrame) -> DataFrame:
    """Exact inverse of :func:`rollup_compress_map`: compressed blocks
    back to rollup rows, one Arrow batch per input batch."""

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield _decode_batch(batch)

    return compressed.mapInArrow(run, ROLLUP_SCHEMA)


def compression_report(compressed: DataFrame) -> DataFrame:
    """Per-tier compression summary: ``raw_bytes`` counts 8 bytes per
    decoded field besides doc_id and tier; ``enc_bytes`` is blob length."""
    enc_bytes = sum(F.octet_length(f"{c}_enc").cast("long") for c in INT_COLS)
    return (
        compressed.groupBy("tier")
        .agg(
            F.count("*").alias("series"),
            F.sum("n_points").alias("points"),
            (F.sum("n_points") * 8 * (len(ROLLUP_SCHEMA) - 2)).alias("raw_bytes"),
            F.sum(enc_bytes).alias("enc_bytes"),
        )
        .select(
            "tier", "series", "points", "raw_bytes", "enc_bytes",
            F.expr("CAST(raw_bytes AS DOUBLE) / enc_bytes").alias("ratio"),
        )
    )


# --------------------------------------------- Swing-filter PLA (lossy)

PLA_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("n", LongType(), False),
        StructField("n_segments", LongType(), False),
        StructField("knots", LongType(), False),
        StructField("ratio", DoubleType(), False),
        StructField("max_err", DoubleType(), False),
    ]
)

PLA_SEG_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("seg", LongType(), False),
        StructField("t_start", LongType(), False),
        StructField("t_end", LongType(), False),
        StructField("y_start", DoubleType(), False),
        StructField("y_end", DoubleType(), False),
    ]
)


def pla_segments_map(corpus: DataFrame, eps: float) -> DataFrame:
    """Per-series Swing-filter PLA segments (kernels/codec.swing_encode;
    Elmeleegy et al., VLDB 2009): the LOSSY compression leg next to the
    exact Gorilla blocks — raw token streams become connected linear
    segments with a hard ``|recon - x| <= eps`` guarantee, the form a
    dashboard or a downsampled retention tier can serve directly.
    Map-only Arrow stage, no shuffle; output one row per segment."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                segs = KC.swing_encode(
                    np.asarray(tokens, dtype=np.float64), eps
                )
                rows.extend(
                    (str(doc_id), i, int(s[0]), int(s[1]), s[2], s[3])
                    for i, s in enumerate(segs)
                )
            yield pd.DataFrame(rows, columns=PLA_SEG_SCHEMA.names)

    return corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, PLA_SEG_SCHEMA)


def pla_report_map(corpus: DataFrame, eps: float) -> DataFrame:
    """Per-series PLA compression report: encode, DECODE, and verify in
    one Arrow pass — ``max_err`` is the actual reconstruction error
    (guaranteed <= eps, and visible in every row), ``ratio`` the
    points-per-knot compression (n / (n_segments + 1): connected
    segments share knots). The fused encode+verify keeps the audit on
    the executors — nothing but the bounded report crosses the wire."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(tokens, dtype=np.float64)
                segs = KC.swing_encode(x, eps)
                rec = KC.swing_decode(segs, x.shape[0])
                err = float(np.abs(rec - x).max()) if x.shape[0] else 0.0
                m = segs.shape[0]
                # connected segments share endpoints: m + 1 knots, except
                # the degenerate single-point segment (one knot) and the
                # empty series (none)
                knots = 0 if m == 0 else (1 if x.shape[0] == 1 else m + 1)
                rows.append(
                    (str(doc_id), x.shape[0], m, knots,
                     x.shape[0] / knots if knots else 0.0, err)
                )
            yield pd.DataFrame(rows, columns=PLA_SCHEMA.names)

    return corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInPandas(run, PLA_SCHEMA)
