"""Compressed rollup tier: Gorilla XOR + delta-of-delta columns.

Per-window statistics at each retention tier are stored as per-series
compressed blocks: delta-of-delta for the integer stats (bucket ids are
arithmetic sequences, ~1 bit/point; counts and sums are locally smooth)
and Gorilla XOR for the derived floats, one ``BinaryType`` column per
statistic (kernels/codec.py; Facebook Gorilla, VLDB'15 §4.1,
reimplemented from the paper's bit layouts).

Physical shape: :func:`rollup_compress_map` is one map-only
``mapInArrow`` pass. It rolls each Arrow batch up with the batched
kernel behind :func:`~dtaianomaly_spark.rollup.tiers.rollup_tiers_map`
and encodes each (series, tier) as one row of blocks. Decompression
(:func:`decompress_tiers`) is the exact inverse and is also a narrow
map; the round trip is tested, so queries can be served straight from
compressed blocks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

from dtaianomaly_spark.kernels import codec as KC
from dtaianomaly_spark.rollup.tiers import ROLLUP_SCHEMA, _rollup_arrow_batch

INT_COLS = ("bucket", "cnt", "sum", "sumsq", "min", "max", "first", "last")
FLOAT_COLS = ("mean", "std")

COMPRESSED_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False),
     StructField("tier", StringType(), False),
     StructField("n_points", LongType(), False)]
    + [StructField(f"{c}_enc", BinaryType(), False) for c in INT_COLS]
    + [StructField(f"{c}_enc", BinaryType(), False) for c in FLOAT_COLS]
    + [StructField("raw_bytes", LongType(), False),
       StructField("enc_bytes", LongType(), False)]
)


def _encode_tier_batch(tb):
    """Encode one per-tier RecordBatch of :func:`_rollup_arrow_batch` as
    compressed blocks. Its rows are series-contiguous with buckets
    counting up from 0, so every ``bucket == 0`` starts a new block."""
    import pyarrow as pa

    def col(name):
        return tb.column(tb.schema.get_field_index(name))

    heads = np.flatnonzero(col("bucket").to_numpy() == 0)
    bounds = np.append(heads, tb.num_rows)
    n_points = np.diff(bounds)
    blocks = list(zip(bounds[:-1], bounds[1:]))
    arrays = [col("doc_id").take(heads), col("tier").take(heads),
              pa.array(n_points)]
    enc_bytes = np.zeros(heads.shape[0], dtype=np.int64)
    for cols, encode in ((INT_COLS, KC.dod_encode), (FLOAT_COLS, KC.xor_encode)):
        for c in cols:
            v = col(c).to_numpy()
            enc = [encode(v[s:e]) for s, e in blocks]
            enc_bytes += [len(b) for b in enc]
            arrays.append(pa.array(enc, type=pa.binary()))
    raw_bytes = n_points * 8 * (len(INT_COLS) + len(FLOAT_COLS))
    arrays += [pa.array(raw_bytes), pa.array(enc_bytes)]
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


def decompress_tiers(compressed: DataFrame) -> DataFrame:
    """Exact inverse of :func:`rollup_compress_map`: compressed blocks
    back to rollup rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc_cols = INT_COLS + FLOAT_COLS
        for pdf in batches:
            frames = []
            for doc_id, tier, *blobs in zip(
                pdf["doc_id"], pdf["tier"], *(pdf[f"{c}_enc"] for c in enc_cols)
            ):
                cols = {"doc_id": doc_id, "tier": tier}
                for c, b in zip(enc_cols, blobs):
                    decode = KC.dod_decode if c in INT_COLS else KC.xor_decode
                    cols[c] = decode(bytes(b))
                frames.append(pd.DataFrame(cols))
            if frames:
                yield pd.concat(frames, ignore_index=True)[
                    list(ROLLUP_SCHEMA.names)
                ]

    return compressed.mapInPandas(run, ROLLUP_SCHEMA)


def compression_report(compressed: DataFrame) -> DataFrame:
    """Per-tier compression summary (ratio from exact integer byte
    counts with the shared float formula)."""
    return (
        compressed.groupBy("tier")
        .agg(
            F.count("*").alias("series"),
            F.sum("n_points").alias("points"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
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
