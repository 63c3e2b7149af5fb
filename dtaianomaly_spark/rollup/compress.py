"""Compressed rollup tier: delta-of-delta blocks of the integer partials.

Per-window statistics at each retention tier are stored as per-series
compressed blocks, one delta-of-delta ``BinaryType`` column per exact
int64 partial (kernels/codec.py; Facebook Gorilla, VLDB'15 §4.1,
reimplemented from the paper's bit layouts). Nothing derivable is
stored: a blob is a bare block body with no count, its row's
``n_points`` gives the count of every blob of the row, ``bucket`` runs
``0 .. n_points - 1`` within a block, and ``mean``/``std`` are derived
on decode by the one shared formula.

Physical shape: :func:`rollup_compress_map` is one map-only
``mapInArrow`` pass. It rolls each Arrow batch up with the batched
kernel behind :func:`~dtaianomaly_spark.rollup.tiers.rollup_tiers_map`
and encodes each (series, tier) as one row of blocks; each column of a
tier batch is encoded, all its blocks at once, in one segmented
``dod_encode_blocks`` pass. Decompression (:func:`decompress_tiers`) is
the exact inverse, also a ``mapInArrow``: each column of a batch is
decoded, all its blocks at once, by one ``dod_decode_blocks`` call, and
the rows are built with the ingest's own batch builder. A blob that does
not hold exactly ``n_points`` codes and its pad fails the read, naming
its (doc_id, tier). The round trip is tested, so queries can be served
straight from compressed blocks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
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
    counting up from 0, so every ``bucket == 0`` starts a new block; each
    of the seven columns is encoded, all its blocks at once, by one
    :func:`~dtaianomaly_spark.kernels.codec.dod_encode_blocks` call."""
    import pyarrow as pa

    heads = np.flatnonzero(tb.column("bucket").to_numpy() == 0)
    arrays = [tb.column("doc_id").take(heads), tb.column("tier").take(heads),
              pa.array(np.diff(heads, append=tb.num_rows))]
    arrays += [KC.dod_encode_blocks(tb.column(c).to_numpy(), heads) for c in INT_COLS]
    return pa.RecordBatch.from_arrays(arrays, names=COMPRESSED_SCHEMA.names)


def rollup_compress_map(corpus: DataFrame) -> DataFrame:
    """Fused rollup + compress: one Arrow pass from token arrays straight
    to compressed tier blocks, with no intermediate point rows and no
    shuffle (scan -> mapInArrow -> parquet append). The statistics come
    from ``_rollup_arrow_batch``, the batched kernel behind
    :func:`~dtaianomaly_spark.rollup.tiers.rollup_tiers_map`; each
    series' rows of each tier are then encoded as one block."""

    def run(batches):
        for batch in batches:
            for tb in _rollup_arrow_batch(batch):
                yield _encode_tier_batch(tb)

    return corpus.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInArrow(run, COMPRESSED_SCHEMA)


def _decode_batch(batch):
    """Rollup rows of one batch of compressed blocks, each column decoded
    by one :func:`~dtaianomaly_spark.kernels.codec.dod_decode_blocks`
    call. ``bucket`` comes from ``n_points``, so a block whose blobs do
    not all hold exactly ``n_points`` values raises ``ValueError`` naming
    (doc_id, tier)."""
    n_points = batch.column("n_points").to_numpy()
    st = {}
    for f, c in zip(STAT_FIELDS, INT_COLS):
        try:
            st[f] = KC.dod_decode_blocks(batch.column(f"{c}_enc"), n_points)
        except KC.BlockError as e:
            block = (batch.column("doc_id")[e.block].as_py(),
                     batch.column("tier")[e.block].as_py())
            raise ValueError(f"compressed block {block}: its {c}_enc {e.reason}") from None
    _, doc_idx, local = _blocks(n_points)
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
