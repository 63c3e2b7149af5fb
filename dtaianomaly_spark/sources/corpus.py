"""Deterministic pre-tokenized sequence corpora.

Two generators for the engine's canonical input table
``(doc_id string, tokens array<int>, n_tok int, source string)``
(the BASELINE.json input_hint shape):

* :func:`synthetic_corpus` — the engine's own benchmark/test corpus:
  seeded NumPy generation inside ``mapInPandas`` so every executor
  generates its slice independently (no driver materialization, linear
  scale-out); per-series RNG is keyed on the series index so the table is
  byte-identical at any partitioning/parallelism. Mirrors the reference's
  data variety (noisy sines with injected anomalies, flat, random-walk —
  data/simple_time_series.py:16-137) quantized to int32 tokens.

* :func:`token_long_form` — an *oracle-able* long-form (doc_id, pos, value)
  derivation from the driver's ``documents`` parquet using integer-only
  arithmetic, so an ANSI-SQL oracle (DuckDB) reproduces every value
  bit-for-bit. Used by the correctness queries in ``__spark_entry__``.

The NumPy oracle :func:`synthetic_series` is the same code the Spark
generator runs — the per-row token-array-equality invariant holds by
construction and is verified in tests.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

CORPUS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False),
    ]
)

SOURCES = ("sine", "ucr-like", "flat", "random-walk")


def series_length(i: int) -> int:
    """Skewed deterministic lengths: mostly 64..2048, ~1% long (8192)."""
    rng = np.random.default_rng(1_000_003 + i)
    if rng.integers(100) == 0:
        return 8192
    return int(64 + rng.integers(1985))


def synthetic_series(i: int, seed: int = 42) -> Tuple[np.ndarray, str]:
    """NumPy oracle for series ``i``: int32 tokens + source tag."""
    n = series_length(i)
    rng = np.random.default_rng(seed + i)
    kind = SOURCES[i % len(SOURCES)]
    t = np.arange(n)
    if kind == "sine":
        freq = 1 + rng.integers(20)
        phase = rng.uniform(0, 2 * np.pi)
        x = np.sin(2 * np.pi * freq * t / n + phase) + rng.normal(0, 0.1, n)
    elif kind == "ucr-like":
        period = 25 + rng.integers(100)
        base = rng.uniform(size=period)
        x = np.tile(base, n // period + 1)[:n] + rng.normal(0, 0.05, n)
    elif kind == "flat":
        x = np.full(n, rng.uniform(-1, 1)) + rng.normal(0, 0.01, n)
    else:  # random-walk
        x = np.cumsum(rng.normal(0, 0.1, n))
    # injected point anomalies (à la inject_anomalies, simple_time_series.py:40-89)
    nb_anom = max(1, n // 200)
    idx = rng.choice(n, nb_anom, replace=False)
    mag = rng.uniform(1.0, 2.0, nb_anom) * (rng.integers(2, size=nb_anom) * 2 - 1)
    x[idx] += mag
    return np.round(1000 * x).astype(np.int32), kind


def synthetic_corpus(
    spark: SparkSession, n_series: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: each executor generates the series
    whose indices land in its ``spark.range`` slice."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                tokens, kind = synthetic_series(i, seed)
                rows.append(
                    (f"doc-{i:08d}", tokens.tolist(), int(tokens.shape[0]), kind)
                )
            yield pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])

    return (
        spark.range(0, n_series, numPartitions=partitions)
        .mapInPandas(gen, CORPUS_SCHEMA)
    )


# --------------------------------------------------------------------------
# Oracle-able derivation from the driver's `documents` table.
#
# value(doc_id, pos) = ((doc_id * 37 + pos * 17) % 211) - 105
#                      + 400 * (1 if (doc_id * 7919 + pos * 104729) % 997 == 0)
# n(doc) = 64 + ((n_chars * 13) % 1985)
#
# Integer-only => bit-identical in Spark, DuckDB and NumPy.
# --------------------------------------------------------------------------

TOKEN_SQL_CTE = """
WITH series AS (
    SELECT doc_id, 64 + ((n_chars * 13) % 1985) AS n
    FROM documents
),
long_form AS (
    SELECT
        s.doc_id,
        p.pos,
        CAST(((s.doc_id * 37 + p.pos * 17) % 211) - 105
             + CASE WHEN (s.doc_id * 7919 + p.pos * 104729) % 997 = 0
                    THEN 400 ELSE 0 END AS BIGINT) AS value,
        s.n
    FROM series s, LATERAL (SELECT UNNEST(range(0, s.n)) AS pos) p
)
"""


def token_value_expr(doc_id="doc_id", pos="pos"):
    spike = F.when(
        (F.col(doc_id) * 7919 + F.col(pos) * 104729) % 997 == 0, F.lit(400)
    ).otherwise(F.lit(0))
    return (
        ((F.col(doc_id) * 37 + F.col(pos) * 17) % 211 - 105 + spike)
        .cast("long")
        .alias("value")
    )


def series_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n) — the derived series length per document, unshuffled."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.lit(64) + (F.col("n_chars") * 13) % 1985).cast("int").alias("n"),
    )


def documents_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`series_lengths`, repartitioned for the work derived from it.

    The documents parquet is small (one file ⇒ one input split), but
    everything derived from it — sequence()+explode to ~1k positions per
    doc, the Arrow rollup kernel — multiplies the work by 3 orders of
    magnitude. Repartitioning the *tiny* series frame up-front costs a
    negligible shuffle and makes every downstream stage executor-parallel;
    at 100 TB the source table has thousands of splits and this becomes a
    no-op (Spark never coalesces below input splits)."""
    series = series_lengths(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism * 2
    if series.rdd.getNumPartitions() < target:
        series = series.repartition(target, "doc_id")
    return series


def token_long_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form (doc_id, pos, value, n) derived from `documents` with
    integer-only arithmetic; matches TOKEN_SQL_CTE in DuckDB exactly."""
    series = documents_series(spark, sf_dir)
    return series.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("pos"),
        "n",
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), token_value_expr(), "n")


MV_SQL_CTE = """
WITH series AS (
    SELECT doc_id, 64 + ((n_chars * 13) % 1985) AS n
    FROM documents
),
long_mv AS (
    SELECT
        s.doc_id,
        p.pos,
        a.attr,
        CAST(((s.doc_id * 37 + p.pos * 17 + a.attr * 53) % 211) - 105 AS BIGINT) AS value,
        s.n
    FROM series s,
         LATERAL (SELECT UNNEST(range(0, s.n)) AS pos) p,
         LATERAL (SELECT UNNEST(range(0, 2)) AS attr) a
)
"""


def token_long_form_mv(spark: SparkSession, sf_dir: str, n_attrs: int = 2) -> DataFrame:
    """Multivariate long form (doc_id, pos, attr, value, n): the engine's
    (n, d) series shape — the reference flattens attributes into windows
    (windowing_utils.py:33); relational ops simply carry ``attr`` as an
    extra key. Integer-only derivation, matches MV_SQL_CTE in DuckDB."""
    series = documents_series(spark, sf_dir)
    return (
        series.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("pos"),
            "n",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.explode(F.sequence(F.lit(0), F.lit(n_attrs - 1))).alias("attr"),
            "n",
        )
        .select(
            "doc_id", "pos",
            F.col("attr").cast("long").alias("attr"),
            ((F.col("doc_id") * 37 + F.col("pos") * 17 + F.col("attr") * 53) % 211 - 105)
            .cast("long")
            .alias("value"),
            "n",
        )
    )


def long_to_arrays(long_form: DataFrame) -> DataFrame:
    """Rebuild the canonical arrays shape (doc_id string, tokens
    array<int>, n_tok int) from any (doc_id, pos, value) long form —
    one hash aggregate. THE shared helper for every path that converts
    back (workflow grid after preprocessing, the UCR DataSet bridge)."""
    return (
        long_form.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "value"))).alias("pv"))
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr("transform(pv, s -> CAST(s.value AS INT))").alias("tokens"),
            F.size("pv").cast("int").alias("n_tok"),
        )
    )


def token_arrays_mv(spark: SparkSession, sf_dir: str, n_attrs: int = 2) -> DataFrame:
    """Per-row MULTIVARIATE array form (doc_id, tokens array<array<int>>
    time-major (n, d), n_tok): same integer derivation as
    ``token_long_form_mv``; built with nested HOFs, no shuffle. The
    reference treats (n, d) input via attribute-interleaved window
    flattening (windowing_utils.py:33) — the kernels do the same, so
    this shape drops straight into every windowed detector."""
    series = documents_series(spark, sf_dir)
    return series.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, n - 1), p -> "
            f"transform(sequence(0, {n_attrs - 1}), a -> "
            f"CAST((doc_id * 37 + p * 17 + a * 53) % 211 - 105 AS INT)))"
        ).alias("tokens"),
        F.col("n").alias("n_tok"),
    )


def token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row array form (doc_id, tokens, n_tok) of the same derivation —
    the engine's canonical input shape, built with HOFs (no shuffle)."""
    series = documents_series(spark, sf_dir)
    pos = "p"
    spike = (
        f"CASE WHEN (doc_id * 7919 + {pos} * 104729) % 997 = 0 THEN 400 ELSE 0 END"
    )
    return series.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, n - 1), {pos} -> "
            f"CAST((doc_id * 37 + {pos} * 17) % 211 - 105 + {spike} AS INT))"
        ).alias("tokens"),
        F.col("n").alias("n_tok"),
    )
