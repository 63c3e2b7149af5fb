"""SparkSession factory with the engine's standard configuration.

Tuned for the hot path this engine runs: Arrow-vectorized Python UDFs over
per-series token arrays, AQE for runtime re-planning (skew joins, partition
coalescing), and shuffle-partition counts sized to the local core count.
On a real cluster the same settings apply per-executor; nothing here is
local-mode-specific except the master URL default.

``spark.python.daemon.module`` names :mod:`dtaianomaly_spark._daemon`.
With Spark's stock daemon every Python task, whatever its UDF, first
re-read the ``pyspark.zip`` directory once per cached zip importer:
0.1-0.3 s per task with 4 workers (PySpark 4.1, CPython 3.11), about half
of a ``compressed_ingest`` op. A warm 4-task ``mapInArrow`` over 8 rows
took 0.34-0.40 s with the stock daemon and takes 0.16-0.18 s with this
one (4 vCPUs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dtaianomaly-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "dtaianomaly_spark._daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
