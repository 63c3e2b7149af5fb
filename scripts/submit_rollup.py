#!/usr/bin/env python
"""spark-submit entry point (north rule: the engine deploys via
``spark-submit --py-files dtaianomaly_spark.zip scripts/submit_rollup.py``
on a multi-executor cluster — no driver-local imports beyond the shipped
zip).

Usage:
    spark-submit [--master ...] --py-files <zip> scripts/submit_rollup.py \
        <sf_dir> <output_dir> [n_batches]

Runs the checkpoint-resumable all-tier rollup over the token corpus
derived from <sf_dir>/documents.parquet, writes the tier store +
commit log to <output_dir>, and prints a one-line JSON summary.
<output_dir> must be a path that the driver and every executor see
alike (a shared mount on a cluster): the executors' tasks write the
batch files into a staging directory under it, and the driver renames
them into place and appends the commit log there.
"""

import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1]
    out_dir = sys.argv[2]
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    spark = SparkSession.builder.appName("dtaianomaly-rollup").getOrCreate()
    # imports AFTER the session exists: on a cluster these resolve from
    # the --py-files zip shipped to every executor
    from dtaianomaly_spark.sources import corpus as C
    from dtaianomaly_spark.streaming.incremental import IncrementalRollup

    corpus = C.token_arrays(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens", "n_tok"
    )
    inc = IncrementalRollup(out_dir, n_batches=n_batches)
    processed = inc.run(corpus)
    points = inc.read_store(spark).count()
    print(json.dumps({"processed_batches": processed, "rollup_points": points}))
    spark.stop()


if __name__ == "__main__":
    main()
