"""dtaianomaly_spark — a PySpark-native time-series rollup / downsample /
retention engine with the query semantics of ``guillaumeme/dtaianomaly``.

Brand-new engine (NOT a port): the reference is a single-machine NumPy
library; this package re-expresses its windowed-aggregate, preprocessing,
detection, thresholding and evaluation semantics as Spark DataFrame plans
plus vectorized Arrow UDFs, and adds the distributed machinery the
reference lacks: tiered rollups (raw -> 1m -> 1h), gap-fill, Gorilla /
delta-of-delta compression, skew-aware partitioning, per-partition lineage
and checkpoint-resume.

Layout
------
kernels/    pure-NumPy semantic kernels — the single source of truth for
            float semantics; imported both by the pytest oracle and by the
            Arrow UDFs so Spark results byte-match the oracle by construction.
sources/    deterministic corpus generators + UCR-format reader.
operators/  Spark DataFrame operators (windowing, preprocessing, detection,
            thresholding, evaluation, temporal joins).
pipelines/  training-data operators (text dedup, tokenizers, similarity
            search, multimodal decoders, relational and event analytics)
            behind the ``__spark_entry__.py`` queries; the rollup engine
            does not run them.
rollup/     the retention-tier engine: continuous aggregates, gap-fill,
            compression, partitioning, checkpoint/lineage.
streaming/  Structured Streaming variant of the rollup.
workflow/   grid runner + JSON config (mirrors the reference's Workflow).
"""

__version__ = "0.1.0"
