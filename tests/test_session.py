"""The session's Python worker daemon (``dtaianomaly_spark._daemon``)."""


def test_tasks_start_without_cached_zip_importers(spark):
    """A warm worker starts each task with no ``zipimporter`` cached, so
    the task's ``importlib.invalidate_caches()`` re-reads no archive
    (Spark's stock daemon starts each with 16 over ``pyspark.zip``)."""

    def zip_importers(it):
        import sys
        import zipimport

        import pyarrow as pa

        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for batch in it:
            yield pa.RecordBatch.from_pydict({"n": [n] * batch.num_rows})

    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "dtaianomaly_spark._daemon")
    df = spark.range(8, numPartitions=4).mapInArrow(zip_importers, "n long")
    df.collect()
    assert [r.n for r in df.collect()] == [0] * 8
