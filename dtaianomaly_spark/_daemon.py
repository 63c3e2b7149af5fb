"""The Python worker daemon of the sessions ``get_spark`` starts.

Spark's stock daemon, ``pyspark.daemon``, forks workers that run
``pyspark.worker.main`` once per task. Its ``setup_spark_files`` ends in
``importlib.invalidate_caches()``, which on CPython 3.11 makes every
cached ``zipimport.zipimporter`` re-read its archive's central
directory: a warm worker holds 16 over ``pyspark.zip`` (1 328 entries),
0.1-0.3 s per task with 4 workers. This daemon is the stock one with
those importers dropped from ``sys.path_importer_cache`` before each
task, so there is nothing to re-read. An import that needs one rebuilds
it from zipimport's directory cache without reading the archive, and
``pyspark.zip`` does not change while a worker lives.

Spark starts it as ``python -m dtaianomaly_spark._daemon``, so a
``get_spark`` session needs the package importable (from the working
directory or ``PYTHONPATH``) when the daemon starts, as its UDFs already
need it. A session built without ``get_spark`` keeps the stock daemon:
``tests/test_spark_submit.py`` builds its own under ``spark-submit
--py-files``, where the package reaches a worker only after it starts.
"""

import sys
import zipimport

from pyspark import daemon

_worker_main = daemon.worker_main


def _main(infile, outfile):
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    return _worker_main(infile, outfile)


if __name__ == "__main__":
    daemon.worker_main = _main
    daemon.manager()
