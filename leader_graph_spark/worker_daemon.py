"""PySpark's Python worker daemon, without the per-task archive rescan.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every cached ``zipimporter`` re-read its whole archive directory, and a
reused worker holds one per package path inside ``pyspark.zip``, the
py4j zip and the spark-core jar that lead its ``PYTHONPATH``. Dropping
those importers first leaves nothing to re-read; the next import
through such a path builds a fresh importer. ``session.get_spark``
names this module in ``spark.python.daemon.module``.
"""

import sys
import zipimport

import pyspark.daemon


def _worker_main(infile, outfile, _main=pyspark.daemon.worker_main):
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
    return _main(infile, outfile)


if __name__ == "__main__":
    pyspark.daemon.worker_main = _worker_main
    pyspark.daemon.manager()
