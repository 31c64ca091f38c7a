"""Python workers fork from ``leader_graph_spark.worker_daemon``: a reused
worker starts each task with no cached importer for a path inside an
archive (so pyspark's per-task ``importlib.invalidate_caches()`` has no
archive directory to re-read), and files shipped with ``addPyFile``
still import."""

from __future__ import annotations

import os
import zipfile

import pandas as pd


def _probe():
    """A mapInPandas function (built here so that it pickles by value)
    that reports its worker's pid and the archive-internal importers."""

    def archive_importers(batches):
        import re
        import sys
        import zipimport

        inside = sorted(
            p
            for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and re.search(r"\.(zip|jar)/", p)
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "inside": ["\n".join(inside)]})

    return archive_importers


def test_reused_worker_holds_no_archive_importers(spark):
    """Run a one-task mapInPandas until a worker runs it a second time;
    inside that task no ``…zip/…`` or ``…jar/…`` importer is cached."""
    seen = set()
    for _ in range(12):
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(_probe(), "pid long, inside string")
            .collect()[0]
        )
        if row.pid in seen:
            assert row.inside == "", row.inside.splitlines()
            return
        seen.add(row.pid)
    raise AssertionError(f"no Python worker was reused across 12 tasks: {sorted(seen)}")


def test_added_zip_imports_in_a_later_task(spark, tmp_path):
    spark.range(1, numPartitions=1).mapInPandas(_probe(), "pid long, inside string").collect()
    name = f"lgs_added_zip_{os.getpid()}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def read_value(batches):
        import importlib

        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pd.DataFrame({"value": [value]})

    out = spark.range(1, numPartitions=1).mapInPandas(read_value, "value long").collect()
    assert [r.value for r in out] == [42]
