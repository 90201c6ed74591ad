"""The session's Python workers import the installed pyspark, not the
zips that ship with Spark's jars (``paddleocr_spark.daemon``), and
``get_spark`` guards what that relies on."""

from __future__ import annotations

import importlib.util

import pyarrow as pa
import pyspark
import pytest

from paddleocr_spark import daemon
from paddleocr_spark.session import get_spark


def test_workers_import_the_installed_pyspark(spark):
    def _import_source(batches):
        """One row from inside a worker: where pyspark came from, how
        many zipimporters into ``$SPARK_HOME`` the import cache holds, and
        what one ``invalidate_caches()`` (called once per task by
        ``pyspark.worker_util.setup_spark_files``) costs."""
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pyspark

        home = os.path.realpath(os.environ["SPARK_HOME"]) + os.sep
        zips = sum(isinstance(imp, zipimport.zipimporter)
                   and os.path.realpath(path).startswith(home)
                   for path, imp in sys.path_importer_cache.items())
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_s = time.perf_counter() - t0
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pyspark_file": [pyspark.__file__], "spark_zipimporters": [zips],
            "invalidate_s": [invalidate_s]})

    row = spark.range(1, numPartitions=1).mapInArrow(
        _import_source, "pyspark_file string, spark_zipimporters long, "
                        "invalidate_s double").collect()[0]
    assert ".zip" not in row.pyspark_file, row
    assert row.spark_zipimporters == 0, row


def test_session_names_an_importable_daemon(spark):
    name = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert name == daemon.__name__
    assert importlib.util.find_spec(name) is not None


def test_session_rejects_a_pyspark_of_another_release(spark, monkeypatch):
    monkeypatch.setattr(pyspark, "__version__", "0.0.0")
    with pytest.raises(RuntimeError, match="does not match Spark"):
        get_spark("paddleocr-spark-tests", cores=8)
