"""PySpark's own Python daemon, run from the installed pyspark.

Spark starts its daemon with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j zip and the ``spark-core`` jar first on ``PYTHONPATH``. Every task
then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 that
re-reads the central directory of every zipimporter into those archives:
most of a Python task's fixed set-up cost. Named by
``spark.python.daemon.module`` in ``session.get_spark``, this module drops
exactly those archives from ``sys.path`` and ``sys.path_importer_cache``,
so the daemon and its forked workers import the installed pyspark (its
version is checked against the JVM's at session start), then runs the
unchanged ``pyspark.daemon``. Other archives, such as a ``--py-files``
zip, stay importable.

Nothing happens at import.
"""

import glob
import os
import runpy
import sys

if __name__ == "__main__":
    _home = os.environ["SPARK_HOME"]
    _spark_archives = {
        os.path.realpath(p) for p in
        glob.glob(os.path.join(_home, "python", "lib", "*.zip"))
        + glob.glob(os.path.join(_home, "jars", "spark-core_*.jar"))}

    def _in_spark_archive(entry):
        path = os.path.realpath(entry)
        return any(path == a or path.startswith(a + os.sep)
                   for a in _spark_archives)

    sys.path[:] = [p for p in sys.path if not _in_spark_archive(p)]
    for _key in [k for k in sys.path_importer_cache
                 if _in_spark_archive(k)]:
        del sys.path_importer_cache[_key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
