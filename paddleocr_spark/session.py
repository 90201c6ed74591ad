"""SparkSession factory with the scale-oriented defaults used everywhere.

Tuned per SURVEY.md §4/§7: AQE on (runtime coalescing + skew split),
Arrow-batched pandas UDFs, explicit shuffle partitioning (north rule), and a
bounded Arrow batch size so grouped-map kernels never materialize oversized
batches.
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

from paddleocr_spark import daemon

# The directory or zip that ``paddleocr_spark`` is imported from. Spark
# starts the daemon before ``--py-files`` reach the workers, so the
# daemon module must be importable from the workers' PYTHONPATH, from
# any working directory.
_IMPORT_ROOT = os.path.dirname(os.path.dirname(
    os.path.abspath(daemon.__file__)))


def get_spark(app: str = "paddleocr-spark",
              cores: int | None = None) -> SparkSession:
    """A ``local[cores]`` session; ``cores`` defaults to
    ``$SPARK_GRAFT_CPUS``, else this host's CPU count. Shuffles default to
    2× cores partitions: enough slots for AQE to coalesce down, few enough
    that sf-scale partitions stay >memory-trivial. At cluster scale this
    is sized to data volume instead (see README scale notes).

    That 2× sizes the JVM-only stages, which AQE coalesces by bytes and
    whose tasks start in milliseconds. Python stages do not use it: they
    repartition explicitly into one partition per core
    (``operators.grouped.cluster``), because each Python task still
    costs a fixed ~0.05 s before its first row, so a second wave of them
    costs more than its load-balancing slack buys.

    Python workers run PySpark's own daemon from the installed pyspark
    (``daemon``), so the session checks that it is the JVM's release."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _IMPORT_ROOT)
        .getOrCreate()
    )
    # The workers run the installed pyspark, not the copy that ships
    # with the jars (see ``daemon``), so the two must be one release.
    if pyspark.__version__ != spark.version:
        raise RuntimeError(
            f"pyspark {pyspark.__version__} does not match Spark "
            f"{spark.version}: Python workers import the installed "
            "pyspark, which must be the JVM's release")
    return spark
