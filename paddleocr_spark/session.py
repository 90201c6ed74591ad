"""SparkSession factory with the scale-oriented defaults used everywhere.

Tuned per SURVEY.md §4/§7: AQE on (runtime coalescing + skew split),
Arrow-batched pandas UDFs, explicit shuffle partitioning (north rule), and a
bounded Arrow batch size so grouped-map kernels never materialize oversized
batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    (``operators.grouped.cluster``), because each Python task pays a
    fixed ~0.1 s of worker set-up, so a second wave of them costs more
    than its load-balancing slack buys."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    return (
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
        .getOrCreate()
    )
