"""Reference source operators re-expressed as Spark readers.

Each reader cites the reference behavior it reproduces; all return plain
DataFrames so the pipeline stages compose on top.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_label_files(spark: SparkSession, label_files: list[str],
                     ratios: list[float] | None = None) -> DataFrame:
    """S4 SimpleDataSet: tab-delimited ``(path, json_label)`` label files,
    multi-file union + per-file deterministic ratio sampling
    (ppocr/data/simple_dataset.py:27-139; the reference samples with a fixed
    seed — we use a content-hash mod filter, which is equally deterministic
    AND partition-count-invariant, the property the fixed seed was for).

    Returns (img_path, label_json, source_file).
    """
    if ratios is None:
        ratios = [1.0] * len(label_files)
    parts = []
    for lf, ratio in zip(label_files, ratios):
        df = (spark.read.option("sep", "\t")
              .schema("img_path string, label_json string")
              .csv(lf)
              .withColumn("source_file", F.lit(os.path.basename(lf))))
        if ratio < 1.0:
            df = df.filter(
                F.pmod(F.xxhash64("img_path"), F.lit(1000))
                < int(ratio * 1000))
        parts.append(df)
    return reduce(lambda a, b: a.unionByName(b), parts)


def sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of a scale-factor dir (``<sf_dir>/<name>.parquet``),
    as scanned: the one opener of the test-data tables. It does not
    widen a one-file scan (ROADMAP item 2 records why); the few callers
    that need parallelism call ``pipeline.ensure_input_parallelism``."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
