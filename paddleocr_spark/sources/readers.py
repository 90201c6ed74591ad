"""Reference source operators re-expressed as Spark readers.

Each reader cites the reference behavior it reproduces; all return plain
DataFrames so the pipeline stages compose on top.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Extension filter of get_image_file_list (ppocr/utils/utility.py:60-75).
IMG_EXTENSIONS = ["jpg", "bmp", "png", "jpeg", "rgb", "tif", "tiff", "gif",
                  "pdf"]


def read_binary_dir(spark: SparkSession, path: str) -> DataFrame:
    """S1 get_image_file_list: recursive directory scan with extension
    filter, sorted by path (utility.py:60-75 sorts the list; we order by
    input file name — same total order, but computed distributed).

    Returns (path, modificationTime, length, content:binary).
    """
    glob = "{" + ",".join(IMG_EXTENSIONS + [e.upper() for e in IMG_EXTENSIONS]) + "}"
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", f"*.{glob}")
            .option("recursiveFileLookup", "true")
            .load(path)
            .orderBy("path"))


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


def read_jsonl_source(spark: SparkSession, path: str) -> DataFrame:
    """S6 PubTabDataSet: JSONL annotation source
    (ppocr/data/pubtab_dataset.py:24-133) → spark.read.json."""
    return spark.read.json(path)


def sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of a scale-factor dir (``<sf_dir>/<name>.parquet``),
    as scanned: the one opener of the test-data tables. It does not
    widen a one-file scan (ROADMAP item 2 records why); the few callers
    that need parallelism call ``pipeline.ensure_input_parallelism``."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The primary corpus scan. Iceberg at scale (partition spec
    bucket(doc_id)); parquet in the sandbox. Reads ONLY the columns the
    pipeline needs so column pruning reaches the scan."""
    return sf_table(spark, sf_dir, "documents").select("doc_id", "text")
