"""Reference source operators re-expressed as Spark readers.

Each reader cites the reference behavior it reproduces; all return plain
DataFrames so the pipeline stages compose on top.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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


#: The schema Spark inferred for each file set ``sf_table`` opened in this
#: process, keyed by ``_file_identity``.
_SCHEMAS: dict[tuple, StructType] = {}


def _file_identity(path: str) -> tuple:
    """``(absolute path, ((file, st_mtime_ns, st_size, st_ino), ...))``
    over the file ``path``, or over every file under the directory
    ``path``; raises ``OSError`` when it is not a local path."""
    path = os.path.abspath(path)
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                   for f in fs) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        st = os.stat(f)
        out.append((f, st.st_mtime_ns, st.st_size, st.st_ino))
    return path, tuple(out)


def sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of a scale-factor dir (``<sf_dir>/<name>.parquet``),
    as scanned: the one opener of the test-data tables. It does not
    widen a one-file scan (ROADMAP item 2 records why); the few callers
    that need parallelism call ``pipeline.ensure_input_parallelism``.

    Spark infers a parquet schema with a one-task job, several times the
    cost of an open with the schema given (PERF.md, "Secondary queries:
    one schema inference per file").
    The first open of a file in this process keeps the inferred schema;
    later opens of the same unchanged file pass it to
    ``spark.read.schema`` and start no job. A rewritten file has another
    identity (``_file_identity``) and is inferred again; a path that
    cannot be stat'ed is left to Spark, which raises its own
    ``AnalysisException``. The parquet inference settings
    (``spark.sql.parquet.binaryAsString`` and its kin) are assumed fixed
    for the process: nothing in the package sets them."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = _file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    # a copy: ``df.schema`` is the caller's, cached on ``df``
    _SCHEMAS[key] = StructType.fromJson(df.schema.jsonValue())
    return df
