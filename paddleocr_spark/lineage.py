"""Checkpoint/resume via a per-partition lineage table (SURVEY.md §2.11).

The reference is strictly batch; its closest resume analog is the fork's HDF5
sample cache (ppocr/data/simple_dataset.py:217-239) and train-checkpoint
resume. At 10^12-doc scale the north rule demands restartability, which we
express as *batch incrementalism*: documents hash into ``n_buckets`` stable
partitions (``pmod(xxhash64(doc_id), n)``); each completed bucket commits one
lineage row; a rerun anti-joins the lineage table and processes only
uncommitted buckets.

Write-ordering gives crash safety without a transaction log: bucket data is
written with dynamic partition overwrite FIRST, the snapshot manifest that
lists the new files is published NEXT (snapshots.py), and the lineage rows
are appended LAST. Lineage is what resume trusts, so it must only ever
mark buckets the snapshot already lists: a crash before the lineage append
leaves buckets that the rerun simply redoes — it overwrites their data and
publishes a newer snapshot (idempotent, no duplicates). On Iceberg the same
layout upgrades to snapshot-isolated `overwrite ... where part_id in (...)`
commits; parquet is the sandbox stand-in.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = ("run_id string, part_id int, doc_count long, "
                  "span_count long, status string, committed_at double")


def bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def committed_parts(spark: SparkSession, lineage_dir: str) -> set[int]:
    if not os.path.isdir(lineage_dir):
        return set()
    rows = (spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_dir)
            .filter(F.col("status") == "committed")
            .select("part_id").distinct().collect())
    return {r["part_id"] for r in rows}


def run_extract(spark: SparkSession, extracted: DataFrame, out_dir: str,
                run_id: str, n_buckets: int = 32,
                max_parts: int | None = None) -> dict:
    """Write `extracted` bucketed by doc_id with lineage commits; resumable.

    Args:
        extracted: (doc_id, spans) result of pipeline.extract (lazy).
        max_parts: process at most this many uncommitted buckets — the
            injected-failure hook for the resume test (simulates a mid-run
            kill after k committed partitions).
    Returns: summary dict {run_id, parts_done, parts_skipped, docs, spans}.
    """
    data_dir = os.path.join(out_dir, "extracted")
    lineage_dir = os.path.join(out_dir, "lineage")

    done = committed_parts(spark, lineage_dir)
    todo_all = [p for p in range(n_buckets) if p not in done]
    todo = todo_all if max_parts is None else todo_all[:max_parts]
    if not todo:
        return {"run_id": run_id, "parts_done": 0,
                "parts_skipped": len(done), "docs": 0, "spans": 0}

    df = extracted.withColumn("part_id", bucket_of(n_buckets))
    # Anti-join against committed lineage, expressed as partition pruning on
    # the stable bucket id (cheaper than a join: the bucket set is tiny and
    # pushes down as an IN-filter).
    df = df.filter(F.col("part_id").isin(todo))

    # Per-partition metrics ride the write pass itself as Observation
    # metrics (a map-side conditional aggregate, no extra action) — the
    # output is never read back. Cost: O(len(todo)) conditional sums per
    # row inside one whole-stage-codegen agg; n_buckets is an O(100-1000)
    # config, vs. the alternative of a second full scan of everything just
    # written (ruinous at 100 TB — a sum(size(spans)) re-read is a full
    # pass over the payload column).
    obs = Observation(f"lineage_{run_id}")
    metrics = []
    for p in todo:
        is_p = F.col("part_id") == p
        metrics.append(F.sum(F.when(is_p, 1).otherwise(0))
                       .alias(f"docs_{p}"))
        metrics.append(F.sum(F.when(is_p, F.size("spans")).otherwise(0))
                       .alias(f"spans_{p}"))
    df = df.observe(obs, *metrics)

    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("part_id")
       .parquet(data_dir))

    got = obs.get
    now = time.time()
    # Buckets that produced zero documents get a lineage row too (sum over
    # an empty set observes as NULL → 0), else a rerun would re-process
    # them forever.
    rows = [(run_id, p, int(got[f"docs_{p}"] or 0),
             int(got[f"spans_{p}"] or 0), "committed", now) for p in todo]

    # Iceberg-shaped snapshot commit (snapshots.py): pin the exact data
    # files of the buckets just written as a new atomic table version —
    # snapshot-isolated readers and time travel over the same parquet
    # layout the real Iceberg writer would replace. It is published
    # BEFORE the lineage append: a bucket marked committed is skipped by
    # every later run, so it must already be readable.
    from . import snapshots as S
    version = S.commit_snapshot(
        out_dir,
        {p: S.list_bucket_files(data_dir, p) for p in todo},
        {str(p): {"docs": r[2], "spans": r[3]}
         for p, r in zip(todo, rows)})

    lineage = spark.createDataFrame(rows, schema=LINEAGE_SCHEMA)
    lineage.coalesce(1).write.mode("append").parquet(lineage_dir)

    return {"run_id": run_id, "parts_done": len(todo),
            "parts_skipped": len(done),
            "docs": sum(r[2] for r in rows),
            "spans": sum(r[3] for r in rows),
            "snapshot_version": version}
