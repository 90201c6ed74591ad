"""Checkpoint/resume from per-bucket manifest records (SURVEY.md §2.11).

The reference is strictly batch; its closest resume analog is the fork's HDF5
sample cache (ppocr/data/simple_dataset.py:217-239) and train-checkpoint
resume. At 10^12-doc scale the north rule demands restartability, which we
express as *batch incrementalism*: documents hash into ``n_buckets`` stable
partitions (``pmod(xxhash64(doc_id), n)``); each completed bucket gets one
record in the snapshot manifest (snapshots.py) — its files, doc and span
counts, the run that wrote it and when; a rerun skips the buckets the latest
manifest lists and processes only the rest.

One commit record gives crash safety without a transaction log: bucket data
is written with dynamic partition overwrite FIRST, then the manifest that
lists the new files is published atomically. A crash before the publish
leaves buckets no manifest lists, so the rerun simply redoes them — it
overwrites their data and publishes a newer snapshot (idempotent, no
duplicates). On Iceberg the same layout upgrades to snapshot-isolated
`overwrite ... where part_id in (...)` commits; parquet is the sandbox
stand-in.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import snapshots as S


def bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def committed_parts(out_dir: str) -> set[int]:
    """Buckets the latest snapshot manifest lists (a JSON read, no job)."""
    return {int(b) for b in S.load_manifest(out_dir)["buckets"]}


def run_extract(spark: SparkSession,
                extracted: DataFrame | Callable[[], DataFrame],
                out_dir: str, run_id: str, n_buckets: int = 32,
                max_parts: int | None = None) -> dict:
    """Write `extracted` bucketed by doc_id, one manifest commit; resumable.

    Args:
        extracted: (doc_id, spans) result of pipeline.extract (lazy), or a
            function that builds it; the function is called only when a
            bucket is left to do, so a resume no-op builds no plan.
        max_parts: process at most this many uncommitted buckets — the
            injected-failure hook for the resume test (simulates a mid-run
            kill after k committed partitions).
    Returns: summary dict {run_id, parts_done, parts_skipped, docs, spans,
        snapshot_version}.
    """
    data_dir = os.path.join(out_dir, "extracted")

    done = committed_parts(out_dir)
    todo_all = [p for p in range(n_buckets) if p not in done]
    todo = todo_all if max_parts is None else todo_all[:max_parts]
    if not todo:
        return {"run_id": run_id, "parts_done": 0,
                "parts_skipped": len(done), "docs": 0, "spans": 0,
                "snapshot_version": S.current_version(out_dir)}

    if callable(extracted):
        extracted = extracted()
    df = extracted.withColumn("part_id", bucket_of(n_buckets))
    # Anti-join against the committed buckets, expressed as partition
    # pruning on the stable bucket id (cheaper than a join: the bucket set
    # is tiny and pushes down as an IN-filter).
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
    # Buckets that produced zero documents get a record too (sum over an
    # empty set observes as NULL → 0), else a rerun would re-process them
    # forever.
    counts = {str(p): {"docs": int(got[f"docs_{p}"] or 0),
                       "spans": int(got[f"spans_{p}"] or 0),
                       "run_id": run_id} for p in todo}

    # Iceberg-shaped snapshot commit (snapshots.py): pin the exact data
    # files of the buckets just written as a new atomic table version —
    # snapshot-isolated readers and time travel over the same parquet
    # layout the real Iceberg writer would replace. The publish IS the
    # commit: later runs skip a bucket from the moment a manifest lists it.
    version = S.commit_snapshot(
        out_dir, {p: S.list_bucket_files(data_dir, p) for p in todo},
        counts)

    return {"run_id": run_id, "parts_done": len(todo),
            "parts_skipped": len(done),
            "docs": sum(c["docs"] for c in counts.values()),
            "spans": sum(c["spans"] for c in counts.values()),
            "snapshot_version": version}
