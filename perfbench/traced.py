"""The traced run: per-layer numbers for one workload.

Every layer is timed from outside, around calls into its module's public
functions, and from Spark's own event log, which the benchmark switches on
for the traced session only. One traced run sweeps every layer over the
workload's tables:

1. An untraced session runs the workload's operation (extract, or the
   secondary round) cold and then warm: the baseline for the overhead.
2. A session with the event log on runs the same operation again; the
   difference of the warm medians is ``trace.overhead_s``. In that
   session the benchmark also runs, each under its own job description:
   ``pipeline.extract`` (exchange, sort and kernel stage numbers), the
   map-side prefix to a noop sink, the kernel input for the in-process
   replay (perfbench/replay.py), ``lineage.run_extract`` into a fresh
   directory and again as the resume no-op, and the secondary queries.
3. A ``local[1]`` session repeats extract for ``spark.scaling_eff``.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import replay
from perfbench.eventlog import EventLog

EXTRACT_REPS = 2
BUCKETS = 8
QUERY_LAYER = {"wall_s": "s", "jobs": "count", "stages": "count",
               "tasks": "count", "shuffle_bytes": "bytes",
               "executor_run_s": "s"}

PER_LAYER = {
    "session.get_spark_s": "s",
    "pipeline.map_stage_s": "s",
    "pipeline.spans_in": "count",
    "pipeline.spans_kept": "count",
    "pipeline.keep_ratio": "ratio",
    "pipeline.styled_share": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_records": "count",
    "exchange.shuffle_write_s": "s",
    "exchange.spill_bytes": "bytes",
    "sort.sort_s": "s",
    "sort.peak_mem_bytes": "bytes",
    "kernel.stage_run_s": "s",
    "kernel.stage_cpu_s": "s",
    "kernel.task_skew": "ratio",
    "kernel.bytes_to_python": "bytes",
    "kernel.bytes_from_python": "bytes",
    "kernel.batches": "count",
    "kernel.docs": "count",
    "kernel.fast_docs": "count",
    "kernel.slow_docs": "count",
    "kernel.fast_share": "ratio",
    "kernel.carried_docs": "count",
    "kernel.order_ranks_s": "s",
    "kernel.emit_s": "s",
    "kernels.order_document_calls": "count",
    "kernels.order_document_s": "s",
    "kernels.order_document_spans": "count",
    "lineage.run_extract_s": "s",
    "lineage.committed_parts_s": "s",
    "lineage.parts_done": "count",
    "lineage.files_written": "count",
    "lineage.bytes_written": "bytes",
    "lineage.write_amp": "ratio",
    "lineage.resume_noop_s": "s",
    "snapshots.commit_snapshot_s": "s",
    **{f"{q}.{k}": u for q in ("qdigest_quantiles", "table_html_master",
                               "main_content", "bpe_merges")
       for k, u in QUERY_LAYER.items()},
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_share": "ratio",
    "spark.scaling_eff": "ratio",
    "trace.overhead_s": "s",
}


def map_prefix(df):
    """The map-side stages of ``pipeline.extract`` before the style strip."""
    from paddleocr_spark import pipeline as P
    s = P.ensure_input_parallelism(df)
    s = P.explode_spans(s)
    s = P.with_geometry(s)
    s = P.det_filter(s)
    return P.drop_score_filter(s)


class _Timed:
    """Replace ``module.name`` with a wrapper that sums its wall time."""

    def __init__(self, module, name):
        self.module, self.name = module, name
        self.orig = getattr(module, name)
        self.total = 0.0

    def __enter__(self):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return self.orig(*a, **kw)
            finally:
                self.total += time.perf_counter() - t0
        setattr(self.module, self.name, wrapper)
        return self

    def __exit__(self, *exc):
        setattr(self.module, self.name, self.orig)


def _median_dicts(ds: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in ds) for k in ds[0]}


def _map_stage(b, out: dict) -> None:
    from pyspark.sql import functions as F

    from paddleocr_spark import pipeline as P
    w = b.workload
    pre = map_prefix(b.df)

    def noop():
        P.strip_styles(pre).write.format("noop").mode("overwrite").save()
        return True
    out["pipeline.map_stage_s"] = statistics.median(
        b.op(f"{w}.map_stage.{k}", noop)[0] for k in range(2))

    def counts():
        spans_in = b.df.select(F.sum(F.size("spans"))).collect()[0][0]
        text = F.col("kind") == "text"
        r = pre.agg(F.count("*"), F.sum(text.cast("long")),
                    F.sum((text & (F.instr("text", "<") > 0))
                          .cast("long"))).collect()[0]
        return int(spans_in), int(r[0]), int(r[1]), int(r[2])
    _, c = b.op(f"{w}.map_counts", counts)
    spans_in, kept, kept_text, styled = c or (0, 0, 0, 0)
    out["pipeline.spans_in"] = spans_in
    out["pipeline.spans_kept"] = kept
    out["pipeline.keep_ratio"] = kept / spans_in if spans_in else 0.0
    out["pipeline.styled_share"] = styled / kept_text if kept_text else 0.0


def _replay(b, ref, out: dict) -> None:
    from pyspark.sql import functions as F

    from paddleocr_spark import pipeline as P
    w = b.workload

    def kernel_input():
        s = P.strip_styles(map_prefix(b.df))
        n = b.spark.sparkContext.defaultParallelism * 2
        return (s.select(*replay.KERNEL_COLUMNS)
                .repartition(n, "doc_id")
                .sortWithinPartitions("doc_id", "span_idx")
                .withColumn("_pid", F.spark_partition_id())).toArrow()
    _, tbl = b.op(f"{w}.replay_input", kernel_input)
    max_records = int(b.spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    pid = tbl.column("_pid").to_numpy()
    cuts = np.concatenate([[0], np.flatnonzero(pid[1:] != pid[:-1]) + 1,
                           [len(pid)]])
    body = tbl.drop_columns(["_pid"])
    parts = [body.slice(s, e - s) for s, e in zip(cuts[:-1], cuts[1:])]
    r = replay.replay(parts, max_records)
    b.check("replay output", lambda: ref is not None
            and (r["kernel.docs"], r["spans"]) == tuple(ref[:2]))
    out.update({k: v for k, v in r.items() if k in PER_LAYER})


def _lineage(b, ref, out: dict) -> None:
    from paddleocr_spark import lineage, snapshots
    from paddleocr_spark.registry import (DEFAULT_CONFIG, create_operators,
                                          transform)
    from perfbench.run import WORK, checksum
    w = b.workload
    out_dir = os.path.join(WORK, "out", w)

    def commit():
        return lineage.run_extract(
            b.spark, transform(b.df, create_operators(DEFAULT_CONFIG)),
            out_dir, f"perfbench-{w}", n_buckets=BUCKETS)
    with _Timed(lineage, "committed_parts") as cp, \
            _Timed(snapshots, "commit_snapshot") as cs:
        run_s, first = b.op(f"{w}.batch_commit", commit)
        resume_s, again = b.op(f"{w}.resume", commit)
    b.check("batch commit counts", lambda: ref is not None and first
            and (first["docs"], first["spans"]) == tuple(ref[:2])
            and first["parts_done"] == BUCKETS)
    b.check("resume no-op", lambda: again is not None
            and again["parts_done"] == 0 and again["parts_skipped"] == BUCKETS)
    data_dir = os.path.join(out_dir, "extracted")
    b.check("committed output", lambda: checksum(
        b.spark.read.parquet(data_dir).select("doc_id", "spans")) == ref)
    files = [os.path.join(d, f) for d, _, fs in os.walk(data_dir)
             for f in fs if f.endswith(".parquet")]
    written = sum(os.path.getsize(f) for f in files)
    out.update({
        "lineage.run_extract_s": run_s,
        "lineage.committed_parts_s": cp.total,
        "lineage.parts_done": first["parts_done"] if first else 0,
        "lineage.files_written": len(files),
        "lineage.bytes_written": written,
        "lineage.write_amp": written / b.info["bytes"],
        "lineage.resume_noop_s": resume_s,
        "snapshots.commit_snapshot_s": cs.total,
    })


def run_traced(b) -> dict:
    from perfbench.run import QUERIES, ROUND_QUERIES, WORK
    w, nproc = b.workload, b.nproc
    secondary = w == "secondary_slow"
    reps = 1 if secondary else EXTRACT_REPS

    # 1. untraced baseline of the workload's own operation, measured after
    # as many warm-up operations as the traced extract gets before it
    b.setups(1, nproc)
    _, ref_main = b.op(f"{w}.op.0", b.main_op)
    warm_up = 0 if secondary else 1
    untraced = [b.op(f"{w}.op.{k}", b.main_op, expect=ref_main)[0]
                for k in range(1, warm_up + reps + 1)][warm_up:]
    b.spark.stop()

    # 2. the traced session
    b.set_event_log(True)
    out = {"session.get_spark_s": statistics.median(
        s[1] for s in b.setups(3, nproc))}
    app = b.app_id()
    ref = None if secondary else ref_main
    ext_walls = []
    for k in range(1 + (1 if secondary else EXTRACT_REPS)):
        wall, r = b.op(f"{w}.extract.{k}", b.extract_checksum, expect=ref)
        ref = ref if ref is not None else r
        if k:
            ext_walls.append(wall)
    if secondary:
        traced_wall, _ = b.op(f"{w}.op.traced", b.main_op, expect=ref_main)
        out["trace.overhead_s"] = traced_wall - statistics.median(untraced)
    else:
        out["trace.overhead_s"] = (statistics.median(ext_walls)
                                   - statistics.median(untraced))
    rest = [q for q in QUERIES if not secondary or q not in ROUND_QUERIES]
    b.op(f"{w}.queries", lambda: b.secondary_round(rest))
    _map_stage(b, out)
    _replay(b, ref, out)
    _lineage(b, ref, out)
    b.spark.stop()

    log = EventLog.read(os.path.join(WORK, "eventlog", app))
    out.update(_median_dicts([log.extract(f"{w}.extract.{k}")
                              for k in range(1, len(ext_walls) + 1)]))
    for q in QUERIES:
        # the query's last (traced) run
        k = max(i for i, walls in enumerate(b.query_walls) if q in walls)
        a = log.action(f"{w}.{q}.{k}")
        a["wall_s"] = b.query_walls[k][q]
        out.update({f"{q}.{m}": a[m] for m in QUERY_LAYER})
    out.update(log.totals(nproc))

    # 3. one core, same input
    b.setup(1)
    one = [b.op(f"{w}.extract.one.{k}", b.extract_checksum, expect=ref)[0]
           for k in range(2)][1:]
    out["spark.scaling_eff"] = statistics.median(one) / (
        nproc * statistics.median(ext_walls))
    b.notes = {"untraced_s": untraced, "traced_extract_s": ext_walls,
               "one_core_extract_s": one, "query_walls_s": b.query_walls}
    return out
