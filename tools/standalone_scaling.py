"""Standalone-cluster scaling probe — REAL multi-executor evidence.

The north rule's scaling criterion is N vs 4N EXECUTORS. The recorded
local pairs (BENCH_local.json) use local[N] (threads inside one JVM)
because that is what a single host can sustain quietly; this script runs
the identical flagship measurement against a Spark STANDALONE master
(`spark://127.0.0.1:7077`: separate master, worker, and executor JVMs,
Netty shuffle between executors, Arrow socket per executor python
worker pool), so the N vs 4N pair is counted in actual executors.

Run via spark-submit — executor topology comes from the submit conf:

  /opt/spark/sbin/start-master.sh -h 127.0.0.1 -p 7077
  SPARK_WORKER_CORES=8 SPARK_WORKER_MEMORY=24g \
      /opt/spark/sbin/start-worker.sh spark://127.0.0.1:7077

  # N = 1 executor x 2 cores
  spark-submit --master spark://127.0.0.1:7077 \
    --py-files dist/paddleocr_spark.zip \
    --conf spark.executor.cores=2 --conf spark.executor.memory=4g \
    --conf spark.cores.max=2 tools/standalone_scaling.py \
    /tmp/scale_corpus 3
  # 4N = 4 executors x 2 cores: same but spark.cores.max=8

Prints ONE JSON line: {"executors": E, "total_cores": C, "times": [...],
"sec": best, "docs": n}.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> int:
    corpus_path = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from paddleocr_spark.pipeline import extract

    spark = (SparkSession.builder.appName("standalone-scaling")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    total_cores = int(spark.conf.get("spark.cores.max", "0"))

    out = extract(spark.read.parquet(corpus_path))

    def run() -> tuple[float, int, int]:
        t0 = time.time()
        row = out.agg(F.count("*").alias("docs"),
                      F.sum(F.size("spans")).alias("spans")).collect()[0]
        return time.time() - t0, int(row["docs"]), int(row["spans"] or 0)

    run()  # warmup: executor python workers, codegen, shuffle files
    times = []
    docs = spans = 0
    for _ in range(runs):
        sec, docs, spans = run()
        times.append(round(sec, 3))

    # executor count as the master actually granted it (the memory-status
    # map has one entry per executor JVM plus one for the driver)
    n_exec = int(spark.sparkContext._jsc.sc()
                 .getExecutorMemoryStatus().size()) - 1
    best = min(times)
    print(json.dumps({
        "executors": max(n_exec, 1),
        "total_cores": total_cores,
        "times": times, "sec": best, "docs": docs, "spans": spans,
        "docs_per_sec": round(docs / best, 1) if best > 0 else 0.0,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
