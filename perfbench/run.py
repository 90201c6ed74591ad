"""Benchmark of the paddleocr_spark engine, one workload per invocation.

    python3 perfbench/run.py --workload web_clean --seed 1 --seconds 4 --trace 0

It makes the workload's tables from the seed (perfbench/inputs.py), starts
Spark on ``local[nproc]`` and drives it as one closed-loop client: one
driver process issuing one Spark action at a time, the next only after
the previous one returned. Every operation's output is checked.

Workloads:

* ``web_clean``: ``pipeline.extract`` over short single-region documents,
  which the kernel's vectorised fast path orders; scan, map stage,
  shuffle, sort and the JVM-Arrow round trip dominate.
* ``layout_mixed``: ``pipeline.extract`` over the mixed-layout flagship
  corpus, where about half the documents take the exact per-document
  kernel (``kernels.order_document``).
* ``secondary_slow``: the slowest secondary query of
  ``functions.bench_queries``, ``qdigest_quantiles``, over a small
  documents table; its cost is Spark's per-job and per-stage overhead.

``--trace 0`` times the workload's operation: once cold, a few untimed
warm-up runs, then warm runs for ``--seconds`` (at least ``MIN_WARM``),
and prints the end-to-end metrics. ``--trace 1`` runs the traced sweep
(perfbench/traced.py), whose length is fixed, and prints the per-layer
metrics. The line before the result is the environment record. The last
line is ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.bench_run/`` in the checkout and
is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_run")
#: The secondary queries the traced sweep runs, and the one the
#: secondary_slow round times end to end: the q-digest stage chain (about
#: 70 Spark jobs). A cold and two warm rounds of it already take most of a
#: run, so the other three are measured in the traced sweep only.
QUERIES = ("qdigest_quantiles", "table_html_master", "main_content",
           "bpe_merges")
ROUND_QUERIES = ("qdigest_quantiles",)
#: Setups per run; ``setup_s`` is their median. The first one also
#: launches the JVM.
SETUPS = 5
#: Operations after the cold one that are run and checked but not timed,
#: so that timing starts once JIT compilation has settled.
WARM_UP = {"web_clean": 2, "layout_mixed": 3, "secondary_slow": 0}
#: Timed warm operations each run makes at least, even past ``--seconds``.
MIN_WARM = {"web_clean": 3, "layout_mixed": 3, "secondary_slow": 2}
ORACLE_SAMPLE = 40
DRIVER_MEM = "1g"

END_TO_END = {"setup_s": "s", "cold_s": "s", "docs_per_s": "docs/s",
              "peak_rss_mb": "MB"}


def cores() -> int:
    n = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        n = min(n, len(os.sched_getaffinity(0)))
    return n


def configure_env() -> None:
    """Point Spark's, the JVM's and the Python workers' temporary files into
    the checkout and let the workers import the program from it. Must run
    before the first Spark session starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "eventlog")):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"--conf spark.eventLog.dir=file://{os.path.join(WORK, 'eventlog')}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell"])
    import tempfile
    tempfile.tempdir = None


# -- processes ---------------------------------------------------------------

def _proc_stat(pid: str) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return int(rest[1]), rest[0]
    except (OSError, IndexError, ValueError):
        return None


def descendants() -> list[int]:
    """Live descendant processes of this one: the JVM and, below it, the
    PySpark daemon and its Python workers."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st and st[1] != "Z":
                children.setdefault(st[0], []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss() -> dict[str, float]:
    """Peak resident set (VmHWM) of each descendant, summed per program:
    the JVM and the Python workers, in MB."""
    out = {"jvm_mb": 0.0, "python_mb": 0.0, "python_procs": 0}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" not in status:
            continue
        mb = int(status["VmHWM"].split()[0]) / 1024
        if status["Name"].strip() == "java":
            out["jvm_mb"] += mb
        else:
            out["python_mb"] += mb
            out["python_procs"] += 1
    return out


def _alive(pid: int) -> bool:
    st = _proc_stat(str(pid))
    return st is not None and st[1] != "Z"


# -- outputs -----------------------------------------------------------------

def _canon(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    return v


def result_hash(rows) -> str:
    """Order-insensitive hash of collected rows; floats at 9 digits."""
    lines = sorted(json.dumps(_canon(list(r)), default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Bench:
    """One benchmark process: its inputs, its Spark session and its
    counts of attempted and failed operations."""

    def __init__(self, workload: str, seed: int, info: dict):
        self.workload, self.seed, self.info = workload, seed, info
        self.nproc = cores()
        self.spark = None
        self.df = None
        self.attempted = self.failed = 0
        self.peak_rss_mb = 0.0
        self.peak_rss_parts: dict = {}
        self.notes: dict = {}
        self.query_walls: list[dict] = []

    # session
    def set_event_log(self, on: bool) -> None:
        """Toggle the event log for sessions started from now on (the JVM
        reads ``spark.*`` system properties into each new SparkConf)."""
        from pyspark import SparkContext
        system = SparkContext._jvm.java.lang.System
        system.setProperty("spark.eventLog.enabled", str(on).lower())

    def setup(self, n_cores: int) -> tuple[float, float]:
        """``session.get_spark`` plus opening the input. Returns the total
        wall time and the ``get_spark`` part."""
        from paddleocr_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=n_cores)
        t_session = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.label(f"{self.workload}.open")
        if self.workload == "secondary_slow":
            for t in ("documents", "lineitem"):
                self.spark.read.parquet(
                    os.path.join(self.info["sf_dir"], f"{t}.parquet"))
        self.df = self.spark.read.parquet(self.info["spans_dir"])
        return time.perf_counter() - t0, t_session

    def setups(self, k: int, n_cores: int) -> list[tuple[float, float]]:
        out = []
        for i in range(k):
            if i:
                self.spark.stop()
            out.append(self.setup(n_cores))
        return out

    def label(self, desc: str) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    def app_id(self) -> str:
        return self.spark.sparkContext.applicationId

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait until it and every Python
        worker below it have exited."""
        from pyspark import SparkContext
        pids = descendants()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                traceback.print_exc()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in pids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass

    # operations
    def op(self, desc: str, fn, expect=None):
        """Run one checked operation; returns (wall seconds, result). An
        exception or a result unequal to ``expect`` counts as failed."""
        self.label(desc)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            result = None
        wall = time.perf_counter() - t0
        if result is not None and expect is not None and result != expect:
            print(f"{desc}: output {result} != {expect}", file=sys.stderr)
            self.failed += 1
        rss = tree_peak_rss()
        if rss["jvm_mb"] + rss["python_mb"] > self.peak_rss_mb:
            self.peak_rss_mb = rss["jvm_mb"] + rss["python_mb"]
            self.peak_rss_parts = rss
        return wall, result

    def check(self, desc: str, fn) -> None:
        """A correctness check that is not itself timed."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"{desc}: check failed", file=sys.stderr)
            self.failed += 1

    def extract_checksum(self):
        """``pipeline.extract`` on the opened spans table, with every
        output column folded into an order-insensitive checksum: output
        docs, output spans and the xor of per-doc xxhash64 over
        (doc_id, [(kind, text, media_ref, order)...])."""
        from paddleocr_spark.pipeline import extract
        return checksum(extract(self.df))

    def secondary_round(self, names=ROUND_QUERIES):
        """Secondary queries in order; returns their result hashes and
        records each query's wall time."""
        from paddleocr_spark.functions import bench_queries
        queries = bench_queries()
        k = len(self.query_walls)
        walls, hashes = {}, []
        for name in names:
            self.label(f"{self.workload}.{name}.{k}")
            t0 = time.perf_counter()
            rows = queries[name](self.spark, self.info["sf_dir"]).collect()
            walls[name] = time.perf_counter() - t0
            if not rows:
                raise RuntimeError(f"{name}: empty result")
            hashes.append(result_hash(rows))
        self.query_walls.append(walls)
        return tuple(hashes)

    def main_op(self):
        if self.workload == "secondary_slow":
            return self.secondary_round()
        return self.extract_checksum()

    def oracle_matches(self) -> bool:
        """A seeded sample of documents equals ``oracle.extract_pandas``
        span for span."""
        import numpy as np
        from pyspark.sql import functions as F

        from paddleocr_spark.oracle import extract_pandas
        from paddleocr_spark.pipeline import extract
        docs = self.info["documents"]
        pick = np.random.default_rng(self.seed).choice(
            len(docs), ORACLE_SAMPLE, replace=False)
        sample = docs.iloc[np.sort(pick)][["doc_id", "text"]]
        want = extract_pandas(sample)
        want = {d: list(s) for d, s in zip(want["doc_id"], want["spans"])}
        ids = [f"doc_{d:07d}" for d in sample["doc_id"]]
        self.label(f"{self.workload}.oracle")
        got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
               for r in extract(self.df)
               .filter(F.col("doc_id").isin(ids)).collect()}
        return bool(want) and got == want


def checksum(extracted):
    from pyspark.sql import functions as F
    r = extracted.agg(
        F.count("*"), F.sum(F.size("spans")),
        F.bit_xor(F.xxhash64("doc_id", "spans"))).collect()[0]
    return tuple(int(x) for x in r)


def run_untraced(b: Bench, seconds: float) -> dict:
    w = b.workload
    setup_s = statistics.median(s[0] for s in b.setups(SETUPS, b.nproc))
    cold_s, ref = b.op(f"{w}.op.0", b.main_op)
    warm_up = [b.op(f"{w}.op.{k}", b.main_op, expect=ref)[0]
               for k in range(1, WARM_UP[w] + 1)]
    warm = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(warm) < MIN_WARM[w]:
        k = len(warm_up) + len(warm) + 1
        warm.append(b.op(f"{w}.op.{k}", b.main_op, expect=ref)[0])
    if w == "secondary_slow":
        docs = b.info["sf_docs"]
    else:
        docs = ref[0] if ref else 0
        b.check("oracle sample", b.oracle_matches)
    b.notes = {"op_walls_s": [cold_s] + warm_up + warm,
               "query_walls_s": b.query_walls,
               "peak_rss": b.peak_rss_parts}
    return {"setup_s": setup_s, "cold_s": cold_s,
            "docs_per_s": docs / statistics.median(warm),
            "peak_rss_mb": b.peak_rss_mb}


def environment(b: Bench, seconds: float, trace: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    def first(path, key):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return line.split(":", 1)[1].strip()
        except OSError:
            pass
        return None

    sha = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        sha = ref
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    sha = f.read().strip()
    info = b.info
    return {
        "workload": b.workload, "seed": b.seed, "seconds": seconds,
        "trace": trace, "nproc": b.nproc,
        "cpu": first("/proc/cpuinfo", "model name") or platform.processor(),
        "mem_total": first("/proc/meminfo", "MemTotal"),
        "git_sha": sha, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "driver_memory": DRIVER_MEM,
        "input": {k: info[k] for k in (
            "docs", "spans", "bytes", "sf_docs", "lineitem_rows",
            "checksum", "fast_share_sample")},
        "notes": b.notes,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["web_clean", "layout_mixed", "secondary_slow"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    sys.path.insert(0, ROOT)
    b = None
    try:
        from perfbench import inputs, traced
        info = inputs.write_inputs(args.workload, args.seed,
                                   os.path.join(WORK, "inputs"))
        b = Bench(args.workload, args.seed, info)
        if args.trace:
            metrics = traced.run_traced(b)
            units = traced.PER_LAYER
        else:
            metrics = run_untraced(b, args.seconds)
            units = END_TO_END
        env = environment(b, args.seconds, args.trace)
    finally:
        if b is not None:
            b.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": b.failed == 0, "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
