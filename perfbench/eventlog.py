"""Read a Spark event log (JSON lines, uncompressed, not rolled) into the
per-stage and per-action numbers the traced run reports.

Each benchmark action runs under its own job description
(``sc.setJobDescription``), so every job an action starts, including the
extra jobs adaptive query execution adds, is found by that label.
"""

from __future__ import annotations

import json
import statistics

# Stage-level SQL metric names (Spark 4 accumulables).
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"
RECORDS_READ = "records read"
RECORDS_WRITTEN = "shuffle records written"
SORT_TIME = "sort time"
PEAK_MEMORY = "peak memory"


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


class EventLog:
    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {
                    "desc": (e.get("Properties") or {}).get(
                        "spark.job.description"),
                    "stages": list(e["Stage IDs"]),
                    "start": e["Submission Time"], "end": None}
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                accums: dict[str, float] = {}
                for a in si.get("Accumulables", []):
                    if not a["Name"].startswith("internal."):
                        accums[a["Name"]] = (accums.get(a["Name"], 0.0)
                                             + _num(a.get("Value")))
                self.stages[si["Stage ID"]] = {
                    "name": si["Stage Name"],
                    "n_tasks": si["Number of Tasks"], "accums": accums}
            elif kind == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                peak = 0.0
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    if a["Name"] == PEAK_MEMORY:
                        peak = max(peak, _num(a.get("Update")))
                self.tasks.setdefault(e["Stage ID"], []).append({
                    "run_s": tm.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_write_s": sw.get("Shuffle Write Time", 0) / 1e9,
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "spill_bytes": (tm.get("Memory Bytes Spilled", 0)
                                    + tm.get("Disk Bytes Spilled", 0)),
                    "peak_mem_bytes": peak,
                })

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def stages_of(self, desc: str) -> list[int]:
        """Completed stages of every job labelled ``desc``, in order.
        Stages a job skipped (shuffle output reused) never complete."""
        ids = {s for j in self.jobs.values() if j["desc"] == desc
               for s in j["stages"] if s in self.stages}
        return sorted(ids)

    def _sum(self, stages, key):
        return sum(t[key] for s in stages for t in self.tasks.get(s, []))

    def action(self, desc: str) -> dict:
        """Jobs, stages, tasks, shuffle bytes and executor time of one
        labelled action."""
        stages = self.stages_of(desc)
        return {
            "jobs": sum(1 for j in self.jobs.values() if j["desc"] == desc),
            "stages": len(stages),
            "tasks": sum(len(self.tasks.get(s, [])) for s in stages),
            "shuffle_bytes": self._sum(stages, "shuffle_write_bytes"),
            "executor_run_s": self._sum(stages, "run_s"),
        }

    def extract(self, desc: str) -> dict:
        """Exchange, sort and ``mapInArrow`` kernel numbers of one labelled
        ``pipeline.extract`` action. The kernel stage is the one that sends
        data to Python workers; the exchange feeding it is the stage whose
        shuffle records written equal the kernel stage's records read."""
        stages = self.stages_of(desc)
        kernel = [s for s in stages if TO_PYTHON in self.stages[s]["accums"]]
        if len(kernel) != 1:
            raise ValueError(f"{desc}: expected one kernel stage, "
                             f"found {kernel}")
        k = kernel[0]
        kacc = self.stages[k]["accums"]
        feeders = [s for s in stages if s != k and self.stages[s]["accums"]
                   .get(RECORDS_WRITTEN) == kacc.get(RECORDS_READ)]
        runs = [t["run_s"] for t in self.tasks.get(k, [])]
        return {
            "exchange.shuffle_write_bytes":
                self._sum(feeders, "shuffle_write_bytes"),
            "exchange.shuffle_records": self._sum(feeders, "shuffle_records"),
            "exchange.shuffle_write_s": self._sum(feeders, "shuffle_write_s"),
            "exchange.spill_bytes": self._sum(feeders + [k], "spill_bytes"),
            "sort.sort_s": kacc.get(SORT_TIME, 0.0) / 1e3,
            "sort.peak_mem_bytes": max(
                (t["peak_mem_bytes"] for t in self.tasks.get(k, [])),
                default=0.0),
            "kernel.stage_run_s": sum(runs),
            "kernel.stage_cpu_s": self._sum([k], "cpu_s"),
            "kernel.task_skew": (max(runs) / statistics.median(runs)
                                 if runs and statistics.median(runs) > 0
                                 else 1.0),
            "kernel.bytes_to_python": kacc[TO_PYTHON],
            "kernel.bytes_from_python": kacc.get(FROM_PYTHON, 0.0),
        }

    def totals(self, cores: int) -> dict:
        """Spark-wide task time over the whole log. ``core_busy_share`` is
        executor run time over the core-seconds jobs were running."""
        every = list(self.tasks)
        run = self._sum(every, "run_s")
        job_s = sum((j["end"] - j["start"]) / 1e3
                    for j in self.jobs.values() if j["end"] is not None)
        return {
            "spark.executor_run_s": run,
            "spark.executor_cpu_s": self._sum(every, "cpu_s"),
            "spark.gc_s": self._sum(every, "gc_s"),
            "spark.core_busy_share": run / (job_s * cores) if job_s else 0.0,
        }
