"""The event-log parser on a small recorded log: one ``pipeline.extract``
over 300 layout_mixed documents at ``local[2]``, run under the job
description ``tiny.extract`` and folded into a checksum aggregate."""

import os

import pytest

from perfbench.eventlog import EventLog

LOG = os.path.join(os.path.dirname(__file__), "data",
                   "tiny_extract_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return EventLog.read(LOG)


def test_action_counts_every_job_of_the_label(log):
    assert log.action("tiny.extract") == pytest.approx({
        "jobs": 5, "stages": 5, "tasks": 9, "shuffle_bytes": 181436,
        "executor_run_s": 6.9})
    assert log.action("no.such.label")["jobs"] == 0


def test_extract_finds_exchange_sort_and_kernel_stage(log):
    m = log.extract("tiny.extract")
    assert m["exchange.shuffle_records"] == 1592
    assert m["exchange.shuffle_write_bytes"] == 86969
    assert m["exchange.shuffle_write_s"] == pytest.approx(0.003719107)
    assert m["exchange.spill_bytes"] == 0
    assert m["sort.sort_s"] == pytest.approx(0.013)
    assert m["sort.peak_mem_bytes"] == 8454128
    assert m["kernel.bytes_to_python"] == 173104
    assert m["kernel.bytes_from_python"] == 129424
    assert m["kernel.stage_run_s"] == pytest.approx(5.57)
    assert m["kernel.stage_cpu_s"] == pytest.approx(0.713083206)
    assert m["kernel.task_skew"] >= 1.0


def test_extract_rejects_an_action_without_a_kernel_stage(log):
    with pytest.raises(ValueError):
        log.extract("no.such.label")


def test_totals(log):
    t = log.totals(cores=2)
    assert t["spark.executor_run_s"] == pytest.approx(6.9)
    assert t["spark.gc_s"] == pytest.approx(0.032)
    assert 0 < t["spark.core_busy_share"] <= 1
