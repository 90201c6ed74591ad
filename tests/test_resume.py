"""Lineage resume: kill after k committed partitions, rerun, assert no
duplicate and no missing documents (FIXTURES.md §5, SURVEY.md §7 step 7)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from paddleocr_spark import snapshots as S
from paddleocr_spark.__main__ import main
from paddleocr_spark.lineage import run_extract
from paddleocr_spark.pipeline import extract
from paddleocr_spark.synth import synth_spans


@pytest.fixture()
def extracted(documents):
    return extract(synth_spans(documents))


def test_resume_no_dupes_no_missing(spark, extracted, tmp_path):
    out = str(tmp_path / "out")
    full = {r["doc_id"] for r in extracted.select("doc_id").collect()}

    # first run "dies" after 5 of 16 buckets committed
    s1 = run_extract(spark, extracted, out, "run1", n_buckets=16, max_parts=5)
    assert s1["parts_done"] == 5 and s1["parts_skipped"] == 0

    # resume processes exactly the remaining 11
    s2 = run_extract(spark, extracted, out, "run2", n_buckets=16)
    assert s2["parts_done"] == 11 and s2["parts_skipped"] == 5

    got = spark.read.parquet(f"{out}/extracted")
    ids = [r["doc_id"] for r in got.select("doc_id").collect()]
    assert len(ids) == len(set(ids)), "duplicate documents after resume"
    assert set(ids) == full, "missing documents after resume"

    # the manifest's bucket records are the lineage: v1 holds the first
    # run's 5 buckets, and the latest holds all 16, each committed exactly
    # once — the resume never re-stamped a bucket run1 had committed
    v1 = S.load_manifest(out, 1)["buckets"]
    lin = S.load_manifest(out)["buckets"]
    assert len(v1) == 5 and {b["run_id"] for b in v1.values()} == {"run1"}
    assert sorted(map(int, lin)) == list(range(16))
    assert all(lin[k] == rec for k, rec in v1.items()), \
        "partition committed twice"
    assert sum(b["run_id"] == "run2" for b in lin.values()) == 11
    # lineage metrics reconcile with the data
    assert sum(b["docs"] for b in lin.values()) == len(full)
    assert (sum(b["spans"] for b in lin.values())
            == got.select(F.sum(F.size("spans"))).collect()[0][0])

    # third run is a no-op that still reports the table version
    s3 = run_extract(spark, extracted, out, "run3", n_buckets=16)
    assert s3["parts_done"] == 0 and s3["parts_skipped"] == 16
    assert s3["snapshot_version"] == 2


def test_resume_noop_starts_no_spark_job(spark, extracted, tmp_path,
                                         started_jobs):
    """Resume reads its commit record from the manifest on the driver, so
    a run with nothing left to do launches no Spark job at all."""
    out = str(tmp_path / "noop")
    run_extract(spark, extracted, out, "run1", n_buckets=4)
    s, jobs = started_jobs(
        lambda: run_extract(spark, extracted, out, "run2", n_buckets=4))
    assert s["parts_done"] == 0 and s["parts_skipped"] == 4
    assert jobs == []


def test_cli_resume_noop_starts_no_spark_job(spark, documents, extracted,
                                             tmp_path, monkeypatch, capsys,
                                             started_jobs):
    """The spark-submit entry point builds its read → synth → extract plan
    only when a bucket is left to do, so its resume no-op starts no job
    either."""
    (source,) = documents.inputFiles()
    out = str(tmp_path / "cli")
    run_extract(spark, extracted, out, "run1", n_buckets=4)
    monkeypatch.setattr(spark, "stop", lambda: None)  # the shared session
    _, jobs = started_jobs(lambda: main([
        "--input", source, "--output", out, "--run-id", "run2",
        "--buckets", "4", "--cores", "8"]))
    s = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert s["parts_done"] == 0 and s["parts_skipped"] == 4
    assert s["snapshot_version"] == 1
    assert jobs == []


def test_uncommitted_bucket_is_overwritten_idempotently(spark, extracted,
                                                        tmp_path):
    """Crash between data write and manifest publish: rerun overwrites the
    orphan bucket data; nothing duplicates."""
    out = str(tmp_path / "out2")
    # simulate the crash: write bucket data for 3 parts but drop their
    # manifest
    run_extract(spark, extracted, out, "run1", n_buckets=8, max_parts=3)
    import shutil
    shutil.rmtree(f"{out}/snapshots")
    # rerun from scratch: all 8 parts reprocessed, orphan data overwritten
    s = run_extract(spark, extracted, out, "run2", n_buckets=8)
    assert s["parts_done"] == 8
    got = spark.read.parquet(f"{out}/extracted")
    ids = [r["doc_id"] for r in got.select("doc_id").collect()]
    assert len(ids) == len(set(ids))


def test_snapshot_isolation_and_time_travel(spark, extracted, tmp_path):
    """snapshots.py: each run commits an atomic table version; readers of
    a pinned version never see later overwrites (time travel) nor files
    that were written but not committed (snapshot isolation) — the two
    Iceberg properties directory-listing parquet reads lack."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = str(tmp_path / "snap")
    data_dir = f"{out}/extracted"
    s1 = run_extract(spark, extracted, out, "run1", n_buckets=8,
                     max_parts=3)
    assert s1["snapshot_version"] == 1
    v1 = spark.read.parquet(*[
        p for ps in S.load_manifest(out, 1)["files"].values()
        for p in ps]).count()
    s2 = run_extract(spark, extracted, out, "run2", n_buckets=8)
    assert s2["snapshot_version"] == 2

    # v2 = the whole corpus; v1 stays the 3-bucket prefix (time travel)
    all_docs = extracted.count()
    assert S.read_snapshot(spark, out, 2).count() == all_docs
    assert S.read_snapshot(spark, out, 1).count() == v1 == s1["docs"]
    assert S.read_snapshot(spark, out).count() == all_docs  # latest

    # an orphan file (written, never committed) is visible to a naive
    # directory read but INVISIBLE to every snapshot reader
    import glob
    bucket_dir = glob.glob(f"{data_dir}/part_id=*")[0]
    sample = glob.glob(f"{bucket_dir}/*.parquet")[0]
    orphan_tbl = pq.read_table(sample)
    pq.write_table(orphan_tbl, f"{bucket_dir}/orphan-uncommitted.parquet")
    naive = spark.read.parquet(data_dir).count()
    assert naive > all_docs
    assert S.read_snapshot(spark, out, 2).count() == all_docs

    # per-bucket metrics ride the manifest
    m = S.load_manifest(out)
    assert sum(b["docs"] for b in m["buckets"].values()) == all_docs

    # partition discovery restores part_id (basePath), matching the
    # naive directory read's schema
    snap_cols = set(S.read_snapshot(spark, out, 2).columns)
    assert "part_id" in snap_cols
    assert snap_cols == set(spark.read.parquet(data_dir).columns)

    # a racing committer targeting an already-published version fails
    # LOUDLY (optimistic-commit conflict) and the winner's manifest
    # survives untouched: simulate writer B who read parent=v-1 before
    # writer A published v, by pre-seeding A's manifest at B's target.
    import json
    import os

    import pytest

    v = S.current_version(out)
    winner = json.load(open(S._snap_path(out, v)))
    loser_view = dict(winner, version=v + 1)   # B thinks v+1 is free
    os.link(S._snap_path(out, v), S._snap_path(out, v + 1))  # A wins v+1
    try:
        with pytest.raises(FileExistsError):
            tmp = S._snap_path(out, v + 1) + ".tmp"
            json.dump(loser_view, open(tmp, "w"))
            try:
                os.link(tmp, S._snap_path(out, v + 1))
            finally:
                os.unlink(tmp)
        assert json.load(open(S._snap_path(out, v + 1))) == winner
    finally:
        os.unlink(S._snap_path(out, v + 1))

    # empty-table read carries the full extracted schema + part_id
    empty = S.read_snapshot(spark, str(tmp_path / "nonexistent"))
    assert "part_id" in empty.columns and "spans" in empty.columns
    assert empty.count() == 0


def test_crash_before_snapshot_is_redone(spark, extracted, tmp_path,
                                         monkeypatch):
    """A crash after the bucket data is written but before the snapshot
    is published must not leave those buckets marked committed: the
    rerun redoes them, and the latest snapshot lists every document
    exactly once."""
    out = str(tmp_path / "crash")
    real = S.commit_snapshot
    calls = []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash before the snapshot commit")
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "commit_snapshot", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_extract(spark, extracted, out, "run1", n_buckets=8)

    s2 = run_extract(spark, extracted, out, "run2", n_buckets=8)
    assert s2["parts_done"] == 8 and s2["parts_skipped"] == 0

    full = {r["doc_id"] for r in extracted.select("doc_id").collect()}
    ids = [r["doc_id"]
           for r in S.read_snapshot(spark, out).select("doc_id").collect()]
    assert len(ids) == len(set(ids)) and set(ids) == full
