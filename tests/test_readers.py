"""``sources.readers.sf_table``'s schema cache: a later open of an
unchanged file starts no Spark job, and a changed file is inferred
again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from paddleocr_spark.sources.readers import sf_table


def test_second_open_of_an_unchanged_file_starts_no_job(spark, tmp_path,
                                                        started_jobs):
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b c"]}),
                   tmp_path / "documents.parquet")
    first, jobs = started_jobs(
        lambda: sf_table(spark, str(tmp_path), "documents"))
    assert jobs                                   # the inference job
    again, jobs = started_jobs(
        lambda: sf_table(spark, str(tmp_path), "documents"))
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect())) == [(1, "a"), (2, "b c")]


def test_a_file_rewritten_with_other_columns_is_inferred_again(
        spark, tmp_path, started_jobs):
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1], "text": ["a"]}), path)
    assert sf_table(spark, str(tmp_path), "documents").columns == [
        "doc_id", "text"]
    pq.write_table(pa.table({"lang": ["en"], "n": [3.5]}), path)
    df, jobs = started_jobs(
        lambda: sf_table(spark, str(tmp_path), "documents"))
    assert jobs
    assert df.columns == ["lang", "n"]
    assert [tuple(r) for r in df.collect()] == [("en", 3.5)]


def test_a_directory_is_inferred_again_when_a_file_is_added(
        spark, tmp_path, started_jobs):
    table = tmp_path / "documents.parquet"
    table.mkdir()
    pq.write_table(pa.table({"doc_id": [1]}), table / "part-0.parquet")
    assert sf_table(spark, str(tmp_path), "documents").count() == 1
    _, jobs = started_jobs(
        lambda: sf_table(spark, str(tmp_path), "documents"))
    assert jobs == []
    pq.write_table(pa.table({"doc_id": [2]}), table / "part-1.parquet")
    df, jobs = started_jobs(
        lambda: sf_table(spark, str(tmp_path), "documents"))
    assert jobs
    assert sorted(r[0] for r in df.collect()) == [1, 2]


def test_a_missing_table_raises_sparks_own_error(spark, tmp_path):
    assert not os.path.exists(tmp_path / "absent.parquet")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        sf_table(spark, str(tmp_path), "absent")
