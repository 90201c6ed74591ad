from __future__ import annotations

import uuid

import pytest

from paddleocr_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("paddleocr-spark-tests", cores=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def started_jobs(spark):
    """``started_jobs(fn)`` runs ``fn()`` in a Spark job group of its own
    and returns its result with the ids of the jobs it started."""
    sc = spark.sparkContext

    def run(fn):
        group = f"started-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)
    return run


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


@pytest.fixture(scope="session")
def documents_pdf(documents):
    return documents.select("doc_id", "text").toPandas()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: whole-corpus differentials (~20 s each)")
