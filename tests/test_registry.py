"""Gate registry contract, checked without a Spark session.

``queries()`` holds the operators themselves (no recording or forwarding
layer), every entry has a DuckDB twin, and ``bench_queries()`` keeps the
names and order that bench.py and perfbench time.
"""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry
from paddleocr_spark.functions import bench_queries, sketches


def _md5(names) -> str:
    return hashlib.md5("\n".join(names).encode()).hexdigest()


def test_every_query_has_a_twin():
    q, o = entry.queries(), entry.oracle_sql()
    assert len(q) == 171
    assert set(q) == set(o)


def test_registry_holds_the_operator_itself():
    assert entry.queries()["qdigest_quantiles"] is sketches.qdigest_quantiles


def test_bench_names_and_order_are_pinned():
    names = list(bench_queries())
    assert len(names) == 58
    assert _md5(names) == "dd6c0dd091046c6c7cbeccc8a476f326"


def test_bench_times_the_registry_operator():
    assert bench_queries()["qdigest_quantiles"] is sketches.qdigest_quantiles
