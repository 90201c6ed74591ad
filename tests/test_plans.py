"""Physical-plan regression pins — the PERF.md audits as executable tests.

These don't check values (the oracle gate does); they pin the PLAN SHAPE
that makes the operators scale: shuffle counts, predicate pushdown into
the parquet scan, and codegen-only paths. A Spark upgrade or a refactor
that silently adds an exchange or un-pushes a filter fails here first.
"""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


SF = "/root/testdata/sf0.001"


def test_per_doc_detectors_have_no_shuffle_and_pushed_filter(spark):
    """db/east/pse detect: Scan → Filter → MapInArrow, pushdown reaches
    the scan, zero exchanges — the per-doc kernels fan out with the
    scan."""
    import paddleocr_spark.entry_queries as EQ
    for name in ("db_detect", "east_detect", "pse_detect"):
        df = EQ.queries()[name](spark, SF)
        plan = _formatted(df)
        assert "Exchange" not in plan, name
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" \
            in plan, name
        assert "MapInArrow" in plan, name


def test_sar_decode_is_pure_projection(spark):
    """sar_decode: single codegen projection — no shuffle, no Python."""
    import paddleocr_spark.entry_queries as EQ
    plan = _formatted(EQ.queries()["sar_decode"](spark, SF))
    assert "Exchange" not in plan
    for py_node in ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                    "BatchEvalPython"):
        assert py_node not in plan
    # (the HOF lambdas keep the projection outside WholeStageCodegen but
    # still JVM-side — Scan → Project only)
    assert "Scan parquet" in plan


def test_flagship_has_exactly_one_payload_shuffle(spark):
    """extract(): ONE hash exchange (doc_id repartition for the
    reading-order kernel); scan prunes to (doc_id, spans)."""
    from paddleocr_spark.pipeline import extract
    from paddleocr_spark.synth import synth_spans
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = synth_spans(docs)
    # materialize the synth to parquet so the plan under test is the
    # extraction side only
    import tempfile
    path = tempfile.mkdtemp() + "/c"
    corpus.write.mode("overwrite").parquet(path)
    out = extract(spark.read.parquet(path))
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "REPARTITION_BY_NUM" in plan          # AQE-coalesce-exempt
    assert "MapInArrow" in plan


def test_grouped_arrow_family_has_single_hash_exchange(spark):
    """grouped_map_rows operators: one hash exchange on the group key
    feeding sort + mapInArrow (no groupBy aggregate machinery)."""
    import paddleocr_spark.entry_queries as EQ
    df = EQ.queries()["east_nms"](spark, SF)
    plan = _plan(df)
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan   # the old applyInPandas node


def test_utf8_chain_widens_before_per_char_hofs(spark):
    """utf8_decompose: the widening exchange must sit BELOW the per-char
    HOF projection (projection above exchange in the plan tree), so the
    ~740 chars/doc of interpreted transform() work runs wide instead of
    inside the single-file scan task. The pre-fix layout (repartition
    after the projection) ran 3.2 s single-threaded at sf0.1; regression
    here re-serializes the whole jamo chain."""
    from paddleocr_spark.functions.grapheme import utf8_decompose
    from paddleocr_spark.sources.readers import sf_table
    df = utf8_decompose(sf_table(spark, SF, "documents"))
    plan = _plan(df)
    assert "Exchange" in plan and "transform(" in plan
    # toString is root-first: parent nodes print before children, so the
    # projection (parent) must appear before the exchange (child).
    assert plan.index("transform(") < plan.index("Exchange")
    assert "REPARTITION_BY_NUM" in plan          # AQE-coalesce-exempt


def test_registry_outputs_are_atomic(spark):
    """Every queries() entry emits only atomic-typed columns.

    The driver's correctness gate canonicalizes results with pandas
    sort_values over every column; array/struct/map cells are unhashable
    there (the r4 `grapheme_compose` gate err — a harness failure, not a
    semantics bug). Complex intermediates are fine; the FINAL select of
    a gate query must serialize them (comma-joined 4dp decimals is the
    house pattern, see q_grapheme_compose / q_utf8_compose)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        df = fn(spark, SF)
        bad = [f.name for f in df.schema.fields
               if isinstance(f.dataType, (ArrayType, StructType, MapType))]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_round5_continuation_operator_plan_shapes(spark):
    """The four DOM/curation additions keep their audited shapes
    (PERF.md round-5 continuation): no Python nodes anywhere;
    readability has only the widening exchange, boilerpipe exactly one
    window exchange on top of it, interleaved_pack folds span costs in
    a HOF (no explode node), and kn_lm_score broadcasts its
    unigram-sized context tables."""
    from paddleocr_spark.functions.content import (boilerpipe_extract,
                                                   readability_extract)
    from paddleocr_spark.functions.curation import interleaved_pack
    from paddleocr_spark.functions.retrieval import kn_lm_score

    for fn in (readability_extract, boilerpipe_extract,
               interleaved_pack, kn_lm_score):
        plan = _formatted(fn(spark, SF))
        for py_node in ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                        "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert py_node not in plan, fn.__name__

    assert _plan(readability_extract(spark, SF)).count(
        "Exchange") == 1                       # widening repartition only
    bp = _plan(boilerpipe_extract(spark, SF))
    assert bp.count("Exchange") == 2           # widening + ONE window
    assert bp.count("Window") == 1
    ip = _formatted(interleaved_pack(spark, SF))
    assert "Generate" not in ip                # no explode: HOF cost fold
    kn = _plan(kn_lm_score(spark, SF))
    assert kn.count("BroadcastExchange") >= 3  # left/right/types tables


def test_sketch_family_plan_shapes(spark):
    """Sketches stay JVM-side and mergeable-shaped: no Python nodes;
    the HLL register build is a partial (map-side-combinable) max
    aggregate, and the CMS counter build a partial count."""
    from paddleocr_spark.functions.sketches import (cms_heavy_hitters,
                                                    hll_cardinality,
                                                    qdigest_quantiles)
    for fn in (hll_cardinality, cms_heavy_hitters, qdigest_quantiles):
        plan = _formatted(fn(spark, SF))
        for py_node in ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                        "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert py_node not in plan, fn.__name__
    # partial aggregation marker: Spark prints partial_max/partial_count
    # in HashAggregate's functions list when map-side combine is planned
    assert "partial_max" in _formatted(hll_cardinality(spark, SF))
    assert "partial_count" in _formatted(cms_heavy_hitters(spark, SF))


def test_qdigest_plan_is_one_fold(spark):
    """q-digest is two aggregates and array HOFs: the leaf count and the
    per-language collect are the only exchanges, and the level-by-level
    compression, the walk and the exact rank need no join, no window
    and no checkpointed RDD between levels."""
    from paddleocr_spark.functions.sketches import qdigest_quantiles
    plan = _plan(qdigest_quantiles(spark, SF))
    for node in ("Join", "CartesianProduct", "Window", "Scan ExistingRDD"):
        assert node not in plan, node
    assert plan.count("Exchange") <= 2
