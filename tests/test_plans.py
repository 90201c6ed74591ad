"""Physical-plan regression pins — the PERF.md audits as executable tests.

These don't check values (the oracle gate does); they pin the PLAN SHAPE
that makes the operators scale: shuffle counts, predicate pushdown into
the parquet scan, and codegen-only paths. A Spark upgrade or a refactor
that silently adds an exchange or un-pushes a filter fails here first.
"""

from __future__ import annotations

import gc
import re
import threading

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


SF = "/root/testdata/sf0.001"


def _hash_exchange_widths(plan: str, key: str) -> list[int]:
    """Partition counts of every ``Exchange hashpartitioning(<key>#…, N)``
    in ``plan``."""
    return [int(n) for n in re.findall(
        rf"Exchange hashpartitioning\({key}#\d+, (\d+)\)", plan)]


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


@pytest.mark.parametrize("name", [
    "attn_decode", "sar_decode", "nrtr_decode", "vitstr_decode",
    "srn_decode", "rfl_decode", "seed_decode", "satrn_decode",
    "pren_decode", "abinet_decode", "spin_decode", "vl_decode",
    "can_decode"])
def test_sar_decode_is_pure_projection(spark, name):
    """Each R4 decoder demo (sar_decode first, then the other 12, whose
    id streams render from the same recognize.STREAMS table): a single
    projection — no shuffle, no Python."""
    import paddleocr_spark.entry_queries as EQ
    plan = _formatted(EQ.queries()[name](spark, SF))
    assert "Exchange" not in plan, name
    for py_node in ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                    "BatchEvalPython"):
        assert py_node not in plan, name
    # (the HOF lambdas keep the projection outside WholeStageCodegen but
    # still JVM-side — Scan → Project only)
    assert "Scan parquet" in plan, name


@pytest.fixture(scope="module")
def flagship_corpus(spark, tmp_path_factory):
    """The synth corpus materialized as parquet, so the plan under test is
    the extraction side only: ``(files) -> DataFrame`` over that many
    files, each layout written once."""
    from paddleocr_spark.synth import synth_spans
    corpus = synth_spans(spark.read.parquet(f"{SF}/documents.parquet"))
    paths: dict[int, str] = {}

    def read(files: int):
        if files not in paths:
            paths[files] = str(tmp_path_factory.mktemp("corpus") / "c")
            corpus.repartition(files).write.parquet(paths[files])
        return spark.read.parquet(paths[files])
    return read


def test_flagship_has_no_payload_shuffle(spark, flagship_corpus):
    """extract(): the kernel reads each scan partition's whole documents
    in the scan's own stage — no Exchange, no Sort, no Generate (the
    explode runs in the kernel); scan prunes to (doc_id, spans). On a
    one-file scan the only exchange is ensure_input_parallelism's
    round-robin widening."""
    from paddleocr_spark.pipeline import extract
    n = spark.sparkContext.defaultParallelism
    wide = flagship_corpus(2 * n)
    assert wide.rdd.getNumPartitions() >= n
    plan = _plan(extract(wide))
    assert "Exchange" not in plan
    assert "Sort" not in plan
    assert "Generate" not in plan
    assert "MapInArrow" in plan
    assert "ReadSchema: struct<doc_id:string,spans:array<" in plan

    plan = _plan(extract(flagship_corpus(1)))
    assert plan.count("Exchange") == 1
    assert f"Exchange RoundRobinPartitioning({n})" in plan
    assert "Sort" not in plan
    assert "Generate" not in plan
    assert "MapInArrow" in plan


def _build_commands(build, monkeypatch) -> list:
    """The py4j commands the calling thread sends while ``build()`` runs.
    py4j's finalizer thread sends the detaches of JavaObjects freed
    earlier whenever it wakes; they are not the build's round trips."""
    from py4j.clientserver import ClientServerConnection

    calls = []
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counted(self, command, *a, **kw):
        if threading.get_ident() == builder:
            calls.append(command)
        return send(self, command, *a, **kw)
    # a cyclic-GC pass mid-build would add one py4j detach per collected
    # JavaObject: collect before, and hold it off during, the build
    gc.collect()
    gc.disable()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    try:
        build()
    finally:
        monkeypatch.undo()
        gc.enable()
    return calls


def test_flagship_plan_builds_in_few_jvm_calls(spark, flagship_corpus,
                                               monkeypatch):
    """Building extract(df), without running a job, makes at most 75 py4j
    round trips. Each PySpark ``Column`` call costs several of them in
    query-context bookkeeping, so the map-side stages are SQL strings."""
    from paddleocr_spark.pipeline import extract
    wide = flagship_corpus(2 * spark.sparkContext.defaultParallelism)
    calls = _build_commands(lambda: extract(wide), monkeypatch)
    assert 0 < len(calls) <= 75


def test_grouped_arrow_family_has_single_hash_exchange(spark):
    """grouped_map_rows operators: one hash exchange on the group key
    feeding sort + mapInArrow (no groupBy aggregate machinery)."""
    import paddleocr_spark.entry_queries as EQ
    df = EQ.queries()["east_nms"](spark, SF)
    plan = _plan(df)
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan   # the old applyInPandas node
    assert _hash_exchange_widths(plan, "doc_id") == [
        spark.sparkContext.defaultParallelism]   # one Python wave


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


def test_qdigest_plan_builds_in_few_jvm_calls(spark, monkeypatch):
    """Building qdigest_quantiles, without running a job, makes at most
    150 py4j round trips (406 with ``Column`` expressions): its
    projections and aggregates are SQL strings, as the flagship's are."""
    from paddleocr_spark.functions.sketches import qdigest_quantiles
    qdigest_quantiles(spark, SF)            # sf_table keeps the schema
    calls = _build_commands(lambda: qdigest_quantiles(spark, SF),
                            monkeypatch)
    assert 0 < len(calls) <= 150


def test_qdigest_warm_run_starts_three_jobs_all_in_collect(spark,
                                                           started_jobs):
    """A warm run is the two aggregates' shuffle stages and the result
    stage: 3 jobs, and building the plan starts none (no schema
    inference once ``sf_table`` has seen the file)."""
    from paddleocr_spark.functions.sketches import qdigest_quantiles
    qdigest_quantiles(spark, SF).collect()
    df, built = started_jobs(lambda: qdigest_quantiles(spark, SF))
    assert built == []
    rows, ran = started_jobs(df.collect)
    assert rows and len(ran) == 3
