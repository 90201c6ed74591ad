"""The shared batch-boundary carry (operators.grouped.carry_groups, which
pipeline._assemble_arrow runs the flagship kernel through) and the batch
building of both row drivers (grouped_map_rows and map_rows), checked
without a Spark session: hand-built Arrow batches stand in for one
scan partition, each document's rows contiguous and in span_idx order."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from paddleocr_spark import geometry as G
from paddleocr_spark import pipeline
from paddleocr_spark.operators.grouped import (_rows_emitter, _rows_mapper,
                                               carry_groups)

KINDS = ["text", "title", "table", "media"]


def _kernel_rows(sizes: list[int], seed: int = 0) -> pa.Table:
    """Kernel input grouped by doc_id, in span_idx order within: one doc
    per entry of ``sizes``, with scattered boxes so both the fast and the
    exact path of _order_ranks are taken."""
    rng = np.random.default_rng(seed)
    n = sum(sizes)
    kind = rng.choice(KINDS, n)
    x1 = rng.integers(0, G.PAGE_WIDTH - 50, n)
    y1 = rng.integers(0, 400, n)
    return pa.table({
        "doc_id": np.repeat([f"doc_{d:05d}" for d in range(len(sizes))],
                            sizes),
        "span_idx": np.concatenate([np.arange(k) for k in sizes]),
        "kind": kind,
        "text": [f"t{i}" for i in range(n)],
        "media_ref": [None if k != "media" else f"m{i}"
                      for i, k in enumerate(kind)],
        "x1": x1.astype(np.int32), "y1": y1.astype(np.int32),
        "x2": (x1 + rng.integers(4, 300, n)).astype(np.int32),
        "y2": (y1 + rng.integers(4, 40, n)).astype(np.int32),
    })


def _batches(tbl: pa.Table, cuts: list[int]) -> list[pa.RecordBatch]:
    """``tbl`` sliced at the sorted ``cuts``; a repeated cut is an empty
    batch."""
    bounds = [0, *sorted(cuts), tbl.num_rows]
    return [tbl.slice(s, e - s).combine_chunks().to_batches()[0]
            if e > s else pa.RecordBatch.from_pylist([], schema=tbl.schema)
            for s, e in zip(bounds[:-1], bounds[1:])]


def _assembled(batches) -> pa.Table:
    out = list(pipeline._assemble_arrow(iter(batches)))
    return pa.Table.from_batches(out, schema=out[0].schema)


ONE_DOC_THREE_BATCHES = ([2, 25, 3], [5, 15])
WITH_EMPTY_BATCHES = ([3, 4, 1, 6], [0, 0, 5, 5, 8, 14, 14])
ONE_ROW_BATCHES = ([3, 1, 4, 2], list(range(1, 10)))


@pytest.mark.parametrize("sizes,cuts", [
    ONE_DOC_THREE_BATCHES, WITH_EMPTY_BATCHES, ONE_ROW_BATCHES,
], ids=["one_doc_three_batches", "empty_batches", "one_row_batches"])
def test_carry_equals_one_pass_over_the_whole_table(sizes, cuts):
    tbl = _kernel_rows(sizes)
    want = pa.Table.from_batches([pipeline._emit_arrow(tbl)])
    assert _assembled(_batches(tbl, cuts)).equals(want)

    seen = []

    def emit(t):
        seen.append(t.column("doc_id").to_pylist())
        return pipeline._emit_arrow(t)
    out = list(carry_groups(iter(_batches(tbl, cuts)), ["doc_id"], emit))
    assert pa.Table.from_batches(out).equals(want)
    # every emit call saw whole documents: no doc is split across calls
    docs = [set(ids) for ids in seen]
    assert sum(len(d) for d in docs) == len(sizes)


@settings(max_examples=60, deadline=None)
@given(sizes=st.lists(st.integers(1, 12), min_size=1, max_size=6),
       cuts=st.lists(st.integers(0, 80), max_size=10),
       seed=st.integers(0, 2**16))
def test_carry_is_invariant_to_batch_cuts(sizes, cuts, seed):
    tbl = _kernel_rows(sizes, seed)
    cuts = [c % (tbl.num_rows + 1) for c in cuts]
    want = pa.Table.from_batches([pipeline._emit_arrow(tbl)])
    assert _assembled(_batches(tbl, cuts)).equals(want)


def _shared_doc_id(doc_ids: list[str], span_idx: list[int]) -> pa.Table:
    return _kernel_rows([1] * len(doc_ids)).set_column(
        0, "doc_id", pa.array(doc_ids)).set_column(
        1, "span_idx", pa.array(span_idx))


@pytest.mark.parametrize("doc_ids,span_idx", [
    (["doc_a", "doc_b", "doc_a"], [0, 0, 1]),
    (["doc_a", "doc_a", "doc_a"], [0, 1, 0]),
], ids=["two_runs", "span_idx_falls"])
def test_kernel_rejects_a_doc_id_held_by_two_input_rows(doc_ids, span_idx):
    """Without a shuffle in front of the kernel, two input rows with one
    doc_id reach it as two runs, or as one run whose span_idx falls; both
    raise, naming the doc, instead of emitting a split or merged doc."""
    with pytest.raises(ValueError, match="doc_id 'doc_a'"):
        pipeline._emit_arrow(_shared_doc_id(doc_ids, span_idx))


def test_kernel_emits_a_null_doc_id_as_its_own_document():
    """A NULL doc_id has a dictionary code of its own: its document comes
    out under a NULL doc_id, with the spans the same rows get under a real
    id."""
    tbl = _kernel_rows([3, 2])
    named = pipeline._emit_arrow(tbl)
    null = pipeline._emit_arrow(tbl.set_column(
        0, "doc_id", pa.array([None] * 3 + ["doc_00001"] * 2)))
    assert null.column("doc_id").to_pylist() == [None, "doc_00001"]
    assert null.column("spans").equals(named.column("spans"))


@pytest.mark.parametrize("doc_ids,span_idx,what", [
    ([None, "doc_b", None], [0, 0, 1], "comes as two runs of spans"),
    ([None, None, None], [0, 1, 0], "has a span_idx that does not increase"),
], ids=["two_runs", "span_idx_falls"])
def test_kernel_names_a_null_doc_id_held_by_two_input_rows(doc_ids,
                                                           span_idx, what):
    with pytest.raises(ValueError, match=f"doc_id None {what}"):
        pipeline._emit_arrow(_shared_doc_id(doc_ids, span_idx))


def test_carry_keeps_a_falling_run_whole_so_the_kernel_raises():
    """A batch cut inside the run does not hide the fall: the carry hands
    the whole run to one ``_emit_arrow`` call."""
    tbl = _shared_doc_id(["doc_a", "doc_a", "doc_a"], [0, 1, 0])
    with pytest.raises(ValueError, match="doc_id 'doc_a'"):
        _assembled(_batches(tbl, [1, 2]))


def test_row_driver_casts_to_schema_and_skips_empty_groups():
    # the Arrow form of the DDL "doc_id string, n long, total double"
    schema = pa.schema([("doc_id", pa.string()), ("n", pa.int64()),
                        ("total", pa.float64())])

    def per_doc(g):
        if g["doc_id"][0] == "b":
            return []
        return [(g["doc_id"][0], len(g["v"]), int(g["v"].sum()))]

    emit = _rows_emitter(["doc_id"], per_doc, schema)
    tbl = pa.table({"doc_id": ["a", "a", "b", "c"], "v": [1, 2, 3, 4]})
    out = emit(tbl)
    assert out.schema.equals(schema)
    assert out.to_pylist() == [{"doc_id": "a", "n": 2, "total": 3.0},
                               {"doc_id": "c", "n": 1, "total": 4.0}]
    only_b = tbl.slice(2, 1).to_batches()
    assert emit(pa.Table.from_batches(only_b)) is None
    assert list(carry_groups(iter(only_b), ["doc_id"], emit)) == []


def _mapped(per_row, schema, batches) -> list:
    return list(_rows_mapper(per_row, schema)(iter(batches)))


def test_map_rows_empty_batch_and_no_rows_emit_nothing():
    schema = pa.schema([("ref", pa.string()), ("n", pa.int64())])
    tbl = pa.table({"ref": ["a", "b"]})
    empty = pa.RecordBatch.from_pylist([], schema=tbl.schema)
    assert _mapped(lambda ref: [(ref, 1)], schema, [empty]) == []
    assert _mapped(lambda ref: [], schema, tbl.to_batches()) == []
    # a batch whose rows yield nothing is dropped, the next one is kept
    out = _mapped(lambda ref: [(ref, 1)] if ref == "b" else [], schema,
                  [tbl.slice(0, 1).to_batches()[0],
                   tbl.slice(1, 1).to_batches()[0]])
    assert [b.to_pylist() for b in out] == [[{"ref": "b", "n": 1}]]


def test_map_rows_fans_out_and_passes_row_values_in_column_order():
    schema = pa.schema([("doc_id", pa.int64()), ("k", pa.int64()),
                        ("tag", pa.string())])
    tbl = pa.table({"doc_id": [7, 8], "tag": ["x", "y"]})

    def per_row(doc_id, tag):
        for k in range(doc_id - 5):
            yield (doc_id, k, tag)

    (out,) = _mapped(per_row, schema, tbl.to_batches())
    assert out.schema.equals(schema)
    assert out.to_pylist() == [
        {"doc_id": 7, "k": 0, "tag": "x"}, {"doc_id": 7, "k": 1, "tag": "x"},
        {"doc_id": 8, "k": 0, "tag": "y"}, {"doc_id": 8, "k": 1, "tag": "y"},
        {"doc_id": 8, "k": 2, "tag": "y"}]


def test_map_rows_casts_python_values_to_the_schema():
    schema = pa.schema([("total", pa.float64()), ("n", pa.int64()),
                        ("blob", pa.binary()), ("ps", pa.list_(pa.float64()))])
    tbl = pa.table({"v": [3]})
    (out,) = _mapped(
        lambda v: [(v, 2.9, bytearray(b"PK\x03"), [1, 0.25])], schema,
        tbl.to_batches())
    assert out.schema.equals(schema)
    # int -> double; float -> long truncates (Spark's unsafe Arrow cast)
    assert out.to_pylist() == [{"total": 3.0, "n": 2, "blob": b"PK\x03",
                                "ps": [1.0, 0.25]}]


def test_map_rows_keeps_nan_apart_from_null_and_rejects_bool():
    """The builder is plain ``pa.array(values, type=)``: a float NaN stays
    NaN and only ``None`` is NULL, and a Python ``bool`` is not an integer
    — kernels that mean NULL or 0/1 emit ``None`` or ``int`` themselves."""
    schema = pa.schema([("x", pa.float64()), ("n", pa.int64())])
    tbl = pa.table({"v": [0, 1]})
    (out,) = _mapped(lambda v: [(float("nan") if v else None, None)],
                     schema, tbl.to_batches())
    x = out.column(0)
    assert x.null_count == 1 and x.is_null().to_pylist() == [True, False]
    assert np.isnan(x.to_pylist()[1])
    assert out.column(1).null_count == 2
    with pytest.raises(pa.ArrowTypeError):
        _mapped(lambda v: [(0.0, bool(v))], schema, tbl.to_batches())
