"""The benchmark's seeded inputs: determinism and each workload's stated
property, checked in-process by the kernel replay (no Spark session)."""

import numpy as np
import pyarrow.compute as pc
import pytest

from perfbench import inputs, replay

N = 3000


def _kernel_rows(workload, seed=1, n=N):
    return replay.kernel_input(
        inputs.spans_table(inputs.span_documents(workload, seed, n)))


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = inputs.write_inputs("secondary_slow", 7, str(tmp_path / "a"))
    b = inputs.write_inputs("secondary_slow", 7, str(tmp_path / "b"))
    c = inputs.write_inputs("secondary_slow", 8, str(tmp_path / "c"))
    assert a["checksum"] == b["checksum"] != c["checksum"]
    assert (a["docs"], a["spans"], a["bytes"]) == (
        b["docs"], b["spans"], b["bytes"])


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_workloads_differ_for_one_seed(workload):
    docs = inputs.span_documents(workload, 1, 200)
    others = [inputs.input_checksum(inputs.span_documents(w, 1, 200))
              for w in inputs.WORKLOADS if w != workload]
    assert inputs.input_checksum(docs) not in others


def test_doc_ids_stay_in_32_bit_product_range():
    for w in inputs.WORKLOADS:
        assert inputs.span_documents(w, 3, N)["doc_id"].max() < 2**31 // 100


def test_web_clean_is_overwhelmingly_fast_path():
    r = replay.replay([_kernel_rows("web_clean")], 10_000)
    assert r["kernel.fast_share"] >= inputs.MIN_WEB_FAST_SHARE


def test_layout_mixed_has_slow_docs_and_styled_text():
    rows = _kernel_rows("layout_mixed")
    r = replay.replay([rows], 10_000)
    # round 2 measured 45% of flagship docs on the fast path
    assert 0.3 < r["kernel.fast_share"] < 0.6
    text = pc.equal(rows.column("kind"), "text")
    styled = pc.and_(text, pc.match_substring(rows.column("text"), "<"))
    share = pc.sum(styled).as_py() / pc.sum(text).as_py()
    assert 0.3 < share < 0.5


def test_replay_emits_the_oracle_documents():
    """The replayed kernel emits the same documents as the pandas oracle."""
    from paddleocr_spark.oracle import extract_pandas
    docs = inputs.span_documents("layout_mixed", 2, 300)
    rows = replay.kernel_input(inputs.spans_table(docs))
    r = replay.replay([rows], 64)
    want = extract_pandas(docs[["doc_id", "text"]])
    assert r["kernel.docs"] == len(want)
    assert r["spans"] == int(np.sum([len(s) for s in want["spans"]]))
    assert r["kernel.batches"] > 1 and r["kernel.carried_docs"] > 0
