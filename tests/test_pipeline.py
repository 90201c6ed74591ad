"""End-to-end span-sequence equality vs the oracle (the TIPC golden-diff
analog, SURVEY.md §5) + partition-count invariance."""

from __future__ import annotations

import pytest

from paddleocr_spark.oracle import extract_pandas
from paddleocr_spark.pipeline import extract
from paddleocr_spark.synth import synth_spans, synth_spans_pandas


def _collect(df):
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in df.collect()}


@pytest.fixture(scope="module")
def oracle_rows(documents_pdf):
    out = extract_pandas(documents_pdf)
    return {r.doc_id: r.spans for r in out.itertuples()}


def test_synth_spark_equals_pandas(documents, documents_pdf):
    spark_rows = _collect(synth_spans(documents))
    oracle = {r.doc_id: r.spans for r in synth_spans_pandas(documents_pdf).itertuples()}
    assert spark_rows == oracle


def test_extract_equals_oracle(documents, oracle_rows):
    spark_rows = _collect(extract(synth_spans(documents)))
    assert set(spark_rows) == set(oracle_rows)
    mismatched = [k for k in spark_rows if spark_rows[k] != oracle_rows[k]]
    assert mismatched == []


def test_extract_partition_invariant(documents, oracle_rows):
    """SURVEY.md §7 hard-point #2: identical output at any partitioning."""
    for n in (1, 7):
        rows = _collect(extract(synth_spans(documents.repartition(n))))
        assert rows == oracle_rows


def test_extract_rejects_a_doc_id_held_by_two_input_rows(spark):
    """Each input row is one document, as in the reference and the oracle,
    so two rows with one doc_id are an input error: the kernel raises
    rather than merging them into one interleaved document. Both rows sit
    in one partition of a scan that needs no widening."""
    from pyspark.sql import functions as F
    span = "struct<kind:string,text:string,media_ref:string,offset:int>"
    row = ("doc_0000001", [("title", "T", None, 0),
                           ("media", None, "m", 5000)])
    docs = spark.createDataFrame(
        [row, row], f"doc_id string, spans array<{span}>").repartition(
        spark.sparkContext.defaultParallelism, F.lit(0))
    with pytest.raises(Exception, match="doc_id 'doc_0000001'"):
        extract(docs).collect()


def test_extract_covers_fixture_paths(documents, oracle_rows):
    """The synthetic corpus actually exercises every fixture knob."""
    rows = oracle_rows
    all_spans = [s for v in rows.values() for s in v]
    kinds = {s["kind"] for s in all_spans}
    assert kinds == {"text", "title", "table", "media"}
    # style survivor quirk visible in output
    assert any(s["text"] and "</strike>" in s["text"] for s in all_spans)
    # no stripped tokens remain
    for tok in ("<b>", "</b>", "<i>", "</i>", "<sup>", "</sup>", "<sub>",
                "</sub>", "<strike>", "<overline>", "</overline>",
                "<underline>", "</underline>"):
        assert not any(s["text"] and tok in s["text"] for s in all_spans)
    # a media-heavy skew doc exists (did=13 -> 400 extra media spans)
    assert "doc_0000013" in rows
    assert sum(1 for s in rows["doc_0000013"] if s["kind"] == "media") >= 400
    # a double-column doc exists (did % 50 == 7)
    assert "doc_0000007" in rows
    # output offsets are exactly 0..n-1 per doc
    for v in rows.values():
        assert [s["offset"] for s in v] == list(range(len(v)))


def test_double_column_reads_left_column_before_right(documents_pdf):
    """Double-column docs (did%50==7): no region straddles w/2 in the
    synthetic geometry, so the recovery_to_doc.py:118-147 flush order means
    ALL left-column spans precede ALL right-column spans."""
    import pandas as pd

    from paddleocr_spark.oracle import extract_pandas
    from paddleocr_spark.synth import synth_spans_pandas

    # purpose-built long double-column docs (did%50==7) with many chunks so
    # several media spans (kind rule (did*7+13i)%23==5) land in BOTH columns
    pdf = pd.DataFrame({
        "doc_id": [107, 157, 207, 257],
        "text": ["word " * 600, "lorem ipsum " * 300, "alpha beta " * 280,
                 "x" * 4000],
    })
    src = synth_spans_pandas(pdf)
    out = extract_pandas(pdf)
    out_rows = {r.doc_id: r.spans for r in out.itertuples()}
    checked_docs = 0
    for doc_id, spans in zip(src["doc_id"], src["spans"]):
        if doc_id not in out_rows:
            continue
        # media_refs are unique per doc; x = input offset % 1000 gives column
        media_col = {s["media_ref"]: ("L" if s["offset"] % 1000 == 10 else "R")
                     for s in spans if s["kind"] == "media"}
        seq = [media_col[s["media_ref"]] for s in out_rows[doc_id]
               if s["kind"] == "media"]
        if len(seq) >= 2:
            checked_docs += 1
            assert seq == sorted(seq), doc_id  # all L before all R
    assert checked_docs > 0


def test_flagship_matches_pandas_oracle_at_sf01_sample(spark):
    """Span-sequence equality vs the single-node oracle on an sf0.1 sample
    (~1k docs): larger/denser corpus than the sf0.001 suite, exercising
    the vectorized fast path and the exact fallback on two-column and
    tie-heavy documents at scale. (The full-corpus sf0.1 differential —
    4,967/4,967 docs exact — ran during round 2; this sampled version
    keeps suite runtime bounded.)"""
    import pandas as pd
    import pyspark.sql.functions as F

    from paddleocr_spark.oracle import extract_pandas
    from paddleocr_spark.pipeline import extract
    from paddleocr_spark.synth import synth_spans

    sf = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0)
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
           for r in extract(synth_spans(docs)).collect()}
    pdf = pd.read_parquet(f"{sf}/documents.parquet")
    pdf = pdf[pdf["doc_id"] % 5 == 0]
    exp = extract_pandas(pdf)
    want = {r.doc_id: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r.spans]
            for r in exp.itertuples()}
    assert set(got) == set(want)
    assert sum(1 for d in want if got[d] != want[d]) == 0
    assert len(want) > 900


def test_strip_styles_matches_sequential_loop_on_adversarial_text(spark):
    """The distributed strip must equal the reference's SEQUENTIAL replace
    loop even when removing one token CREATES another — the case a
    single-pass regexp alternation gets wrong (e.g. '<i<b>>': removing
    '<b>' exposes '<i>', which the reference's later '<i>' pass removes).
    Corpus-independent guarantee replacing the round-2 corpus assumption.
    """
    import pyspark.sql.functions as F
    from paddleocr_spark.kernels import STYLE_TOKENS, strip_style_tokens
    from paddleocr_spark.pipeline import strip_styles
    frags = ["<b>", "</b>", "<i>", "</i>", "<sub>", "</sup>", "<strike>",
             "</strike>", "<", ">", "/", "b", "i", "sup", "sub", "x", ""]
    texts = []
    # nested-creation cases: token split by another token, all pairs
    for outer in STYLE_TOKENS:
        for inner in STYLE_TOKENS:
            mid = len(outer) // 2
            texts.append(outer[:mid] + inner + outer[mid:])
    # pseudo-random fragment soup, deterministic
    for d in range(200):
        n = 1 + d % 7
        texts.append("".join(
            frags[(d * 13 + k * 7) % len(frags)] for k in range(n)))
    texts.append("<i<b>>")
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in strip_styles(df.withColumn("kind", F.lit("text")))
           .select("doc_id", "text").collect()}
    for i, t in rows:
        assert got[i] == strip_style_tokens(t), repr(t)
    # the motivating differential: single-pass regexp would leave '<i>'
    assert strip_style_tokens("<i<b>>") == ""
    assert got[len(texts) - 1] == ""


@pytest.mark.slow
def test_whole_corpus_differential_sf01(spark):
    """sf0.1 whole-corpus span-sequence equality vs the pandas oracle
    (4,967 docs) — the round-2 ad-hoc check promoted to a slow-marked
    test. Run with ``pytest -m slow`` (deselected by default via -m 'not
    slow' being absent: it runs in the full suite, ~60 s)."""
    import pandas as pd
    sf = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = _collect(extract(synth_spans(docs)))
    pdf = pd.read_parquet(f"{sf}/documents.parquet")
    want = {r.doc_id: r.spans for r in extract_pandas(pdf).itertuples()}
    assert set(got) == set(want)
    n_bad = 0
    for d, spans in want.items():
        if [tuple(s.values()) for s in got[d]] != [
                tuple(s.values()) for s in spans]:
            n_bad += 1
    assert n_bad == 0, f"{n_bad}/{len(want)} docs differ"
