"""End-to-end span-sequence equality vs the oracle (the TIPC golden-diff
analog, SURVEY.md §5) + partition-count invariance."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.oracle import extract_pandas
from paddleocr_spark.pipeline import (det_filter, drop_score_filter,
                                      explode_spans, extract, strip_styles,
                                      with_geometry)
from paddleocr_spark.synth import synth_spans, synth_spans_pandas

_SPAN = "struct<kind:string,text:string,media_ref:string,offset:int>"
_DOCUMENTS = f"doc_id string, spans array<{_SPAN}>"
#: The kernel's input columns, in ``order_and_assemble``'s order.
_PREFIX = ("doc_id string, span_idx int, kind string, text string, "
           "media_ref string, x1 int, y1 int, x2 int, y2 int")


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


def test_a_null_doc_id_is_a_document_of_its_own(spark):
    """A document with a NULL doc_id keeps its media and title spans (P10
    drops its text spans) and comes out under a NULL doc_id, through
    ``extract`` and through the registry chain, with the spans the same
    kept spans get under a real id."""
    from paddleocr_spark.registry import (DEFAULT_CONFIG, create_operators,
                                          transform)
    media, title = ("media", None, "m", 5000), ("title", "T", None, 0)
    docs = spark.createDataFrame(
        [(None, [media, ("text", "x", None, 900), title]),
         ("doc_1", [media])], _DOCUMENTS)
    want = _collect(extract(spark.createDataFrame(
        [("doc_0000002", [media, title])], _DOCUMENTS)))["doc_0000002"]
    got = _collect(extract(docs))
    assert got == {None: want, "doc_1": [dict(
        kind="media", text=None, media_ref="m", offset=0)]}
    assert _collect(transform(docs, create_operators(DEFAULT_CONFIG))) == got


def test_extract_rejects_two_null_doc_id_rows_in_one_batch(spark):
    """Two NULL-id rows of one batch are two input rows with one doc_id:
    the kernel raises, naming it, as it does for a repeated real id."""
    media = ("media", None, "m", 5000)
    docs = spark.createDataFrame(
        [(None, [media]), ("doc_1", [media]), (None, [media])],
        _DOCUMENTS).repartition(spark.sparkContext.defaultParallelism,
                                F.lit(0))
    with pytest.raises(Exception, match="doc_id None"):
        extract(docs).collect()


def _jvm_prefix(docs):
    """The registry chain's JVM stages ahead of ``order_and_assemble``."""
    return strip_styles(drop_score_filter(det_filter(with_geometry(
        explode_spans(docs)))))


def _adversarial_documents(seed: int, n: int = 400) -> list:
    """``(doc_id, spans)`` rows that hit every edge of the prefix: NULL
    and empty ``spans``, NULL spans, NULL kind/text/offset, unknown kinds,
    negative and extreme offsets, negative and signed ``did``s, NULL
    ``doc_id``s, empty, multi-byte and nested-token text."""
    rng = random.Random(seed)
    kinds = ["text"] * 5 + ["title", "table", "media", None, "image",
                            "Text", ""]
    texts = [None, "", "a", "abc", "日本語のテキスト", "😀x" * 3, "<i<b>>",
             "a<b>b</b>c", "<strike>s</strike>", "x" * 45, "word " * 9,
             "<", "<<sub>/sub>>", "éé<sup>2</sup>", "<underline>ü"]
    offsets = [None, 0, 3, 999, 1000, 1001, -1, -999, -1000, -1001,
               -123456, 2 ** 31 - 1, -2 ** 31]
    ids = ["doc_-17", "doc_+5", "doc_ 42", "xyz_99", f"doc_{10 ** 15}",
           "doc_0", None]
    rows = []
    for d in range(n):
        doc_id = ids[d] if d < len(ids) else f"doc_{rng.randrange(10 ** 6):07d}"
        r = rng.random()
        if d < len(ids):   # text spans, so P10 reads these ids' numbers
            spans = [("text", "word " * k, None, 1000 * k)
                     for k in range(9)] + [("media", None, "m", 9000)]
        elif r < 0.05:
            spans = None
        elif r < 0.1:
            spans = []
        else:
            spans = [None if rng.random() < 0.08 else (
                rng.choice(kinds), rng.choice(texts),
                rng.choice([None, f"m{k}"]),
                rng.choice(offsets) if rng.random() < 0.3
                else rng.randrange(-50_000, 500_000))
                for k in range(rng.randrange(13))]
        rows.append((doc_id, spans))
    return rows


def test_arrow_prefix_equals_jvm_prefix_on_adversarial_corpus(spark):
    """``extract``'s Arrow prefix (``_kept_spans``) keeps exactly the rows
    of the JVM stages, with the same values, in the same order: both sides
    run in one Spark job over the same partitions."""
    from paddleocr_spark.pipeline import _DID

    def kept(batches):
        from paddleocr_spark.pipeline import _kept_spans
        for b in batches:
            tbl = _kept_spans(b)
            if tbl is not None:
                yield from tbl.to_batches()

    docs = spark.createDataFrame(_adversarial_documents(seed=15), _DOCUMENTS)
    cols = [c.split()[0] for c in _PREFIX.split(", ")]
    jvm = _jvm_prefix(docs).select(*cols)
    arrow = docs.selectExpr("doc_id", "spans", _DID).mapInArrow(
        kept, schema=_PREFIX)
    rows = (jvm.withColumn("side", F.lit("jvm"))
            .unionByName(arrow.withColumn("side", F.lit("arrow"))).collect())
    want = [tuple(r)[:-1] for r in rows if r["side"] == "jvm"]
    got = [tuple(r)[:-1] for r in rows if r["side"] == "arrow"]
    assert got == want
    # the corpus reaches the edges it is there for
    assert len(want) > 800
    assert any(r[0] is None for r in want)                 # NULL doc_id
    assert any(r[2] is None for r in want)                 # NULL kind kept
    assert any(r[2] == "image" for r in want)              # unknown kind
    assert any(r[5] < 0 for r in want)                     # Java remainder
    assert any(r[3] and "日" in r[3] for r in want)         # code points
    assert {r[0] for r in want if r[2] == "text"} >= {
        "doc_-17", "doc_+5", "doc_ 42", "xyz_99", f"doc_{10 ** 15}"}


def test_arrow_prefix_drops_null_spans_whatever_their_children():
    """Arrow lets a NULL span keep valid children, and a NULL ``spans``
    list keep a non-empty range of values; Spark's writer makes neither,
    so the Spark differential cannot tell. Both must explode to nothing,
    as ``posexplode`` and P9 make them."""
    import pyarrow as pa

    from paddleocr_spark.pipeline import _kept_spans
    media = {"kind": "media", "text": None, "media_ref": "m", "offset": 0}
    st = pa.array([media] * 4, pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))
    st = pa.StructArray.from_arrays(st.flatten(), fields=list(st.type),
                                    mask=pa.array([False, True, False,
                                                   False]))
    spans = pa.ListArray.from_arrays(pa.array([0, 2, 3, 4], pa.int32()), st,
                                     mask=pa.array([False, True, False]))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["doc_1", "doc_2", "doc_3"]), spans,
         pa.array([1, 2, 3], pa.int64())], names=["doc_id", "spans", "did"])
    tbl = _kept_spans(batch)
    assert tbl.column("doc_id").to_pylist() == ["doc_1", "doc_3"]
    assert tbl.column("span_idx").to_pylist() == [0, 0]


def test_extract_raises_where_the_jvm_prefix_raises(spark):
    """P10's score needs the number in a ``doc_<number>`` id. Where Spark's
    cast or its arithmetic raises on a text span that survives P9, the
    whole-document kernel raises naming the ``doc_id``; a NULL ``doc_id``
    or a non-text span needs no number and raises on neither side."""
    big = f"doc_{(2 ** 63 - 1) // 7}"   # did * 7 fits; + 173 does not
    text = ("text", "hello world", None, 0)
    for doc_id, spans, err in [
            ("doc_x12", [text], "CAST_INVALID_INPUT"),
            (f"doc_{2 ** 62}", [text], "ARITHMETIC_OVERFLOW"),
            (big, [text, text], "ARITHMETIC_OVERFLOW")]:
        docs = spark.createDataFrame([(doc_id, spans)], _DOCUMENTS)
        with pytest.raises(Exception, match=err):
            _jvm_prefix(docs).collect()
        with pytest.raises(Exception, match=f"doc_id '{doc_id}'"):
            extract(docs).collect()

    docs = spark.createDataFrame(
        [(None, [text]), ("doc_x12", [("media", None, "m", 0)]),
         (big, [text])], _DOCUMENTS)
    assert [r["doc_id"] for r in _jvm_prefix(docs).collect()] == [
        "doc_x12", big]
    assert sorted(r["doc_id"] for r in extract(docs).collect()) == [
        big, "doc_x12"]


def test_registry_chain_equals_extract(documents):
    """The registry chain (JVM prefix, exploded-input kernel) and
    ``extract`` (whole-document kernel) agree on the flagship corpus, at
    one input partition and at two per core."""
    from paddleocr_spark.registry import (DEFAULT_CONFIG, create_operators,
                                          transform)

    def digest(df):
        return tuple(df.agg(F.count("*"), F.sum(F.size("spans")),
                            F.bit_xor(F.xxhash64("doc_id", "spans")))
                     .collect()[0])
    wide = 2 * documents.sparkSession.sparkContext.defaultParallelism
    for parts in (1, wide):
        docs = synth_spans(documents).repartition(parts)
        want = digest(transform(docs, create_operators(DEFAULT_CONFIG)))
        assert want[0] > 0
        assert digest(extract(docs)) == want, parts


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
    """The distributed strip, and ``extract``'s Arrow chain, must equal the
    reference's SEQUENTIAL replace loop even when removing one token
    CREATES another — the case a
    single-pass regexp alternation gets wrong (e.g. '<i<b>>': removing
    '<b>' exposes '<i>', which the reference's later '<i>' pass removes).
    Corpus-independent guarantee replacing the round-2 corpus assumption.
    """
    import pyarrow as pa
    import pyspark.sql.functions as F
    from paddleocr_spark.kernels import STYLE_TOKENS, strip_style_tokens
    from paddleocr_spark.pipeline import _strip_styles_arrow, strip_styles
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
    arrow = _strip_styles_arrow(pa.array(texts)).to_pylist()
    for i, t in rows:
        assert got[i] == strip_style_tokens(t), repr(t)
        assert arrow[i] == strip_style_tokens(t), repr(t)
    # the motivating differential: single-pass regexp would leave '<i>'
    assert strip_style_tokens("<i<b>>") == ""
    assert got[len(texts) - 1] == arrow[-1] == ""


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
