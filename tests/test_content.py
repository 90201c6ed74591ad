"""jusText main-content extraction: window form vs the sequential loop.

``functions/content.py`` re-expresses jusText's revise_paragraph_
classification (Pomikalek 2011; public ``justext`` package, core.py) as
window expressions, with a closed-form collapse of the sequential
neargood pass (proof in the module docstring). This file transcribes the
PUBLISHED SEQUENTIAL ALGORITHM literally — in-place mutation order and
all — and differentials it against the Spark windows over every document
in the sf0.001 corpus, plus arm-coverage assertions so a degenerate
corpus can't green the test vacuously.
"""

from __future__ import annotations

from collections import Counter

import pytest

from paddleocr_spark.functions.content import (
    MAX_HEADING_DISTANCE,
    main_content,
)

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Literal transcription of justext.core.revise_paragraph_classification
# (operates on (cf, heading, len_text) lists; mutates classes in place in
# the published iteration order)
# ---------------------------------------------------------------------------

def _prev_neighbour(i, classes, ignore_neargood):
    skip = {"short", "neargood"} if ignore_neargood else {"short"}
    for j in range(i - 1, -1, -1):
        if classes[j] not in skip:
            return classes[j]
    return "bad"


def _next_neighbour(i, classes, ignore_neargood):
    skip = {"short", "neargood"} if ignore_neargood else {"short"}
    for j in range(i + 1, len(classes)):
        if classes[j] not in skip:
            return classes[j]
    return "bad"


def revise_sequential(cf, heading, len_text):
    """The published four-pass revision, transcribed literally."""
    n = len(cf)
    cls = list(cf)

    # pass 1: good headings (short heading near a following good block)
    for i in range(n):
        if not (heading[i] and cls[i] == "short"):
            continue
        j, distance = i + 1, 0
        while j < n and distance <= MAX_HEADING_DISTANCE:
            if cls[j] == "good":
                cls[i] = "neargood"
                break
            distance += len_text[j]
            j += 1

    # pass 2: classify short (snapshot semantics via new_classes)
    new_classes = {}
    for i in range(n):
        if cls[i] != "short":
            continue
        prev = _prev_neighbour(i, cls, ignore_neargood=True)
        nxt = _next_neighbour(i, cls, ignore_neargood=True)
        if prev == "good" and nxt == "good":
            new_classes[i] = "good"
        elif prev == "bad" and nxt == "bad":
            new_classes[i] = "bad"
        elif ((prev == "bad"
               and _prev_neighbour(i, cls, ignore_neargood=False)
               == "neargood")
              or (nxt == "bad"
                  and _next_neighbour(i, cls, ignore_neargood=False)
                  == "neargood")):
            new_classes[i] = "good"
        else:
            new_classes[i] = "bad"
    for i, c in new_classes.items():
        cls[i] = c

    # pass 3: revise neargood (sequential IN-PLACE mutation — later
    # neargoods see earlier outcomes)
    for i in range(n):
        if cls[i] != "neargood":
            continue
        prev = _prev_neighbour(i, cls, ignore_neargood=True)
        nxt = _next_neighbour(i, cls, ignore_neargood=True)
        cls[i] = "bad" if (prev, nxt) == ("bad", "bad") else "good"

    # pass 4: more good headings
    for i in range(n):
        if not (heading[i] and cls[i] == "bad" and cf[i] != "bad"):
            continue
        j, distance = i + 1, 0
        while j < n and distance <= MAX_HEADING_DISTANCE:
            if cls[j] == "good":
                cls[i] = "good"
                break
            distance += len_text[j]
            j += 1

    return cls


@pytest.fixture(scope="module")
def blocks(spark):
    rows = (main_content(spark, SF_SMALL)
            .select("doc_id", "block_idx", "tag", "cf_class",
                    "final_class", "len_text", "n_words",
                    "link_density", "stop_density", "kept")
            .orderBy("doc_id", "block_idx")
            .collect())
    docs: dict[int, list] = {}
    for r in rows:
        docs.setdefault(r["doc_id"], []).append(r)
    return docs


def test_sequential_differential(blocks):
    """Window final_class == the literal sequential revision, every doc."""
    for doc_id, rs in blocks.items():
        cf = [r["cf_class"] for r in rs]
        heading = [r["tag"] in ("h1", "h2") for r in rs]
        lens = [r["len_text"] for r in rs]
        expect = revise_sequential(cf, heading, lens)
        got = [r["final_class"] for r in rs]
        assert got == expect, (doc_id, cf, expect, got)


def test_arm_coverage(blocks):
    """The corpus must exercise every classifier arm and every revision
    transition, or the differential proves nothing."""
    cf_seen = Counter()
    transitions = Counter()
    for rs in blocks.values():
        for r in rs:
            cf_seen[r["cf_class"]] += 1
            transitions[(r["cf_class"], r["final_class"])] += 1
    assert set(cf_seen) == {"good", "bad", "short", "neargood"}
    # shorts resolve both ways, neargoods resolve both ways
    assert transitions[("short", "good")] > 0
    assert transitions[("short", "bad")] > 0
    assert transitions[("neargood", "good")] > 0
    assert transitions[("neargood", "bad")] > 0
    # no short/neargood survives revision
    finals = {f for (_, f) in transitions}
    assert finals == {"good", "bad"}


def test_block_count_and_order(blocks):
    """Every synthesized block parses back: per doc exactly nb = 6 + did%7
    blocks, contiguous 0-based block_idx, nav first / footer last."""
    assert len(blocks) == 500
    for doc_id, rs in blocks.items():
        nb = 6 + int(doc_id) % 7
        assert [r["block_idx"] for r in rs] == list(range(nb))
        assert rs[0]["tag"] == "div" and rs[-1]["tag"] == "footer"


def test_feature_sanity(blocks):
    for rs in blocks.values():
        for r in rs:
            assert 0.0 <= r["link_density"] <= 1.0
            assert 0.0 <= r["stop_density"] <= 1.0
            assert r["n_words"] >= 2 and r["len_text"] > 0
            assert r["kept"] == (r["final_class"] == "good")


def test_synthetic_adversarial_sequences():
    """Hand-built class sequences hitting the rare arms of the sequential
    algorithm (neargood chains against mixed anchors, heading promotion
    at the exact distance budget) — pins the transcription itself."""
    # neargood run between bad anchors -> all bad
    assert revise_sequential(
        ["bad", "neargood", "neargood", "bad"],
        [False] * 4, [100] * 4) == ["bad", "bad", "bad", "bad"]
    # neargood run with one good anchor -> all good
    assert revise_sequential(
        ["good", "neargood", "neargood", "bad"],
        [False] * 4, [100] * 4) == ["good", "good", "good", "bad"]
    # short with bad ignore-neargood neighbour but neargood raw neighbour
    # -> good (the neargood-chain arm), and the neargood itself -> good
    assert revise_sequential(
        ["good", "short", "neargood", "bad"],
        [False] * 4, [100] * 4) == ["good", "good", "good", "bad"]
    # heading promotion: short heading within budget of a good block
    assert revise_sequential(
        ["short", "short", "good"],
        [True, False, False],
        [10, MAX_HEADING_DISTANCE, 300],
    ) == ["good", "good", "good"]
    # ... and one character past the budget -> heading stays dead
    assert revise_sequential(
        ["short", "short", "good"],
        [True, False, False],
        [10, MAX_HEADING_DISTANCE + 1, 300],
    ) == ["bad", "bad", "good"]


def test_page_queries_take_a_doc_id_past_2_31(spark, tmp_path):
    """The page and repetition synthesizers read ``did`` as a BIGINT in
    both engines: ids past 2^31 give the same blocks in Spark and in the
    DuckDB twins (a 32-bit ``did`` raised in both)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from paddleocr_spark.entry_queries import oracle_sql, queries

    docs = pq.read_table(f"{SF_SMALL}/documents.parquet").slice(0, 3)
    ids = [2 ** 31 + 6, 3 * 2 ** 31 + 1, 7]
    pq.write_table(docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id",
        pa.array(ids, pa.int64())), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    sql, block = oracle_sql(), ("doc_id", "block_idx", "text")
    for name, cols in [("main_content", block),
                       ("readability_extract", block),
                       ("boilerpipe_extract", block),
                       ("gopher_repetition", ("doc_id", "n_words"))]:
        got = sorted(tuple(r[c] for c in cols) for r in
                     queries()[name](spark, str(tmp_path)).collect())
        want = sorted(con.execute(
            f"SELECT {', '.join(cols)} FROM ({sql[name]})").fetchall())
        assert got == want, name
        assert {r[0] for r in got} == set(ids), name
