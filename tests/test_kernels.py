"""Kernel unit tests — the densest coverage goes to the two reading-order
kernels, since they define span-sequence equality (SURVEY.md §7 step 4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from paddleocr_spark.kernels import (
    ctc_decode, hard_nms, match_cells, segment_regions,
    sorted_boxes_indices, sorted_layout_indices, strip_style_tokens,
)


# ---------------------------------------------------------------- sorted_boxes

def test_sorted_boxes_basic_rows():
    # two rows, left-to-right within a row
    xy = np.array([[50, 100], [10, 100], [10, 50], [90, 52]])
    idx = sorted_boxes_indices(xy)
    assert idx.tolist() == [2, 3, 1, 0]


def test_sorted_boxes_10px_tolerance_swaps():
    # |dy| < 10: x order wins even though y differs
    xy = np.array([[100, 20], [10, 24]])
    assert sorted_boxes_indices(xy).tolist() == [1, 0]
    # |dy| >= 10: y order wins
    xy = np.array([[100, 20], [10, 30]])
    assert sorted_boxes_indices(xy).tolist() == [0, 1]


def test_sorted_boxes_chained_tolerance_not_banding():
    # y = 0, 8, 16: chained <10 steps bubble across a 16px total gap —
    # a floor(y/10) banding would NOT reorder the third box.
    xy = np.array([[30, 0], [20, 8], [10, 16]])
    idx = sorted_boxes_indices(xy)
    # reference: sort -> [ (0,30),(8,20),(16,10) ]; bubble pass i=0: pair
    # (0,1) |dy|=8 and x 20<30 -> swap => [(8,20),(0,30),(16,10)]
    # i=1: j=1 pair now ((0,30),(16,10)): |dy|=16 no swap, break.
    assert idx.tolist() == [1, 0, 2]


def test_sorted_boxes_bubble_break_semantics():
    # The inner loop breaks at the first non-swap — later closer boxes do
    # not leapfrog.
    xy = np.array([[10, 0], [30, 5], [20, 9]])
    idx = sorted_boxes_indices(xy)
    # sorted: [(0,10),(5,30),(9,20)]; i=0: (0,10)vs(5,30): 30>10 no swap.
    # i=1: (5,30)vs(9,20): swap -> [(0,10),(9,20),(5,30)]; j=0: (0,10)vs(9,20)
    # no swap, break.
    assert idx.tolist() == [0, 2, 1]


def test_sorted_boxes_empty_and_single():
    assert sorted_boxes_indices(np.empty((0, 2))).tolist() == []
    assert sorted_boxes_indices(np.array([[5, 5]])).tolist() == [0]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 300), st.integers(0, 300)),
                min_size=0, max_size=30))
def test_sorted_boxes_is_permutation_and_input_order_invariant(pts):
    xy = np.array(pts, dtype=np.float64).reshape(-1, 2)
    idx = sorted_boxes_indices(xy)
    assert sorted(idx.tolist()) == list(range(len(pts)))
    if len(pts) > 1:
        # Invariance: feeding a reversed copy yields the same box sequence
        # (distinct boxes required for strict invariance; dedupe)
        uniq = sorted(set(pts))
        xy2 = np.array(uniq, dtype=np.float64).reshape(-1, 2)
        seq1 = [tuple(xy2[i]) for i in sorted_boxes_indices(xy2)]
        xy3 = xy2[::-1].copy()
        seq2 = [tuple(xy3[i]) for i in sorted_boxes_indices(xy3)]
        assert seq1 == seq2


# --------------------------------------------------------- sorted_layout_boxes

W = 1000


def test_layout_single_column():
    bb = np.array([[120, 40, 800, 50], [120, 60, 800, 70]])
    idx, layout = sorted_layout_indices(bb, W)
    assert idx.tolist() == [0, 1]
    assert layout == ["single", "single"]


def test_layout_two_columns_left_then_right():
    # interleaved rows, left column flushed before right
    bb = np.array([
        [10, 40, 340, 50],    # L0
        [520, 40, 850, 50],   # R0
        [10, 60, 340, 70],    # L1
        [520, 60, 850, 70],   # R1
    ])
    idx, layout = sorted_layout_indices(bb, W)
    assert idx.tolist() == [0, 2, 1, 3]
    assert layout == ["double"] * 4


def test_layout_spanning_region_flushes_columns():
    bb = np.array([
        [10, 40, 340, 50],     # L0
        [520, 40, 850, 50],    # R0
        [120, 60, 800, 70],    # spanning -> flush L,R then emit single
        [10, 80, 340, 90],     # L1 (after flush)
        [520, 80, 850, 90],    # R1
    ])
    idx, layout = sorted_layout_indices(bb, W)
    assert idx.tolist() == [0, 1, 2, 3, 4]
    assert layout == ["double", "double", "single", "double", "double"]


def test_layout_last_box_single_when_below_and_straddling():
    bb = np.array([
        [10, 40, 340, 50],
        [520, 40, 850, 50],
        [100, 80, 900, 95],   # below prev (80 > 50), straddles w/2
    ])
    idx, layout = sorted_layout_indices(bb, W)
    assert idx.tolist() == [0, 1, 2]
    assert layout[-1] == "single"


def test_layout_last_box_joins_right_column():
    bb = np.array([
        [10, 40, 340, 50],
        [520, 45, 850, 55],   # last in sort order; not below prev's y2
    ])
    idx, layout = sorted_layout_indices(bb, W)
    assert idx.tolist() == [0, 1]
    assert layout == ["double", "double"]


def test_layout_single_box():
    idx, layout = sorted_layout_indices(np.array([[0, 0, 10, 10]]), W)
    assert idx.tolist() == [0] and layout == ["single"]


# ------------------------------------------------------------ segment_regions

def test_segment_regions_merges_close_text_lines():
    kinds = ["text", "text", "text"]
    boxes = np.array([[120, 40, 400, 50], [120, 54, 400, 64], [120, 68, 400, 78]])
    assert segment_regions(kinds, boxes).tolist() == [0, 0, 0]


def test_segment_regions_breaks_on_gap_kind_and_column():
    kinds = ["text", "text", "media", "text", "text"]
    boxes = np.array([
        [120, 40, 400, 50],
        [120, 90, 400, 100],    # big gap -> break
        [120, 104, 320, 184],   # kind change -> break
        [10, 200, 340, 210],    # after media -> break
        [520, 200, 850, 210],   # disjoint x (other column) -> break
    ])
    assert segment_regions(kinds, boxes).tolist() == [0, 1, 2, 3, 4]


# ----------------------------------------------------------------- ctc_decode

def test_ctc_decode_dedup_and_blank():
    charset = list("abc")
    ids = np.array([1, 1, 0, 1, 2, 2, 0, 3])
    probs = np.array([0.9, 0.8, 0.5, 0.7, 0.6, 0.5, 0.4, 1.0])
    text, score = ctc_decode(ids, probs, charset)
    assert text == "aabc"
    assert abs(score - np.mean([0.9, 0.7, 0.6, 1.0])) < 1e-12


def test_ctc_decode_all_blank_scores_zero():
    text, score = ctc_decode(np.array([0, 0, 0]), np.array([1.0, 1.0, 1.0]),
                             list("ab"))
    assert text == "" and score == 0.0


# ------------------------------------------------------------------- hard_nms

def test_hard_nms_suppresses_overlaps():
    boxes = np.array([[0, 0, 10, 10], [1, 1, 11, 11], [20, 20, 30, 30]],
                     dtype=float)
    scores = np.array([0.9, 0.8, 0.7])
    kept = hard_nms(boxes, scores, iou_threshold=0.5)
    assert kept.tolist() == [0, 2]


def test_hard_nms_top_k_and_candidate_size():
    boxes = np.array([[i * 20, 0, i * 20 + 10, 10] for i in range(5)],
                     dtype=float)
    scores = np.array([0.1, 0.9, 0.5, 0.7, 0.3])
    assert hard_nms(boxes, scores, 0.5, top_k=2).tolist() == [1, 3]
    # candidate_size keeps only the top-2 scores as candidates at all
    assert hard_nms(boxes, scores, 0.5, candidate_size=2).tolist() == [1, 3]


# ---------------------------------------------------------------- match_cells

def test_match_cells_argmin_and_tie_first_cell():
    cells = np.array([[0, 0, 10, 10], [20, 0, 30, 10]], dtype=float)
    boxes = np.array([[1, 1, 9, 9], [21, 1, 29, 9]], dtype=float)
    assert match_cells(boxes, cells).tolist() == [0, 1]
    # equidistant box between two identical cells -> first cell wins
    cells = np.array([[0, 0, 10, 10], [0, 0, 10, 10]], dtype=float)
    boxes = np.array([[2, 2, 8, 8]], dtype=float)
    assert match_cells(boxes, cells).tolist() == [0]


# --------------------------------------------------------- strip_style_tokens

def test_strip_tokens_and_strike_survivor():
    assert strip_style_tokens("<b>x</b>") == "x"
    assert strip_style_tokens("<i>a</i><sup>b</sup><sub>c</sub>") == "abc"
    # ppstructure/predict_system.py:151-156 lists '<strike>' twice and never
    # '</strike>' — the closing tag must SURVIVE.
    assert strip_style_tokens("<strike>x</strike>") == "x</strike>"
    assert strip_style_tokens("<overline>y</overline><underline>z</underline>") == "yz"


# ------------------------------------------------------------- order_document

@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.tuples(st.sampled_from(["text", "title", "table", "media"]),
              st.integers(0, 900), st.integers(0, 400),
              st.integers(5, 300), st.integers(5, 60)),
    min_size=1, max_size=25))
def test_order_document_is_permutation_and_follows_items(spans):
    """rank must be a permutation, and permuting the input must permute the
    ranks identically (the property that makes the distributed pipeline
    partition-layout-invariant)."""
    from paddleocr_spark.kernels import order_document

    kinds = [s[0] for s in spans]
    xs = np.array([s[1] for s in spans], dtype=np.float64)
    ys = np.array([s[2] for s in spans], dtype=np.float64)
    x2 = xs + np.array([s[3] for s in spans])
    y2 = ys + np.array([s[4] for s in spans])
    rank = order_document(kinds, xs, ys, x2, y2, 1000.0)
    assert sorted(rank.tolist()) == list(range(len(spans)))

    # Strict follow-the-item invariance needs distinct top-left corners:
    # sorted_boxes sorts on (y, x) only, so identical corners tie-break by
    # input order — deterministic in the pipeline because rows are always
    # pre-sorted by (doc_id, span_idx) before the kernel.
    if len({(s[1], s[2]) for s in spans}) == len(spans):
        perm = np.arange(len(spans))[::-1]
        rank2 = order_document([kinds[i] for i in perm], xs[perm], ys[perm],
                               x2[perm], y2[perm], 1000.0)
        assert rank2.tolist() == rank[perm].tolist()


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 900), st.integers(0, 900)),
                min_size=1, max_size=20))
def test_sorted_layout_is_permutation(pts):
    boxes = np.array([[x, y, x + 80, y + 20] for x, y in pts],
                     dtype=np.float64)
    idx, layout = sorted_layout_indices(boxes, 1000.0)
    assert sorted(idx.tolist()) == list(range(len(pts)))
    assert len(layout) == len(pts)
    assert set(layout) <= {"single", "double"}


# ---------------------------------------------------------------------------
# Vectorized reading-order fast path: differential fuzz vs exact kernel
# ---------------------------------------------------------------------------

_span_st = st.tuples(
    st.sampled_from(["text", "text", "text", "media", "table", "title"]),
    st.integers(0, 40),      # x1 grid index
    st.integers(0, 60),      # y1 grid index
)


def _build_doc(spans):
    """(kind, xg, yg) draws → aligned box arrays; grids chosen to hit the
    fast-path boundaries: x spans the w/4, w/2, 3w/4 column thresholds and
    y steps of 3 produce |dy| in {0,3,6,9,12,...} straddling the 10px rule
    and the gap<1.5h region condition (text h=10)."""
    import paddleocr_spark.geometry as G
    kinds, x1, y1, x2, y2 = [], [], [], [], []
    for kind, xg, yg in spans:
        x, y = xg * 25, yg * 3
        w = G.KIND_WIDTH_FIXED.get(kind, 310)
        h = G.KIND_HEIGHT[kind]
        kinds.append(kind)
        x1.append(x)
        y1.append(y)
        x2.append(x + w)
        y2.append(y + h)
    return kinds, x1, y1, x2, y2


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(_span_st, min_size=1, max_size=9),
                min_size=1, max_size=6))
def test_order_ranks_fast_path_matches_exact_kernel(docs):
    import numpy as np
    from paddleocr_spark.kernels import order_document
    from paddleocr_spark.pipeline import _order_ranks

    kind_dict = ["text", "media", "table", "title"]
    code = {k: i for i, k in enumerate(kind_dict)}
    doc_codes, kind_codes = [], []
    X1, Y1, X2, Y2 = [], [], [], []
    per_doc = []
    for d, spans in enumerate(docs):
        kinds, x1, y1, x2, y2 = _build_doc(spans)
        per_doc.append((kinds, x1, y1, x2, y2))
        doc_codes += [d] * len(kinds)
        kind_codes += [code[k] for k in kinds]
        X1 += x1
        Y1 += y1
        X2 += x2
        Y2 += y2
    starts, take, offsets = _order_ranks(
        np.asarray(doc_codes), np.asarray(kind_codes), code["text"],
        kind_dict, np.asarray(X1), np.asarray(Y1), np.asarray(X2),
        np.asarray(Y2))
    # expected: per-doc exact kernel
    pos = 0
    exp_take = []
    for kinds, x1, y1, x2, y2 in per_doc:
        rank = order_document(kinds, np.asarray(x1), np.asarray(y1),
                              np.asarray(x2), np.asarray(y2), 1000)
        exp_take += list(pos + rank.argsort(kind="stable"))
        pos += len(kinds)
    assert list(take) == exp_take


def test_nms_locality_weighted_merge_hand_case():
    """Pin the EAST locality scan: adjacent overlapping boxes merge with
    score-weighted coords + summed score; non-overlapping flush."""
    import numpy as np
    from paddleocr_spark.kernels import nms_locality
    boxes = np.array([[0, 0, 10, 10],
                      [2, 0, 12, 10],     # IoU with prev = 8/12 > 0.3 -> merge
                      [100, 100, 110, 110]], dtype=float)
    scores = np.array([1.0, 3.0, 0.5])
    kept, ks = nms_locality(boxes, scores, thres=0.3)
    # merged x1 = (3*2 + 1*0)/4 = 1.5; score 4.0; picked first (max score)
    assert ks.tolist() == [4.0, 0.5]
    assert kept[0].tolist() == [1.5, 0.0, 11.5, 10.0]
    assert kept[1].tolist() == [100, 100, 110, 110]


def test_nms_locality_scan_is_order_dependent():
    """The merge chain follows INPUT order (row-major analog): moving the
    far box between the two overlapping ones prevents the merge."""
    import numpy as np
    from paddleocr_spark.kernels import nms_locality
    boxes = np.array([[0, 0, 10, 10], [100, 100, 110, 110],
                      [2, 0, 12, 10]], dtype=float)
    scores = np.array([1.0, 0.5, 3.0])
    kept, ks = nms_locality(boxes, scores, thres=0.3)
    # no merge happened; standard NMS then suppresses the 1.0 box (IoU .67)
    assert ks.tolist() == [3.0, 0.5]


def test_iou_deviations_exact_on_axis_aligned_rects():
    """EAST's box IoU and SAST's quad-envelope IoU stand in for the
    reference's shapely polygon IoU, which their DEVIATION docstrings
    call exact on axis-aligned rectangles. Checked here without the
    reference: on seeded random integer rects both agree with DRRG's
    exact convex-clip IoU within 1e-12, and the shared locality-aware
    walk keeps the same rows under each of the three."""
    from paddleocr_spark.drrg_gt import _quad_iou
    from paddleocr_spark.kernels import (_box_iou, _quad_envelope_iou,
                                         locality_aware_nms)
    rng = np.random.RandomState(20171)
    n_overlap = n_merged = 0
    for _ in range(200):
        n = rng.randint(1, 30)
        x1, y1 = rng.randint(0, 60, n), rng.randint(0, 60, n)
        x2, y2 = x1 + rng.randint(1, 25, n), y1 + rng.randint(1, 25, n)
        score = rng.rand(n) + 0.1
        boxes = np.column_stack([x1, y1, x2, y2, score]).astype(float)
        quads = np.column_stack([x1, y1, x2, y1, x2, y2, x1, y2,
                                 score]).astype(float)
        for i in range(n):
            for j in range(n):
                want = _quad_iou(quads[i], quads[j])
                assert abs(_box_iou(boxes[i], boxes[j]) - want) <= 1e-12
                assert abs(_quad_envelope_iou(quads[i], quads[j])
                           - want) <= 1e-12
                n_overlap += 0 < want < 1
        kept = locality_aware_nms(boxes, 0.3, _box_iou)
        as_quads = kept[:, [0, 1, 2, 1, 2, 3, 0, 3, 4]]
        for iou in (_quad_envelope_iou, _quad_iou):
            assert np.array_equal(
                locality_aware_nms(quads, 0.3, iou), as_quads)
        n_merged += len(kept) < n
    assert n_overlap > 1000 and n_merged > 50      # both paths exercised


# ---------------------------------------------------------------------------
# PSE progressive scale expansion (D3 representative)
# ---------------------------------------------------------------------------

def test_pse_expand_grows_seed_to_largest_kernel():
    import numpy as np
    from paddleocr_spark.kernels import pse_expand
    k0 = np.zeros((8, 8), np.uint8)  # largest
    k0[1:7, 1:7] = 1
    k1 = np.zeros((8, 8), np.uint8)  # smallest (seed)
    k1[3:5, 3:5] = 1
    pred = pse_expand(np.stack([k0, k1]), min_area=0)
    # the one component grows to fill the largest kernel exactly
    assert (pred > 0).sum() == 36
    assert set(pred[k0 == 1].tolist()) == {1}
    assert (pred[k0 == 0] == 0).all()


def test_pse_expand_two_seeds_split_the_shared_region():
    import numpy as np
    from paddleocr_spark.kernels import pse_expand
    k0 = np.zeros((5, 9), np.uint8)
    k0[1:4, 1:8] = 1                  # one connected large region
    k1 = np.zeros((5, 9), np.uint8)
    k1[2, 2] = 1                      # seed A (label 1: first row-major)
    k1[2, 6] = 1                      # seed B (label 2)
    pred = pse_expand(np.stack([k0, k1]), min_area=0)
    # both labels survive and partition the region; BFS from both fronts
    assert set(np.unique(pred)) == {0, 1, 2}
    assert (pred[k0 == 1] > 0).all()
    assert pred[2, 1] == 1 and pred[2, 7] == 2


def test_pse_min_area_drops_small_seeds():
    import numpy as np
    from paddleocr_spark.kernels import pse_boxes
    k0 = np.zeros((8, 8), np.uint8)
    k0[0:4, 0:4] = 1
    k1 = np.zeros((8, 8), np.uint8)
    k1[1:3, 1:3] = 1                  # 4 px < min_area
    score = np.full((8, 8), 0.9)
    assert pse_boxes(score, np.stack([k0, k1]),
                     (16, 16, 0.5, 0.5), min_area=16) == []
    # same geometry with min_area 4 emits one box, scaled /0.5 and clipped
    out = pse_boxes(score, np.stack([k0, k1]), (16, 16, 0.5, 0.5),
                    min_area=4)
    assert len(out) == 1
    x1, y1, x2, y2, s = out[0]
    assert (x1, y1) == (0, 0) and (x2, y2) == (6, 6)  # 3/0.5 = 6
    assert s == 0.9


def test_pse_distributed_matches_kernel(spark):
    import numpy as np
    from paddleocr_spark.kernels import pse_boxes
    from paddleocr_spark.operators.spatial import (PSE_RATIO, PSE_SRC,
                                                   pse_detect, pse_doc_maps)
    import pyspark.sql.functions as F
    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    got = {}
    for r in pse_detect(docs).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["box_idx"], r["x1"], r["y1"], r["x2"], r["y2"], r["score"]))
    for d in range(40):
        score, kernels = pse_doc_maps(d)
        want = [(i, *b) for i, b in enumerate(pse_boxes(
            score, kernels, (PSE_SRC, PSE_SRC, PSE_RATIO, PSE_RATIO)))]
        assert sorted(got.get(d, [])) == want, d


# ---------------------------------------------------------------------------
# DBPostProcess (D1) — db_boxes kernel + distributed differential
# ---------------------------------------------------------------------------

def test_db_boxes_basic_box_and_rescale():
    """One solid blob: binarize > 0.3, score = blob mean, unclip by
    d = area*1.5/perimeter, rescale /width*dest with half-even round."""
    import numpy as np
    from paddleocr_spark.kernels import db_boxes
    pred = np.zeros((32, 32))
    pred[4:12, 3:20] = 0.7          # spans: a=16 (x), b=7 (y)
    out = db_boxes(pred, (64, 64, 0.5, 0.5))
    assert len(out) == 1
    x1, y1, x2, y2, s = out[0]
    assert abs(s - 0.7) < 1e-12
    # d = (16*7)*1.5 / (2*(16+7)) = 168/46*... = 3.6521...
    d = 16 * 7 * 1.5 / (2 * (16 + 7))
    assert x1 == int(np.clip(np.round((3 - d) / 32 * 64), 0, 64))
    assert x2 == int(np.clip(np.round((19 + d) / 32 * 64), 0, 64))
    assert y1 == int(np.clip(np.round((4 - d) / 32 * 64), 0, 64))
    assert y2 == int(np.clip(np.round((11 + d) / 32 * 64), 0, 64))


def test_db_boxes_threshold_semantics():
    """Strict >thresh binarize; strict box_thresh > score drop (ties at
    box_thresh survive, db_postprocess.py:139)."""
    import numpy as np
    from paddleocr_spark.kernels import db_boxes
    pred = np.zeros((32, 32))
    pred[2:10, 2:12] = 0.3          # == thresh: NOT in the bitmap
    assert db_boxes(pred, (64, 64, 0.5, 0.5)) == []
    pred[2:10, 2:12] = 0.7
    mean = float(pred[2:10, 2:12].mean())
    # score == box_thresh exactly: kept (strict box_thresh > score)
    out = db_boxes(pred, (64, 64, 0.5, 0.5), box_thresh=mean)
    assert len(out) == 1 and out[0][4] == mean
    # one ulp above: dropped
    assert db_boxes(pred, (64, 64, 0.5, 0.5),
                    box_thresh=np.nextafter(mean, 1.0)) == []


def test_db_boxes_min_size_and_score_dilution():
    """sside < 3 drops thin components; an L-shaped merged component is
    scored over its FULL bbox (sub-thresh background dilutes the fast
    score below box_thresh — the reference's fast-mode behavior)."""
    import numpy as np
    from paddleocr_spark.kernels import db_boxes
    pred = np.zeros((32, 32))
    pred[2:5, 2:22] = 0.9           # y-span = 2 < min_size → dropped
    assert db_boxes(pred, (64, 64, 0.5, 0.5)) == []
    # L-shape: 20x4 bar + 4x20 stem, bbox 20x20 mostly zeros →
    # mean over bbox ≈ (80+64)*0.9/400 < 0.6 → dropped
    pred = np.zeros((32, 32))
    pred[2:6, 2:22] = 0.9
    pred[6:22, 2:6] = 0.9
    assert db_boxes(pred, (64, 64, 0.5, 0.5)) == []
    # same shapes NOT merged (gap) → two boxes, each mean 0.9
    pred = np.zeros((32, 32))
    pred[2:6, 8:28] = 0.9
    pred[8:28, 2:6] = 0.9
    out = db_boxes(pred, (64, 64, 0.5, 0.5))
    assert len(out) == 2 and all(abs(b[4] - 0.9) < 1e-12 for b in out)


def test_db_boxes_candidate_order_and_cap():
    """Candidates emit in row-major discovery order; max_candidates caps
    the CANDIDATE list before filtering (boxes_from_bitmap:125), not the
    output list."""
    import numpy as np
    from paddleocr_spark.kernels import db_boxes
    pred = np.zeros((32, 32))
    pred[20:28, 2:10] = 0.9         # discovered second (lower row)
    pred[2:10, 20:28] = 0.8         # discovered first
    out = db_boxes(pred, (64, 64, 0.5, 0.5))
    assert [round(b[4], 9) for b in out] == [0.8, 0.9]
    # cap=1 keeps only the first DISCOVERED candidate
    out = db_boxes(pred, (64, 64, 0.5, 0.5), max_candidates=1)
    assert [round(b[4], 9) for b in out] == [0.8]


def test_db_unclip_side_filter_unreachable_at_defaults():
    """The post-unclip sside+2d < min_size+2 filter (db_postprocess.py:145)
    is structurally dead at defaults for axis-aligned rects: any box
    passing sside ≥ 3 has sside + 2·(area·1.5/perimeter) ≥ 5.25 > 5.
    Pin the bound so a future parameter change re-opens it consciously."""
    a = 3.0  # minimal passing sside; monotone ↑ in the other span b
    b = 3.0
    d = (a * b) * 1.5 / (2 * (a + b))
    assert a + 2 * d == 5.25


def test_db_distributed_matches_kernel(spark):
    from paddleocr_spark.kernels import db_boxes
    from paddleocr_spark.operators.spatial import (DB_RATIO, DB_SRC,
                                                   db_detect, db_doc_maps)
    import pyspark.sql.functions as F
    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    got = {}
    for r in db_detect(docs).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["box_idx"], r["x1"], r["y1"], r["x2"], r["y2"], r["score"]))
    for d in range(40):
        want = [(i, *b) for i, b in enumerate(db_boxes(
            db_doc_maps(d), (DB_SRC, DB_SRC, DB_RATIO, DB_RATIO)))]
        assert sorted(got.get(d, [])) == want, d


# ---------------------------------------------------------------------------
# EAST quad restore + detect (D2 front half)
# ---------------------------------------------------------------------------

def test_restore_rectangle_quad_math():
    import numpy as np
    from paddleocr_spark.kernels import restore_rectangle_quad
    origin = np.array([[8, 12]])                    # one pixel at (x=8,y=12)
    geo = np.array([[8 - 4, 12 - 6, 8 - 20, 12 - 6, 8 - 20, 12 - 16,
                     8 - 4, 12 - 16]], dtype=float)
    quad = restore_rectangle_quad(origin, geo)
    assert quad.shape == (1, 4, 2)
    assert quad[0].tolist() == [[4, 6], [20, 6], [20, 16], [4, 16]]


def test_east_detect_score_thresh_and_cover_filter():
    import numpy as np
    from paddleocr_spark.kernels import east_detect_boxes
    h = w = 24
    score = np.zeros((h, w))
    score[4:8, 4:10] = 0.8            # == thresh: strictly excluded
    geo = np.zeros((h, w, 8))
    assert east_detect_boxes(score, geo, (96, 96, 0.5, 0.5)) == []
    # blob above thresh whose restored rect lands on empty background:
    # cover mean over the displaced window <= 0.1 -> dropped
    score[4:8, 4:10] = 0.9
    ys, xs = np.mgrid[0:h, 0:w]
    for ci, (cx, cy) in enumerate([(60, 60), (88, 60), (88, 80), (60, 80)]):
        geo[:, :, 2 * ci] = xs * 4 - cx
        geo[:, :, 2 * ci + 1] = ys * 4 - cy
    assert east_detect_boxes(score, geo, (96, 96, 0.5, 0.5)) == []


def test_east_detect_merge_and_side_filter():
    import numpy as np
    from paddleocr_spark.kernels import east_detect_boxes
    h = w = 24
    ys, xs = np.mgrid[0:h, 0:w]
    score = np.zeros((h, w))
    score[2:8, 2:10] = 0.9
    geo = np.zeros((h, w, 8))
    # two slightly different per-pixel rects (jitter 0/1) -> weighted merge
    jit = (xs + ys) % 2
    for ci, (cx, cy) in enumerate([(8, 8), (40, 8), (40, 32), (8, 32)]):
        geo[:, :, 2 * ci] = xs * 4 - (cx + jit)
        geo[:, :, 2 * ci + 1] = ys * 4 - (cy + jit)
    out = east_detect_boxes(score, geo, (96, 96, 0.5, 0.5))
    assert len(out) == 1
    x1, y1, x2, y2, cov = out[0]
    # weighted-average coords land between the jittered variants, then
    # /0.5 and int-truncate: in [16, 18] x [16, 18] for the min corner
    assert 16 <= x1 <= 18 and 16 <= y1 <= 18
    assert 0.1 < cov <= 1.0
    # side filter: a restored rect narrower than 5 source px is dropped
    geo2 = np.zeros((h, w, 8))
    for ci, (cx, cy) in enumerate([(8, 8), (9, 8), (9, 32), (8, 32)]):
        geo2[:, :, 2 * ci] = xs * 4 - cx
        geo2[:, :, 2 * ci + 1] = ys * 4 - cy
    assert east_detect_boxes(score, geo2, (96, 96, 0.5, 0.5)) == []


def test_east_detect_distributed_matches_kernel(spark):
    from paddleocr_spark.kernels import east_detect_boxes
    from paddleocr_spark.operators.spatial import (EAST_RATIO, EAST_SRC,
                                                   east_detect,
                                                   east_doc_maps)
    import pyspark.sql.functions as F
    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    got = {}
    for r in east_detect(docs).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["box_idx"], r["x1"], r["y1"], r["x2"], r["y2"], r["score"]))
    for d in range(40):
        score, geo = east_doc_maps(d)
        want = [(i, *b) for i, b in enumerate(east_detect_boxes(
            score, geo, (EAST_SRC, EAST_SRC, EAST_RATIO, EAST_RATIO)))]
        assert sorted(got.get(d, [])) == want, d


# ---------------------------------------------------------------------------
# MakePseGt
# ---------------------------------------------------------------------------

def test_fill_rect_fully_off_canvas_paints_nothing():
    """A rect entirely above/left of the canvas must be a no-op like
    cv2.fillPoly — without the upper-bound guard the negative end index
    wrapped the Python slice and painted almost the whole canvas."""
    import numpy as np

    from paddleocr_spark.kernels import fill_rect
    img = np.zeros((10, 20), np.float32)
    fill_rect(img, 3, -5, 8, -2, 1)   # fully above
    fill_rect(img, -7, 2, -3, 5, 1)   # fully left
    assert img.sum() == 0
    fill_rect(img, -2, -2, 1, 1, 1)   # corner overlap still fills
    assert img.sum() == 4


def test_make_pse_gt_collapse_needs_degenerate_or_rounding_gap():
    """For a true a x b rect the inset NEVER collapses at any rate < 1
    (b <= 2·dist reduces to b <= -a·r², impossible) — so in the integer-
    coord branch only degenerate sides escalate, while in the upscale
    branch Clipper's input rounding can shave a fractional thin box's
    side below 2·dist (the distance uses the UNROUNDED geometry)."""
    import numpy as np

    from paddleocr_spark.kernels import make_pse_gt
    # unscaled: zero-height box escalates at EVERY scale; rect never does
    boxes = np.array([[10, 10, 90, 10], [20, 30, 80, 60]], float)
    scaled, nh, nw, per_scale, ftags, mask_px = make_pse_gt(
        boxes, [False, False], 100, 120, size=80)
    assert not scaled and (nh, nw) == (100, 120)
    assert [p for _, p, _ in per_scale] == [1] * 7
    assert ftags == [True, False]
    # mask zeroes the degenerate box's 1-px boundary line (cv2 fills it)
    assert mask_px == 100 * 120 - (90 - 10 + 1)

    # upscale branch: a thin long box whose SCALED height rounds to a
    # 1-px side while the unrounded dist exceeds 0.5 -> rounding-gap
    # collapse at the smallest rates only (monotone tail)
    boxes2 = np.array([[5, 10.15, 85, 11.05], [20, 30, 80, 60]], float)
    scaled2, nh2, nw2, ps2, ftags2, _ = make_pse_gt(
        boxes2, [False, False], 61, 120, size=80)
    assert scaled2
    painted2 = [p for _, p, _ in ps2]
    assert painted2 == sorted(painted2, reverse=True)  # drop-out is sticky
    assert painted2[0] == 2 and painted2[-1] == 1 and ftags2 == [True, False]


def test_make_pse_gt_upscale_branch_rounds_dims_and_scales_polys():
    import numpy as np

    from paddleocr_spark.kernels import make_pse_gt
    boxes = np.array([[30, 30, 60, 50]], float)
    scaled, nh, nw, per_scale, ftags, _ = make_pse_gt(
        boxes, [False], 61, 120, size=80)
    assert scaled and nh == round(61 * (80 / 61)) == 80
    assert nw == round(120 * (80 / 61)) == 157
    # the inset rect lives at scaled coordinates
    rate, painted, px = per_scale[0]
    assert painted == 1 and px > (60 - 30) * (50 - 30)  # bigger than unscaled
