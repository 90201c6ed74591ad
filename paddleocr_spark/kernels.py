"""Pure-NumPy/pandas kernels — the executable spec shared by the Spark pipeline
and the single-node oracle (SURVEY.md §5: "make the oracle the same code imported
twice").

Each kernel transcribes the *semantics* of a reference operator from
hoonisone/PaddleOCR (file:line cited per function). No reference code is copied;
the reference is C-extension/OpenCV-backed Python over ndarrays of quad points,
while these kernels operate on axis-aligned `(x1, y1, x2, y2)` int boxes carried
in plain Python/numpy structures — the representation our Spark pipeline uses
(SURVEY.md §1.1).

Everything here is deterministic and order-stable: given the same set of input
rows in ANY order, output order is identical (kernels sort internally exactly the
way the reference does). That property is what makes the distributed pipeline
partition-count-invariant (SURVEY.md §7 "What's hard" #2).
"""

from __future__ import annotations

import numpy as np


def _norm2(v):
    """Euclidean norm of a 2-vector via scalar ops, preserving dtype.

    np.linalg.norm on a 1-D array is sqrt(BLAS dot) — its last bit
    varies across OpenBLAS builds/CPU kernels (FMA vs mul+add), which was
    observed to shift committed-fixture values between sandbox
    containers. Scalar IEEE-754 ops are bit-identical everywhere, and
    keeping the input dtype (float32 boxes stay float32) preserves the
    reference's truncation behavior at exact-integer edge lengths."""
    dx, dy = v[0], v[1]
    return np.sqrt(dx * dx + dy * dy)

# ---------------------------------------------------------------------------
# Style-token stripping (P11)
# ---------------------------------------------------------------------------

#: The reference's style_token list, ppstructure/predict_system.py:151-156.
#: QUIRK preserved exactly: '<strike>' appears twice and '</strike>' is absent,
#: so closing strike tags SURVIVE stripping. Span-sequence equality depends on
#: replicating this.
STYLE_TOKENS = [
    "<strike>", "<strike>", "<sup>", "</sub>", "<b>", "</b>", "<sub>",
    "</sup>", "<overline>", "</overline>", "<underline>", "</underline>",
    "<i>", "</i>",
]


def strip_style_tokens(text: str) -> str:
    """Sequential replace loop, semantics of ppstructure/predict_system.py:157-162."""
    for token in STYLE_TOKENS:
        if token in text:
            text = text.replace(token, "")
    return text


# ---------------------------------------------------------------------------
# Reading order: sorted_boxes (O1)
# ---------------------------------------------------------------------------

def sorted_boxes_indices(boxes_xy: np.ndarray) -> np.ndarray:
    """Reading order of line boxes within a region/page.

    Semantics of tools/infer/predict_system.py:131-152 (``sorted_boxes``):
    stable sort by (y_topleft, x_topleft), then a restricted bubble pass where
    adjacent boxes whose top-left ys differ by <10 px swap into x order. The
    tolerance is chained/transitive — a plain ``floor(y/10)`` banding is NOT
    bit-equal (SURVEY.md O1).

    Args:
        boxes_xy: float/int array [N, 2] of (x_topleft, y_topleft).
    Returns:
        int array [N] — indices into the input, in reading order.
    """
    n = len(boxes_xy)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # Python's sorted() is stable, matching the reference's use of sorted().
    order = sorted(range(n), key=lambda i: (boxes_xy[i][1], boxes_xy[i][0]))
    _boxes = list(order)
    for i in range(n - 1):
        for j in range(i, -1, -1):
            a, b = _boxes[j], _boxes[j + 1]
            if (abs(boxes_xy[b][1] - boxes_xy[a][1]) < 10
                    and boxes_xy[b][0] < boxes_xy[a][0]):
                _boxes[j], _boxes[j + 1] = _boxes[j + 1], _boxes[j]
            else:
                break
    return np.asarray(_boxes, dtype=np.int64)


# ---------------------------------------------------------------------------
# Reading order: sorted_layout_boxes (O2) — single/double column resolution
# ---------------------------------------------------------------------------

def sorted_layout_indices(bboxes: np.ndarray, w: float) -> tuple[np.ndarray, list[str]]:
    """Column-aware region ordering.

    Semantics of ppstructure/recovery/recovery_to_doc.py:83-148
    (``sorted_layout_boxes``): pre-sort regions by (y1, x1); scan buffering a
    left column (x1 < w/4 and x2 < 3w/4) and a right column (x1 > w/4 and
    x2 > w/2); any region spanning the middle flushes left-then-right buffers
    and is emitted as layout='single'. Dedicated last-box handling: a final box
    strictly below the previous one that straddles w/2 is 'single'; otherwise it
    joins the right (x2 > w/2) or left (x1 < w/2) buffer before the flush.

    Args:
        bboxes: array [N, 4] of (x1, y1, x2, y2).
        w: page width.
    Returns:
        (indices [N] in emission order, layout label per emitted index
        ('single' | 'double'), aligned with the returned indices).
    """
    n = len(bboxes)
    if n == 0:
        return np.empty(0, dtype=np.int64), []
    if n == 1:
        return np.zeros(1, dtype=np.int64), ["single"]

    order = sorted(range(n), key=lambda i: (bboxes[i][1], bboxes[i][0]))
    _boxes = list(order)
    layout: dict[int, str] = {}

    new_res: list[int] = []
    res_left: list[int] = []
    res_right: list[int] = []
    i = 0
    while True:
        if i >= n:
            break
        idx = _boxes[i]
        x1, y1, x2, _ = bboxes[idx]
        if i == n - 1:
            prev = _boxes[i - 1]
            if (y1 > bboxes[prev][3] and x1 < w / 2 and x2 > w / 2):
                new_res += res_left
                new_res += res_right
                layout[idx] = "single"
                new_res.append(idx)
            else:
                if x2 > w / 2:
                    layout[idx] = "double"
                    res_right.append(idx)
                    new_res += res_left
                    new_res += res_right
                elif x1 < w / 2:
                    layout[idx] = "double"
                    res_left.append(idx)
                    new_res += res_left
                    new_res += res_right
            res_left = []
            res_right = []
            break
        elif x1 < w / 4 and x2 < 3 * w / 4:
            layout[idx] = "double"
            res_left.append(idx)
            i += 1
        elif x1 > w / 4 and x2 > w / 2:
            layout[idx] = "double"
            res_right.append(idx)
            i += 1
        else:
            new_res += res_left
            new_res += res_right
            layout[idx] = "single"
            new_res.append(idx)
            res_left = []
            res_right = []
            i += 1
    if res_left:
        new_res += res_left
    if res_right:
        new_res += res_right
    return (np.asarray(new_res, dtype=np.int64),
            [layout[k] for k in new_res])


# ---------------------------------------------------------------------------
# Region segmentation (D1 analog) — gap-based connected runs in y
# ---------------------------------------------------------------------------

def segment_regions(kinds: list[str], boxes: np.ndarray,
                    gap_factor: float = 1.5) -> np.ndarray:
    """Group line boxes into layout regions.

    Stand-in for the reference's DBNet prob-map connected components +
    PicoDet layout regions (ppocr/postprocess/db_postprocess.py:104-155,
    picodet_postprocess.py:81-250): since our synthetic geometry derives from
    span offsets (FIXTURES.md §1), connectivity reduces to 1-D runs — two
    consecutive lines (in sorted_boxes order) join the same region iff the
    vertical gap between them is < gap_factor × line height AND their kinds
    agree AND they overlap horizontally (disjoint x-ranges = different columns,
    like disconnected components in the DBNet probability map). Non-text kinds
    (media/table/title) are always their own region,
    mirroring PP-Structure where figure/table/title are distinct layout
    regions (ppstructure/predict_system.py:118-176).

    Args:
        kinds: per-line kind, aligned with boxes.
        boxes: array [N, 4] (x1, y1, x2, y2) — in READING ORDER already
            (call sorted_boxes_indices first).
    Returns:
        int array [N] region ids (0-based, in first-appearance order).
    """
    n = len(kinds)
    region = np.zeros(n, dtype=np.int64)
    rid = 0
    for i in range(1, n):
        h_prev = boxes[i - 1][3] - boxes[i - 1][1]
        gap = boxes[i][1] - boxes[i - 1][3]
        x_overlap = not (boxes[i][0] >= boxes[i - 1][2]
                         or boxes[i][2] <= boxes[i - 1][0])
        same = (
            kinds[i] == kinds[i - 1]
            and kinds[i] == "text"
            and gap < gap_factor * max(h_prev, 1)
            and gap > -max(h_prev, 1)  # vertical jump backwards breaks runs
            and x_overlap  # disjoint columns never connect
        )
        if not same:
            rid += 1
        region[i] = rid
    return region


# ---------------------------------------------------------------------------
# CTC-style decode (R3)
# ---------------------------------------------------------------------------

def ctc_decode(ids: np.ndarray, probs: np.ndarray | None,
               charset: list[str]) -> tuple[str, float]:
    """CTC greedy decode of one sequence.

    Semantics of ppocr/postprocess/rec_postprocess.py:83-115 + :157-185
    (``BaseRecLabelDecode.decode`` with is_remove_duplicate=True and
    ``CTCLabelDecode``): drop consecutive duplicate ids, drop blank (id 0),
    map ids→chars via the dictionary (index 0 is the blank, charset[i] maps
    id i+1), join; score = mean of kept probs (0.0 if none kept — the
    reference substitutes conf_list=[0]).
    """
    ids = np.asarray(ids)
    selection = np.ones(len(ids), dtype=bool)
    if len(ids) >= 2:
        selection[1:] = ids[1:] != ids[:-1]
    selection &= ids != 0
    kept = ids[selection]
    text = "".join(charset[int(t) - 1] for t in kept)
    if probs is None:
        conf = [1.0] * int(selection.sum())
    else:
        conf = list(np.asarray(probs)[selection])
    if len(conf) == 0:
        conf = [0.0]
    return text, float(np.mean(conf))


# ---------------------------------------------------------------------------
# hard_nms (D5)
# ---------------------------------------------------------------------------

def hard_nms(boxes: np.ndarray, scores: np.ndarray, iou_threshold: float = 0.5,
             top_k: int = -1, candidate_size: int = 200) -> np.ndarray:
    """Greedy IoU suppression; returns kept indices in pick order.

    Semantics of ppocr/postprocess/picodet_postprocess.py:19-66 (``hard_nms`` +
    ``iou_of``): ascending argsort of scores, keep only the top
    ``candidate_size`` candidates, repeatedly pick the current max, suppress
    the rest with IoU > threshold (eps=1e-5 in the IoU denominator), stop at
    ``top_k`` picks.
    """
    boxes = np.asarray(boxes, dtype=np.float64)
    scores = np.asarray(scores, dtype=np.float64)
    picked: list[int] = []
    # DELIBERATE DEVIATION: the reference uses np.argsort's default
    # (unstable) sort, so its pick order on TIED scores depends on
    # introsort internals; a stable sort makes tied picks deterministic
    # across numpy versions/partitionings, which distributed equality
    # tests require. Untied inputs are bit-identical to the reference.
    indexes = np.argsort(scores, kind="stable")
    indexes = indexes[-candidate_size:]
    while len(indexes) > 0:
        current = indexes[-1]
        picked.append(int(current))
        if 0 < top_k == len(picked) or len(indexes) == 1:
            break
        current_box = boxes[current, :]
        indexes = indexes[:-1]
        rest = boxes[indexes, :]
        lt = np.maximum(rest[:, :2], current_box[:2])
        rb = np.minimum(rest[:, 2:], current_box[2:])
        wh = np.clip(rb - lt, 0.0, None)
        overlap = wh[:, 0] * wh[:, 1]
        area_r = np.clip(rest[:, 2] - rest[:, 0], 0, None) * np.clip(
            rest[:, 3] - rest[:, 1], 0, None)
        area_c = max(current_box[2] - current_box[0], 0) * max(
            current_box[3] - current_box[1], 0)
        iou = overlap / (area_r + area_c - overlap + 1e-5)
        indexes = indexes[iou <= iou_threshold]
    return np.asarray(picked, dtype=np.int64)


# ---------------------------------------------------------------------------
# Table cell matching (J1)
# ---------------------------------------------------------------------------

def match_cells(ocr_boxes: np.ndarray, cell_boxes: np.ndarray) -> np.ndarray:
    """Assign each OCR box to the argmin cell by (1 - IoU, L1-corner distance).

    Semantics of ppstructure/table/matcher.py:19-97 (``distance``,
    ``compute_iou``, ``TableMatch.match_result``): the L1 metric is
    |dx1|+|dy1|+|dx2|+|dy2| + min(|dx1|+|dy1|, |dx2|+|dy2|); ties resolve to
    the first cell in input order (``distances.index(sorted[0])``).

    Returns int array [N_ocr] of assigned cell indices.
    """
    out = np.empty(len(ocr_boxes), dtype=np.int64)
    for i, g in enumerate(np.asarray(ocr_boxes, dtype=np.float64)):
        best_key = None
        best_j = 0
        for j, p in enumerate(np.asarray(cell_boxes, dtype=np.float64)):
            d1 = abs(p[0] - g[0]) + abs(p[1] - g[1])
            d2 = abs(p[2] - g[2]) + abs(p[3] - g[3])
            dis = d1 + d2 + min(d1, d2)
            s1 = (g[2] - g[0]) * (g[3] - g[1])
            s2 = (p[2] - p[0]) * (p[3] - p[1])
            left, right = max(g[0], p[0]), min(g[2], p[2])
            top, bot = max(g[1], p[1]), min(g[3], p[3])
            if left >= right or top >= bot:
                iou = 0.0
            else:
                inter = (right - left) * (bot - top)
                iou = inter / (s1 + s2 - inter)
            key = (1.0 - iou, dis)
            if best_key is None or key < best_key:
                best_key = key
                best_j = j
        out[i] = best_j
    return out


# ---------------------------------------------------------------------------
# Whole-document ordering kernel — the composition used by the pipeline
# ---------------------------------------------------------------------------

def order_document(kinds: list[str], xs: np.ndarray, ys: np.ndarray,
                   x2s: np.ndarray, y2s: np.ndarray,
                   page_width: float) -> np.ndarray:
    """Full reading-order resolution for one document.

    Mirrors the reference's recovery path (SURVEY.md §3.2): line-level
    ``sorted_boxes`` (O1) → region segmentation (D1 analog) → region-level
    ``sorted_layout_boxes`` (O2) → ordered emission walking regions in order
    and lines within regions (``convert_info_docx`` order,
    recovery_to_doc.py:31-80).

    Args: per-span geometry arrays, all aligned; any input order.
    Returns:
        int array [N]: rank[i] = reading-order position (0-based) of input
        span i.
    """
    n = len(kinds)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.zeros(1, dtype=np.int64)
    # Plain-list composition: per-document calls are tiny (median a handful
    # of spans), where small-ndarray construction overhead dominates — the
    # sub-kernels accept any sequence-of-sequences, so stay in lists and
    # convert once at the end. Semantics identical to the array path.
    xy = [(float(xs[i]), float(ys[i])) for i in range(n)]
    line_order = sorted_boxes_indices(xy)

    k_sorted = [kinds[i] for i in line_order]
    boxes_sorted = [(xy[i][0], xy[i][1], float(x2s[i]), float(y2s[i]))
                    for i in line_order]
    regions = segment_regions(k_sorted, boxes_sorted)

    n_regions = int(regions[-1]) + 1  # region ids are nondecreasing
    inf = float("inf")
    region_bbox = [[inf, inf, -inf, -inf] for _ in range(n_regions)]
    for i in range(n):
        b = boxes_sorted[i]
        rb = region_bbox[regions[i]]
        if b[0] < rb[0]:
            rb[0] = b[0]
        if b[1] < rb[1]:
            rb[1] = b[1]
        if b[2] > rb[2]:
            rb[2] = b[2]
        if b[3] > rb[3]:
            rb[3] = b[3]
    region_order, _ = sorted_layout_indices(region_bbox, page_width)
    region_rank = [0] * n_regions
    for r, idx in enumerate(region_order):
        region_rank[int(idx)] = r

    # Emit: regions in layout order; within a region, lines keep sorted_boxes
    # order (their index order in boxes_sorted — sorted() is stable).
    emit = sorted(range(n), key=lambda i: region_rank[regions[i]])
    rank = np.empty(n, dtype=np.int64)
    for out_pos, j in enumerate(emit):
        rank[line_order[j]] = out_pos
    return rank


# ---------------------------------------------------------------------------
# Table structure decode (D7) + pred-HTML walk (J2)
# ---------------------------------------------------------------------------

def table_label_decode(ids, dict_character) -> list[str]:
    """One sequence of TableLabelDecode.decode, tokens only.

    Semantics of ppocr/postprocess/table_postprocess.py:63-98 with the
    AttnLabelDecode special tokens (rec_postprocess.py:469-481): id 0 is
    'sos', the last id 'eos'; break at the first eos with idx > 0 — an eos
    AT idx 0 falls through to the ignored_tokens check and is skipped, not
    a break (the `idx > 0 and char_idx == end_idx` guard's exact order) —
    and sos/eos are dropped wherever they appear before the break.
    (Bbox decoding is geometry-free in our span model and not replicated.)
    """
    end_idx = len(dict_character) - 1
    ignored = (0, end_idx)  # AttnLabelDecode.get_ignored_tokens analog
    out: list[str] = []
    for idx, char_idx in enumerate(ids):
        char_idx = int(char_idx)
        if idx > 0 and char_idx == end_idx:
            break
        if char_idx in ignored:
            continue
        out.append(dict_character[char_idx])
    return out


def get_pred_html(pred_structures, matched_index, ocr_contents) -> str:
    """TableMatch.get_pred_html, ppstructure/table/matcher.py:99-138.

    QUIRKS preserved exactly: every tag CONTAINING '</td>' consumes a cell
    index; '<b>' / '</b>' detection is a substring test but the cut is an
    unconditional [3:] / [:-4] slice; the single-space separator keys on
    the ORIGINAL element index, so a skipped (emptied) last element leaves
    the previous element's trailing space in place; the <b>-wrap triggers
    only when the FIRST matched text contains '<b>' AND the cell has more
    than one text; a single matched text splices RAW (no munging at all).
    ``ocr_contents`` are plain strings (the reference carries (text, score)
    tuples and reads [0]).
    """
    end_html: list[str] = []
    td_index = 0
    for tag in pred_structures:
        if "</td>" in tag:
            if "<td></td>" == tag:
                end_html.append("<td>")
            if td_index in matched_index:
                b_with = False
                # TUPLE-MEMBERSHIP QUIRK (found by executing the reference,
                # round 3): the reference's ocr_contents entries are
                # (text, score) tuples and the test is `'<b>' in tuple` —
                # element EQUALITY, not substring — so the wrap fires only
                # when the first matched TEXT is exactly '<b>'
                # (matcher.py:108-110 + the rec_res tuples fed by
                # predict_table). Our contents are bare strings, so the
                # faithful condition is string equality.
                if (ocr_contents[matched_index[td_index][0]] == "<b>"
                        and len(matched_index[td_index]) > 1):
                    b_with = True
                    end_html.append("<b>")
                for i, content_idx in enumerate(matched_index[td_index]):
                    content = ocr_contents[content_idx]
                    if len(matched_index[td_index]) > 1:
                        if len(content) == 0:
                            continue
                        if content[0] == " ":
                            content = content[1:]
                        if "<b>" in content:
                            content = content[3:]
                        if "</b>" in content:
                            content = content[:-4]
                        if len(content) == 0:
                            continue
                        if (i != len(matched_index[td_index]) - 1
                                and " " != content[-1]):
                            content += " "
                    end_html.append(content)
                if b_with:
                    end_html.append("</b>")
            if "<td></td>" == tag:
                end_html.append("</td>")
            else:
                end_html.append(tag)
            td_index += 1
        else:
            end_html.append(tag)
    return "".join(end_html)


def attn_label_decode(ids, dict_character) -> str:
    """AttnLabelDecode.decode, rec_postprocess.py:476-503 (the R4 family's
    representative; __call__ passes is_remove_duplicate=False, :519).

    QUIRK preserved: ``end_idx`` is itself in ``ignored_tokens`` and the
    ignored ``continue`` precedes the ``break`` check, so the
    break-at-eos is DEAD CODE — ids AFTER the eos token still decode.
    dict layout: ['sos'] + charset + ['eos'] (add_special_char, :469-474).
    """
    end_idx = len(dict_character) - 1
    ignored = (0, end_idx)
    return "".join(dict_character[int(i)] for i in ids
                   if int(i) not in ignored)


def otsu_threshold(hist) -> int:
    """Otsu's threshold over a histogram — OpenCV getThreshVal_Otsu
    semantics as used by ppocr/utils/utility.py:77-83 (``binarize_img``
    with cv2.THRESH_OTSU): scan split points t with class0 = bins [0..t],
    maximize the between-class variance, strict-greater comparison (first
    argmax wins). Degenerate splits (an empty class) are skipped; an
    all-zero histogram returns 0.

    Variance is computed as (s0*w1 - s1*w0)^2 / (w0*w1) — algebraically
    w0*w1*(mu0-mu1)^2, identical up to the positive total^2 factor OpenCV
    carries — with integer numerators so the Spark and DuckDB twins
    produce bit-identical doubles.
    """
    total = int(sum(hist))
    if total == 0:
        return 0
    sum_all = sum(i * h for i, h in enumerate(hist))
    w0 = s0 = 0
    best = -1.0
    best_t = 0
    for t in range(len(hist)):
        w0 += hist[t]
        s0 += t * hist[t]
        w1 = total - w0
        if w0 == 0 or w1 == 0:
            continue
        num = s0 * w1 - (sum_all - s0) * w0
        var = float(num * num) / float(w0 * w1)
        if var > best:
            best = var
            best_t = t
    return best_t


def nms_locality(boxes, scores, thres: float = 0.3):
    """EAST locality-aware NMS over axis-aligned boxes, transcribing
    ppocr/postprocess/locality_aware_nms.py:173-193 (``nms_locality``) +
    :56-70 (``standard_nms``) + :45-52 (``weighted_merge``).

    Sequential scan in INPUT order (the reference feeds row-major score-map
    order): the running poly p merges into the next box g whenever
    IoU(g, p) > thres — merged coords are the score-weighted average,
    merged score the sum — else p is flushed. The merged set then passes
    standard NMS (score-descending greedy, suppress IoU > thres). The
    reference's corner-wise weighted average of axis-aligned rectangles is
    again an axis-aligned rectangle, so (x1,y1,x2,y2) carries exactly.

    DELIBERATE DEVIATION (same as hard_nms): standard_nms's score argsort
    is made stable (reference np.argsort is not), so tied scores pick
    deterministically across numpy versions/partitionings.

    Returns (boxes [K,4] float64, scores [K] float64) in pick order.
    """
    def iou(a, b):
        ix = min(a[2], b[2]) - max(a[0], b[0])
        iy = min(a[3], b[3]) - max(a[1], b[1])
        if ix <= 0 or iy <= 0:
            return 0.0
        inter = ix * iy
        ua = (a[2] - a[0]) * (a[3] - a[1])
        ub = (b[2] - b[0]) * (b[3] - b[1])
        union = ua + ub - inter
        return 0.0 if union == 0 else inter / union

    merged: list[list[float]] = []
    p = None
    for g, s in zip(np.asarray(boxes, dtype=np.float64),
                    np.asarray(scores, dtype=np.float64)):
        g = [float(g[0]), float(g[1]), float(g[2]), float(g[3]), float(s)]
        if p is not None and iou(g, p) > thres:
            # weighted_merge(g, p): merge INTO g (locality_aware_nms.py:45-52)
            w = g[4] + p[4]
            g = [(g[4] * g[i] + p[4] * p[i]) / w for i in range(4)] + [w]
            p = g
        else:
            if p is not None:
                merged.append(p)
            p = g
    if p is not None:
        merged.append(p)
    if not merged:
        return np.empty((0, 4)), np.empty(0)

    arr = np.asarray(merged, dtype=np.float64)
    order = list(np.argsort(arr[:, 4], kind="stable")[::-1])
    keep: list[int] = []
    while order:
        i = order.pop(0)
        keep.append(i)
        order = [t for t in order if iou(arr[i], arr[t]) <= thres]
    return arr[keep, :4], arr[keep, 4]


# ---------------------------------------------------------------------------
# PSE progressive scale expansion (D3 family representative)
# ---------------------------------------------------------------------------

def connected_components_4(grid: np.ndarray) -> tuple[int, np.ndarray]:
    """4-connected components of a binary grid.

    Labels are 1..n in row-major first-pixel discovery order (the
    contiguous relabeling convention of cv2.connectedComponents, which
    pse_postprocess/pse/pse.pyx:70-72 uses on the smallest kernel).
    Returns (label_num = n_components + 1, label grid) like cv2.
    """
    h, w = grid.shape
    label = np.zeros((h, w), dtype=np.int32)
    nxt = 1
    for i in range(h):
        for j in range(w):
            if grid[i, j] and not label[i, j]:
                stack = [(i, j)]
                label[i, j] = nxt
                while stack:
                    x, y = stack.pop()
                    for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                        tx, ty = x + dx, y + dy
                        if (0 <= tx < h and 0 <= ty < w and grid[tx, ty]
                                and not label[tx, ty]):
                            label[tx, ty] = nxt
                            stack.append((tx, ty))
                nxt += 1
    return nxt, label


def pse_expand(kernels: np.ndarray, min_area: float) -> np.ndarray:
    """Progressive scale expansion, pse_postprocess/pse/pse.pyx:14-72.

    kernels[0] is the largest map, kernels[-1] the smallest; components of
    the smallest seed a BFS that grows level by level toward the largest
    (FIFO queue, 4-neighborhood in (-1,1,0,0)/(0,0,-1,1) order, edge
    pixels deferred to the next level). QUIRK preserved: the reference
    slices kernels[:-1] but iterates kernel_idx from the UNSLICED count −
    boundscheck(False) over a view lands the out-of-range first level on
    the parent's smallest kernel, so expansion effectively runs over ALL
    K levels including the smallest — replicated here by just not
    slicing. Components of the smallest kernel with area < min_area are
    zeroed before seeding (pse.pyx:21-23), which lets that first level
    re-absorb their pixels into surviving neighbors.
    """
    from collections import deque
    label_num, label = connected_components_4(kernels[-1])
    for idx in range(1, label_num):
        if np.sum(label == idx) < min_area:
            label[label == idx] = 0
    h, w = label.shape
    pred = np.zeros((h, w), dtype=np.int32)
    que: deque = deque()
    xs, ys = np.where(label > 0)
    for x, y in zip(xs, ys):          # np.where is row-major, like the pyx
        que.append((x, y))
        pred[x, y] = label[x, y]
    for kernel_idx in range(len(kernels) - 1, -1, -1):
        nxt: deque = deque()
        while que:
            cx, cy = que.popleft()
            cur_label = pred[cx, cy]
            is_edge = True
            for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                tx, ty = cx + dx, cy + dy
                if tx < 0 or tx >= h or ty < 0 or ty >= w:
                    continue
                if kernels[kernel_idx][tx, ty] == 0 or pred[tx, ty] > 0:
                    continue
                que.append((tx, ty))
                pred[tx, ty] = cur_label
                is_edge = False
            if is_edge:
                nxt.append((cx, cy))
        que = nxt
    return pred


def pse_boxes(score: np.ndarray, kernels: np.ndarray, shape,
              thresh_unused: float = 0.5, box_thresh: float = 0.85,
              min_area: float = 16):
    """PSEPostProcess.generate_box, pse_postprocess.py:81-120, over the
    expanded label map.

    Per label (in label-id order): drop if pixel count < min_area or mean
    score < box_thresh; emit the box scaled back by (ratio_w, ratio_h),
    np.round-ed (half-even) and clipped to the source dims. DEVIATION per
    SURVEY §1.1: the box is the axis-aligned bounding box of the
    component's pixels, not cv2.minAreaRect's rotated quad — our span
    model is axis-aligned throughout.

    Returns list of (x1, y1, x2, y2, score) tuples.
    """
    src_h, src_w, ratio_h, ratio_w = shape
    label = pse_expand(np.asarray(kernels, dtype=np.uint8), min_area)
    out = []
    label_num = int(label.max()) + 1
    for i in range(1, label_num):
        ind = label == i
        n_pix = int(np.sum(ind))
        if n_pix == 0:
            continue
        if n_pix < min_area:
            continue
        score_i = float(np.mean(np.asarray(score)[ind]))
        if score_i < box_thresh:
            continue
        xs, ys = np.where(ind)
        x1 = int(np.clip(np.round(ys.min() / ratio_w), 0, src_w))
        x2 = int(np.clip(np.round(ys.max() / ratio_w), 0, src_w))
        y1 = int(np.clip(np.round(xs.min() / ratio_h), 0, src_h))
        y2 = int(np.clip(np.round(xs.max() / ratio_h), 0, src_h))
        out.append((x1, y1, x2, y2, score_i))
    return out


# ---------------------------------------------------------------------------
# DRRG — D3 fifth family (postprocess only; the GCN that produces the
# edge/score/component tensors is model-side inference, out of scope)
# ---------------------------------------------------------------------------

def _point_in_contour(cont: "np.ndarray", point) -> bool:
    """cv2.pointPolygonTest(cont, p, False) > 0.5 — i.e. STRICTLY
    inside: on-edge returns 0 in cv2 and must count as outside. On-edge
    is detected exactly first (integer contours, half-integer test
    points), then even-odd ray casting."""
    x, y = float(point[0]), float(point[1])
    n = len(cont)
    inside = False
    for i in range(n):
        x1, y1 = float(cont[i][0]), float(cont[i][1])
        x2, y2 = float(cont[(i + 1) % n][0]), float(cont[(i + 1) % n][1])
        cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        if (cross == 0 and min(x1, x2) <= x <= max(x1, x2)
                and min(y1, y2) <= y <= max(y1, y2)):
            return False                       # on edge: test == 0
        if (y1 > y) != (y2 > y):
            xin = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if xin > x:
                inside = not inside
    return inside


def _min_connect_path(points: list) -> list:
    """drrg_postprocess.min_connect_path (:143-183), verbatim: greedy
    two-ended nearest-neighbor chain growth. QUIRKS preserved: the
    candidate dicts are keyed by DISTANCE (equal lengths — later point
    overwrites earlier), ``points.index`` resolves duplicated centers
    to their FIRST occurrence, and the final node order is the
    first-seen flattening of the edge list."""
    import functools
    import operator

    points_queue = points.copy()
    shortest_path: list = []
    current_edge = [[], []]
    edge_dict0: dict = {}
    edge_dict1: dict = {}
    current_edge[0] = points_queue[0]
    current_edge[1] = points_queue[0]
    points_queue.remove(points_queue[0])

    def norm2(p, q):
        return ((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2) ** 0.5

    while points_queue:
        for point in points_queue:
            edge_dict0[norm2(point, current_edge[0])] = [point,
                                                         current_edge[0]]
            edge_dict1[norm2(current_edge[1], point)] = [current_edge[1],
                                                         point]
        key0 = min(edge_dict0.keys())
        key1 = min(edge_dict1.keys())
        if key0 <= key1:
            start, end = edge_dict0[key0]
            shortest_path.insert(0, [points.index(start),
                                     points.index(end)])
            points_queue.remove(start)
            current_edge[0] = start
        else:
            start, end = edge_dict1[key1]
            shortest_path.append([points.index(start), points.index(end)])
            points_queue.remove(end)
            current_edge[1] = end
        edge_dict0 = {}
        edge_dict1 = {}
    shortest_path = functools.reduce(operator.concat, shortest_path)
    return sorted(set(shortest_path), key=shortest_path.index)


def drrg_boundaries(edges: "np.ndarray", scores: "np.ndarray",
                    text_comps: "np.ndarray", ratio: float,
                    link_thr: float = 0.8, edge_len_thr: float = 50.0):
    """DRRGPostprocess.__call__, ppocr/postprocess/
    drrg_postprocess.py:259-304, over the GCN head's (edges, scores,
    text_comps) outputs.

    Faithful sequence: graph_propagation (:46-78 — edge column sort,
    the >50px center-distance score ZEROING, and the duplicate-edge
    0.5·(old+new) running-average quirk), link-thresholded BFS
    clustering (:81-104), clusters2labels + remove_single (:107-136 —
    singleton clusters dropped AFTER labeling, leaving label gaps that
    comps2boundaries skips), comps2boundaries (:220-256: per cluster a
    greedy min_connect_path over int32 centers, top/bot midlines,
    fix_corner's strictly-inside pointPolygonTest checks (:185-217),
    and the DEAD single-comp branch whose ``[2:4:-1]`` slice is empty —
    transcribed as written), then resize_boundary (:305-326, float64).

    DEVIATION per SURVEY §1.1: the reference pops clusters from a SET
    of id-hashed Node objects, so its cluster (and output) ORDER is
    genuinely nondeterministic run-to-run; cluster membership, every
    boundary's points and its score are order-independent. Here
    clusters enumerate deterministically by smallest member index; the
    exec-ref differential compares order-insensitively.

    Returns (boxes list of (k, 2) float64 arrays, scores list).
    """
    import numpy as np

    if edges is None or len(edges) == 0:
        return [], []
    edges = np.sort(np.asarray(edges), axis=1)
    scores = np.asarray(scores, dtype=np.float64).copy()
    score_dict: dict = {}
    for i, edge in enumerate(edges):
        box1 = text_comps[edge[0], :8].reshape(4, 2)
        box2 = text_comps[edge[1], :8].reshape(4, 2)
        distance = _norm2(np.mean(box1, axis=0) - np.mean(box2, axis=0))
        if distance > edge_len_thr:
            scores[i] = 0
        key = (edge[0], edge[1])
        if key in score_dict:
            score_dict[key] = 0.5 * (score_dict[key] + scores[i])
        else:
            score_dict[key] = scores[i]

    nodes = np.sort(np.unique(edges.flatten()))
    adj: dict = {int(n): set() for n in nodes}
    for a, b in edges:
        adj[int(a)].add(int(b))
        adj[int(b)].add(int(a))

    # BFS clustering, deterministic by ascending node index
    visited: set = set()
    clusters = []
    for start in nodes:
        start = int(start)
        if start in visited:
            continue
        cluster = {start}
        queue = [start]
        while queue:
            node = queue.pop(0)
            neigh = {nb for nb in adj[node]
                     if score_dict[tuple(sorted([node, nb]))] >= link_thr}
            neigh -= cluster
            cluster |= neigh
            queue.extend(sorted(neigh))
        visited |= cluster
        clusters.append(sorted(cluster))

    node_labels = np.zeros(text_comps.shape[0])
    for cluster_ind, cluster in enumerate(clusters):
        for n in cluster:
            node_labels[n] = cluster_ind

    # remove_single
    single = np.zeros_like(node_labels)
    for label in np.unique(node_labels):
        flag = node_labels == label
        if np.sum(flag) == 1:
            single[np.where(flag)[0][0]] = 1
    keep = [i for i in range(len(node_labels)) if not single[i]]
    text_comps = text_comps[keep, :]
    node_labels = node_labels[keep]

    # comps2boundaries
    boundaries = []
    if len(text_comps) >= 1:
        for cluster_ind in range(0, int(np.max(node_labels)) + 1):
            inds = np.where(node_labels == cluster_ind)
            boxes4 = text_comps[inds, :8].reshape((-1, 4, 2)).astype(
                np.int32)
            score = np.mean(text_comps[inds, -1])
            if boxes4.shape[0] < 1:
                continue
            elif boxes4.shape[0] > 1:
                centers = np.mean(boxes4, axis=1).astype(np.int32).tolist()
                path = _min_connect_path(centers)
                boxes4 = boxes4[path]
                top_line = np.mean(boxes4[:, 0:2, :],
                                   axis=1).astype(np.int32).tolist()
                bot_line = np.mean(boxes4[:, 2:4, :],
                                   axis=1).astype(np.int32).tolist()
                # fix_corner
                contour = np.array(top_line + bot_line[::-1])
                sb, eb = boxes4[0], boxes4[-1]
                s_left = (sb[0] + sb[3]) / 2
                s_right = (sb[1] + sb[2]) / 2
                e_left = (eb[0] + eb[3]) / 2
                e_right = (eb[1] + eb[2]) / 2
                if not _point_in_contour(contour, s_left):
                    top_line.insert(0, sb[0].tolist())
                    bot_line.insert(0, sb[3].tolist())
                elif not _point_in_contour(contour, s_right):
                    top_line.insert(0, sb[1].tolist())
                    bot_line.insert(0, sb[2].tolist())
                if not _point_in_contour(contour, e_left):
                    top_line.append(eb[0].tolist())
                    bot_line.append(eb[3].tolist())
                elif not _point_in_contour(contour, e_right):
                    top_line.append(eb[1].tolist())
                    bot_line.append(eb[2].tolist())
                boundary_points = top_line + bot_line[::-1]
            else:
                top_line = boxes4[0, 0:2, :].astype(np.int32).tolist()
                bot_line = boxes4[0, 2:4:-1, :].astype(np.int32).tolist()
                boundary_points = top_line + bot_line   # dead branch, as-is
            boundaries.append(
                [p for coord in boundary_points for p in coord]
                + [float(score)])

    # resize_boundary, scale_factor = (1/ratio_w, 1/ratio_h)
    sf = np.array([1.0 / ratio, 1.0 / ratio], dtype=np.float64)
    boxes, out_scores = [], []
    for b in boundaries:
        sz = len(b)
        out_scores.append(b[-1])
        b = (np.array(b[:sz - 1])
             * (np.tile(sf, int((sz - 1) / 2)).reshape(1, sz - 1))
             ).flatten().tolist()
        boxes.append(np.array(b).reshape([-1, 2]))
    return boxes, out_scores


# ---------------------------------------------------------------------------
# FCE (Fourier Contour Embedding) — D3 fourth family
# ---------------------------------------------------------------------------

def _poly_area(pts: "np.ndarray") -> float:
    """|shoelace|/2 — shapely Polygon.area for a simple polygon."""
    import numpy as np

    # elementwise + np.sum, not np.dot: 1-D np.dot is BLAS ddot whose
    # rounding varies across builds (cross-container fixture drift)
    x, y = pts[:, 0], pts[:, 1]
    cross = x * np.roll(y, -1) - y * np.roll(x, -1)
    return float(abs(np.sum(cross)) / 2.0)


def _convex_clip(subject: "np.ndarray", clip: "np.ndarray") -> "np.ndarray":
    """Sutherland–Hodgman: subject polygon clipped by a CONVEX clip
    polygon; returns the intersection polygon's vertices (possibly
    empty). Orientation-normalized to CCW clip."""
    import numpy as np

    cp = clip
    if np.sum(cp[:, 0] * np.roll(cp[:, 1], -1)
              - cp[:, 1] * np.roll(cp[:, 0], -1)) < 0:
        cp = cp[::-1]
    out = [tuple(p) for p in subject]
    n = len(cp)
    for i in range(n):
        a, b = cp[i], cp[(i + 1) % n]
        inp = out
        out = []
        if not inp:
            break

        def inside(p):
            return ((b[0] - a[0]) * (p[1] - a[1])
                    - (b[1] - a[1]) * (p[0] - a[0])) >= 0

        def isect(p, q):
            dx1, dy1 = q[0] - p[0], q[1] - p[1]
            dx2, dy2 = b[0] - a[0], b[1] - a[1]
            den = dx1 * dy2 - dy1 * dx2
            if den == 0:
                return q
            t = ((a[0] - p[0]) * dy2 - (a[1] - p[1]) * dx2) / den
            return (p[0] + t * dx1, p[1] + t * dy1)

        s = inp[-1]
        for e in inp:
            if inside(e):
                if not inside(s):
                    out.append(isect(s, e))
                out.append(e)
            elif inside(s):
                out.append(isect(s, e))
            s = e
    return np.array(out) if out else np.zeros((0, 2))


def fce_boundary_iou(src: list, target: list) -> float:
    """poly_nms.boundary_iou (ppocr/utils/poly_nms.py:90-125) for the
    flat even-length point lists FCE passes around.

    DEVIATION per SURVEY §1.1: shapely's general polygon intersection is
    computed by Sutherland–Hodgman convex clipping (+ a bbox-disjoint
    fast path) — exact for the convex/identical/disjoint polygon
    population the fce synthesis emits; shapely's buffer(1e-4) epsilon
    is omitted.
    """
    import numpy as np

    a = np.asarray(src, dtype=np.float64).reshape(-1, 2)
    b = np.asarray(target, dtype=np.float64).reshape(-1, 2)
    if (a[:, 0].max() <= b[:, 0].min() or b[:, 0].max() <= a[:, 0].min()
            or a[:, 1].max() <= b[:, 1].min()
            or b[:, 1].max() <= a[:, 1].min()):
        return 0.0
    if a.shape == b.shape and (a == b).all():
        return 1.0 if _poly_area(a) > 0 else 0.0  # identical: IoU exact
    inter_poly = _convex_clip(a, b)
    inter = _poly_area(inter_poly) if len(inter_poly) >= 3 else 0.0
    union = _poly_area(a) + _poly_area(b) - inter
    return 0.0 if union == 0 else inter / union


def fce_poly_nms(polygons: list, threshold: float) -> list:
    """poly_nms (ppocr/utils/poly_nms.py:127-146): STABLE ascending sort
    by trailing score (ties keep input order, so the LAST input wins the
    pick), pop from the top, suppress IoU > threshold."""
    import numpy as np

    polygons = np.array(sorted(polygons, key=lambda x: x[-1]))
    keep_poly = []
    index = [i for i in range(polygons.shape[0])]
    while len(index) > 0:
        keep_poly.append(polygons[index[-1]].tolist())
        A = polygons[index[-1]][:-1]
        index = np.delete(index, -1)
        iou_list = np.zeros((len(index),))
        for i in range(len(index)):
            B = polygons[index[i]][:-1]
            iou_list[i] = fce_boundary_iou(A.tolist(), B.tolist())
        remove_index = np.where(iou_list > threshold)
        index = np.delete(index, remove_index)
    return keep_poly


def fce_fill_hole(input_mask: "np.ndarray") -> "np.ndarray":
    """fce_postprocess.fill_hole (:26-37): border flood on a padded
    canvas; zeros unreachable from the border are holes → filled.
    cv2.floodFill from (0, 0) == the 4-connected zero component of the
    padded canvas containing the border."""
    import numpy as np

    h, w = input_mask.shape
    canvas = np.zeros((h + 2, w + 2), dtype=bool)
    canvas[1:h + 1, 1:w + 1] = input_mask.astype(bool)
    _, label = connected_components_4(~canvas)
    outside = label == label[0, 0]
    filled = canvas | outside
    return ~filled[1:h + 1, 1:w + 1] | input_mask.astype(bool)


def fourier2poly(fourier_coeff: "np.ndarray",
                 num_reconstr_points: int = 50) -> "np.ndarray":
    """fce_postprocess.fourier2poly (:39-61), verbatim numpy: place the
    2k+1 coefficients into the ifft spectrum (DC+positives at the head,
    negatives at the tail), ifft × N, int32-TRUNCATE, flatten to
    (n, 2·N)."""
    import numpy as np
    from numpy.fft import ifft

    a = np.zeros((len(fourier_coeff), num_reconstr_points),
                 dtype="complex")
    k = (len(fourier_coeff[0]) - 1) // 2
    a[:, 0:k + 1] = fourier_coeff[:, k:]
    a[:, -k:] = fourier_coeff[:, :k]
    poly_complex = ifft(a) * num_reconstr_points
    polygon = np.zeros((len(fourier_coeff), num_reconstr_points, 2))
    polygon[:, :, 0] = poly_complex.real
    polygon[:, :, 1] = poly_complex.imag
    return polygon.astype("int32").reshape((len(fourier_coeff), -1))


def fce_boundaries(cls_pred: "np.ndarray", reg_pred: "np.ndarray",
                   ratio: float, fourier_degree: int = 5,
                   num_reconstr_points: int = 50, scale: int = 4,
                   alpha: float = 1.0, beta: float = 1.0,
                   score_thr: float = 0.3, nms_thr: float = 0.1):
    """FCEPostProcess single-scale path: fcenet_decode
    (fce_postprocess.py:156-239, box_type='poly') + get_boundary's
    final poly_nms + resize_boundary (:103-140).

    cls_pred is (4, H, W) — tr_pred = [0:2], tcl_pred = [2:4]; reg_pred
    is (4k+2, H, W) CHW (transposed to HWC internally like __call__).
    score = tr[1]^alpha · tcl[1]^beta; mask > score_thr; fill_hole;
    per-CONTOUR decode: every masked pixel contributes Fourier
    coefficients with its own position added to the DC term, × scale,
    ifft-reconstructed, int32-truncated; per-contour poly_nms, then a
    global poly_nms, then resize by (1/ratio_w, 1/ratio_h) tiled and a
    float32 cast.

    DEVIATION per SURVEY §1.1: cv2.findContours(RETR_TREE) +
    drawContours(filled) is replaced by 4-connected components of the
    hole-filled mask — identical pixel sets for the simply-connected
    blobs the synthesis emits (fill_hole has already closed holes).

    Returns (boxes float32 (n, N, 2), scores list).
    """
    import numpy as np

    tr_pred = cls_pred[0:2]
    tcl_pred = cls_pred[2:]
    reg = reg_pred.transpose(1, 2, 0)
    x_pred = reg[:, :, :2 * fourier_degree + 1]
    y_pred = reg[:, :, 2 * fourier_degree + 1:]
    score_pred = (tr_pred[1] ** alpha) * (tcl_pred[1] ** beta)
    tr_pred_mask = score_pred > score_thr
    tr_mask = fce_fill_hole(tr_pred_mask)

    label_num, label = connected_components_4(tr_mask)
    boundaries: list = []
    for comp in range(1, label_num):
        deal_map = (label == comp).astype(np.int8)
        score_map = score_pred * deal_map
        score_mask = score_map > 0
        xy_text = np.argwhere(score_mask)
        dxy = xy_text[:, 1] + xy_text[:, 0] * 1j
        x, y = x_pred[score_mask], y_pred[score_mask]
        c = x + y * 1j
        c[:, fourier_degree] = c[:, fourier_degree] + dxy
        c *= scale
        polygons = fourier2poly(c, num_reconstr_points)
        score = score_map[score_mask].reshape(-1, 1)
        polygons = fce_poly_nms(
            np.hstack((polygons, score)).tolist(), nms_thr)
        boundaries = boundaries + polygons

    # THREE NMS levels, as the reference wires them: per contour
    # (above), per scale (fcenet_decode's closing pass, :232), and the
    # cross-scale pass in get_boundary (:134) — with tied scores each
    # stable pass REVERSES the kept order, so the pass count is
    # observable and must match.
    boundaries = fce_poly_nms(boundaries, nms_thr)
    boundaries = fce_poly_nms(boundaries, nms_thr)

    # resize_boundary with scale_factor = (1/ratio_w, 1/ratio_h)
    sf = np.array([1.0 / ratio, 1.0 / ratio], dtype=np.float64)
    boxes, scores = [], []
    for b in boundaries:
        sz = len(b)
        scores.append(b[-1])
        b = (np.array(b[:sz - 1])
             * (np.tile(sf, int((sz - 1) / 2)).reshape(1, sz - 1))
             ).flatten().tolist()
        boxes.append(np.array(b).reshape([-1, 2]))
    return np.array(boxes, dtype=np.float32), scores


def _sast_quad_nms(dets: "np.ndarray", thres: float = 0.2) -> "np.ndarray":
    """locality_aware_nms.nms_locality over (N, 9) quad dets
    (:183-205): sequential scan in input order, score-weighted
    8-coordinate merge (weighted_merge, :62-68) whenever IoU > thres,
    then standard_nms (:55-69, score-descending argsort[::-1], suppress
    IoU > thres).

    DEVIATION (same as the EAST transcription): shapely's Polygon IoU is
    computed as the axis-aligned IoU of each quad's corner envelope —
    EXACT whenever the quads are axis-aligned rectangles, which the
    sast_detect synthesis guarantees (and the exec-ref differential
    re-checks by stubbing the reference's ``intersection`` the same
    way). np.argsort is kept UNSTABLE-equivalent by using the same
    default introsort; the synthesis keeps scores distinct.
    """
    import numpy as np

    def iou(g, p):
        gx1, gy1 = g[0:8:2].min(), g[1:8:2].min()
        gx2, gy2 = g[0:8:2].max(), g[1:8:2].max()
        px1, py1 = p[0:8:2].min(), p[1:8:2].min()
        px2, py2 = p[0:8:2].max(), p[1:8:2].max()
        ix = min(gx2, px2) - max(gx1, px1)
        iy = min(gy2, py2) - max(gy1, py1)
        if ix <= 0 or iy <= 0:
            return 0.0
        inter = ix * iy
        union = ((gx2 - gx1) * (gy2 - gy1)
                 + (px2 - px1) * (py2 - py1) - inter)
        return 0.0 if union == 0 else inter / union

    S: list = []
    p = None
    for g in dets:
        g = g.copy()
        if p is not None and iou(g, p) > thres:
            w = g[8] + p[8]
            g[:8] = (g[8] * g[:8] + p[8] * p[:8]) / w
            g[8] = w
            p = g
        else:
            if p is not None:
                S.append(p)
            p = g
    if p is not None:
        S.append(p)
    if len(S) == 0:
        return np.zeros((0, 9), dtype=np.float32)
    S = np.array(S)
    order = np.argsort(S[:, 8])[::-1]
    keep = []
    while order.size > 0:
        i = order[0]
        keep.append(i)
        ovr = np.array([iou(S[i], S[t]) for t in order[1:]])
        inds = np.where(ovr <= thres)[0]
        order = order[inds + 1]
    return S[keep]


def sast_polys(tcl_map: "np.ndarray", tvo_map: "np.ndarray",
               tbo_map: "np.ndarray", tco_map: "np.ndarray",
               ratio_w: float, ratio_h: float, src_w: float, src_h: float,
               shrink_ratio_of_width: float = 0.3,
               tcl_map_thresh: float = 0.5, offset_expand: float = 1.0,
               sample_pts_num: int = 2, nms_thresh: float = 0.2,
               out_strid: float = 4.0):
    """SASTPostProcess.detect_sast, ppocr/postprocess/
    sast_postprocess.py:207-320, transcribed over HWC maps: tcl (H,W,1)
    text-center-line scores, tvo (H,W,8) vertex offsets, tbo (H,W,4)
    border offsets, tco (H,W,2) center offsets.

    Faithful sequence: restore_quad (:113-131 — TCL pixels above thresh,
    (x, y) reversal, argsort by y, quads = tiled-xy − tvo), locality
    NMS (:144-151 via :pyclass:`_sast_quad_nms`), NEGATED shoelace quad
    areas (:133-142, clockwise-negative convention), cluster_by_quads_tco
    (:153-178: every TCL pixel argmin-assigns to the nearest quad center
    after subtracting its tco offset — +1 labels, background 0), then
    per instance: area < 5 and min-side < 3 and empty-CC skips
    (:249-263), the sum(scores)/area < 0.1 confidence skip (:265-269 —
    against the NEGATED area, a sign quirk kept as written), projection
    sort along the quad's left→right center axis (:271-281), float32
    linspace→int32 center-line sampling (:283-293), per-sample border
    offsets (the offset_expand≠1 clip path :296-306), the
    (y, x)+offset → [:, ::-1] reversal × out_strid / (ratio_w, ratio_h)
    rescale (:307-310), point_pair2poly (:59-69 — first points forward,
    second points mirrored), expand_poly_along_width (:84-111), and the
    final per-axis clip to src dims (:315-318).

    Returns a list of (2·sample_pts, 2) float32 polys in instance order.
    """
    import numpy as np

    xy_text = np.argwhere(tcl_map[:, :, 0] > tcl_map_thresh)
    xy_text = xy_text[:, ::-1]
    xy_text = xy_text[np.argsort(xy_text[:, 1])]
    scores = tcl_map[xy_text[:, 1], xy_text[:, 0], 0][:, np.newaxis]
    tvo = tvo_map[xy_text[:, 1], xy_text[:, 0], :]
    quads = np.tile(xy_text, (1, 4)) - tvo
    dets = np.hstack((quads, scores)).astype(np.float32, copy=False)
    dets = _sast_quad_nms(dets, nms_thresh)
    if dets.shape[0] == 0:
        return []
    quads = dets[:, :-1].reshape(-1, 4, 2)

    def quad_area(quad):
        edge = [(quad[1][0] - quad[0][0]) * (quad[1][1] + quad[0][1]),
                (quad[2][0] - quad[1][0]) * (quad[2][1] + quad[1][1]),
                (quad[3][0] - quad[2][0]) * (quad[3][1] + quad[2][1]),
                (quad[0][0] - quad[3][0]) * (quad[0][1] + quad[3][1])]
        return np.sum(edge) / 2.0

    quad_areas = [-quad_area(q) for q in quads]

    # cluster_by_quads_tco
    instance_count = quads.shape[0] + 1
    instance_label_map = np.zeros(tcl_map.shape[:2], dtype=np.int32)
    xy_all = np.argwhere(tcl_map[:, :, 0] > tcl_map_thresh)[:, ::-1]
    if instance_count > 1 and xy_all.shape[0] > 0:
        tco = tco_map[xy_all[:, 1], xy_all[:, 0], :]
        pred_tc = xy_all - tco
        gt_tc = np.mean(quads, axis=1)
        dist = np.linalg.norm(
            pred_tc[:, np.newaxis, :] - gt_tc[np.newaxis, :, :], axis=2)
        instance_label_map[xy_all[:, 1], xy_all[:, 0]] = (
            np.argmin(dist, axis=1) + 1)

    poly_list = []
    for instance_idx in range(1, instance_count):
        xy_text = np.argwhere(instance_label_map == instance_idx)[:, ::-1]
        quad = quads[instance_idx - 1]
        q_area = quad_areas[instance_idx - 1]
        if q_area < 5:
            continue
        len1 = _norm2(quad[0] - quad[1])
        len2 = _norm2(quad[1] - quad[2])
        if min(len1, len2) < 3:
            continue
        if xy_text.shape[0] <= 0:
            continue
        xy_text_scores = tcl_map[xy_text[:, 1], xy_text[:, 0], 0]
        if np.sum(xy_text_scores) / quad_areas[instance_idx - 1] < 0.1:
            continue
        left_center_pt = np.array(
            [[(quad[0, 0] + quad[-1, 0]) / 2.0,
              (quad[0, 1] + quad[-1, 1]) / 2.0]])
        right_center_pt = np.array(
            [[(quad[1, 0] + quad[2, 0]) / 2.0,
              (quad[1, 1] + quad[2, 1]) / 2.0]])
        proj_unit_vec = (right_center_pt - left_center_pt) / (
            _norm2((right_center_pt - left_center_pt)[0]) + 1e-6)
        proj_value = np.sum(xy_text * proj_unit_vec, axis=1)
        xy_text = xy_text[np.argsort(proj_value)]

        xy_center_line = xy_text[np.linspace(
            0, xy_text.shape[0] - 1, sample_pts_num,
            endpoint=True, dtype=np.float32).astype(np.int32)]

        point_pair_list = []
        for x, y in xy_center_line:
            offset = tbo_map[y, x, :].reshape(2, 2)
            if offset_expand != 1.0:
                offset_length = np.linalg.norm(offset, axis=1,
                                               keepdims=True)
                expand_length = np.clip(
                    offset_length * (offset_expand - 1),
                    a_min=0.5, a_max=3.0)
                offset = offset + offset / offset_length * expand_length
            ori_yx = np.array([y, x], dtype=np.float32)
            point_pair = ((ori_yx + offset)[:, ::-1] * out_strid
                          / np.array([ratio_w, ratio_h]).reshape(-1, 2))
            point_pair_list.append(point_pair)

        # point_pair2poly
        point_num = len(point_pair_list) * 2
        point_list = [0] * point_num
        for idx, point_pair in enumerate(point_pair_list):
            point_list[idx] = point_pair[0]
            point_list[point_num - 1 - idx] = point_pair[1]
        poly = np.array(point_list).reshape(-1, 2)

        # expand_poly_along_width
        pn = poly.shape[0]
        left_quad = np.array(
            [poly[0], poly[1], poly[-2], poly[-1]], dtype=np.float32)
        left_ratio = (-shrink_ratio_of_width
                      * _norm2(left_quad[0] - left_quad[3])
                      / (_norm2(left_quad[0] - left_quad[1])
                         + 1e-6))

        def shrink_quad(quad4, b, e):
            rp = np.array([[b], [e]], dtype=np.float32)
            p0_1 = quad4[0] + (quad4[1] - quad4[0]) * rp
            p3_2 = quad4[3] + (quad4[2] - quad4[3]) * rp
            return np.array([p0_1[0], p0_1[1], p3_2[1], p3_2[0]])

        left_exp = shrink_quad(left_quad, left_ratio, 1.0)
        right_quad = np.array(
            [poly[pn // 2 - 2], poly[pn // 2 - 1],
             poly[pn // 2], poly[pn // 2 + 1]], dtype=np.float32)
        right_ratio = (1.0 + shrink_ratio_of_width
                       * _norm2(right_quad[0] - right_quad[3])
                       / (_norm2(right_quad[0] - right_quad[1])
                          + 1e-6))
        right_exp = shrink_quad(right_quad, 0.0, right_ratio)
        poly[0] = left_exp[0]
        poly[-1] = left_exp[-1]
        poly[pn // 2 - 1] = right_exp[1]
        poly[pn // 2] = right_exp[2]
        poly[:, 0] = np.clip(poly[:, 0], a_min=0, a_max=src_w)
        poly[:, 1] = np.clip(poly[:, 1], a_min=0, a_max=src_h)
        poly_list.append(poly)

    return poly_list


def ct_boxes(out: "np.ndarray", score: "np.ndarray", org_size,
             min_score: float = 0.88, min_area: int = 16):
    """CTPostProcess (Centripetal Text), ppocr/postprocess/
    ct_postprocess.py:60-152, box_type='rect', transcribed over
    (3, H, W) model output (channel 0 = kernel logits, 1:3 = centripetal
    offsets) + an (H, W) score map at the same resolution (the resize at
    :114-116 is INTER_NEAREST to the identical size here — identity).

    Faithful sequence, quirks preserved:

    1. kernel = out[0] > 0.2 (strict); 4-CC (cv2.connectedComponents
       convention — our ``connected_components_4``).
    2. Kernel components under 10 px are ZEROED, not renumbered
       (:83-87); their score_pocket slot is computed afterwards over the
       now-empty mask → 0.0 (:103-110), and every pixel whose offset
       lands on them propagates label 0 (background).
    3. Centripetal propagation (:88-101): every pixel (x, y) moves by
       ``10/4 * loc`` (loc[0] = Δx, loc[1] = Δy), int32-TRUNCATED, then
       clipped per-axis; it adopts the kernel label at the landing
       pixel. Kernel pixels then override with their own label.
    4. label_num is re-derived as max(label) + 1 (:112) — trailing
       zeroed components fall out of the loop entirely.
    5. Per label: drop if propagated pixel count < min_area (strict,
       :121-125) or kernel-mean score < min_score (strict, :127-129);
       'rect' box = minAreaRect over (x, y) points (np.where gives
       (row, col) → the [:, ::-1] swap, :131-132), boxPoints scaled by
       (org_w/w, org_h/h), then SHRUNK 0.85 about the corner centroid
       (:133-135) and int32-truncated.

    DEVIATION per SURVEY §1.1 (same as pse_boxes/db_boxes): the emitted
    box is the axis-aligned envelope of the shrunk rectangle's corners —
    the rotating-calipers rect (pixelops.min_area_box) is computed
    faithfully, but corner ORDER is cv2-internal, so the hash-gated
    contract is the order-free envelope. Returns (x1, y1, x2, y2, score)
    tuples in label order.
    """
    import numpy as np

    from .pixelops import min_area_box

    out = np.asarray(out, dtype=np.float32)
    score = np.asarray(score, dtype=np.float32)
    kernel = (out[0] > 0.2).astype(np.uint8)
    loc = out[1:].astype(np.float32)
    h, w = kernel.shape
    label_num, label_kernel = connected_components_4(kernel)
    for i in range(1, label_num):
        ind = label_kernel == i
        if ind.sum() < 10:
            label_kernel[ind] = 0

    label = np.zeros_like(label_kernel)
    yy, xx = np.mgrid[0:h, 0:w]
    pixels = np.stack([xx.reshape(-1), yy.reshape(-1)])   # coord: x then y
    points = pixels.T.astype(np.float32)
    off_points = (points + 10.0 / 4.0
                  * loc[:, pixels[1], pixels[0]].T).astype(np.int32)
    off_points[:, 0] = np.clip(off_points[:, 0], 0, w - 1)
    off_points[:, 1] = np.clip(off_points[:, 1], 0, h - 1)
    label[pixels[1], pixels[0]] = label_kernel[off_points[:, 1],
                                               off_points[:, 0]]
    label[label_kernel > 0] = label_kernel[label_kernel > 0]

    score_pocket = [0.0]
    for i in range(1, label_num):
        ind = label_kernel == i
        if ind.sum() == 0:
            score_pocket.append(0.0)
            continue
        score_pocket.append(float(np.mean(score[ind])))

    label_num = int(np.max(label)) + 1
    org_h, org_w = org_size
    scale = (float(org_w) / float(w), float(org_h) / float(h))
    boxes = []
    for i in range(1, label_num):
        ind = label == i
        pts = np.array(np.where(ind)).transpose((1, 0))
        if pts.shape[0] < min_area:
            continue
        score_i = score_pocket[i]
        if score_i < min_score:
            continue
        bbox = min_area_box(pts[:, ::-1].astype(np.int32)) * scale
        z = bbox.mean(0)
        bbox = (z + (bbox - z) * 0.85).astype("int32")
        boxes.append((int(bbox[:, 0].min()), int(bbox[:, 1].min()),
                      int(bbox[:, 0].max()), int(bbox[:, 1].max()),
                      score_i))
    return boxes


# ---------------------------------------------------------------------------
# DBPostProcess box pipeline (D1 — the reference's DEFAULT detector path)
# ---------------------------------------------------------------------------

def db_boxes(pred: np.ndarray, shape,
             thresh: float = 0.3, box_thresh: float = 0.6,
             unclip_ratio: float = 1.5, max_candidates: int = 1000,
             min_size: int = 3):
    """DBPostProcess.boxes_from_bitmap over a 2-D probability map —
    transcription of ppocr/postprocess/db_postprocess.py:104-263 with the
    repo-wide axis-aligned deviation (SURVEY §1.1).

    Pipeline, step for step with the reference (runtime defaults
    thresh=0.3 / box_thresh=0.6 / unclip_ratio=1.5 per
    tools/infer/utility.py:58-60, score_mode="fast", use_dilation=False):

    1. ``segmentation = pred > thresh`` (__call__, db_postprocess.py:230 —
       strict >, raw prob map retained for scoring).
    2. Contours → components: ``connected_components_4`` of the bitmap
       stands in for cv2.findContours(RETR_LIST). DEVIATION documented:
       candidate order is row-major first-pixel discovery order, not
       cv2's contour-retrieval order; the candidate CAP
       (``num_contours = min(len(contours), max_candidates)``,
       boxes_from_bitmap:125) is applied in that order.
    3. ``get_mini_boxes`` (:164-186): for an axis-aligned pixel set,
       cv2.minAreaRect's dims are exactly (xmax-xmin, ymax-ymin), so
       sside = min(x2-x1, y2-y1); drop if ``sside < min_size`` (:133).
    4. ``box_score_fast`` (:187-202): mean of the RAW prob map over the
       int-clipped bbox window [floor(xmin)..ceil(xmax)] ×
       [floor(ymin)..ceil(ymax)], bounds clipped to [0, dim-1]; the
       fillPoly mask of an axis-aligned quad covers the whole window, so
       the masked mean is the plain window mean. For merged (L-shaped)
       components the window includes sub-thresh background — exactly the
       reference's fast-mode dilution. Drop if ``box_thresh > score``
       (:139 — strict >, ties at the threshold survive).
    5. ``unclip`` (:156-162): offset d = area·unclip_ratio/perimeter via
       shapely, area=(x2-x1)·(y2-y1), perimeter=2·((x2-x1)+(y2-y1)) for
       the corner polygon; the pyclipper JT_ROUND expansion of a
       rectangle re-rects (via get_mini_boxes, :143) to the bbox grown by
       d per side. Axis-aligned deviation: keep d float (pyclipper
       quantizes to its integer grid). Drop if the re-rect
       ``sside + 2d < min_size + 2`` (:145).
    6. Rescale (:148-152): x → clip(np.round(x / W · dest_w), 0, dest_w),
       y likewise with H/dest_h (np.round = HALF-EVEN), then int cast.
       shape = (src_h, src_w, ratio_h, ratio_w) as produced by
       DetResizeForTest, dest = the ORIGINAL image dims.

    Returns list of (x1, y1, x2, y2, score) in candidate order — score is
    the UNROUNDED box_score_fast float, like the reference's scores list.
    """
    pred = np.asarray(pred, dtype=np.float64)
    height, width = pred.shape
    src_h, src_w = int(shape[0]), int(shape[1])
    bitmap = pred > thresh
    label_num, label = connected_components_4(bitmap)
    out = []
    n_cand = min(label_num - 1, max_candidates)
    for idx in range(1, n_cand + 1):
        xs, ys = np.where(label == idx)          # xs = rows, ys = cols
        x1, x2 = float(ys.min()), float(ys.max())
        y1, y2 = float(xs.min()), float(xs.max())
        sside = min(x2 - x1, y2 - y1)
        if sside < min_size:
            continue
        # box_score_fast on the raw prob map (corners are ints: floor/ceil
        # are no-ops; the [0, dim-1] clip is kept for fidelity)
        xmin = int(np.clip(np.floor(x1), 0, width - 1))
        xmax = int(np.clip(np.ceil(x2), 0, width - 1))
        ymin = int(np.clip(np.floor(y1), 0, height - 1))
        ymax = int(np.clip(np.ceil(y2), 0, height - 1))
        score = float(pred[ymin:ymax + 1, xmin:xmax + 1].mean())
        if box_thresh > score:
            continue
        area = (x2 - x1) * (y2 - y1)
        length = 2.0 * ((x2 - x1) + (y2 - y1))
        d = area * unclip_ratio / length
        ex1, ey1, ex2, ey2 = x1 - d, y1 - d, x2 + d, y2 + d
        if min(ex2 - ex1, ey2 - ey1) < min_size + 2:
            continue
        bx1 = int(np.clip(np.round(ex1 / width * src_w), 0, src_w))
        bx2 = int(np.clip(np.round(ex2 / width * src_w), 0, src_w))
        by1 = int(np.clip(np.round(ey1 / height * src_h), 0, src_h))
        by2 = int(np.clip(np.round(ey2 / height * src_h), 0, src_h))
        out.append((bx1, by1, bx2, by2, score))
    return out


# ---------------------------------------------------------------------------
# TableMaster HTML dialect (J2b) — ppstructure/table/matcher.py:140-180 +
# table_master_match.py:472-737
# ---------------------------------------------------------------------------

def merge_span_token(master_token_list):
    """table_master_match.py:472-521: fuse ['<td', ' rowspan="k"'[,
    ' colspan="m"'], '>', '</td>'] runs into single '<td ...></td>' tokens.

    QUIRKS preserved: the scan STOPS at the first '</tbody>' (everything
    after it is dropped); a trailing '</tbody>' is appended when absent —
    and appended UNCONDITIONALLY at the end, so an input ending in
    '</tbody>' keeps exactly one while a missing one is added; a malformed
    run near the end (index past the list) breaks the loop via the bare
    except. Operates on a copy (the reference mutates its argument).
    """
    toks = list(master_token_list)
    out = []
    pointer = 0
    if toks[-1] != "</tbody>":
        toks.append("</tbody>")
    while toks[pointer] != "</tbody>":
        try:
            if toks[pointer] == "<td":
                if (toks[pointer + 1].startswith(" colspan=")
                        or toks[pointer + 1].startswith(" rowspan=")):
                    out.append("".join(toks[pointer:pointer + 4]))
                    pointer += 4
                elif (toks[pointer + 2].startswith(" colspan=")
                        or toks[pointer + 2].startswith(" rowspan=")):
                    out.append("".join(toks[pointer:pointer + 5]))
                    pointer += 5
                else:
                    out.append(toks[pointer])
                    pointer += 1
            else:
                out.append(toks[pointer])
                pointer += 1
        except IndexError:
            break
    out.append("</tbody>")
    return out


#: table_master_match.py:523-557 — the empty-bbox token expansions.
_EB_EXPANSIONS = [
    ("<eb></eb>", "<td></td>"),
    ("<eb1></eb1>", "<td> </td>"),
    ("<eb2></eb2>", "<td><b> </b></td>"),
    ("<eb3></eb3>", "<td>\u2028\u2028</td>"),
    ("<eb4></eb4>", "<td><sup> </sup></td>"),
    ("<eb5></eb5>", "<td><b></b></td>"),
    ("<eb6></eb6>", "<td><i> </i></td>"),
    ("<eb7></eb7>", "<td><b><i></i></b></td>"),
    ("<eb8></eb8>", "<td><b><i> </i></b></td>"),
    ("<eb9></eb9>", "<td><i></i></td>"),
    ("<eb10></eb10>", "<td><b> \u2028 \u2028 </b></td>"),
]


def deal_eb_token(master_token: str) -> str:
    """table_master_match.py:523-557: expand <ebN></ebN> placeholders."""
    for src, dst in _EB_EXPANSIONS:
        master_token = master_token.replace(src, dst)
    return master_token


def deal_isolate_span(thead_part: str) -> str:
    """table_master_match.py:587-626: repair '<td></td> rowspan..></b></td>'
    mispredictions inside <thead> into '<td rowspan..></td>'."""
    import re
    isolate_pattern = (
        "<td></td> rowspan=\"(\\d)+\" colspan=\"(\\d)+\"></b></td>|"
        "<td></td> colspan=\"(\\d)+\" rowspan=\"(\\d)+\"></b></td>|"
        "<td></td> rowspan=\"(\\d)+\"></b></td>|"
        "<td></td> colspan=\"(\\d)+\"></b></td>")
    isolate_list = [m.group() for m in re.finditer(isolate_pattern,
                                                   thead_part)]
    span_pattern = (" rowspan=\"(\\d)+\" colspan=\"(\\d)+\"|"
                    " colspan=\"(\\d)+\" rowspan=\"(\\d)+\"|"
                    " rowspan=\"(\\d)+\"| colspan=\"(\\d)+\"")
    for isolate_item in isolate_list:
        span_part = re.search(span_pattern, isolate_item)
        # the reference's None check is dead (every isolate match contains
        # a span) but kept for shape
        if span_part is not None:
            thead_part = thead_part.replace(
                isolate_item, "<td{}></td>".format(span_part.group()))
    return thead_part


def deal_duplicate_bb(thead_part: str) -> str:
    """table_master_match.py:628-661: collapse multiple <b></b> inside a
    <thead> cell to a single wrap. QUIRK: the replace-back is a plain
    str.replace of the ORIGINAL td substring (first occurrence)."""
    import re
    td_pattern = (
        "<td rowspan=\"(\\d)+\" colspan=\"(\\d)+\">(.+?)</td>|"
        "<td colspan=\"(\\d)+\" rowspan=\"(\\d)+\">(.+?)</td>|"
        "<td rowspan=\"(\\d)+\">(.+?)</td>|"
        "<td colspan=\"(\\d)+\">(.+?)</td>|"
        "<td>(.*?)</td>")
    td_list = [m.group() for m in re.finditer(td_pattern, thead_part)]
    new_td_list = []
    for td_item in td_list:
        if td_item.count("<b>") > 1 or td_item.count("</b>") > 1:
            td_item = td_item.replace("<b>", "").replace("</b>", "")
            td_item = td_item.replace("<td>", "<td><b>").replace(
                "</td>", "</b></td>")
            new_td_list.append(td_item)
        else:
            new_td_list.append(td_item)
    for td_item, new_td_item in zip(td_list, new_td_list):
        thead_part = thead_part.replace(td_item, new_td_item)
    return thead_part


def deal_bb(result_token: str) -> str:
    """table_master_match.py:664-737: bold-normalize the <thead> section.

    Branches preserved: no-span thead gets the plain <td>→<td><b> /
    </td>→</b></td> rewrite with <b><b>/</b></b> dedup; a thead with
    row/colspan gets >→><b> on each span-open plus regex (<b>)+/(</b>)+
    collapses; then '<td><b></b></td>'→'<td></td>', deal_duplicate_bb,
    deal_isolate_span, and the whole original thead substring is replaced
    in the full html (str.replace — first occurrence)."""
    import re
    thead_pattern = "<thead>(.*?)</thead>"
    m = re.search(thead_pattern, result_token)
    if m is None:
        return result_token
    thead_part = m.group()
    origin_thead_part = thead_part

    span_pattern = ("<td rowspan=\"(\\d)+\" colspan=\"(\\d)+\">|"
                    "<td colspan=\"(\\d)+\" rowspan=\"(\\d)+\">|"
                    "<td rowspan=\"(\\d)+\">|<td colspan=\"(\\d)+\">")
    span_list = [s.group() for s in re.finditer(span_pattern, thead_part)]

    if not span_list:
        thead_part = (thead_part.replace("<td>", "<td><b>")
                      .replace("</td>", "</b></td>")
                      .replace("<b><b>", "<b>")
                      .replace("</b></b>", "</b>"))
    else:
        for sp in span_list:
            thead_part = thead_part.replace(sp, sp.replace(">", "><b>"))
        thead_part = thead_part.replace("</td>", "</b></td>")
        thead_part = re.sub("(<b>)+", "<b>", thead_part)
        thead_part = re.sub("(</b>)+", "</b>", thead_part)
        thead_part = thead_part.replace("<td>", "<td><b>").replace(
            "<b><b>", "<b>")

    thead_part = thead_part.replace("<td><b></b></td>", "<td></td>")
    thead_part = deal_duplicate_bb(thead_part)
    thead_part = deal_isolate_span(thead_part)
    return result_token.replace(origin_thead_part, thead_part)


def get_pred_html_master(pred_structures, matched_index,
                         ocr_contents) -> str:
    """TableMatch.get_pred_html_master, ppstructure/table/matcher.py:140-180.

    The second splice dialect, differing from get_pred_html (:99-138) in
    four preserved ways: (1) for a non-'<td></td>' token the WHOLE token
    is replaced by ``txt + '</td>'`` (the merged '<td rowspan..>' opening
    is dropped — reference behavior, not a transcription choice); (2) the
    <b> wrap is applied to the assembled txt AFTER the content loop;
    (3) every token passes deal_eb_token after splicing; (4) the joined
    html passes deal_bb. Content munging inside the loop is identical to
    get_pred_html (same [3:]/[:-4] cuts, original-index separators).
    """
    end_html = []
    td_index = 0
    for token in pred_structures:
        if "</td>" in token:
            txt = ""
            b_with = False
            if td_index in matched_index:
                # same tuple-membership quirk as get_pred_html: equality,
                # not substring (matcher.py:149-151 over (text, score)
                # tuples)
                if (ocr_contents[matched_index[td_index][0]] == "<b>"
                        and len(matched_index[td_index]) > 1):
                    b_with = True
                for i, content_idx in enumerate(matched_index[td_index]):
                    content = ocr_contents[content_idx]
                    if len(matched_index[td_index]) > 1:
                        if len(content) == 0:
                            continue
                        if content[0] == " ":
                            content = content[1:]
                        if "<b>" in content:
                            content = content[3:]
                        if "</b>" in content:
                            content = content[:-4]
                        if len(content) == 0:
                            continue
                        if (i != len(matched_index[td_index]) - 1
                                and " " != content[-1]):
                            content += " "
                    txt += content
            if b_with:
                txt = "<b>{}</b>".format(txt)
            if "<td></td>" == token:
                token = "<td>{}</td>".format(txt)
            else:
                token = "{}</td>".format(txt)
            td_index += 1
        token = deal_eb_token(token)
        end_html.append(token)
    return deal_bb("".join(end_html))


def assemble_cell_txt(contents: list) -> str:
    """The per-cell content loop of get_pred_html_master (matcher.py:
    147-172) factored out: given ONE cell's ordered box contents, return
    the assembled txt including the b_with wrap. Pure function of the
    list — the td walk never feeds back into it — which is what lets the
    distributed path pre-aggregate it relationally (operators/table.py
    _cell_contents) instead of shipping every box row into the walk.
    tests/test_table_master.py pins get_pred_html_master == the
    (assemble_cell_txt -> get_pred_html_master_txt) composition."""
    txt = ""
    b_with = contents[0] == "<b>" and len(contents) > 1
    for i, content in enumerate(contents):
        if len(contents) > 1:
            if len(content) == 0:
                continue
            if content[0] == " ":
                content = content[1:]
            if "<b>" in content:
                content = content[3:]
            if "</b>" in content:
                content = content[:-4]
            if len(content) == 0:
                continue
            if i != len(contents) - 1 and " " != content[-1]:
                content += " "
        txt += content
    if b_with:
        txt = "<b>{}</b>".format(txt)
    return txt


def get_pred_html_master_txt(pred_structures, cell_txts: dict) -> str:
    """get_pred_html_master with the per-cell txt already assembled:
    ``cell_txts`` maps td index -> assembled txt (assemble_cell_txt of
    that cell's contents). A td index PRESENT with an empty txt is still
    'matched' — the splice output is identical either way (''.format),
    so presence/absence needs no special-casing. Same walk otherwise:
    whole-token replacement for non-'<td></td>' tokens, deal_eb_token on
    every token, deal_bb on the join (matcher.py:140-180)."""
    end_html = []
    td_index = 0
    for token in pred_structures:
        if "</td>" in token:
            txt = cell_txts.get(td_index, "")
            if "<td></td>" == token:
                token = "<td>{}</td>".format(txt)
            else:
                token = "{}</td>".format(txt)
            td_index += 1
        token = deal_eb_token(token)
        end_html.append(token)
    return deal_bb("".join(end_html))


# ---------------------------------------------------------------------------
# EAST quad restore + detect (D2 front half) — east_postprocess.py:43-101
# ---------------------------------------------------------------------------

def restore_rectangle_quad(origin: np.ndarray,
                           geometry: np.ndarray) -> np.ndarray:
    """EASTPostProcess.restore_rectangle_quad (east_postprocess.py:43-53):
    quad corners = pixel origin tiled ×4 minus the 8-channel geometry."""
    origin_concat = np.concatenate((origin, origin, origin, origin), axis=1)
    return (origin_concat - geometry).reshape((-1, 4, 2))


def east_detect_boxes(score_map: np.ndarray, geo_map: np.ndarray, shape,
                      score_thresh: float = 0.8,
                      cover_thresh: float = 0.1,
                      nms_thresh: float = 0.2):
    """EASTPostProcess.detect + the __call__ tail
    (east_postprocess.py:55-101, 131-143) with the repo-wide axis-aligned
    deviation.

    Step for step: (1) pixels with score > score_thresh (strict), sorted
    by ROW ONLY via the same unstable ``np.argsort(xy[:, 0])`` the
    reference uses (argwhere is already row-major, so equal rows keep a
    deterministic-but-quicksort order — replicated by calling the
    identical argsort); (2) quads restored at 4× pixel stride
    (``xy[:, ::-1] * 4 - geo``); our geo synthesis always restores
    axis-aligned rectangles, folded to (x1,y1,x2,y2) by corner min/max;
    (3) locality-aware NMS (kernels.nms_locality — merged coords are
    score-weighted averages, scores sum); (4) cover-score re-scoring
    (:93-99): each merged box int-casts (toward zero), floor-divides by 4
    and re-scores as the mean of score_map over the resulting inclusive
    window (the fillPoly-mask mean of an axis-aligned quad); keep
    score > cover_thresh (strict); (5) __call__ tail: /ratio_w,/ratio_h,
    int32 cast (truncation), sort_poly (identity for our corner order),
    drop boxes with width < 5 or height < 5 (the two edge-norm checks).

    Returns list of (x1, y1, x2, y2, cover_score) in NMS pick order.
    """
    h, w = score_map.shape
    src_h, src_w, ratio_h, ratio_w = shape
    xy_text = np.argwhere(score_map > score_thresh)
    if len(xy_text) == 0:
        return []
    xy_text = xy_text[np.argsort(xy_text[:, 0])]
    quads = restore_rectangle_quad(
        xy_text[:, ::-1] * 4,
        geo_map[xy_text[:, 0], xy_text[:, 1], :].astype(np.float64))
    boxes = np.stack([quads[:, :, 0].min(axis=1), quads[:, :, 1].min(axis=1),
                      quads[:, :, 0].max(axis=1), quads[:, :, 1].max(axis=1)],
                     axis=1)
    scores = score_map[xy_text[:, 0], xy_text[:, 1]].astype(np.float64)
    kept, ksc = nms_locality(boxes, scores, thres=nms_thresh)
    out = []
    for box, _s in zip(kept, ksc):
        bi = box.astype(np.int32) // 4
        x1 = max(int(bi[0]), 0)
        y1 = max(int(bi[1]), 0)
        x2 = min(int(bi[2]), w - 1)
        y2 = min(int(bi[3]), h - 1)
        if x2 < x1 or y2 < y1:
            continue
        cover = float(score_map[y1:y2 + 1, x1:x2 + 1].mean())
        if cover <= cover_thresh:
            continue
        fx1 = int(np.int32(box[0] / ratio_w))
        fy1 = int(np.int32(box[1] / ratio_h))
        fx2 = int(np.int32(box[2] / ratio_w))
        fy2 = int(np.int32(box[3] / ratio_h))
        if fx2 - fx1 < 5 or fy2 - fy1 < 5:
            continue
        out.append((fx1, fy1, fx2, fy2, cover))
    return out


# ---------------------------------------------------------------------------
# SARLabelDecode (R4 second decoder) — rec_postprocess.py:790-864
# ---------------------------------------------------------------------------

def sar_label_decode(ids, dict_character) -> str:
    """SARLabelDecode.decode, label path (text_prob=None), ids 0-based into
    ``dict_character + ['<UKN>', '<BOS/EOS>', '<PAD>']``
    (add_special_char, rec_postprocess.py:800-812: unknown_idx = n,
    start_idx = end_idx = n+1, padding_idx = n+2).

    Semantics DIFFER from AttnLabelDecode on every special: only PAD is in
    ignored_tokens (:863-864), so (1) an eos anywhere except index 0
    BREAKS the decode — live code here, dead in Attn; (2) an eos AT index
    0 is skipped only because text_prob is None (:816-820 — with probs it
    would break to an empty text); (3) '<UKN>' is a real dictionary entry
    and DECODES to the literal marker string.
    """
    n = len(dict_character)
    unknown_idx, end_idx, padding_idx = n, n + 1, n + 2
    character = list(dict_character) + ["<UKN>", "<BOS/EOS>", "<PAD>"]
    out = []
    for idx, v in enumerate(ids):
        v = int(v)
        if v == padding_idx:          # ignored_tokens = [padding_idx]
            continue
        if v == end_idx:
            if idx == 0:              # text_prob is None and idx == 0
                continue
            break
        out.append(character[v])
    return "".join(out)


def nrtr_label_decode(ids, charset) -> str:
    """NRTRLabelDecode.decode, rec_postprocess.py:1077-1099, dict layout
    ['blank', '<unk>', '<s>', '</s>'] + charset (add_special_char,
    :1073-1075).

    Semantics differ from BOTH Attn and SAR:

    * there are NO ignored tokens — blank (0), '<unk>' (1) and '<s>' (2)
      decode to their LITERAL dict strings ('blank' contributes five
      characters of output);
    * '</s>' (3) breaks at ANY position — live code (Attn's break is dead,
      SAR skips an index-0 eos);
    * the per-id lookup sits in a bare ``try/except: continue``, so an
      out-of-range id is silently SKIPPED while a small NEGATIVE id wraps
      Python-style (id -1 decodes the LAST dict character — no exception,
      no break).
    """
    character = ["blank", "<unk>", "<s>", "</s>"] + list(charset)
    out = []
    for v in ids:
        v = int(v)
        try:
            ch = character[v]
        except IndexError:
            continue
        if ch == "</s>":
            break
        out.append(ch)
    return "".join(out)


def vitstr_label_decode(ids, charset) -> str:
    """ViTSTRLabelDecode: ``__call__`` drops time-step 0 before argmax
    (``preds[:, 1:]``, rec_postprocess.py:1110-1114), then runs NRTR's
    inherited ``decode`` over the SMALLER dict ['<s>', '</s>'] + charset
    (add_special_char, :1123-1125).

    Same walk quirks as NRTR (bare-except skip of out-of-range ids,
    Python-style negative wrap, live break) but the ids mean different
    things: eos is id 1 (not 3), '<s>' (0) decodes literally, there is
    NO 'blank'/'<unk>' entry, and a charset char sits at instr+1.
    """
    character = ["<s>", "</s>"] + list(charset)
    out = []
    for v in ids[1:]:                 # the [:, 1:] first-column drop
        v = int(v)
        try:
            ch = character[v]
        except IndexError:
            continue
        if ch == "</s>":
            break
        out.append(ch)
    return "".join(out)


def srn_label_decode(ids, charset) -> str:
    """SRNLabelDecode.decode, label path (text_prob=None,
    rec_postprocess.py:742-768), dict = charset + [beg, end]
    (add_special_char :770-772 appends at the END, unlike Attn's
    [sos] + charset + [eos]).

    The live shape differs from every other family: BOTH specials are in
    ignored_tokens (:775-778) and there is NO break statement at all —
    an eos ANYWHERE is skipped and decoding continues past it (SAR
    breaks, NRTR/ViTSTR break, Attn's break is dead but eos still ends
    nothing after it decodes differently). The lookup has no try/except:
    an out-of-range id RAISES, while a small negative id wraps
    Python-style (-1 → the literal end marker string, since it is not
    in ignored_tokens — only the exact ints n and n+1 are).
    """
    n = len(charset)
    character = list(charset) + ["<BOS>", "<EOS>"]
    out = []
    for v in ids:
        v = int(v)
        if v in (n, n + 1):           # ignored anywhere; never breaks
            continue
        out.append(character[v])      # IndexError propagates; -1 wraps
    return "".join(out)


def rfl_label_decode(ids, charset) -> str:
    """RFLLabelDecode.decode, rec_postprocess.py:556-583, dict layout
    ['sos'] + charset + ['eos'] (add_special_char :549-554).

    The seq walk is Attn's exactly (same [sos]+cs+['eos'] layout, same
    ignored_tokens = [beg, end], same DEAD ``break`` at eos — the
    ignored-membership ``continue`` fires first, so text after a
    mid-stream eos still decodes; id -1 is NOT in ignored_tokens and
    wraps Python-style to the literal 'eos'; out-of-range RAISES). What
    makes RFL a distinct family is its COUNTING branch: ``__call__``
    with a plain cnt head returns length = round(np.sum(lens)) per
    sample (see rfl_cnt_length) instead of any decoded text."""
    n = len(charset)
    character = ["sos"] + list(charset) + ["eos"]
    out = []
    for v in ids:
        v = int(v)
        if v in (0, n + 1):           # ignored anywhere; break is dead
            continue
        out.append(character[v])      # IndexError propagates; -1 wraps
    return "".join(out)


def rfl_cnt_length(lens) -> int:
    """RFLLabelDecode.__call__ counting branch (rec_postprocess.py
    :601-607): per-sample predicted length = round(np.sum(lens)) —
    Python 3 ``round``, i.e. BANKER'S rounding (x.5 → nearest even), not
    the half-away-from-zero a SQL ``ROUND`` does."""
    return int(round(float(sum(float(x) for x in lens))))


def seed_label_decode(ids, charset) -> str:
    """SEEDLabelDecode.decode, rec_postprocess.py:660-684, dict layout
    charset + ['eos', 'padding', 'unknown'] (add_special_char :638-645).

    Signature: eos BREAKS anywhere (live, exact-int compare) but there
    is NO ignored-token skip at all — 'padding' (n+1) and 'unknown'
    (n+2) are real decodable entries contributing their LITERAL strings
    (seven/seven characters) to the text. id -1 is not eos, so it wraps
    Python-style to the literal 'unknown'; out-of-range RAISES."""
    n = len(charset)
    character = list(charset) + ["eos", "padding", "unknown"]
    out = []
    for v in ids:
        v = int(v)
        if v == n:                    # eos: live break, any position
            break
        out.append(character[v])      # IndexError propagates; -1 wraps
    return "".join(out)


def satrn_label_decode(ids, charset, rm_symbol: bool = False) -> str:
    """SATRNLabelDecode.decode, rec_postprocess.py:889-923, dict layout
    charset + ['<UKN>', '<BOS/EOS>', '<PAD>'] (add_special_char
    :876-887; start_idx == end_idx — one shared '<BOS/EOS>').

    The walk is SAR's exactly (ignored = [pad] only; break at eos except
    a position-0 eos with no probs, which is skipped; '<UKN>' decodes
    literally; -1 wraps to the literal '<PAD>' since only the exact int
    n+2 is ignored). What distinguishes the family is ``rm_symbol``
    (:915-918): lowercase, then strip ``[^A-Z^a-z^0-9^\\u4e00-\\u9fa5]``
    — inside a character class the later '^'s are LITERALS, so actual
    caret characters SURVIVE the stripping (and '<UKN>' reduces to
    'ukn')."""
    import re

    n = len(charset)
    character = list(charset) + ["<UKN>", "<BOS/EOS>", "<PAD>"]
    end_idx, padding_idx = n + 1, n + 2
    out = []
    for idx, v in enumerate(ids):
        v = int(v)
        if v == padding_idx:          # ignored_tokens = [padding_idx]
            continue
        if v == end_idx:
            if idx == 0:              # text_prob is None and idx == 0
                continue
            break
        out.append(character[v])      # IndexError propagates; -1 wraps
    text = "".join(out)
    if rm_symbol:
        comp = re.compile("[^A-Z^a-z^0-9^一-龥]")
        text = comp.sub("", text.lower())
    return text


def pren_label_decode(ids, charset) -> str:
    """PRENLabelDecode.decode, rec_postprocess.py:996-1023, dict layout
    ['<PAD>', '<EOS>', '<UNK>'] + charset — the ONLY family that
    PREPENDS all three specials (pad=0, eos=1, unk=2; a charset char
    sits at index+3).

    eos (exact int 1) breaks anywhere; pad/unk skip anywhere; id -1 is
    neither, so it wraps Python-style to the LAST charset char;
    out-of-range RAISES. (The reference's empty-text branch pins
    confidence 1 — text itself is '' either way.)"""
    character = ["<PAD>", "<EOS>", "<UNK>"] + list(charset)
    out = []
    for v in ids:
        v = int(v)
        if v == 1:                    # eos: live break
            break
        if v in (0, 2):               # pad / unk skipped
            continue
        out.append(character[v])      # IndexError propagates; -1 wraps
    return "".join(out)


def abinet_label_decode(ids, charset) -> str:
    """ABINetLabelDecode: NRTR's inherited walk (rec_postprocess.py
    :1077-1099 — bare-except skip of out-of-range ids, Python-style
    negative wrap, break on the '</s>' STRING) over the 1-special dict
    ['</s>'] + charset (add_special_char :1160-1164, use_unkown=False).

    Signature: eos is id ZERO (every other family puts it elsewhere),
    there is no blank/'<unk>'/'<s>' at all, and a charset char sits at
    index+1. id -1 wraps to the LAST charset char (not a special)."""
    character = ["</s>"] + list(charset)
    out = []
    for v in ids:
        v = int(v)
        try:
            ch = character[v]
        except IndexError:
            continue
        if ch == "</s>":
            break
        out.append(ch)
    return "".join(out)


def spin_label_decode(ids, charset) -> str:
    """SPINLabelDecode: Attn's inherited decode (rec_postprocess.py
    :476-503 — ignored = [beg, end] skipped anywhere, the break at eos
    DEAD because the ignored check continues first) over the dict
    ['sos'] + ['eos'] + charset (add_special_char :1413-1418) — both
    specials at the FRONT, so beg=0, end=1 and a charset char sits at
    index+2.

    id -1 is not in ignored_tokens and wraps Python-style to the LAST
    charset char (Attn's trailing-'eos' layout would give the literal
    'eos' instead); out-of-range RAISES."""
    character = ["sos", "eos"] + list(charset)
    out = []
    for v in ids:
        v = int(v)
        if v in (0, 1):               # ignored anywhere; break is dead
            continue
        out.append(character[v])      # IndexError propagates; -1 wraps
    return "".join(out)


def vl_eval_decode(ids, charset, nsteps: int = 25):
    """VLLabelDecode.__call__ eval path, rec_postprocess.py:1458-1516,
    collapsed to one sample's per-step top-1 ids.

    The reference walks nsteps time-steps: out_length = the step index
    of the FIRST top-1 == 0 (+1, so the eos step is INCLUDED), or nsteps
    if none; the text then joins character[id - 1] over steps
    0..length-1 — ids outside [1, len(charset)] contribute '' via the
    ``if idx > 0 and idx <= len(self.character)`` guard (:1503-1507), so
    the counted eos step itself decodes to nothing but still inflates
    the length. Returns (text, length)."""
    ids = [int(v) for v in ids[:nsteps]]
    length = nsteps
    for i, v in enumerate(ids):
        if v == 0:
            length = i + 1
            break
    n = len(charset)
    out = [charset[v - 1] if 0 < v <= n else "" for v in ids[:length]]
    return "".join(out), length


def vl_label_decode(ids, charset) -> str:
    """VLLabelDecode.decode (label path), rec_postprocess.py:1430-1456:
    BaseRecLabelDecode-style vectorized selection — ids equal to any
    ignored token ([0]) are masked out ANYWHERE (no break), survivors
    decode via character[id - 1] (the family's off-by-one: id 1 is the
    first charset char). Negative ids survive the mask and wrap
    Python-style (-1 → character[-2], i.e. the second-to-last char);
    out-of-range RAISES."""
    character = list(charset)
    return "".join(character[int(v) - 1] for v in ids if int(v) != 0)


def can_label_decode(ids, charset) -> str:
    """CANLabelDecode.decode, rec_postprocess.py:1529-1541: seq_end =
    ``argmin`` of the id sequence — the position of the FIRST occurrence
    of the SMALLEST id, NOT a search for eos==0. If 0 never appears the
    cut lands on the first occurrence of whatever id is smallest (a real
    symbol!). Symbols before the cut join with SPACES (latex token
    stream). Empty input → '' (argmin of an empty array would raise in
    numpy; the reference never feeds one — we pin '' as the
    deterministic answer, documented deviation)."""
    ids = [int(v) for v in ids]
    if not ids:
        return ""
    seq_end = min(range(len(ids)), key=lambda i: ids[i])
    return " ".join(charset[v] for v in ids[:seq_end])


def order_points_clockwise(pts) -> "np.ndarray":
    """TextDetector.order_points_clockwise, tools/infer/predict_det.py
    :192-201: rect[0]/rect[2] = min/max coordinate-sum corners; the other
    two order by the (y-x) diff of the REMAINING points.

    QUIRKS preserved: np.argmin/argmax take the FIRST extreme on ties,
    and ``np.delete`` with the pair (argmin, argmax) removes ONE point
    when they coincide (all-equal sums), leaving a 3-point remainder —
    rect[1]/rect[3] then come from a 3-way diff argmin/argmax exactly as
    the reference computes them."""
    import numpy as np

    pts = np.asarray(pts, dtype="float32")
    rect = np.zeros((4, 2), dtype="float32")
    s = pts.sum(axis=1)
    rect[0] = pts[np.argmin(s)]
    rect[2] = pts[np.argmax(s)]
    tmp = np.delete(pts, (np.argmin(s), np.argmax(s)), axis=0)
    diff = np.diff(np.array(tmp), axis=1)
    rect[1] = tmp[np.argmin(diff)]
    rect[3] = tmp[np.argmax(diff)]
    return rect


def clip_det_res(points, img_height: int, img_width: int) -> "np.ndarray":
    """TextDetector.clip_det_res (predict_det.py:203-207): per-corner
    int-truncated clamp to [0, dim-1], mutating in the float array (the
    reference assigns int() results back into the float32 box)."""
    for pno in range(points.shape[0]):
        points[pno, 0] = int(min(max(points[pno, 0], 0), img_width - 1))
        points[pno, 1] = int(min(max(points[pno, 1], 0), img_height - 1))
    return points


def filter_tag_det_res(dt_boxes, image_shape) -> "np.ndarray":
    """TextDetector.filter_tag_det_res (predict_det.py:209-223):
    clockwise-order each quad, clip to the image, drop boxes whose
    int-truncated edge norms are <= 3 on either side."""
    import numpy as np

    img_height, img_width = image_shape[0:2]
    out = []
    for box in dt_boxes:
        if type(box) is list:
            box = np.array(box)
        box = order_points_clockwise(box)
        box = clip_det_res(box, img_height, img_width)
        rect_width = int(_norm2(box[0] - box[1]))
        rect_height = int(_norm2(box[0] - box[3]))
        if rect_width <= 3 or rect_height <= 3:
            continue
        out.append(box)
    return np.array(out)


# ---------------------------------------------------------------------------
# Korean grapheme layer (the fork's distinguishing feature):
# ppocr/utils/korean_grapheme_label.py + korean_compose.py
# ---------------------------------------------------------------------------

#: Representative-syllable jamo alphabets (korean_grapheme_label.py:7-9).
#: Each entry is ONE precomposed syllable standing for a jamo: initials are
#: C+아, medials are 아+V, finals are 으+C.
HANGUL_INITIALS = "가까나다따라마바빠사싸아자짜차카타파하"
HANGUL_MEDIALS = "아애야얘어에여예오와왜외요우워웨위유으의이"
HANGUL_FINALS = "으윽윾윿은읁읂읃을읅읆읇읈읉읊읋음읍읎읏읐응읒읓읔읕읖읗"


def decompose_korean_char(text) -> tuple:
    """decompose_korean_char, korean_grapheme_label.py:11-32: per char,
    Hangul syllables split arithmetically (code//588, (code%588)//28,
    code%28) into the three representative-syllable alphabets;
    everything else passes through to ALL THREE streams verbatim.

    Pinned quirk: the Hangul test is ``44032 <= ord(c) <= 55199`` — the
    block really ends at 55203 (U+D7A3), so the LAST FOUR syllables
    ('힠힡힢힣') take the non-Hangul passthrough path. Returns the
    reference dict's three values as (initial, medial, final) strings.
    """
    ini, med, fin = [], [], []
    for c in text:
        cp = ord(c)
        if 44032 <= cp <= 55199:
            code = cp - 44032
            ini.append(HANGUL_INITIALS[code // 588])
            med.append(HANGUL_MEDIALS[(code % 588) // 28])
            fin.append(HANGUL_FINALS[code % 28])
        else:
            ini.append(c)
            med.append(c)
            fin.append(c)
    return "".join(ini), "".join(med), "".join(fin)


def compose_korean_char(initial, medial, final,
                        initial_p=None, medial_p=None, final_p=None):
    """compose_korean_char, korean_grapheme_label.py:35-104 (the
    prob-carrying dialect): zip the three jamo strings (zip TRUNCATES to
    the shortest — quirk preserved); per position, when >=2 of the three
    chars are not in their jamo alphabet the result is the max-prob
    grapheme passed through VERBATIM (np.argmax first-max tie, None
    probs coerced to 0 beforehand); otherwise missing indices default to
    (11, 0, 0) and the syllable is 44032 + (ii*21 + mi)*28 + fi with
    conf = (ip+mp+fp)/3.

    Empty input returns (' ', 0) — a SPACE and a scalar 0, not ('', []).
    Probs may be per-char lists or None (None -> per-char None -> 0).
    """
    def _probs(text, p):
        if p is None:
            return [None] * len(text)
        if isinstance(p, int):      # int (not float!) scalars replicate
            return [p] * len(text)  # — preprocessing_of_prob :76-88
        return p

    ip_l, mp_l, fp_l = (_probs(initial, initial_p), _probs(medial, medial_p),
                        _probs(final, final_p))
    out, confs = [], []
    for i, m, f, ip, mp, fp in zip(initial, medial, final, ip_l, mp_l, fp_l):
        ip = 0 if ip is None else ip
        mp = 0 if mp is None else mp
        fp = 0 if fp is None else fp
        ii = HANGUL_INITIALS.index(i) if i in HANGUL_INITIALS else None
        mi = HANGUL_MEDIALS.index(m) if m in HANGUL_MEDIALS else None
        fi = HANGUL_FINALS.index(f) if f in HANGUL_FINALS else None
        if [ii, mi, fi].count(None) >= 2:
            grapheme, p = [i, m, f], [ip, mp, fp]
            # np.argmax first-max tie order
            idx = 0 if p[0] >= p[1] and p[0] >= p[2] else (
                1 if p[1] >= p[2] else 2)
            out.append(grapheme[idx])
            confs.append(p[idx])
            continue
        ii = ii if ii is not None else 11
        mi = mi if mi is not None else 0
        fi = fi if fi is not None else 0
        out.append(chr(44032 + (ii * 21 + mi) * 28 + fi))
        confs.append((ip + mp + fp) / 3)
    if not out:
        return " ", 0
    return "".join(out), confs


def compose_korean_char_grapheme_label(initial, medial, final) -> list:
    """compose_korean_char_grapheme_label, korean_compose.py:28-44 (the
    label dialect): per position, a char whose INITIAL or MEDIAL is not
    in its jamo alphabet passes the INITIAL through verbatim (the medial
    /final are discarded); a missing FINAL defaults to index 0. Returns
    the per-char list, zip-truncated to the shortest stream."""
    out = []
    for i, m, f in zip(initial, medial, final):
        ii = HANGUL_INITIALS.index(i) if i in HANGUL_INITIALS else None
        mi = HANGUL_MEDIALS.index(m) if m in HANGUL_MEDIALS else None
        fi = HANGUL_FINALS.index(f) if f in HANGUL_FINALS else None
        if ii is None or mi is None:
            out.append(i)
            continue
        fi = fi if fi is not None else 0
        out.append(chr(44032 + (ii * 21 + mi) * 28 + fi))
    return out


def grapheme_edit_dis(x: str, y: str) -> float:
    """grapheme_edit_dis, korean_grapheme_label.py:106-126 — transcribed
    WITH its bug: after ``x = decompose_korean_char(x)`` returns a dict,
    ``"".join(["".join(v) for v in x])`` iterates the DICT KEYS, so both
    sides collapse to the constant 'initialmedialfinal' and the
    normalized Levenshtein distance is 0.0 for EVERY non-empty pair
    (the commented-out line above it shows the intended per-value join).

    Empty-side quirk (:108-112): when either side is empty the function
    returns 1 if the LENGTHS ARE EQUAL (i.e. both empty) else 0 —
    inverted relative to a distance (identical empties -> max value)."""
    if len(x) == 0 or len(y) == 0:
        return 1.0 if len(x) == len(y) else 0.0
    return 0.0


#: Compatibility-jamo alphabets for the utf8string grapheme dialect
#: (korean_compose_by_utf8.py:12-14). JONGSUNG[0] is the literal '@' —
#: the dialect's stand-in for "no final", ALWAYS emitted on decompose.
CHOSUNG = "ㄱㄲㄴㄷㄸㄹㅁㅂㅃㅅㅆㅇㅈㅉㅊㅋㅌㅍㅎ"
JUNGSUNG = "ㅏㅐㅑㅒㅓㅔㅕㅖㅗㅘㅙㅚㅛㅜㅝㅞㅟㅠㅡㅢㅣ"
JONGSUNG = "@ㄱㄲㄳㄴㄵㄶㄷㄹㄺㄻㄼㄽㄾㄿㅀㅁㅂㅄㅅㅆㅇㅈㅊㅋㅌㅍㅎ"


def decompose_hangul_by_utf8(text: str) -> str:
    """decompose_hangul_by_utf8, korean_compose_by_utf8.py:16-31: each
    Hangul syllable flattens to THREE compatibility jamo — cho + jung +
    jong, with '@' standing for an absent final (JONGSUNG_LIST[0]).
    Non-Hangul passes through as a single char.

    Quirk DIFFERENCE vs korean_grapheme_label's decompose: the bound
    here is the FULL block (<= 44032 + 11171 = 55203), so '힠힡힢힣'
    decompose normally in this dialect but pass through in the other."""
    out = []
    for c in text:
        cp = ord(c)
        if not (44032 <= cp <= 44032 + 11171):
            out.append(c)
            continue
        code = cp - 44032
        jong = code % 28
        jung = ((code - jong) // 28) % 21
        cho = ((code - jong) // 28) // 21
        out.append(CHOSUNG[cho] + JUNGSUNG[jung] + JONGSUNG[jong])
    return "".join(out)


def compose_string_by_utf8(decomposed: str, p_list):
    """compose_string_by_utf8, korean_compose_by_utf8.py:60-94: greedy
    left-to-right scan over a flat jamo stream. A cho followed by a jung
    starts a syllable; a following char in JONGSUNG_LIST (INCLUDING '@'
    → final index 0) is consumed as the final. conf = mean of the 3 (or
    2, when no jong was consumed) jamo probs. Anything else passes
    through with its own prob. Inputs are first TRUNCATED to the shorter
    of (chars, probs) — the reference's min-len guard.

    Returns (composed string, per-output-char prob list)."""
    n = min(len(decomposed), len(p_list))
    decomposed, p_list = decomposed[:n], list(p_list[:n])
    out, ps = [], []
    i = 0
    while i < n:
        c = decomposed[i]
        if c in CHOSUNG and i + 1 < n and decomposed[i + 1] in JUNGSUNG:
            jung = decomposed[i + 1]
            jong = (decomposed[i + 2]
                    if i + 2 < n and decomposed[i + 2] in JONGSUNG else "")
            if jong != "":
                avg = sum(p_list[i:i + 3]) / 3
            else:
                avg = sum(p_list[i:i + 2]) / 2
            ji = JONGSUNG.index(jong) if jong else 0
            out.append(chr(44032 + (CHOSUNG.index(c) * 21
                                    + JUNGSUNG.index(jung)) * 28 + ji))
            ps.append(avg)
            i += 3 if jong else 2
        else:
            out.append(c)
            ps.append(p_list[i])
            i += 1
    return "".join(out), ps


def char_level_ensemble(pred1, pred2):
    """char_level_ensemble, korean_compose_by_utf8.py:96-113: per-char
    max-prob pick over zip(*pred1, *pred2) — zip TRUNCATES to the
    shortest of the four sequences. An empty pred1 text short-circuits
    to pred1 (likewise pred2). Any exception inside the loop returns
    pred1 unchanged (the bare-except fallback)."""
    if len(pred1[0]) == 0:
        return pred1
    if len(pred2[0]) == 0:
        return pred2
    try:
        c, p = [], []
        for c1, p1, c2, p2 in zip(*pred1, *pred2):
            if p1 >= p2:
                c.append(c1)
                p.append(p1)
            else:
                c.append(c2)
                p.append(p2)
        return "".join(c), p
    except Exception:
        return pred1


def char_level_ensemble_by_threshold(pred1, pred2, threshold=0.5,
                                     on="left"):
    """char_level_ensemble_by_threshold, korean_compose_by_utf8.py
    :115-143: like char_level_ensemble but the pick is 'does the
    on-side's prob clear the threshold', not a max."""
    if len(pred1[0]) == 0:
        return pred1
    if len(pred2[0]) == 0:
        return pred2
    try:
        c, p = [], []
        for c1, p1, c2, p2 in zip(*pred1, *pred2):
            take1 = (p1 >= threshold) if on == "left" else not (
                p2 >= threshold)
            if on not in ("left", "right"):
                raise ValueError("on should be either 'left' or 'right'")
            if take1:
                c.append(c1)
                p.append(p1)
            else:
                c.append(c2)
                p.append(p2)
        return "".join(c), p
    except Exception:
        return pred1


def mul_prob(prob_list):
    """korean_compose_by_utf8.py:195-198: product of probs; EMPTY -> 0
    (not 1 — an empty word can never win a word-level ensemble)."""
    r = 1.0
    if not prob_list:
        return 0
    for p in prob_list:
        r *= p
    return r


def log_avg_prob(prob_list):
    """korean_compose_by_utf8.py:187-193: mean log-prob with each prob
    floored at 1e-6; EMPTY -> 0 (which is the MAX possible value of a
    mean log-prob — the opposite polarity of mul_prob's empty rule)."""
    import math
    if not prob_list:
        return 0
    return sum(math.log(max(p, 1e-6)) for p in prob_list) / len(prob_list)


def word_level_ensemble(pred1, pred2):
    """word_level_ensemble, korean_compose_by_utf8.py:149-156: whole-
    word pick by product-of-probs, ties to pred1."""
    return pred1 if mul_prob(pred1[1]) >= mul_prob(pred2[1]) else pred2


def word_level_ensemble_by_threshold(pred1, pred2, prob1, prob2,
                                     threshold=0.5, on="left"):
    """__word_level_ensemble_by_threshold, korean_compose_by_utf8.py
    :169-181: on='left' keeps pred1 iff prob1 clears the threshold;
    on='right' SWAPS the argument order (pred2 wins iff prob2 clears)."""
    if on == "left":
        return pred1 if prob1 >= threshold else pred2
    if on == "right":
        return pred2 if prob2 >= threshold else pred1
    raise ValueError("on should be either 'left' or 'right'")


def threshold_word_ensemble_mul(pred1, pred2, threshold=0.5, on="left"):
    """threshold_based_word_level_ensemble_with_mul_prob (:158-161)."""
    return word_level_ensemble_by_threshold(
        pred1, pred2, mul_prob(pred1[1]), mul_prob(pred2[1]),
        threshold, on)


def threshold_word_ensemble_log_avg(pred1, pred2, threshold=0.5,
                                    on="left"):
    """threshold_based_word_level_ensemble_with_log_avg_prob
    (:163-167)."""
    return word_level_ensemble_by_threshold(
        pred1, pred2, log_avg_prob(pred1[1]), log_avg_prob(pred2[1]),
        threshold, on)


# ---------------------------------------------------------------------------
# R6 MakeShrinkMap (DBNet training gt generation)
# ---------------------------------------------------------------------------

SHRINK_MIN_TEXT_SIZE = 8
SHRINK_RATIO = 0.4


def _clipper_round(x: float) -> int:
    """Clipper's Round (half away from zero; coords here are >= 0)."""
    return int(np.floor(x + 0.5))


def shrink_rect(x0: float, y0: float, x1: float, y1: float,
                distance: float) -> list | None:
    """pyclipper PyclipperOffset.Execute(-distance) for an axis-aligned
    rectangle with integer-grid input coords: the inward offset either
    collapses (empty result) or is the inset rectangle with every
    coordinate rounded to Clipper's integer grid.  For a rectangle the
    JT_ROUND join style is irrelevant (round joins only shape OUTWARD
    corners)."""
    if (x1 - x0) <= 2 * distance or (y1 - y0) <= 2 * distance:
        return None
    return [_clipper_round(x0 + distance), _clipper_round(y0 + distance),
            _clipper_round(x1 - distance), _clipper_round(y1 - distance)]


def fill_rect(img: "np.ndarray", x0: int, y0: int, x1: int, y1: int,
              val: float) -> None:
    """cv2.fillPoly for an integer axis-aligned rectangle polygon: fills
    [y0..y1] x [x0..x1] INCLUSIVE (cv2 polygon fill includes the
    right/bottom boundary; a degenerate zero-area polygon fills its
    boundary line), clipped to the canvas.  A rect lying entirely
    above/left of the canvas (upper bound < 0) paints NOTHING, as cv2
    clips — without the guard the ``min(y1, h-1)+1`` end index goes
    negative and the Python slice wraps around the canvas."""
    if x1 < 0 or y1 < 0:
        return
    h, w = img.shape
    img[max(y0, 0):min(y1, h - 1) + 1, max(x0, 0):min(x1, w - 1) + 1] = val


def fill_bboxes(img: "np.ndarray", polys, val: float) -> None:
    """cv2.fillPoly under the bbox axiom: each integer polygon fills its
    inclusive corner bounding box via :func:`fill_rect`. ``polys`` is one
    (n, 2) array or a sequence of polygons (any shape that reshapes to
    (-1, 2)) — the axis-aligned target generators (EAST, SAST, FCE, CT)
    share this one fill."""
    if isinstance(polys, np.ndarray) and polys.ndim == 2:
        polys = [polys]
    for p in polys:
        p = np.asarray(p).reshape(-1, 2)
        fill_rect(img, int(p[:, 0].min()), int(p[:, 1].min()),
                  int(p[:, 0].max()), int(p[:, 1].max()), val)


def make_shrink_map(boxes: "np.ndarray", tags: "np.ndarray",
                    h: int, w: int,
                    min_text_size: int = SHRINK_MIN_TEXT_SIZE,
                    shrink_ratio: float = SHRINK_RATIO):
    """MakeShrinkMap (ppocr/data/imaug/make_shrink_map.py:32-124) over
    axis-aligned rectangle polys — the repo-wide corpus shape (SURVEY
    §1.1).

    Faithful points, in reference order:

    * ``validate_polygons`` (:101-117): clip x to [0, w-1] / y to
      [0, h-1]; signed shoelace |area| < 1 → ignore (the point-order
      reversal for positive area has no raster effect for rects).
    * ignored or clipped min-side < min_text_size → the ORIGINAL
      (clipped) poly is int-truncated and zeroed in the mask
      (:60-63); ignore_tags[i] is set True.
    * else distance = area·(1 − ratio²)/perimeter via shapely on the
      clipped poly, offset by pyclipper (:66-82).  The ratio-escalation
      loop (possible_ratios = arange(0.4, 1, 0.4) = [0.4, 0.8] — the
      ``np.append(possible_ratios, 1)`` at :75 discards its result, so
      ratio 1 is NEVER tried; quirk pinned) is DEAD CODE for
      rectangles: w ≤ 0.84·wh/(w+h) ⟺ w+h ≤ 0.84h, impossible — a
      rectangle always survives the first ratio.  The escalation branch
      is still transcribed (and exec-ref-differentialed via non-fitting
      synthetic distances).
    * surviving shrunk polys fill 1 into gt (:93-95).

    Returns (records, gt, mask): per-box (status, ratio, sx0, sy0, sx1,
    sy1) where status ∈ {'gt', 'masked'}, plus the float32 rasters.
    """
    gt = np.zeros((h, w), dtype=np.float32)
    mask = np.ones((h, w), dtype=np.float32)
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4).copy()
    tags = list(np.asarray(tags, dtype=bool))
    # validate_polygons: clip, then the |shoelace| < 1 degeneracy flag
    boxes[:, 0] = np.clip(boxes[:, 0], 0, w - 1)
    boxes[:, 2] = np.clip(boxes[:, 2], 0, w - 1)
    boxes[:, 1] = np.clip(boxes[:, 1], 0, h - 1)
    boxes[:, 3] = np.clip(boxes[:, 3], 0, h - 1)
    records = []
    for i, (x0, y0, x1, y1) in enumerate(boxes):
        bw, bh = x1 - x0, y1 - y0
        if bw * bh < 1:                       # |signed area| < 1
            tags[i] = True
        if tags[i] or min(bh, bw) < min_text_size:
            fill_rect(mask, int(x0), int(y0), int(x1), int(y1), 0)
            tags[i] = True
            records.append(("masked", 0.0, None, None, None, None))
            continue
        area, length = bw * bh, 2 * (bw + bh)
        shrunk, used = None, 0.0
        for ratio in (shrink_ratio, 2 * shrink_ratio):   # arange(.4,1,.4)
            distance = area * (1 - ratio ** 2) / length
            shrunk = shrink_rect(x0, y0, x1, y1, distance)
            if shrunk is not None:
                used = ratio
                break
        if shrunk is None:
            fill_rect(mask, int(x0), int(y0), int(x1), int(y1), 0)
            tags[i] = True
            records.append(("masked", 0.0, None, None, None, None))
            continue
        fill_rect(gt, shrunk[0], shrunk[1], shrunk[2], shrunk[3], 1)
        records.append(("gt", used, *shrunk))
    return records, gt, mask


# ---------------------------------------------------------------------------
# R6 MakeBorderMap (DBNet training threshold-map generation)
# ---------------------------------------------------------------------------

BORDER_THRESH_MIN = 0.3
BORDER_THRESH_MAX = 0.7


def _border_edge_distance(xs: "np.ndarray", ys: "np.ndarray",
                          p1, p2) -> "np.ndarray":
    """MakeBorderMap._distance (make_border_map.py:126-151) verbatim:
    law-of-cosines point-to-segment distance with the cosin<0
    endpoint-min branch and the nan_to_num of square_sin."""
    square_distance_1 = np.square(xs - p1[0]) + np.square(ys - p1[1])
    square_distance_2 = np.square(xs - p2[0]) + np.square(ys - p2[1])
    square_distance = np.square(p1[0] - p2[0]) + np.square(p1[1] - p2[1])
    with np.errstate(divide="ignore", invalid="ignore"):
        cosin = (square_distance - square_distance_1 - square_distance_2) / (
            2 * np.sqrt(square_distance_1 * square_distance_2))
        square_sin = 1 - np.square(cosin)
        square_sin = np.nan_to_num(square_sin)
        result = np.sqrt(square_distance_1 * square_distance_2 * square_sin
                         / square_distance)
    result[cosin < 0] = np.sqrt(np.fmin(
        square_distance_1, square_distance_2))[cosin < 0]
    return result


def make_border_map(boxes: "np.ndarray", tags: "np.ndarray", h: int, w: int,
                    shrink_ratio: float = SHRINK_RATIO,
                    thresh_min: float = BORDER_THRESH_MIN,
                    thresh_max: float = BORDER_THRESH_MAX):
    """MakeBorderMap (ppocr/data/imaug/make_border_map.py:38-124) over
    axis-aligned rects.  Unlike MakeShrinkMap there is NO
    validate_polygons here — polys arrive unclipped and only the input
    ignore_tags gate a box (the op runs before MakeShrinkMap in the
    DBNet transform list); degenerate boxes skip via ``area <= 0``.

    Exact parts (literal transcription): distance =
    area·(1−ratio²)/perimeter; the padded-polygon bbox (the JT_ROUND
    offset's axis extremes are the edge-normal offset points, so
    xmin..ymax = ClipperRound(coord ± distance) exactly); the per-edge
    ``_distance`` law-of-cosines map, its clip(·/distance, 0, 1), the
    4-edge min, the float32 casts, the valid-window slicing arithmetic,
    the fmax canvas update, and the final thresh_min/max affine.
    Quirk preserved: :115-121 never guards against a padded bbox lying
    FULLY outside the canvas on either axis — the distance-map slice
    goes empty while the clamped canvas slice is (≥1)-wide, and numpy
    raises ValueError.  The reference crashes on such a polygon; so do
    we (the broadcast error propagates untouched).  Callers must feed
    canvas-intersecting boxes, as the reference's crop stages guarantee.

    DEVIATION (documented, same family as db_boxes unclip): the MASK is
    filled over the padded polygon's bounding rectangle; the true
    cv2.fillPoly of Clipper's round-join arc polygon excludes up to
    (4−π)·d² corner-arc pixels per box.  Canvas (threshold) values are
    unaffected — the reference computes them over the same bbox window.

    Returns (canvas, mask) float32 rasters.
    """
    canvas = np.zeros((h, w), dtype=np.float32)
    mask = np.zeros((h, w), dtype=np.float32)
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    tags = np.asarray(tags, dtype=bool)
    for (x0, y0, x1, y1), tag in zip(boxes, tags):
        if tag:
            continue
        bw, bh = x1 - x0, y1 - y0
        area = bw * bh
        if area <= 0:
            continue
        distance = area * (1 - np.power(shrink_ratio, 2)) / (2 * (bw + bh))
        xmin = _clipper_round(x0 - distance)
        xmax = _clipper_round(x1 + distance)
        ymin = _clipper_round(y0 - distance)
        ymax = _clipper_round(y1 + distance)
        fill_rect(mask, xmin, ymin, xmax, ymax, 1.0)
        width = xmax - xmin + 1
        height = ymax - ymin + 1
        poly = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                        dtype=np.float32)
        poly[:, 0] = poly[:, 0] - xmin
        poly[:, 1] = poly[:, 1] - ymin
        xs = np.broadcast_to(
            np.linspace(0, width - 1, num=width).reshape(1, width),
            (height, width))
        ys = np.broadcast_to(
            np.linspace(0, height - 1, num=height).reshape(height, 1),
            (height, width))
        distance_map = np.zeros((4, height, width), dtype=np.float32)
        for i in range(4):
            j = (i + 1) % 4
            absolute = _border_edge_distance(xs, ys, poly[i], poly[j])
            distance_map[i] = np.clip(absolute / distance, 0, 1)
        distance_map = distance_map.min(axis=0)
        xmin_valid = min(max(0, xmin), w - 1)
        xmax_valid = min(max(0, xmax), w - 1)
        ymin_valid = min(max(0, ymin), h - 1)
        ymax_valid = min(max(0, ymax), h - 1)
        canvas[ymin_valid:ymax_valid + 1, xmin_valid:xmax_valid + 1] = \
            np.fmax(
                1 - distance_map[
                    ymin_valid - ymin:ymax_valid - ymax + height,
                    xmin_valid - xmin:xmax_valid - xmax + width],
                canvas[ymin_valid:ymax_valid + 1,
                       xmin_valid:xmax_valid + 1])
    canvas = canvas * (thresh_max - thresh_min) + thresh_min
    return canvas, mask


# ---------------------------------------------------------------------------
# R6 MakePseGt (PSENet training multi-scale kernel generation)
# ---------------------------------------------------------------------------

PSE_GT_KERNEL_NUM = 7        #: make_pse_gt.py:30 default
PSE_GT_MIN_RATIO = 0.4       #: make_pse_gt.py:30 default
PSE_GT_SIZE = 640            #: make_pse_gt.py:30 default (demo uses 80)


def _clipper_round_signed(x: float) -> int:
    """Clipper's Round for possibly-negative coords (half away from
    zero): trunc(x ± 0.5). pyclipper converts float input paths to the
    integer grid with the same C round()."""
    return int(x - 0.5) if x < 0 else int(x + 0.5)


def make_pse_gt(boxes: "np.ndarray", tags: "np.ndarray", h: int, w: int,
                kernel_num: int = PSE_GT_KERNEL_NUM,
                size: int = PSE_GT_SIZE,
                min_shrink_ratio: float = PSE_GT_MIN_RATIO):
    """MakePseGt (ppocr/data/imaug/make_pse_gt.py:28-119) over
    axis-aligned rects — the PSENet training gt: a ladder of
    ``kernel_num`` shrink scales, biggest first.

    Faithful points, in reference order:

    * the short-edge upscale branch (:41-46): scale = size/short_edge,
      cv2.resize(dsize=None, fx=fy=scale) → new dims =
      cvRound(dim·scale) (round half to even), and ``text_polys *=
      scale`` — polys go FRACTIONAL, so pyclipper's input-grid rounding
      (half away from zero, :94-96 via AddPath) becomes live;
    * rate_i = 1.0 - (1.0 - min_shrink_ratio)/(kernel_num - 1)·i for
      i = 1..kernel_num (:49-52) — the expression is transcribed
      verbatim so its float walk (0.6/6 ≠ 0.1 exactly) is preserved;
    * NO validate_polygons and NO clipping — unlike MakeShrinkMap,
      polys shrink as-is (off-canvas parts just clip at fill time);
    * distance = area·(1 − rate²)/(perimeter + 1e-6) (:90-92, the
      mmocr formula — note the +1e-6 that MakeShrinkMap lacks);
    * a collapsed offset sets ignore_tags[i] = True (:98-105) but
      painting never READS the tags — ignored boxes still paint every
      scale they survive; the escalation is monotone (distance grows as
      rate falls) so the final tag set is orig ∨ collapsed-at-scale-
      kernel_num;
    * kernels fill label i+1 (later boxes OVERWRITE earlier, :107) and
      are binarized afterwards (:66-67), so the observable count is the
      union of surviving inset rects;
    * training_mask zeroes the int32-truncated ORIGINAL (scaled) polys
      of finally-ignored boxes (:58-63).

    Returns (scaled, new_h, new_w, per_scale, final_tags, mask_count)
    where per_scale is [(rate, n_painted, kernel_px), ...] biggest rate
    first and kernel_px counts the binarized union fill.
    """
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4).copy()
    tags = list(np.asarray(tags, dtype=bool))
    short_edge = min(h, w)
    scaled = short_edge < size
    if scaled:
        scale = size / short_edge
        new_h = round(h * scale)          # cvRound: half to even
        new_w = round(w * scale)
        boxes *= scale
    else:
        new_h, new_w = h, w
    per_scale = []
    gt_text_px = None
    for i in range(1, kernel_num + 1):
        rate = 1.0 - (1.0 - min_shrink_ratio) / (kernel_num - 1) * i
        canvas = np.zeros((new_h, new_w), dtype=np.float32)
        painted = 0
        for bi, (x0, y0, x1, y1) in enumerate(boxes):
            bw, bh = x1 - x0, y1 - y0
            area = bw * bh                       # shapely-as-rect axiom
            length = 2 * (bw + bh)
            distance = area * (1 - rate * rate) / (length + 1e-6)
            shrunk = shrink_rect(
                _clipper_round_signed(x0), _clipper_round_signed(y0),
                _clipper_round_signed(x1), _clipper_round_signed(y1),
                distance)
            if shrunk is None:
                tags[bi] = True
                continue
            fill_rect(canvas, shrunk[0], shrunk[1], shrunk[2], shrunk[3],
                      bi + 1)
            painted += 1
        per_scale.append((rate, painted, int((canvas > 0).sum())))
    mask = np.ones((new_h, new_w), dtype=np.float32)
    for bi, (x0, y0, x1, y1) in enumerate(boxes):
        if tags[bi]:
            fill_rect(mask, int(x0), int(y0), int(x1), int(y1), 0)
    return scaled, new_h, new_w, per_scale, tags, int(mask.sum())
