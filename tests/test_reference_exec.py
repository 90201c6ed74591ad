"""Executable-reference differentials: run the REFERENCE source directly
(exec'd standalone — its paddle/cv2 imports never load) against our
kernels on randomized inputs. This is the strongest fidelity oracle in the
suite: it caught the round-2 b_with bug (the reference's ``'<b>' in
ocr_contents[i]`` is tuple membership over (text, score) — element
equality — not a substring test). Skipped when the reference checkout is
absent.
"""

from __future__ import annotations

import os
import random
import textwrap

import pytest

REF = "/root/reference/ppstructure/table"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not available")


def _exec_method(src_file: str, start: str, end: str, self_name: str,
                 ns: dict):
    src = open(os.path.join(REF, src_file)).read()
    body = src[src.index(start):src.index(end)]
    body = textwrap.dedent(body).replace(f"def {self_name}(self, ",
                                         f"def {self_name}(")
    exec("import re, copy\nimport numpy as np\n" + body, ns)
    return ns[self_name]


def test_pred_html_walks_match_executed_reference():
    import paddleocr_spark.kernels as K
    plain = _exec_method("matcher.py", "    def get_pred_html",
                         "    def get_pred_html_master",
                         "get_pred_html", {})
    master = _exec_method("matcher.py", "    def get_pred_html_master",
                          "    def _filter_ocr_result",
                          "get_pred_html_master",
                          {"deal_eb_token": K.deal_eb_token,
                           "deal_bb": K.deal_bb})
    rng = random.Random(11)
    pool = ["", " ", "a", "<b>", "</b>", "<b>x", "y</b>", " lead",
            "tail ", "w1"]
    tags = ["<td></td>", "</td>", "<td", ">", "<tr>", "</tr>", "<thead>",
            "</thead>", "<tbody>", "</tbody>", "<eb></eb>"]
    for _ in range(300):
        pred = [rng.choice(tags) for _ in range(rng.randint(0, 10))]
        contents = [rng.choice(pool) for _ in range(rng.randint(0, 6))]
        n_td = sum(1 for t in pred if "</td>" in t)
        matched = {}
        for td in range(n_td):
            if contents and rng.random() < 0.7:
                matched[td] = sorted(rng.choices(
                    range(len(contents)), k=rng.randint(1, 3)))
        tup = [(c, 0.9) for c in contents]   # the reference's rec_res shape
        assert (K.get_pred_html(pred, matched, contents)
                == plain(pred, matched, tup)[0]), (pred, matched, contents)
        assert (K.get_pred_html_master(pred, matched, contents)
                == master(pred, matched, tup)[0]), (pred, matched, contents)


def test_master_match_helpers_match_executed_reference():
    import paddleocr_spark.kernels as K
    src = open(os.path.join(REF, "table_master_match.py")).read()

    def grab(start, end, ns=None):
        ns = dict(ns or {})
        exec("import re, copy\n" + src[src.index(start):src.index(end)], ns)
        return ns

    merge = grab("def merge_span_token", "def deal_eb_token")[
        "merge_span_token"]
    eb = grab("def deal_eb_token", "def insert_text_to_token")[
        "deal_eb_token"]
    iso = grab("def deal_isolate_span", "def deal_duplicate_bb")[
        "deal_isolate_span"]
    dup = grab("def deal_duplicate_bb", "def deal_bb")["deal_duplicate_bb"]
    bb = grab("def deal_bb", "class Matcher",
              {"deal_duplicate_bb": dup, "deal_isolate_span": iso})[
        "deal_bb"]

    for toks in ([ "<td></td>", "</tbody>"],
                 ["<td", ' colspan="2"', ">", "</td>", "<td></td>"],
                 ["<td", ' rowspan="2"', ' colspan="3"', ">", "</td>"],
                 ["<tr>", "<td></td>", "</tr>"]):
        assert K.merge_span_token(toks) == merge(list(toks)), toks
    for n in ["", "1", "2", "3", "4", "5", "6", "7", "8", "9", "10"]:
        tok = f"<eb{n}></eb{n}>"
        assert K.deal_eb_token(tok) == eb(tok), tok
    htmls = [
        '<thead><tr><td>h</td><td></td></tr></thead><tbody></tbody>',
        '<thead><tr><td rowspan="2">h</td><td>k</td></tr></thead>',
        '<thead><tr><td><b>a</b><b>b</b></td></tr></thead>',
        '<thead><td></td> rowspan="2" colspan="3"></b></td></thead>',
        '<tbody><tr><td>nohead</td></tr></tbody>',
    ]
    for h in htmls:
        assert K.deal_bb(h) == bb(h), h
        assert K.deal_duplicate_bb(h) == dup(h), h
        assert K.deal_isolate_span(h) == iso(h), h


REF_ROOT = "/root/reference"


def _exec_slice(path: str, start: str, end: str | None = None,
                ns: dict | None = None):
    src = open(os.path.join(REF_ROOT, path)).read()
    ns = dict(ns or {})
    stop = len(src) if end is None else src.index(end)
    exec("import numpy as np\n" + textwrap.dedent(
        src[src.index(start):stop]), ns)
    return ns


def test_sorted_boxes_matches_executed_reference():
    import numpy as np
    from paddleocr_spark.kernels import sorted_boxes_indices
    ns = _exec_slice("tools/infer/predict_system.py",
                     "def sorted_boxes", "def main")
    rng = random.Random(3)
    for _ in range(200):
        n = rng.randint(0, 25)
        pts = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(n)]
        dt = np.array([[[x, y], [x + 40, y], [x + 40, y + 12], [x, y + 12]]
                       for x, y in pts], dtype=float).reshape(-1, 4, 2)
        want = [tuple(b[0]) for b in ns["sorted_boxes"](dt)]
        xy = np.array(pts, dtype=float).reshape(-1, 2)
        got = [tuple(xy[i]) for i in sorted_boxes_indices(xy)]
        assert got == want, pts


def test_sorted_layout_boxes_matches_executed_reference():
    import numpy as np
    from paddleocr_spark.kernels import sorted_layout_indices
    ns = _exec_slice("ppstructure/recovery/recovery_to_doc.py",
                     "def sorted_layout_boxes")
    w = 1000
    rng = random.Random(5)
    for _ in range(300):
        n = rng.randint(1, 14)
        bbs = []
        for _k in range(n):
            x1 = rng.randint(0, 800)
            y1 = rng.randint(0, 900)
            bbs.append([x1, y1, x1 + rng.randint(20, 199),
                        y1 + rng.randint(5, 60)])
        res = [{"bbox": list(b)} for b in bbs]
        want = [(tuple(r["bbox"]), r["layout"])
                for r in ns["sorted_layout_boxes"](res, w)]
        idx, layout = sorted_layout_indices(
            np.array(bbs, dtype=float), float(w))
        got = [(tuple(np.array(bbs, dtype=float)[i]), layout[k])
               for k, i in enumerate(idx)]
        assert [(tuple(map(float, b)), l) for b, l in want] == got, bbs


def test_lcs_matches_executed_reference():
    from paddleocr_spark.functions.metrics import lcs_string
    ns = _exec_slice("ppocr/metrics/rec_metric.py",
                     "def hirschberg_lcs", "class RecMetric")
    rng = random.Random(9)
    alpha = "abcd 漢字é"
    for _ in range(300):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        assert lcs_string(a, b) == ns["hirschberg_lcs"](a, b), (a, b)


def test_hard_nms_matches_executed_reference():
    import numpy as np
    from paddleocr_spark.kernels import hard_nms
    ns = _exec_slice("ppocr/postprocess/picodet_postprocess.py",
                     "def hard_nms", "class PicoDetPostProcess")
    rng = random.Random(13)
    for _ in range(200):
        n = rng.randint(1, 30)
        boxes = []
        # DISTINCT scores: our kernel's one documented deviation is a
        # STABLE argsort on tied scores (reference np.argsort is not)
        scores = rng.sample(range(1000), n)
        for k in range(n):
            x1 = rng.randint(0, 200)
            y1 = rng.randint(0, 200)
            boxes.append([x1, y1, x1 + rng.randint(5, 60),
                          y1 + rng.randint(5, 60), scores[k] / 1000.0])
        bs = np.array(boxes, dtype=float)
        want = ns["hard_nms"](bs, 0.5, top_k=8, candidate_size=20)
        picked = hard_nms(bs[:, :4], bs[:, 4], iou_threshold=0.5,
                          top_k=8, candidate_size=20)
        got = bs[picked, :]
        assert np.array_equal(got, want), boxes


def test_match_result_matches_executed_reference():
    import numpy as np
    from paddleocr_spark.kernels import match_cells
    ns = _exec_slice("ppstructure/table/matcher.py",
                     "def distance", "class TableMatch")
    src = open(os.path.join(REF_ROOT, "ppstructure/table/matcher.py")).read()
    body = textwrap.dedent(src[src.index("    def match_result"):
                               src.index("    def get_pred_html")])
    exec("import numpy as np\n"
         + body.replace("def match_result(self, ", "def match_result("), ns)
    rng = random.Random(17)
    for _ in range(150):
        nb = rng.randint(1, 12)
        nc = rng.randint(1, 8)
        obs = []
        for _k in range(nb):
            x1 = rng.randint(0, 300)
            y1 = rng.randint(0, 300)
            obs.append([x1, y1, x1 + rng.randint(5, 80),
                        y1 + rng.randint(5, 40)])
        cells = []
        for _k in range(nc):
            x1 = rng.randint(0, 300)
            y1 = rng.randint(0, 300)
            cells.append([x1, y1, x1 + rng.randint(30, 150),
                          y1 + rng.randint(20, 100)])
        want = ns["match_result"](np.array(obs, dtype=float),
                                  np.array(cells, dtype=float))
        assign = match_cells(np.array(obs, dtype=float),
                             np.array(cells, dtype=float))
        got: dict = {}
        for i, c in enumerate(assign):
            got.setdefault(int(c), []).append(i)
        assert got == want, (obs, cells)


def _exec_decode(cls_start: str, next_marker: str, shim) -> object:
    """Exec a decoder class's ``decode`` method from rec_postprocess.py
    and bind it to a hand-built shim carrying the attributes
    add_special_char would have set."""
    src = open(os.path.join(REF_ROOT,
                            "ppocr/postprocess/rec_postprocess.py")).read()
    cls = src[src.index(cls_start):src.index(next_marker)]
    start = cls.index("    def decode")
    end = cls.find("    def ", start + 10)   # decode may be the last method
    body = textwrap.dedent(cls[start:] if end == -1 else cls[start:end])
    ns: dict = {}
    exec("import numpy as np\n" + body, ns)
    return lambda ids: ns["decode"](shim, [ids])[0][0]


def test_attn_decode_matches_executed_reference():
    from paddleocr_spark.kernels import attn_label_decode
    chars = "abc xyz09"

    class Shim:
        character = ["sos"] + list(chars) + ["eos"]

        def get_ignored_tokens(self):
            return [0, len(chars) + 1]

    dec = _exec_decode("class AttnLabelDecode", "class RFLLabelDecode",
                       Shim())
    rng = random.Random(21)
    n = len(chars)
    for _ in range(300):
        ids = [rng.randint(0, n + 1) for _ in range(rng.randint(0, 15))]
        full = ["sos"] + list(chars) + ["eos"]
        assert attn_label_decode(ids, full) == dec(ids), ids


def test_sar_decode_matches_executed_reference():
    from paddleocr_spark.kernels import sar_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = list(chars) + ["<UKN>", "<BOS/EOS>", "<PAD>"]
        end_idx = n + 1
        rm_symbol = False

        def get_ignored_tokens(self):
            return [n + 2]           # padding only

    dec = _exec_decode("class SARLabelDecode", "class SATRNLabelDecode",
                       Shim())
    rng = random.Random(23)
    for _ in range(300):
        ids = [rng.randint(0, n + 2) for _ in range(rng.randint(0, 15))]
        assert sar_label_decode(ids, list(chars)) == dec(ids), ids


def test_nms_locality_matches_executed_reference():
    """Executes the reference's weighted-merge scan + standard NMS
    (locality_aware_nms.py:45-70,173-193) with only the shapely
    ``intersection`` stubbed by exact axis-aligned IoU — for rectangle
    quads that is precisely what Polygon.intersection computes, while
    the scan/merge/flush and suppression structure under test runs as
    the reference wrote it. Scores are random FLOATS so merged sums are
    distinct (the one documented deviation is a stable argsort on ties).
    """
    import numpy as np
    from paddleocr_spark.kernels import nms_locality

    def rect_iou(g, p):
        gx1, gy1, gx2, gy2 = g[0], g[1], g[4], g[5]
        px1, py1, px2, py2 = p[0], p[1], p[4], p[5]
        ix = min(gx2, px2) - max(gx1, px1)
        iy = min(gy2, py2) - max(gy1, py1)
        if ix <= 0 or iy <= 0:
            return 0.0
        inter = ix * iy
        union = ((gx2 - gx1) * (gy2 - gy1)
                 + (px2 - px1) * (py2 - py1) - inter)
        return 0.0 if union == 0 else inter / union

    src = open(os.path.join(
        REF_ROOT, "ppocr/postprocess/locality_aware_nms.py")).read()
    ns = {"intersection": rect_iou}
    exec("import numpy as np\n"
         + src[src.index("def weighted_merge"):
               src.index("def standard_nms_inds")]
         + src[src.index("def nms_locality"):
               src.index("if __name__")], ns)

    rng = random.Random(29)
    for _ in range(200):
        n = rng.randint(0, 20)
        rows = []
        for _k in range(n):
            x1 = rng.randint(0, 150)
            y1 = rng.randint(0, 150)
            x2 = x1 + rng.randint(10, 80)
            y2 = y1 + rng.randint(10, 60)
            s = rng.random()
            rows.append([x1, y1, x2, y1, x2, y2, x1, y2, s])
        polys = np.array(rows, dtype=np.float64).reshape(-1, 9)
        want = ns["nms_locality"](polys.copy(), thres=0.3)
        boxes4 = (polys[:, [0, 1, 4, 5]] if n else
                  np.zeros((0, 4)))
        kept, ksc = nms_locality(boxes4, polys[:, 8] if n else
                                 np.zeros(0), thres=0.3)
        if len(want) == 0:
            assert len(ksc) == 0
            continue
        got = np.column_stack([kept[:, 0], kept[:, 1], kept[:, 2],
                               kept[:, 1], kept[:, 2], kept[:, 3],
                               kept[:, 0], kept[:, 3], ksc])
        assert np.allclose(got, want, rtol=0, atol=1e-9), rows


def test_table_label_decode_matches_executed_reference():
    """TableLabelDecode.decode (table_postprocess.py:63-98) over one-hot
    structure probs built from random id sequences; the shim carries the
    merged dictionary and stubs _bbox_decode (bbox path not under test —
    our span model carries no pixel boxes)."""
    import numpy as np
    from paddleocr_spark.kernels import table_label_decode
    from paddleocr_spark.operators.table import TABLE_DICT

    src = open(os.path.join(
        REF_ROOT, "ppocr/postprocess/table_postprocess.py")).read()
    body = textwrap.dedent(src[src.index("    def decode"):
                               src.index("    def decode_label")])
    ns: dict = {}
    exec("import numpy as np\n" + body, ns)

    class Shim:
        character = list(TABLE_DICT)
        dict = {tok: i for i, tok in enumerate(TABLE_DICT)}
        end_str = "eos"
        td_token = ["<td>", "<td", "<td></td>"]

        def get_ignored_tokens(self):
            return [self.dict["sos"], self.dict["eos"]]

        def _bbox_decode(self, bbox, shape):
            return bbox

    shim = Shim()
    rng = random.Random(31)
    v = len(TABLE_DICT)
    for _ in range(200):
        ids = [rng.randint(0, v - 1) for _ in range(rng.randint(0, 20))]
        probs = np.zeros((1, len(ids), v))
        for i, t in enumerate(ids):
            probs[0, i, t] = 1.0
        bboxes = np.zeros((1, max(len(ids), 1), 4))
        out = ns["decode"](shim, probs, bboxes, [[100, 100, 1.0, 1.0]])
        want = out["structure_batch_list"][0][0]
        assert table_label_decode(ids, TABLE_DICT) == want, ids


def test_det_resize_shape_math_matches_executed_reference(spark):
    """DetResizeForTest.resize_image_type0 (operators.py:273-322) with
    cv2 stubbed by a shape-only resize: the SHAPE math — ratio rule,
    int() truncation, the /32 snap under Python round()'s half-even tie
    rule — runs as the reference wrote it and must agree with the
    media_resize JVM expressions on a dimension grid that includes the
    32-multiple and tie boundaries."""
    import types

    import numpy as np
    from paddleocr_spark.multimodal import media_resize

    src = open(os.path.join(
        REF_ROOT, "ppocr/data/imaug/operators.py")).read()
    body = textwrap.dedent(src[src.index("    def resize_image_type0"):
                               src.index("    def resize_image_type2")])
    cv2_stub = types.SimpleNamespace(
        resize=lambda img, wh: np.zeros((wh[1], wh[0], 3),
                                        dtype=img.dtype))
    ns = {"cv2": cv2_stub, "np": np, "sys": __import__("sys")}
    exec(body, ns)

    class Shim:
        limit_side_len = 960
        limit_type = "max"

    dims = [31, 32, 33, 48, 63, 64, 100, 500, 959, 960, 961, 1024,
            1600, 2048]
    rows = [(f"{h}x{w}", w, h) for h in dims for w in dims]
    df = spark.createDataFrame(rows,
                               "media_ref string, width long, height long")
    got = {r["media_ref"]: r for r in media_resize(df).collect()}
    for ref_id, w, h in rows:
        img = np.zeros((h, w, 3), dtype=np.uint8)
        out, (ratio_h, ratio_w) = ns["resize_image_type0"](Shim(), img)
        rh, rw = out.shape[:2]
        g = got[ref_id]
        assert (g["resize_w"], g["resize_h"]) == (rw, rh), (w, h)
        assert abs(g["ratio_h"] - ratio_h) < 5.1e-5, (w, h)
        assert abs(g["ratio_w"] - ratio_w) < 5.1e-5, (w, h)


def test_nrtr_decode_matches_executed_reference():
    from paddleocr_spark.kernels import nrtr_label_decode
    chars = "abc xyz09"

    class Shim:
        character = ["blank", "<unk>", "<s>", "</s>"] + list(chars)

    dec = _exec_decode("class NRTRLabelDecode", "class ViTSTRLabelDecode",
                       Shim())
    rng = random.Random(29)
    n = len(chars)
    for _ in range(300):
        # range includes out-of-dict positives (skip path) and negatives
        # down to -(n+4)-2 (wrap + IndexError paths)
        ids = [rng.randint(-(n + 6), n + 8)
               for _ in range(rng.randint(0, 15))]
        assert nrtr_label_decode(ids, list(chars)) == dec(ids), ids


def test_filter_tag_det_res_matches_executed_reference():
    """predict_det.py:192-223 clip + min-side filter (round-4 widening):
    exec the reference's three methods bound to a shim class and fuzz
    quads including out-of-bounds floats, sub-4px slivers, and diamond
    configurations that hit order_points_clockwise's np.delete-on-
    coincident-argmin/argmax quirk."""
    import numpy as np

    from paddleocr_spark.kernels import filter_tag_det_res

    src = open("/root/reference/tools/infer/predict_det.py").read()

    def grab(name: str, nxt: str) -> str:
        return textwrap.dedent(src[src.index(f"    def {name}"):
                                   src.index(f"    def {nxt}")])

    ns: dict = {"np": np}
    exec(grab("order_points_clockwise", "clip_det_res")
         + grab("clip_det_res", "filter_tag_det_res")
         + grab("filter_tag_det_res", "filter_tag_det_res_only_clip"), ns)
    Shim = type("Shim", (), {k: ns[k] for k in (
        "order_points_clockwise", "clip_det_res", "filter_tag_det_res")})
    ref = Shim()

    rng = random.Random(31)
    for trial in range(300):
        h, w = rng.randint(5, 60), rng.randint(5, 60)
        boxes = []
        for _ in range(rng.randint(0, 6)):
            kind = rng.random()
            if kind < 0.2:          # diamond: all corner sums equal
                c, r = rng.uniform(5, 30), rng.uniform(1, 8)
                q = [[c - r, c], [c, c - r], [c + r, c], [c, c + r]]
            elif kind < 0.4:        # sliver below the >3 bar
                x, y = rng.uniform(-5, w), rng.uniform(-5, h)
                q = [[x, y], [x + 2.5, y], [x + 2.5, y + 2.0], [x, y + 2.0]]
            else:                   # general quad, may exceed bounds
                q = [[rng.uniform(-10, w + 10), rng.uniform(-10, h + 10)]
                     for _ in range(4)]
            boxes.append(np.array(q, dtype=np.float32))
        got = filter_tag_det_res([b.copy() for b in boxes], (h, w))
        want = ref.filter_tag_det_res([b.copy() for b in boxes], (h, w))
        assert np.array_equal(got, want), (trial, boxes, got, want)


def test_vitstr_decode_matches_executed_reference():
    """ViTSTR inherits NRTR's decode verbatim (rec_postprocess.py:1102)
    over the 2-special dict; the __call__ column drop is applied here by
    slicing ids[1:] before the executed reference walk, exactly the
    preds[:, 1:] line (:1110-1114)."""
    from paddleocr_spark.kernels import vitstr_label_decode
    chars = "abc xyz09"

    class Shim:
        character = ["<s>", "</s>"] + list(chars)

    dec = _exec_decode("class NRTRLabelDecode", "class ViTSTRLabelDecode",
                       Shim())
    rng = random.Random(31)
    n = len(chars)
    for _ in range(300):
        # out-of-dict positives (skip path) + negatives (wrap/IndexError)
        ids = [rng.randint(-(n + 4), n + 6)
               for _ in range(rng.randint(0, 15))]
        assert vitstr_label_decode(ids, list(chars)) == dec(ids[1:]), ids


def test_srn_decode_matches_executed_reference():
    from paddleocr_spark.kernels import srn_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = list(chars) + ["<BOS>", "<EOS>"]

        def get_ignored_tokens(self):
            return [n, n + 1]

    dec = _exec_decode("class SRNLabelDecode", "class SARLabelDecode",
                       Shim())
    rng = random.Random(37)
    for _ in range(300):
        # negatives wrap (no try/except in SRN: -1 -> literal '<EOS>',
        # -2 -> '<BOS>'); keep positives in-dict since out-of-range
        # raises in BOTH implementations
        ids = [rng.randint(-2, n + 1) for _ in range(rng.randint(0, 15))]
        assert srn_label_decode(ids, list(chars)) == dec(ids), ids


def test_ct_postprocess_matches_executed_reference():
    """Executes the reference's ENTIRE CTPostProcess class
    (ct_postprocess.py:30-152, box_type='rect') with stub modules for
    paddle/pyclipper and a cv2 shim backed by our own primitives
    (connectedComponents → kernels.connected_components_4, identity
    same-size INTER_NEAREST resize, minAreaRect/boxPoints →
    pixelops.min_area_box) — the centripetal propagation, small-kernel
    zeroing, score pocket, min_area/min_score filters, and the 0.85
    shrink all run as the reference wrote them. Our ct_boxes must emit
    the same box count and the same int32 corner envelopes."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.kernels import connected_components_4, ct_boxes
    from paddleocr_spark.operators.spatial import (CT_GRID, CT_ORG,
                                                   ct_doc_maps)
    from paddleocr_spark.pixelops import min_area_box

    class _FakeTensor:        # isinstance(x, paddle.Tensor) is False
        pass

    paddle_stub = types.ModuleType("paddle")
    paddle_stub.Tensor = _FakeTensor
    cv2_stub = types.ModuleType("cv2")
    cv2_stub.INTER_NEAREST = 0

    def _cc(kernel, connectivity=4):
        assert connectivity == 4
        return connected_components_4(kernel.astype(bool))

    def _resize(arr, size, interpolation=None):
        assert size == (arr.shape[1], arr.shape[0])  # identity here
        return arr

    cv2_stub.connectedComponents = _cc
    cv2_stub.resize = _resize
    cv2_stub.minAreaRect = lambda pts: min_area_box(pts)
    cv2_stub.boxPoints = lambda rect: rect
    saved = {m: sys.modules.get(m) for m in ("paddle", "cv2", "pyclipper")}
    sys.modules["paddle"] = paddle_stub
    sys.modules["cv2"] = cv2_stub
    sys.modules["pyclipper"] = types.ModuleType("pyclipper")
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/postprocess/"
                   "ct_postprocess.py").read()
        exec(src[src.index("from __future__"):], ns)
        post = ns["CTPostProcess"](box_type="rect")
        for d in range(40):
            out, score = ct_doc_maps(d)
            preds = {"maps": out[None].astype(np.float32),
                     "score": score[None].astype(np.float32)}
            batch = [np.array([CT_ORG, CT_ORG, 3, CT_GRID, CT_GRID, 3])]
            want = post(preds, batch)[0]["points"]
            got = ct_boxes(out, score, (CT_ORG, CT_ORG))
            assert len(got) == len(want), d
            for (x1, y1, x2, y2, _s), bbox in zip(got, want):
                assert (x1, y1, x2, y2) == (
                    int(bbox[:, 0].min()), int(bbox[:, 1].min()),
                    int(bbox[:, 0].max()), int(bbox[:, 1].max())), d
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v


def test_sast_postprocess_matches_executed_reference():
    """Executes the reference's ENTIRE SASTPostProcess
    (sast_postprocess.py:33-357) including its own locality_aware_nms
    module — the only substitutions are import stubs (paddle/cv2, both
    unused on this path) and the NMS module's shapely ``intersection``,
    replaced by exact axis-aligned IoU (exact for the axis-aligned
    rectangle quads the synthesis emits, as in the EAST NMS
    differential). Quad restore, weighted merge, standard NMS, TCO
    clustering, every filter, center-line sampling, border-offset poly
    assembly and width expansion all run as the reference wrote them."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.kernels import sast_polys
    from paddleocr_spark.operators.spatial import (SAST_RATIO, SAST_SRC,
                                                   sast_doc_maps)

    def _axis_iou(g, p):
        gx, gy = g[0:8:2], g[1:8:2]
        px, py = p[0:8:2], p[1:8:2]
        ix = min(gx.max(), px.max()) - max(gx.min(), px.min())
        iy = min(gy.max(), py.max()) - max(gy.min(), py.min())
        if ix <= 0 or iy <= 0:
            return 0.0
        inter = ix * iy
        union = ((gx.max() - gx.min()) * (gy.max() - gy.min())
                 + (px.max() - px.min()) * (py.max() - py.min()) - inter)
        return 0.0 if union == 0 else inter / union

    # exec the reference's OWN nms module with only shapely intersection
    # swapped; expose it as the relative module sast_postprocess imports
    nms_src = open("/root/reference/ppocr/postprocess/"
                   "locality_aware_nms.py").read()
    nms_ns: dict = {}
    exec(nms_src[nms_src.index("import numpy"):]
         .replace("from shapely.geometry import Polygon", ""),
         nms_ns)
    nms_ns["intersection"] = _axis_iou

    class _FakeTensor:
        pass

    saved = {m: sys.modules.get(m) for m in ("paddle", "cv2")}
    paddle_stub = types.ModuleType("paddle")
    paddle_stub.Tensor = _FakeTensor
    sys.modules["paddle"] = paddle_stub
    sys.modules["cv2"] = types.ModuleType("cv2")
    try:
        src = open("/root/reference/ppocr/postprocess/"
                   "sast_postprocess.py").read()
        src = src[src.index("import numpy"):].replace(
            "from .locality_aware_nms import nms_locality", "")
        ns = {"nms_locality": nms_ns["nms_locality"], "sys": sys,
              "os": os, "time": __import__("time")}
        exec(src, ns)
        post = ns["SASTPostProcess"]()
        for d in range(60):
            tcl, tvo, tbo, tco = sast_doc_maps(d)
            outs = {"f_score": tcl.transpose(2, 0, 1)[None],
                    "f_border": tbo.transpose(2, 0, 1)[None],
                    "f_tvo": tvo.transpose(2, 0, 1)[None],
                    "f_tco": tco.transpose(2, 0, 1)[None]}
            shape_list = [np.array([SAST_SRC, SAST_SRC,
                                    SAST_RATIO, SAST_RATIO])]
            want = post(outs, shape_list)[0]["points"]
            got = sast_polys(tcl, tvo, tbo, tco, SAST_RATIO, SAST_RATIO,
                             SAST_SRC, SAST_SRC)
            assert len(got) == len(want), d
            for g, wpoly in zip(got, want):
                assert np.allclose(g, wpoly, atol=0, rtol=0), d
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v


def test_fce_postprocess_matches_executed_reference():
    """Executes the reference's ENTIRE FCEPostProcess
    (fce_postprocess.py:64-239) plus its REAL poly_nms module
    (ppocr/utils/poly_nms.py). Substitutions: paddle stub; cv2
    floodFill/findContours/drawContours backed by our 4-CC labeling
    (identical pixel sets for the simply-connected hole-filled blobs
    the synthesis emits); shapely's Polygon swapped for a shim over our
    Sutherland-Hodgman clipper with buffer() as identity — the same
    deviations fce_boundaries documents, so score fusion, hole fill,
    per-pixel Fourier reconstruction, ifft placement, int32 truncation,
    the two-level NMS walk and the resize all run as reference code."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.kernels import (connected_components_4,
                                         convex_intersect_area,
                                         fce_boundaries, poly_area)
    from paddleocr_spark.operators.spatial import FCE_RATIO, fce_doc_maps

    class _Poly:
        def __init__(self, pts):
            self.pts = np.asarray(pts, dtype=np.float64)

        is_valid = True

        def buffer(self, _b):
            return self

        @property
        def area(self):
            return poly_area(self.pts) if len(self.pts) >= 3 else 0.0

        def __and__(self, other):
            a, b = self.pts, other.pts
            if (a[:, 0].max() <= b[:, 0].min()
                    or b[:, 0].max() <= a[:, 0].min()
                    or a[:, 1].max() <= b[:, 1].min()
                    or b[:, 1].max() <= a[:, 1].min()):
                return types.SimpleNamespace(area=0.0)
            return types.SimpleNamespace(area=convex_intersect_area(a, b))

        def intersection(self, other):
            return self & other

    # exec the REAL poly_nms module with the Polygon shim
    pn_src = open("/root/reference/ppocr/utils/poly_nms.py").read()
    pn_ns: dict = {"Polygon": _Poly}
    exec(pn_src[pn_src.index("import numpy"):].replace(
        "from shapely.geometry import Polygon", ""), pn_ns)

    class _FakeTensor:
        pass

    cv2_stub = types.ModuleType("cv2")
    cv2_stub.RETR_TREE = 0
    cv2_stub.CHAIN_APPROX_SIMPLE = 0

    def _flood_fill(canvas, _mask, seed, val):
        assert seed == (0, 0)
        _, label = connected_components_4(canvas == 0)
        canvas[label == label[0, 0]] = val

    def _find_contours(m, *_a):
        n, label = connected_components_4(m.astype(bool))
        return [label == i for i in range(1, n)], None

    def _draw_contours(img, conts, idx, color, thickness):
        assert idx == -1 and thickness == -1
        for mask in conts:
            img[mask] = color

    cv2_stub.floodFill = _flood_fill
    cv2_stub.findContours = _find_contours
    cv2_stub.drawContours = _draw_contours
    paddle_stub = types.ModuleType("paddle")
    paddle_stub.Tensor = _FakeTensor
    saved = {m: sys.modules.get(m) for m in ("paddle", "cv2")}
    sys.modules["paddle"] = paddle_stub
    sys.modules["cv2"] = cv2_stub
    try:
        src = open("/root/reference/ppocr/postprocess/"
                   "fce_postprocess.py").read()
        src = src[src.index("import cv2"):].replace(
            "from ppocr.utils.poly_nms import poly_nms, valid_boundary",
            "")
        ns = {"poly_nms": pn_ns["poly_nms"],
              "valid_boundary": pn_ns["valid_boundary"]}
        exec(src, ns)
        post = ns["FCEPostProcess"](scales=[4], fourier_degree=5)
        for d in range(40):
            cls, reg = fce_doc_maps(d)
            preds = {"lvl": np.concatenate([cls, reg])[None]}
            shape_list = np.array([[320.0, 320.0, FCE_RATIO, FCE_RATIO]])
            out = post(preds, shape_list)[0]
            got_boxes, got_scores = fce_boundaries(cls, reg, FCE_RATIO)
            assert len(got_boxes) == len(out["points"]), d
            assert got_scores == out["scores"], d
            for g, wpoly in zip(got_boxes, out["points"]):
                assert np.array_equal(g, np.asarray(wpoly,
                                                    dtype=np.float32)), d
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v


def test_drrg_postprocess_matches_executed_reference():
    """Executes the reference's ENTIRE DRRGPostprocess module
    (drrg_postprocess.py:29-326) with paddle stubbed and
    cv2.pointPolygonTest backed by our exact on-edge/ray-cast test.
    The reference pops clusters from a set of id-hashed Node objects,
    so its OUTPUT ORDER is genuinely nondeterministic — boundaries are
    compared as multisets (every boundary's points and score must
    match exactly; only order may differ)."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.kernels import _point_in_contour, drrg_boundaries
    from paddleocr_spark.operators.spatial import (DRRG_RATIO,
                                                   drrg_doc_graph)

    class _FakeTensor:
        pass

    cv2_stub = types.ModuleType("cv2")

    def _ppt(cont, point, measure_dist):
        assert measure_dist is False
        return 1.0 if _point_in_contour(cont, point) else -1.0

    cv2_stub.pointPolygonTest = _ppt
    paddle_stub = types.ModuleType("paddle")
    paddle_stub.Tensor = _FakeTensor
    saved = {m: sys.modules.get(m) for m in ("paddle", "cv2")}
    sys.modules["paddle"] = paddle_stub
    sys.modules["cv2"] = cv2_stub
    try:
        src = open("/root/reference/ppocr/postprocess/"
                   "drrg_postprocess.py").read()
        ns: dict = {}
        exec(src[src.index("import functools"):], ns)
        post = ns["DRRGPostprocess"](link_thr=0.8)
        for d in range(60):
            edges, scores, comps = drrg_doc_graph(d)
            shape_list = np.array([[320.0, 320.0, DRRG_RATIO,
                                    DRRG_RATIO]])
            out = post((edges, scores.copy(), comps), shape_list)[0]
            got_boxes, got_scores = drrg_boundaries(
                edges, scores, comps, DRRG_RATIO)
            assert len(got_boxes) == len(out["points"]), d

            def canon(boxes, bscores):
                return sorted(
                    (tuple(map(tuple, np.asarray(b, dtype=np.float64))),
                     float(s))
                    for b, s in zip(boxes, bscores))

            assert canon(got_boxes, got_scores) == canon(
                out["points"], out["scores"]), d
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v


def test_rfl_decode_matches_executed_reference():
    """RFLLabelDecode.decode (rec_postprocess.py:556-583): Attn's walk —
    ignored [beg, end] anywhere, DEAD break at eos — over ['sos'] + cs +
    ['eos']; -1 wraps to the literal 'eos'."""
    from paddleocr_spark.kernels import rfl_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = ["sos"] + list(chars) + ["eos"]

        def get_ignored_tokens(self):
            return [0, n + 1]

    dec = _exec_decode("class RFLLabelDecode", "class SEEDLabelDecode",
                       Shim())
    rng = random.Random(41)
    for _ in range(300):
        # negatives wrap down to -(n+2); out-of-range raises in BOTH
        ids = [rng.randint(-(n + 2), n + 1) for _ in range(rng.randint(0, 15))]
        assert rfl_label_decode(ids, list(chars)) == dec(ids), ids


def test_rfl_cnt_matches_executed_reference():
    """RFLLabelDecode.__call__ counting branch (rec_postprocess.py
    :601-607): length = Python round(np.sum(lens)) — banker's rounding
    on .5 ties. Exec the reference __call__ with a paddle stub."""
    import types

    import numpy as np

    from paddleocr_spark.kernels import rfl_cnt_length

    src = open(os.path.join(
        REF_ROOT, "ppocr/postprocess/rec_postprocess.py")).read()
    cls = src[src.index("class RFLLabelDecode"):
              src.index("class SEEDLabelDecode")]
    start = cls.index("    def __call__")
    body = textwrap.dedent(cls[start:cls.index("    def get_ignored_tokens")])
    ns: dict = {"np": np,
                "paddle": types.SimpleNamespace(Tensor=())}
    exec(body, ns)
    shim = types.SimpleNamespace()   # cnt branch touches no attributes
    rng = random.Random(43)
    for _ in range(200):
        # exact .25 steps land on .5 ties often — the banker's case
        lens = [rng.randint(0, 8) * 0.25 for _ in range(rng.randint(0, 12))]
        want = ns["__call__"](shim, np.array([lens], dtype=np.float64)
                              if lens else np.zeros((1, 0)))[0]
        assert rfl_cnt_length(lens) == want, lens


def test_seed_decode_matches_executed_reference():
    """SEEDLabelDecode.decode (rec_postprocess.py:660-684): live break
    at eos, NO ignored-token skip — 'padding'/'unknown' decode as
    literal dict strings."""
    from paddleocr_spark.kernels import seed_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = list(chars) + ["eos", "padding", "unknown"]

        def get_ignored_tokens(self):
            return [n]

    dec = _exec_decode("class SEEDLabelDecode", "class SRNLabelDecode",
                       Shim())
    rng = random.Random(47)
    for _ in range(300):
        ids = [rng.randint(-(n + 3), n + 2) for _ in range(rng.randint(0, 15))]
        assert seed_label_decode(ids, list(chars)) == dec(ids), ids


def test_satrn_decode_matches_executed_reference():
    """SATRNLabelDecode.decode (rec_postprocess.py:889-923), BOTH
    rm_symbol settings: SAR's walk (pad-only ignored, position-0 eos
    skipped when text_prob is None) + the lowercase/strip pass whose
    class '[^A-Z^a-z^0-9^一-龥]' keeps LITERAL carets."""
    import re as _re
    import types

    import numpy as np

    from paddleocr_spark.kernels import satrn_label_decode
    chars = "ab^ xz09"          # includes a caret: the rm_symbol quirk
    n = len(chars)
    src = open(os.path.join(
        REF_ROOT, "ppocr/postprocess/rec_postprocess.py")).read()
    cls = src[src.index("class SATRNLabelDecode"):
              src.index("class DistillationSARLabelDecode")]
    start = cls.index("    def decode")
    body = textwrap.dedent(cls[start:cls.index("    def __call__")])
    ns: dict = {"np": np, "re": _re}
    exec(body, ns)
    for rm in (False, True):
        shim = types.SimpleNamespace(
            character=list(chars) + ["<UKN>", "<BOS/EOS>", "<PAD>"],
            end_idx=n + 1, rm_symbol=rm,
            get_ignored_tokens=lambda: [n + 2])
        rng = random.Random(53)
        for _ in range(300):
            ids = [rng.randint(-(n + 3), n + 2)
                   for _ in range(rng.randint(0, 15))]
            want = ns["decode"](shim, [ids])[0][0]
            assert satrn_label_decode(ids, list(chars), rm) == want, (rm, ids)


def test_pren_decode_matches_executed_reference():
    """PRENLabelDecode.decode (rec_postprocess.py:996-1023): the only
    family that PREPENDS all three specials (pad=0/eos=1/unk=2)."""
    from paddleocr_spark.kernels import pren_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = ["<PAD>", "<EOS>", "<UNK>"] + list(chars)
        padding_idx, end_idx, unknown_idx = 0, 1, 2

    dec = _exec_decode("class PRENLabelDecode", "class NRTRLabelDecode",
                       Shim())
    rng = random.Random(59)
    for _ in range(300):
        ids = [rng.randint(-(n + 3), n + 2) for _ in range(rng.randint(0, 15))]
        assert pren_label_decode(ids, list(chars)) == dec(ids), ids


def test_abinet_decode_matches_executed_reference():
    """ABINetLabelDecode = NRTR's inherited bare-except walk
    (rec_postprocess.py:1077-1099) over the 1-special dict ['</s>'] +
    cs (add_special_char :1160-1164) — eos is id ZERO."""
    from paddleocr_spark.kernels import abinet_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = ["</s>"] + list(chars)

    dec = _exec_decode("class NRTRLabelDecode", "class ViTSTRLabelDecode",
                       Shim())
    rng = random.Random(61)
    for _ in range(300):
        # bare except: any out-of-range id (either sign) just skips
        ids = [rng.randint(-(n + 6), n + 8) for _ in range(rng.randint(0, 15))]
        assert abinet_label_decode(ids, list(chars)) == dec(ids), ids


def test_spin_decode_matches_executed_reference():
    """SPINLabelDecode = Attn's inherited decode (rec_postprocess.py
    :476-503) over the FRONT-loaded dict ['sos','eos'] + cs
    (add_special_char :1413-1418); -1 wraps to the LAST charset char."""
    from paddleocr_spark.kernels import spin_label_decode
    chars = "abc xyz09"
    n = len(chars)

    class Shim:
        character = ["sos", "eos"] + list(chars)

        def get_ignored_tokens(self):
            return [0, 1]

    dec = _exec_decode("class AttnLabelDecode", "class RFLLabelDecode",
                       Shim())
    rng = random.Random(67)
    for _ in range(300):
        ids = [rng.randint(-(n + 2), n + 1) for _ in range(rng.randint(0, 15))]
        assert spin_label_decode(ids, list(chars)) == dec(ids), ids


def test_vl_label_decode_matches_executed_reference():
    """VLLabelDecode.decode label path (rec_postprocess.py:1430-1456):
    vectorized mask of ignored [0] ANYWHERE (no break), survivors decode
    via character[id - 1] (the family's off-by-one)."""
    import types

    import numpy as np

    from paddleocr_spark.kernels import vl_label_decode
    chars = "abc xyz09"
    n = len(chars)
    src = open(os.path.join(
        REF_ROOT, "ppocr/postprocess/rec_postprocess.py")).read()
    cls = src[src.index("class VLLabelDecode"):
              src.index("class CANLabelDecode")]
    body = textwrap.dedent(cls[cls.index("    def decode"):
                               cls.index("    def __call__")])
    ns: dict = {"np": np}
    exec(body, ns)
    shim = types.SimpleNamespace(character=list(chars),
                                 get_ignored_tokens=lambda: [0])
    rng = random.Random(71)
    for _ in range(300):
        # ids 1..n in-dict; negatives wrap via character[id-1] in BOTH
        ids = [rng.randint(-(n - 1), n) for _ in range(rng.randint(1, 15))]
        want = ns["decode"](shim, np.array([ids], dtype=np.int64))[0][0]
        assert vl_label_decode(ids, list(chars)) == want, ids


def test_can_decode_matches_executed_reference():
    """CANLabelDecode.decode (rec_postprocess.py:1529-1541): seq_end =
    argmin (FIRST occurrence of the smallest id, not an eos search);
    SPACE-joined symbols."""
    import types

    import numpy as np

    from paddleocr_spark.kernels import can_label_decode
    chars = "abc xyz09"
    n = len(chars)
    src = open(os.path.join(
        REF_ROOT, "ppocr/postprocess/rec_postprocess.py")).read()
    cls = src[src.index("class CANLabelDecode"):]
    body = textwrap.dedent(cls[cls.index("    def decode"):
                               cls.index("    def __call__")])
    ns: dict = {"np": np}
    exec(body, ns)
    shim = types.SimpleNamespace(character=list(chars))
    rng = random.Random(73)
    for _ in range(300):
        # non-empty (reference argmin raises on empty); ids may repeat
        # the minimum — first occurrence must win in both
        ids = [rng.randint(0, n - 1) for _ in range(rng.randint(1, 15))]
        want = ns["decode"](shim, np.array([ids], dtype=np.int64))[0][0]
        assert can_label_decode(ids, list(chars)) == want, ids


def _exec_korean_module(fname: str) -> dict:
    """Exec a reference korean_* util module with rapidfuzz (absent in
    this container) stubbed by a plain-python Levenshtein; pydantic is
    stubbed too if unavailable (validate_call is a pass-through)."""
    import sys
    import types

    import numpy as np

    def _lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    class _Lev2:
        @staticmethod
        def normalized_distance(a, b):
            m = max(len(a), len(b))
            return _lev(a, b) / m if m else 0.0

    dist = types.ModuleType("rapidfuzz.distance")
    dist.Levenshtein = _Lev2
    rf = types.ModuleType("rapidfuzz")
    rf.distance = dist
    saved = {m: sys.modules.get(m)
             for m in ("rapidfuzz", "rapidfuzz.distance", "pydantic")}
    sys.modules["rapidfuzz"] = rf
    sys.modules["rapidfuzz.distance"] = dist
    # ALWAYS stub pydantic: real validate_call resolves the exec'd
    # functions' string annotations through a module globalns that
    # doesn't exist here (NameError: Union); validation is not the
    # behavior under test.
    pyd = types.ModuleType("pydantic")
    pyd.BaseModel = object
    pyd.validate_call = lambda f: f
    sys.modules["pydantic"] = pyd
    src = open(os.path.join(REF_ROOT, "ppocr/utils", fname)).read()
    ns: dict = {"np": np}
    try:
        exec(compile(src, fname, "exec"), ns)
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v
    return ns


def _random_korean(rng, n) -> str:
    """Mixed string: Hangul across the whole block INCLUDING the
    reference's 55200..55203 passthrough quirk range, plus ASCII."""
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.55:
            out.append(chr(rng.randint(44032, 55203)))
        elif r < 0.65:
            out.append(chr(rng.randint(55196, 55203)))   # the boundary
        else:
            out.append(rng.choice("abc XYZ09.^"))
    return "".join(out)


def test_grapheme_decompose_matches_executed_reference():
    from paddleocr_spark.kernels import decompose_korean_char
    ns = _exec_korean_module("korean_grapheme_label.py")
    rng = random.Random(79)
    for _ in range(200):
        text = _random_korean(rng, rng.randint(0, 20))
        want = ns["decompose_korean_char"](text)
        got = decompose_korean_char(text)
        assert got == (want["initial"], want["medial"], want["final"]), text


def test_grapheme_compose_matches_executed_reference():
    """compose_korean_char (the prob dialect) against the executed
    reference: jamo strings built FROM decomposition (so >=2-known
    paths fire) plus raw mixed strings (fallback paths), with prob
    lists, int scalars, and None."""
    from paddleocr_spark.kernels import (compose_korean_char,
                                         decompose_korean_char)
    ns = _exec_korean_module("korean_grapheme_label.py")
    rng = random.Random(83)
    for trial in range(200):
        if trial % 2 == 0:
            i, m, f = decompose_korean_char(_random_korean(
                rng, rng.randint(0, 15)))
        else:
            i = _random_korean(rng, rng.randint(0, 15))
            m = _random_korean(rng, len(i))
            f = _random_korean(rng, len(i))
        kind = rng.random()
        if kind < 0.4:
            ip = [rng.randint(0, 8) * 0.125 for _ in i]
            mp = [rng.randint(0, 8) * 0.125 for _ in i]
            fp = [rng.randint(0, 8) * 0.125 for _ in i]
        elif kind < 0.6:
            ip = mp = fp = None
        else:
            ip, mp, fp = rng.randint(0, 3), rng.randint(0, 3), None
        want = ns["compose_korean_char"](i, m, f, ip, mp, fp)
        got = compose_korean_char(i, m, f, ip, mp, fp)
        assert got[0] == want[0], (i, m, f, got[0], want[0])
        assert got[1] == want[1], (i, m, f, ip, mp, fp, got[1], want[1])


def test_grapheme_compose_label_matches_executed_reference():
    from paddleocr_spark.kernels import (compose_korean_char_grapheme_label,
                                         decompose_korean_char)
    ns = _exec_korean_module("korean_compose.py")
    rng = random.Random(89)
    for trial in range(200):
        if trial % 2 == 0:
            i, m, f = decompose_korean_char(_random_korean(
                rng, rng.randint(0, 15)))
        else:
            i = _random_korean(rng, rng.randint(0, 15))
            m = _random_korean(rng, rng.randint(0, 15))
            f = _random_korean(rng, rng.randint(0, 15))
        want = ns["compose_korean_char_grapheme_label"](i, m, f)
        got = compose_korean_char_grapheme_label(i, m, f)
        assert got == want, (i, m, f, got, want)


def test_grapheme_edit_dis_matches_executed_reference():
    """Executes the reference grapheme_edit_dis and confirms the
    dict-keys bug live: every non-empty pair scores 0.0 regardless of
    content, and the empty-side branch returns 1 only when the lengths
    match (both empty)."""
    from paddleocr_spark.kernels import grapheme_edit_dis
    ns = _exec_korean_module("korean_grapheme_label.py")
    rng = random.Random(97)
    for _ in range(100):
        x = _random_korean(rng, rng.randint(0, 10))
        y = _random_korean(rng, rng.randint(0, 10))
        assert grapheme_edit_dis(x, y) == ns["grapheme_edit_dis"](x, y), \
            (x, y)
    assert ns["grapheme_edit_dis"]("한", "글") == 0.0       # the bug, live
    assert ns["grapheme_edit_dis"]("한글과 영어", "xyz") == 0.0
    assert ns["grapheme_edit_dis"]("", "") == 1
    assert ns["grapheme_edit_dis"]("", "x") == 0


def _exec_utf8_module() -> dict:
    """korean_compose_by_utf8.py imports only functools/operator/math —
    exec'able directly."""
    src = open(os.path.join(
        REF_ROOT, "ppocr/utils/korean_compose_by_utf8.py")).read()
    ns: dict = {}
    exec(compile(src, "korean_compose_by_utf8.py", "exec"), ns)
    return ns


def _random_jamo_stream(rng, n) -> str:
    """Adversarial flat stream: raw jamo letters (so greedy-scan
    boundaries get exercised), decomposed syllables, ASCII."""
    from paddleocr_spark.kernels import (CHOSUNG, JONGSUNG, JUNGSUNG,
                                         decompose_hangul_by_utf8)
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.3:
            out.append(rng.choice(CHOSUNG))
        elif r < 0.5:
            out.append(rng.choice(JUNGSUNG))
        elif r < 0.65:
            out.append(rng.choice(JONGSUNG))   # includes '@'
        elif r < 0.85:
            out.append(decompose_hangul_by_utf8(
                chr(rng.randint(44032, 55203))))
        else:
            out.append(rng.choice("ax 9."))
    return "".join(out)


def test_utf8_decompose_matches_executed_reference():
    from paddleocr_spark.kernels import decompose_hangul_by_utf8
    ns = _exec_utf8_module()
    rng = random.Random(101)
    for _ in range(200):
        text = _random_korean(rng, rng.randint(0, 20))
        assert decompose_hangul_by_utf8(text) == \
            ns["decompose_hangul_by_utf8"](text), text
    # dialect difference vs korean_grapheme_label: FULL-block bound
    assert ns["decompose_hangul_by_utf8"]("힣") == "ㅎㅣㅎ"


def test_utf8_compose_matches_executed_reference():
    from paddleocr_spark.kernels import compose_string_by_utf8
    ns = _exec_utf8_module()
    rng = random.Random(103)
    for _ in range(300):
        jamo = _random_jamo_stream(rng, rng.randint(0, 10))
        # probs deliberately longer/shorter sometimes: min-len truncation
        plen = max(0, len(jamo) + rng.randint(-2, 2))
        ps = [rng.randint(1, 8) / 8 for _ in range(plen)]
        want = ns["compose_string_by_utf8"](jamo, ps)
        got = compose_string_by_utf8(jamo, ps)
        assert got[0] == want[0], (jamo, got[0], want[0])
        assert got[1] == want[1], (jamo, ps)


def test_utf8_ensembles_match_executed_reference():
    from paddleocr_spark.kernels import (char_level_ensemble,
                                         char_level_ensemble_by_threshold,
                                         log_avg_prob, mul_prob,
                                         threshold_word_ensemble_log_avg,
                                         threshold_word_ensemble_mul,
                                         word_level_ensemble)
    ns = _exec_utf8_module()
    rng = random.Random(107)
    for _ in range(300):
        n1, n2 = rng.randint(0, 8), rng.randint(0, 8)
        p1 = ("".join(rng.choice("ab한글") for _ in range(n1)),
              [rng.randint(0, 8) / 8 for _ in range(n1)])
        p2 = ("".join(rng.choice("xy한글") for _ in range(n2)),
              [rng.randint(0, 8) / 8 for _ in range(n2)])
        assert char_level_ensemble(p1, p2) == \
            ns["char_level_ensemble"](p1, p2), (p1, p2)
        for on in ("left", "right"):
            th = rng.choice([0.25, 0.5, 0.75])
            assert char_level_ensemble_by_threshold(p1, p2, th, on) == \
                ns["char_level_ensemble_by_threshold"](p1, p2, th, on)
            assert threshold_word_ensemble_mul(p1, p2, th, on) == \
                ns["threshold_based_word_level_ensemble_with_mul_prob"](
                    p1, p2, th, on), (p1, p2, th, on)
            assert threshold_word_ensemble_log_avg(p1, p2, th, on) == \
                ns["threshold_based_word_level_ensemble_with_log_avg_prob"](
                    p1, p2, th, on), (p1, p2, th, on)
        assert word_level_ensemble(p1, p2) == \
            ns["word_level_ensemble"](p1, p2), (p1, p2)
        assert mul_prob(p1[1]) == ns["mul_prob"](p1[1])
        assert log_avg_prob(p1[1]) == ns["log_avg_prob"](p1[1])


def test_label_encoders_match_executed_reference():
    """R5: run the reference's BaseRecLabelEncode/CTC/Attn/SAR/Det label
    encoders (ppocr/data/imaug/label_ops.py, character_dict_path=None)
    against the labelenc Python twins on randomized texts covering every
    reject branch, the out-of-dict skip, the forced lower-folding, and
    the Attn length-24 26-element-label quirk."""
    import json as _json
    import types

    from paddleocr_spark.functions import labelenc as LE

    shim = {"get_logger": lambda: types.SimpleNamespace(
        warning=lambda *a, **k: None), "json": _json}
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class BaseRecLabelEncode",
                     "class CTCLabelEncode_GraphemeLabel", shim)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class AttnLabelEncode", "class RFLLabelEncode", ns)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class SARLabelEncode", "class SATRNLabelEncode", ns)
    det_ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                         "class DetLabelEncode", "class BaseRecLabelEncode",
                         shim)
    ctc = ns["CTCLabelEncode"](25)
    attn = ns["AttnLabelEncode"](25)
    sar = ns["SARLabelEncode"](25)
    det = det_ns["DetLabelEncode"]()

    rng = random.Random(41)
    pool = "abcXYZ019 .,!한글*#"
    texts = ["", "a" * 26, "   ", "한글한", "A" * 24, "a" * 24, "b" * 23]
    texts += ["".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
              for _ in range(400)]
    for t in texts:
        r = ctc({"label": t})
        mine = LE.ctc_encode_py(t)
        if r is None:
            assert mine is None, t
        else:
            label, length, ace = mine
            assert r["label"].tolist() == label, t
            assert int(r["length"]) == length, t
            assert r["label_ace"].tolist() == ace, t
        r = attn({"label": t})
        mine = LE.attn_encode_py(t)
        if r is None:
            assert mine is None, t
        else:
            assert r["label"].tolist() == mine[0], t
            assert int(r["length"]) == mine[1], t
        r = sar({"label": t})
        mine = LE.sar_encode_py(t)
        if r is None:
            assert mine is None, t
        else:
            assert r["label"].tolist() == mine[0], t
            assert int(r["length"]) == mine[1], t

    # the length-24 quirk must actually fire: 26-long Attn label
    q = attn({"label": "a" * 24})
    assert len(q["label"]) == 26 and LE.attn_encode_py("a" * 24)[0] \
        == q["label"].tolist()

    for _ in range(200):
        boxes = []
        for _b in range(rng.randint(0, 5)):
            npts = rng.choice([4, 4, 5, 6])
            boxes.append({
                "transcription": rng.choice(["w1", "*", "###", "x", ""]),
                "points": [[rng.randint(0, 900), rng.randint(0, 600)]
                           for _ in range(npts)]})
        lbl = _json.dumps(boxes)
        r = det({"label": lbl})
        mine = LE.det_label_encode_py(lbl)
        if r is None:
            assert mine is None or mine == [], lbl
        else:
            assert [m[1] for m in mine] == r["texts"], lbl
            assert [m[2] for m in mine] == r["ignore_tags"].tolist(), lbl
            assert [m[3] for m in mine] == [
                [float(v) for v in b.reshape(-1)] for b in r["polys"]], lbl


def test_lmdb_dataset_matches_executed_reference(tmp_path):
    """S5: execute the reference's LMDBDataSet (ppocr/data/lmdb_dataset.py)
    — hierarchical leaf-dir discovery, num-samples, 1-based
    dataset_traversal, label-%09d/image-%09d fetch, missing-label skip —
    with ``lmdb`` shimmed by our pure-Python MDB reader, over
    environments OUR writer produced.  Compares every traversed sample
    against discover_envs + MdbFile."""
    from paddleocr_spark.sources import lmdbfile as LF

    # two leaf envs, one nested deeper (hierarchical walk), one with a
    # missing label (skip path) and one big value (overflow path)
    a = {b"num-samples": b"3",
         b"label-%09d" % 1: b"alpha",
         b"image-%09d" % 1: b"\x01" * 10,
         b"image-%09d" % 2: b"\x02" * 3000,   # label-2 missing -> skipped
         b"label-%09d" % 3: "한글".encode(),
         b"image-%09d" % 3: b"\x03" * 2500}
    b = {b"num-samples": b"2",
         b"label-%09d" % 1: b"bee",
         b"image-%09d" % 1: b"\x04" * 5,
         b"label-%09d" % 2: b"cee",
         b"image-%09d" % 2: b""}
    LF.write_mdb(str(tmp_path / "env_a"), a)
    LF.write_mdb(str(tmp_path / "deep" / "env_b"), b)

    ns = _exec_slice("ppocr/data/lmdb_dataset.py",
                     "class LMDBDataSet", "class LMDBDataSetSR",
                     {"lmdb": LF.lmdb_shim, "os": os,
                      "Dataset": object})
    ds = ns["LMDBDataSet"].__new__(ns["LMDBDataSet"])
    ds.lmdb_sets = ds.load_hierarchical_lmdb_dataset(str(tmp_path))
    order = ds.dataset_traversal()

    ours = {p: (i, n) for i, p, n in LF.discover_envs(str(tmp_path))}
    # same envs + counts discovered (walk order is fs-dependent; compare
    # by dirpath)
    ref_sets = {v["dirpath"].rstrip("/"): v["num_samples"]
                for v in ds.lmdb_sets.values()}
    assert ref_sets == {p: n for p, (i, n) in ours.items()}
    assert len(order) == 5 and order[0].tolist() == [0.0, 1.0]

    got = {}
    for lno, fidx in order:
        info = ds.get_lmdb_sample_info(
            ds.lmdb_sets[int(lno)]["txn"], int(fidx))
        dirpath = ds.lmdb_sets[int(lno)]["dirpath"].rstrip("/")
        if info is not None:
            got[(dirpath, int(fidx))] = (info[1], info[0])

    exp = {}
    for p, (i, n) in ours.items():
        mdb = LF.MdbFile(p)
        for fidx in range(1, n + 1):
            lab = mdb.get(b"label-%09d" % fidx)
            if lab is not None:
                exp[(p, fidx)] = (lab.decode("utf-8"),
                                  mdb.get(b"image-%09d" % fidx))
        mdb.close()
    assert got == exp and len(got) == 4          # label-2 of env_a skipped


def test_make_shrink_map_matches_executed_reference():
    """R6: execute the reference's MakeShrinkMap class
    (ppocr/data/imaug/make_shrink_map.py) over random axis-aligned rect
    polys, with cv2.fillPoly / pyclipper inward offset / shapely Polygon
    shimmed by the same small axioms our kernel uses (inclusive rect
    fill, inset+Clipper-grid-round-or-empty, rect area/perimeter) — the
    reference's control flow (validate_polygons clip + degeneracy,
    min_text_size, ratio loop, mask/gt fills, ignore_tags mutation) runs
    for real.  Rasters and final ignore_tags must match bit-for-bit."""
    import types

    import numpy as np

    import paddleocr_spark.kernels as K

    class _Poly:
        def __init__(self, pts):
            p = np.asarray(pts, dtype=np.float64)
            x = p[:, 0]
            y = p[:, 1]
            self.area = abs(float(
                np.sum(x * np.roll(y, 1) - y * np.roll(x, 1))) / 2.0)
            self.length = float(np.sum(np.hypot(
                np.diff(np.r_[x, x[0]]), np.diff(np.r_[y, y[0]]))))

    class _Offset:
        def AddPath(self, path, jt, et):
            p = np.asarray(path, dtype=np.float64)
            self.x0, self.y0 = p[:, 0].min(), p[:, 1].min()
            self.x1, self.y1 = p[:, 0].max(), p[:, 1].max()

        def Execute(self, delta):
            r = K.shrink_rect(self.x0, self.y0, self.x1, self.y1, -delta)
            if r is None:
                return []
            x0, y0, x1, y1 = r
            return [[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]

    def _fill(img, pts_list, val):
        for pts in pts_list:
            p = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
            K.fill_rect(img, int(p[:, 0].min()), int(p[:, 1].min()),
                        int(p[:, 0].max()), int(p[:, 1].max()), val)

    ns = _exec_slice(
        "ppocr/data/imaug/make_shrink_map.py", "class MakeShrinkMap", None,
        {"cv2": types.SimpleNamespace(fillPoly=_fill),
         "Polygon": _Poly,
         "pyclipper": types.SimpleNamespace(
             PyclipperOffset=_Offset, JT_ROUND=0, ET_CLOSEDPOLYGON=0)})
    op = ns["MakeShrinkMap"]()

    rng = random.Random(31)
    for trial in range(150):
        h, w = rng.choice([(68, 120), (40, 40), (16, 200)])
        n = rng.randint(0, 6)
        rects, tags = [], []
        for _ in range(n):
            x0 = rng.randint(-10, w + 5)
            y0 = rng.randint(-10, h + 5)
            bw = rng.choice([0, 2, 5, 8, 9, 15, 40, 90])
            bh = rng.choice([0, 2, 5, 8, 9, 15, 30])
            rects.append([x0, y0, x0 + bw, y0 + bh])
            tags.append(rng.random() < 0.25)
        polys = np.array(
            [[[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
             for x0, y0, x1, y1 in rects], dtype=np.float32
        ).reshape(n, 4, 2)
        data = op({"image": np.zeros((h, w, 3), dtype=np.uint8),
                   "polys": polys.copy(),
                   "ignore_tags": list(tags)})
        _rec, gt, mask = K.make_shrink_map(
            np.array(rects, dtype=np.float64).reshape(-1, 4),
            np.array(tags, dtype=bool), h, w)
        assert np.array_equal(data["shrink_map"], gt), (trial, rects, tags)
        assert np.array_equal(data["shrink_mask"], mask), (trial, rects,
                                                           tags)


def test_make_border_map_matches_executed_reference():
    """R6: execute the reference's MakeBorderMap
    (ppocr/data/imaug/make_border_map.py) over random canvas-intersecting
    rects — the _distance law-of-cosines map, clip/min/fmax pipeline,
    valid-window slicing, float32 casts, and thresh affine all run from
    the reference source — with pyclipper's outward offset and
    cv2.fillPoly shimmed by the same bbox axioms our kernel documents
    as its deviation.  Rasters must match bit-for-bit."""
    import types

    import numpy as np

    import paddleocr_spark.kernels as K

    class _Poly:
        def __init__(self, pts):
            p = np.asarray(pts, dtype=np.float64)
            x, y = p[:, 0], p[:, 1]
            self.area = abs(float(
                np.sum(x * np.roll(y, 1) - y * np.roll(x, 1))) / 2.0)
            self.length = float(np.sum(np.hypot(
                np.diff(np.r_[x, x[0]]), np.diff(np.r_[y, y[0]]))))

    class _Offset:
        def AddPath(self, path, jt, et):
            p = np.asarray(path, dtype=np.float64)
            self.x0, self.y0 = p[:, 0].min(), p[:, 1].min()
            self.x1, self.y1 = p[:, 0].max(), p[:, 1].max()

        def Execute(self, delta):
            x0 = K._clipper_round(self.x0 - delta)
            y0 = K._clipper_round(self.y0 - delta)
            x1 = K._clipper_round(self.x1 + delta)
            y1 = K._clipper_round(self.y1 + delta)
            return [[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]

    def _fill(img, pts_list, val):
        for pts in pts_list:
            p = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
            K.fill_rect(img, int(p[:, 0].min()), int(p[:, 1].min()),
                        int(p[:, 0].max()), int(p[:, 1].max()), val)

    ns = _exec_slice(
        "ppocr/data/imaug/make_border_map.py", "class MakeBorderMap", None,
        {"cv2": types.SimpleNamespace(fillPoly=_fill),
         "Polygon": _Poly,
         "pyclipper": types.SimpleNamespace(
             PyclipperOffset=_Offset, JT_ROUND=0, ET_CLOSEDPOLYGON=0)})
    op = ns["MakeBorderMap"]()

    rng = random.Random(67)
    for trial in range(120):
        h, w = rng.choice([(68, 120), (40, 40), (24, 180)])
        n = rng.randint(0, 5)
        rects, tags = [], []
        for _ in range(n):
            x0 = rng.randint(0, w - 2)
            y0 = rng.randint(0, h - 2)
            bw = rng.choice([0, 3, 9, 15, 40])
            bh = rng.choice([0, 3, 9, 15, 28])
            rects.append([x0, y0, x0 + bw, y0 + bh])   # may overflow right
            tags.append(rng.random() < 0.3)
        polys = np.array(
            [[[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
             for x0, y0, x1, y1 in rects], dtype=np.float32
        ).reshape(n, 4, 2)
        data = op({"image": np.zeros((h, w, 3), dtype=np.uint8),
                   "polys": polys.copy(),
                   "ignore_tags": list(tags)})
        canvas, mask = K.make_border_map(
            np.array(rects, dtype=np.float64).reshape(-1, 4),
            np.array(tags, dtype=bool), h, w)
        assert np.array_equal(data["threshold_map"], canvas), (trial, rects)
        assert np.array_equal(data["threshold_mask"], mask), (trial, rects)


def test_label_encoder_roster_matches_executed_reference():
    """R5 closing wave: execute the reference's SEED/SRN/NRTR/ViTSTR/
    ABINet/SPIN/RFL/PREN/CAN/Cls label encoders against the labelenc
    twins — pinning SEED's length+1, SRN/SPIN's > (not >=) rejects,
    RFL's post-pad !=25 re-reject of n==24, PREN's unknown→2 mapping,
    and CAN's vanishing-'<EOS>' + label=None-without-drop quirks."""
    import types

    from paddleocr_spark.functions import labelenc as LE

    shim = {"get_logger": lambda: types.SimpleNamespace(
        warning=lambda *a, **k: None)}
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class BaseRecLabelEncode",
                     "class CTCLabelEncode_GraphemeLabel", shim)
    for start, end in [
            ("class AttnLabelEncode", "class RFLLabelEncode"),
            ("class RFLLabelEncode", "class SEEDLabelEncode"),
            ("class SEEDLabelEncode", "class SRNLabelEncode"),
            ("class SRNLabelEncode", "class TableLabelEncode"),
            ("class NRTRLabelEncode", "class ViTSTRLabelEncode"),
            ("class ViTSTRLabelEncode", "class ABINetLabelEncode"),
            ("class ABINetLabelEncode",
             "class ABINetLabelEncode_GraphemeLabel"),
            ("class SPINLabelEncode", "class VLLabelEncode"),
            ("class PRENLabelEncode", "class VQATokenLabelEncode"),
            ("class CANLabelEncode", None),
            ("class ClsLabelEncode", "class DetLabelEncode")]:
        ns = _exec_slice("ppocr/data/imaug/label_ops.py", start, end, ns)

    refs = {name: ns[cls](25) for name, cls in [
        ("seed", "SEEDLabelEncode"), ("srn", "SRNLabelEncode"),
        ("nrtr", "NRTRLabelEncode"), ("vitstr", "ViTSTRLabelEncode"),
        ("abinet", "ABINetLabelEncode"), ("spin", "SPINLabelEncode"),
        ("rfl", "RFLLabelEncode")]}
    pren = ns["PRENLabelEncode"](25, None)
    can = ns["CANLabelEncode"](character_dict_path=None)
    cls_enc = ns["ClsLabelEncode"](label_list=["0", "180"])

    rng = random.Random(59)
    pool = "abcXYZ019 .,!한글*#"
    texts = ["", "a" * 26, "a" * 25, "a" * 24, "b" * 23, "   ", "한글한"]
    texts += ["".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
              for _ in range(400)]
    for t in texts:
        for name, enc in refs.items():
            r = enc({"label": t})
            mine = LE.roster_encode_py(name, t)
            if r is None:
                assert mine is None, (name, t)
                continue
            assert r["label"].tolist() == mine[0], (name, t)
            assert int(r["length"]) == mine[1], (name, t)
            if name == "rfl":
                assert r["cnt_label"].tolist() == mine[2], t
        r = pren({"label": t})
        mine = LE.pren_encode_py(t)
        if r is None:
            assert mine is None, t
        else:
            assert r["label"].tolist() == mine, t
        r = can({"label": t})                 # never None: quirk
        assert r is not None, t
        assert r["label"] == LE.can_encode_py(t), t

    for lab, want in [("0", 0), ("180", 1), ("90", None), ("", None)]:
        r = cls_enc({"label": lab})
        assert (r is None and want is None) or r["label"] == want, lab


def test_table_label_encode_matches_executed_reference(tmp_path):
    """R5: execute the reference's TableLabelEncode (label_ops.py:674-788,
    merge_no_span_structure=True) over randomized structures — adjacent
    bare '<td>'s (the unconditional-skip quirk), raw span tokens,
    empties, unknowns — with the dict file materialized from the repo's
    TABLE_DICT, against table_label_encode_py."""
    import types

    from paddleocr_spark.functions.labelenc import table_label_encode_py
    from paddleocr_spark.operators.table import TABLE_TOKENS

    dict_file = tmp_path / "table_dict.txt"
    dict_file.write_text("\n".join(TABLE_TOKENS) + "\n")

    shim = {"get_logger": lambda: types.SimpleNamespace(
        warning=lambda *a, **k: None)}
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class BaseRecLabelEncode",
                     "class CTCLabelEncode_GraphemeLabel", shim)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class AttnLabelEncode", "class RFLLabelEncode", ns)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class TableLabelEncode",
                     "class TableMasterLabelEncode", ns)
    enc = ns["TableLabelEncode"](40, str(dict_file),
                                 merge_no_span_structure=True)

    pool = ["<thead>", "</thead>", "<tbody>", "</tbody>", "<tr>", "</tr>",
            "<td", ">", "</td>", ' colspan="2"', 'colspan="2"',
            ' rowspan="2"', "<td></td>", "<td>", "", "zz"]
    rng = random.Random(73)
    for trial in range(300):
        structure = [rng.choice(pool) for _ in range(rng.randint(0, 44))]
        cells = []
        for c in range(50):                    # always more than td count
            cell = {"tokens": ["x"] if (trial + c) % 3 else []}
            if (trial * 7 + c) % 4:
                cell["bbox"] = [c, trial % 9, c + 8, trial % 9 + 6]
            cells.append(cell)
        import copy
        try:
            r = enc({"structure": list(structure),
                     "cells": copy.deepcopy(cells)})
        except AttributeError:
            # fork bug: out-of-dict token -> never-set use_unkown read
            with pytest.raises(AttributeError):
                table_label_encode_py(list(structure), cells)
            continue
        mine = table_label_encode_py(list(structure), cells)
        if r is None:
            assert mine is None, structure
            continue
        padded, rows = mine
        assert r["structure"].tolist() == padded, structure
        exp_boxes = {i: b for i, _c, b, m in rows if m}
        for i in range(len(padded)):
            got_mask = float(r["bbox_masks"][i][0])
            want = exp_boxes.get(i)
            assert got_mask == (1.0 if want is not None else 0.0), (
                structure, i)
            if want is not None:
                assert r["bboxes"][i].tolist() == want, (structure, i)


def test_table_master_label_encode_matches_executed_reference(tmp_path):
    """R5: TableMasterLabelEncode (label_ops.py:823-853) — appended
    specials (0-based token ids), <PAD> fill, and the post-pad length
    re-check that is LIVE here (dead in the base class): 39/40-token
    structures wrap past _max_text_len and reject."""
    import types

    from paddleocr_spark.functions.labelenc import (
        table_master_label_encode_py)
    from paddleocr_spark.operators.table import TABLE_TOKENS

    dict_file = tmp_path / "table_dict.txt"
    dict_file.write_text("\n".join(TABLE_TOKENS) + "\n")
    shim = {"get_logger": lambda: types.SimpleNamespace(
        warning=lambda *a, **k: None)}
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class BaseRecLabelEncode",
                     "class CTCLabelEncode_GraphemeLabel", shim)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class AttnLabelEncode", "class RFLLabelEncode", ns)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class TableLabelEncode",
                     "class TableMasterLabelEncode", ns)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class TableMasterLabelEncode",
                     "class TableBoxEncode", ns)
    enc = ns["TableMasterLabelEncode"](40, str(dict_file),
                                       merge_no_span_structure=True)

    pool = ["<thead>", "</thead>", "<tbody>", "</tbody>", "<tr>", "</tr>",
            "<td", ">", "</td>", ' colspan="2"', 'colspan="2"',
            ' rowspan="2"', "<td></td>", "<td>", ""]
    rng = random.Random(83)
    cases = [["<td></td>"] * k for k in (37, 38, 39, 40)]   # live re-check
    cases += [[rng.choice(pool) for _ in range(rng.randint(0, 44))]
              for _ in range(250)]
    import copy
    for structure in cases:
        cells = [{"tokens": ["x"] if c % 3 else [],
                  "bbox": [c, 1, c + 8, 7]} if c % 4 else {"tokens": ["y"]}
                 for c in range(50)]
        r = enc({"structure": list(structure), "cells": copy.deepcopy(cells)})
        mine = table_master_label_encode_py(list(structure), cells)
        if r is None:
            assert mine is None, structure
            continue
        padded, rows = mine
        assert r["structure"].tolist() == padded, structure
        exp = {i: (b, m) for i, _c, b, m in rows}
        for i in range(len(padded)):
            want = exp.get(i, (None, None))
            got_mask = float(r["bbox_masks"][i][0])
            if want[1] is None:
                assert got_mask == 0.0, (structure, i)
            else:
                assert got_mask == want[1], (structure, i)
                if want[0] is not None:
                    assert r["bboxes"][i].tolist() == want[0], (structure, i)


def test_e2e_label_encode_matches_executed_reference():
    """R5: E2ELabelEncodeTest (label_ops.py:244-283) — the per-box
    padnum-36 text ids and the whole-sample drop when ANY transcription
    rejects (including '*'/'###' ignore boxes, whose chars are all
    out-of-dict); zero-box labels survive."""
    import json as _json
    import types

    from paddleocr_spark.functions.labelenc import e2e_label_encode_test_py

    shim = {"get_logger": lambda: types.SimpleNamespace(
        warning=lambda *a, **k: None), "json": _json}
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class BaseRecLabelEncode",
                     "class CTCLabelEncode_GraphemeLabel", shim)
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class E2ELabelEncodeTest",
                     "class E2ELabelEncodeTrain", ns)
    enc = ns["E2ELabelEncodeTest"](25)

    rng = random.Random(97)
    for _ in range(250):
        boxes = []
        for _b in range(rng.randint(0, 5)):
            boxes.append({
                "transcription": rng.choice(
                    ["w1", "Ab9", "*", "###", "x" * 26, "한글", "ok ok"]),
                "points": [[rng.randint(0, 900), rng.randint(0, 600)]
                           for _ in range(4)]})
        lbl = _json.dumps(boxes)
        r = enc({"label": lbl})
        mine = e2e_label_encode_test_py(lbl)
        if r is None:
            assert mine is None, lbl
            continue
        assert mine is not None, lbl
        assert [m[2] for m in mine] == [b["transcription"] for b in boxes]
        assert [m[3] for m in mine] == r["ignore_tags"].tolist(), lbl
        assert [m[1] for m in mine] == [
            [float(v) for v in p.reshape(-1)] for p in r["polys"]], lbl
        assert [m[4] for m in mine] == [t for t in r["texts"].tolist()], lbl


def test_east_random_crop_matches_executed_reference():
    """Executes the reference's ENTIRE random_crop_data.py
    (crop_area + helpers + EastRandomCropData, :29-180) with a
    shape-only cv2.resize shim, seeding the GLOBAL np.random stream per
    trial; augments.east_crop_doc with RandomState(seed) must reproduce
    the kept-poly set bit-for-bit (same MT19937 walk, same clip/round/
    int-truncation quirks), and the reference's padded image must come
    out at the fixed output size."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import (EAST_CROP_CANVAS_MARGIN,
                                          EAST_CROP_SIZE, east_crop_doc)

    cv2_stub = types.ModuleType("cv2")
    cv2_stub.resize = lambda img, sz: np.zeros(
        (sz[1], sz[0]) + img.shape[2:], img.dtype)
    saved = sys.modules.get("cv2")
    sys.modules["cv2"] = cv2_stub
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/"
                   "random_crop_data.py").read()
        exec(src[src.index("from __future__"):], ns)
        east = ns["EastRandomCropData"]()
        rng = random.Random(77)
        for trial in range(200):
            seed = rng.randint(0, 2 ** 31 - 1)
            n = rng.randint(0, 8)
            boxes = []
            for _ in range(n):
                x1 = rng.uniform(0, G.PAGE_WIDTH - 30)
                y1 = rng.uniform(0, 150)
                boxes.append([x1, y1, x1 + rng.uniform(4, 300),
                              y1 + rng.uniform(4, 60)])
            boxes = np.array(boxes, dtype=np.float64).reshape(n, 4)
            ignored = np.array([rng.random() < 0.3 for _ in range(n)])

            h = (int(boxes[:, 3].max()) if n else 0) \
                + EAST_CROP_CANVAS_MARGIN
            polys = np.array([[[b[0], b[1]], [b[2], b[1]],
                               [b[2], b[3]], [b[0], b[3]]]
                              for b in boxes]).reshape(n, 4, 2)
            data = {"image": np.zeros((h, G.PAGE_WIDTH, 3), np.uint8),
                    "polys": polys.copy(),
                    "ignore_tags": list(ignored),
                    "texts": [f"t{i}" for i in range(n)]}
            np.random.seed(seed)
            want = east(data)

            cx, cy, cw, ch, sc, kept = east_crop_doc(
                seed, boxes, ignored)
            assert want["image"].shape == (EAST_CROP_SIZE[1],
                                           EAST_CROP_SIZE[0], 3)
            assert len(kept) == len(want["polys"]), (trial, seed)
            for (pos, nx1, ny1, nx2, ny2), wp, wt in zip(
                    kept, want["polys"], want["texts"]):
                assert wt == f"t{pos}", (trial, seed)
                wp = np.asarray(wp)
                assert (nx1, ny1, nx2, ny2) == (
                    wp[:, 0].min(), wp[:, 1].min(),
                    wp[:, 0].max(), wp[:, 1].max()), (trial, seed)
            assert [bool(ignored[p]) for p, *_ in kept] \
                == list(want["ignore_tags"]), (trial, seed)
    finally:
        if saved is None:
            sys.modules.pop("cv2", None)
        else:
            sys.modules["cv2"] = saved


def test_random_crop_img_mask_matches_executed_reference():
    """Executes the reference's RandomCropImgMask (random_crop_data.py
    :183-234) — the stdlib-random dialect — on fuzzed mask/image stacks,
    seeding the GLOBAL random stream per trial; our transcription with
    random.Random(seed) must reproduce the branch, origin, and every
    cropped array exactly (incl. the channel-first/channel-last argmin
    arms and the untouched non-crop keys)."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.augments import random_crop_img_mask

    cv2_stub = types.ModuleType("cv2")
    saved = sys.modules.get("cv2")
    sys.modules["cv2"] = cv2_stub
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/"
                   "random_crop_data.py").read()
        exec(src[src.index("from __future__"):], ns)
        rng = random.Random(99)
        for trial in range(300):
            seed = rng.randint(0, 2 ** 31 - 1)
            h, w = rng.randint(12, 50), rng.randint(12, 50)
            th, tw = rng.randint(4, h), rng.randint(4, w)
            mask = (np.random.RandomState(trial)
                    .rand(h, w) > rng.uniform(0.5, 1.02)).astype(
                        np.float32)
            data = {
                "image": np.random.RandomState(trial + 1)
                .randint(0, 255, (h, w, 3)).astype(np.uint8),
                "gt_text": mask,
                "chfirst": np.random.RandomState(trial + 2)
                .rand(2, h, w).astype(np.float32),
                "notcropped": np.arange(h * w, dtype=np.int64)
                .reshape(h, w),
            }
            keys = {"image", "gt_text", "chfirst"}
            op = ns["RandomCropImgMask"](size=(th, tw),
                                         main_key="gt_text",
                                         crop_keys=keys)
            import random as _r
            _r.seed(seed)
            want = op({k: v.copy() for k, v in data.items()})
            i, j, forced, got = random_crop_img_mask(
                seed, {k: v.copy() for k, v in data.items()},
                "gt_text", keys, (th, tw))
            for k in data:
                assert np.array_equal(got[k], want[k]), (trial, k)
            if not (h == th and w == tw):
                assert got["gt_text"].shape == (
                    min(th, h - i), min(tw, w - j)), trial
    finally:
        if saved is None:
            sys.modules.pop("cv2", None)
        else:
            sys.modules["cv2"] = saved


def test_strq2b_matches_executed_reference():
    """The reference's full-width→half-width fold (eval_end2end.py:26-35)
    vs our translate() table (textfns.FW/HW) applied in plain Python —
    the same mapping the Spark query and the DuckDB twin interpolate."""
    from paddleocr_spark.functions.textfns import FW, HW
    ns = _exec_slice("tools/end2end/eval_end2end.py",
                     "def strQ2B", "def polygon_from_str")
    table = str.maketrans(FW, HW)
    rng = random.Random(11)
    pool = ([chr(c) for c in range(0x20, 0x7F)]          # ascii
            + [chr(c) for c in range(0xFF01, 0xFF5F)]    # full-width run
            + ["　", "｟", "｠", "漢", "字"])  # edges + CJK
    for _ in range(300):
        s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 40)))
        assert s.translate(table) == ns["strQ2B"](s), repr(s)
    # boundary pins: U+3000 folds to space; U+FF5F (one past the run)
    # and real CJK are untouched
    assert "　".translate(table) == " "
    assert "｟".translate(table) == "｟"
    assert "漢".translate(table) == "漢"


def test_det_iou_evaluator_matches_executed_reference():
    """Executes the reference's ENTIRE DetectionIoUEvaluator
    (ppocr/metrics/eval_det_iou.py:13-228) — don't-care exclusion by
    area-precision over det area, the greedy (gt, det)-index-ordered
    one-to-one IoU>0.5 match, per-sample counts, and combine_results —
    with only shapely's Polygon swapped for closed-form axis-aligned
    rectangle geometry (area; intersection; union = a+b-inter), which
    for the non-degenerate rect quads fuzzed here is exactly what
    shapely computes. Per-image (gtCare, detCare, detMatched) must
    equal metrics.det_match_counts (the kernel under det_eval's
    grouped-Arrow emit), and combine_results must equal the det_eval
    aggregate's precision/recall/hmean formulas on the summed counts."""
    from paddleocr_spark.functions.metrics import det_match_counts

    class _Area:
        def __init__(self, a):
            self.area = a

    class _Rect:
        is_valid = True

        def __init__(self, pts):
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            self.x1, self.x2 = min(xs), max(xs)
            self.y1, self.y2 = min(ys), max(ys)

        @property
        def area(self):
            return (self.x2 - self.x1) * (self.y2 - self.y1)

        def _inter(self, o):
            w = min(self.x2, o.x2) - max(self.x1, o.x1)
            h = min(self.y2, o.y2) - max(self.y1, o.y1)
            return w * h if w > 0 and h > 0 else 0.0

        def intersection(self, o):
            return _Area(self._inter(o))

        def union(self, o):
            return _Area(self.area + o.area - self._inter(o))

    src = open(os.path.join(
        REF_ROOT, "ppocr/metrics/eval_det_iou.py")).read()
    ns = {"Polygon": _Rect}
    exec(src[src.index("from collections"):src.index("if __name__")]
         .replace("from shapely.geometry import Polygon", ""), ns)
    ev = ns["DetectionIoUEvaluator"]()

    def rect(rng):
        x1 = rng.randint(0, 60)
        y1 = rng.randint(0, 60)
        return [x1, y1, x1 + rng.randint(1, 40), y1 + rng.randint(1, 30)]

    def quad(b):
        return [(b[0], b[1]), (b[2], b[1]), (b[2], b[3]), (b[0], b[3])]

    import numpy as np
    rng = random.Random(38)
    results, g_sum, d_sum, m_sum = [], 0, 0, 0
    for trial in range(400):
        n_gt = rng.randint(0, 8)
        n_det = rng.randint(0, 8)
        gt = [rect(rng) for _ in range(n_gt)]
        ignore = [rng.random() < 0.3 for _ in range(n_gt)]
        det = [rect(rng) for _ in range(n_det)]
        res = ev.evaluate_image(
            [{"points": quad(b), "text": "", "ignore": ig}
             for b, ig in zip(gt, ignore)],
            [{"points": quad(b), "text": ""} for b in det])
        got = det_match_counts(
            np.asarray(gt, dtype=float).reshape(-1, 4),
            np.asarray(ignore, dtype=bool),
            np.asarray(det, dtype=float).reshape(-1, 4))
        assert got == (res["gtCare"], res["detCare"],
                       res["detMatched"]), (trial, gt, ignore, det)
        results.append(res)
        g_sum += got[0]
        d_sum += got[1]
        m_sum += got[2]

    combined = ev.combine_results(results)
    p = 0.0 if d_sum == 0 else m_sum / d_sum
    r = 0.0 if g_sum == 0 else m_sum / g_sum
    h = 0.0 if p + r == 0 else 2 * p * r / (p + r)
    assert combined == {"precision": p, "recall": r, "hmean": h}


def test_rec_metric_eval_full_matches_spark_char_prf(spark):
    """Executes the reference RecMetric.eval_full char-set report walk
    (rec_metric.py:135-248) - per-char recall/precision appended only
    where the char occurs in some target/pred, f1 where in either, all
    denominators eps'd (1e-5), overall_* total-count ratios, including
    the 'overall_recall{name}' missing-underscore key quirk - against
    our PRODUCTION Spark operator char_prf() on the same pairs.
    Substitutions only where the container lacks the package: rapidfuzz
    Levenshtein by a textbook DP (independent of our kernels) and
    grapheme_edit_dis by the REAL reference function exec'd from
    korean_grapheme_label.py; the class is instantiated via __new__
    because __init__ reads a hardcoded /home char-set path. char_set is
    all observed chars plus an unseen extra (exercising the skip path -
    unseen chars contribute to no sum, count, or total), which makes
    the walk coincide with char_prf's observed-char aggregation."""
    import math
    import string as _string

    import numpy as np

    from paddleocr_spark.functions.metrics import char_prf

    ns_k = _exec_korean_module("korean_grapheme_label.py")

    def _lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    class _Lev:
        @staticmethod
        def normalized_distance(a, b):
            m = max(len(a), len(b))
            return _lev(a, b) / m if m else 0.0

    src = open(os.path.join(
        REF_ROOT, "ppocr/metrics/rec_metric.py")).read()
    ns = {"np": np, "string": _string, "Levenshtein": _Lev,
          "grapheme_edit_dis": ns_k["grapheme_edit_dis"]}
    exec(src[src.index("def hirschberg_lcs"):
             src.index("class RecMetric_GraphemeLabel_All")], ns)

    rng = random.Random(39)
    pairs = []
    for _ in range(60):
        t = _random_korean(rng, rng.randint(0, 12))
        r = rng.random()
        if r < 0.15:
            p = ""
        elif r < 0.4:
            p = t
        else:
            p = _random_korean(rng, rng.randint(0, 12))
        if rng.random() < 0.1:
            t = ""
        pairs.append((p, t))

    rm = ns["RecMetric"].__new__(ns["RecMetric"])
    rm.is_filter = False
    rm.ignore_space = True
    rm.eps = 1e-5
    rm.test_print = False
    rm.is_training = False
    stripped = [(p.replace(" ", ""), t.replace(" ", ""))
                for p, t in pairs]
    observed = sorted({c for p, t in stripped for c in p + t})
    rm.char_set_dict = {"t": observed + [chr(0xC5), chr(0x2603)]}
    rm.label_char, rm.pred_char, rm.answer_char = {}, {}, {}
    rm.correct_num = rm.all_num = 0
    rm.norm_edit_dis = rm.grapheme_norm_edit_dis = 0
    report = rm.eval_full([(p, 0.9) for p, _ in pairs],
                          [(t, None) for _, t in pairs])

    got = char_prf(spark.createDataFrame(
        stripped, "pred string, target string")).first()

    def r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4  # Spark HALF_UP, x >= 0

    for col, key in [("mean_precision", "mean_precision_t"),
                     ("mean_recall", "mean_recall_t"),
                     ("mean_f1", "mean_f1_score_t"),
                     ("overall_precision", "overall_precision_t"),
                     ("overall_recall", "overall_recallt"),
                     ("overall_f1", "overall_f1_scoret")]:
        assert abs(got[col] - r4(report[key])) < 2e-9, (
            col, got[col], report[key])


def test_cls_metric_matches_executed_reference(spark):
    """Executes the reference's whole ClsMetric class
    (ppocr/metrics/cls_metric.py:16-46, zero third-party imports)
    on the SAME (pred, target) pairs the production q_cls_metric
    derives at sf0.001, and checks the class's running-counter
    get_metric() (acc = correct / (all + 1e-5), then reset) against
    the query's acc/n_correct/n columns."""
    import math
    import os as _os

    from paddleocr_spark.entry_queries import q_cls_metric

    sf_dir = "/root/testdata/sf0.001"
    if not _os.path.isdir(sf_dir):
        pytest.skip("sf0.001 testdata absent")

    src = open(os.path.join(
        REF_ROOT, "ppocr/metrics/cls_metric.py")).read()
    ns: dict = {}
    exec(src, ns)
    ev = ns["ClsMetric"]()

    from pyspark.sql import functions as F
    angle_true = F.expr(
        "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)),"
        " 1, 1)) - 1) % 4")
    noisy = F.expr("substring(md5(CAST(doc_id AS STRING)), 2, 1) = '0'")
    pairs = (spark.read.parquet(_os.path.join(sf_dir,
                                              "documents.parquet"))
             .select(angle_true.alias("t"),
                     F.when(noisy, (angle_true + 1) % 4)
                     .otherwise(angle_true).alias("p"))
             .collect())
    # two batches through the running counters, then one get_metric
    half = len(pairs) // 2
    for chunk in (pairs[:half], pairs[half:]):
        ev([[(r["p"], 0.9) for r in chunk],
            [(r["t"], None) for r in chunk]])
    want = ev.get_metric()["acc"]
    assert ev.all_num == 0  # get_metric resets

    got = q_cls_metric(spark, sf_dir).first()
    assert got["n"] == len(pairs)
    assert got["n_correct"] == sum(r["p"] == r["t"] for r in pairs)
    assert abs(got["acc"] - math.floor(want * 1e4 + 0.5) / 1e4) < 2e-9


def test_table_structure_metric_matches_executed_reference(spark):
    """Executes the reference's whole TableStructureMetric
    (ppocr/metrics/table_metric.py:18-66, numpy-only once the unused
    DetMetric import is cut) on the SAME decoded pred/gt token lists
    the production q_table_token_acc compares at sf0.001, and checks
    get_metric() (acc = 1.0*correct/(all + 1e-6), then reset) against
    the query's token_acc/n_correct/n_tables columns. The
    del_thead_tbody=True branch is exercised too: stripping the
    thead/tbody literals from both sides cannot lower the match count."""
    import math
    import os as _os

    import numpy as np

    from paddleocr_spark.operators.table import (_decoded, _tables,
                                                 table_token_acc)

    sf_dir = "/root/testdata/sf0.001"
    if not _os.path.isdir(sf_dir):
        pytest.skip("sf0.001 testdata absent")

    src = open(os.path.join(
        REF_ROOT, "ppocr/metrics/table_metric.py")).read()
    ns = {"np": np}
    exec(src[src.index("class TableStructureMetric"):
             src.index("class TableMetric")], ns)

    rows = _decoded(_decoded(_tables(spark, sf_dir),
                             "t_id % 11 = 3", "pred_toks"),
                    "FALSE", "gt_toks").select(
        "t_id", "pred_toks", "gt_toks").collect()
    ev = ns["TableStructureMetric"]()
    ev(({"structure_batch_list":
         [(list(r["pred_toks"]), 0.9) for r in rows]},
        {"structure_batch_list": [list(r["gt_toks"]) for r in rows]}))
    n_correct_ref = ev.correct_num
    want = ev.get_metric()["acc"]

    got = table_token_acc(spark, sf_dir).first()
    assert got["n_tables"] == len(rows)
    assert got["n_correct"] == n_correct_ref
    assert abs(got["token_acc"]
               - math.floor(want * 1e4 + 0.5) / 1e4) < 2e-9

    ev2 = ns["TableStructureMetric"](del_thead_tbody=True)
    ev2(({"structure_batch_list":
          [(list(r["pred_toks"]), 0.9) for r in rows]},
         {"structure_batch_list": [list(r["gt_toks"]) for r in rows]}))
    assert ev2.correct_num >= n_correct_ref


def test_e2e_eval_matches_spark_e2e_metric(spark, tmp_path):
    """Executes the reference's ENTIRE file-based evaluator e2e_eval
    (tools/end2end/eval_end2end.py:71-180) — gt/dt file parsing, the
    IoU>=0.5 candidate set, the greedy IoU-descending one-to-one match,
    matched/unmatched edit-distance contributions, the '0'-means-care
    ignore-mask convention, and the eps=1e-9 report — against our
    production q_e2e_metric at sf0.001 on the SAME universe. The
    universe (a row_number grid over lineitem with gid%13 don't-cares,
    gid%3 exact-text hits, ln=4 preds shifted out of reach) is
    re-derived here via DuckDB and written as the tab-separated files
    the reference consumes. Substitutions: shapely Polygon by exact
    axis-aligned rect geometry (convex_hull = identity for the rect
    quads written), editdistance by a textbook DP; the print block is
    cut and replaced by a return of the same locals, values untouched."""
    import math
    import os as _os
    from collections import defaultdict

    import duckdb
    import numpy as np

    from paddleocr_spark.entry_queries import q_e2e_metric

    sf_dir = "/root/testdata/sf0.001"
    if not _os.path.isdir(sf_dir):
        pytest.skip("sf0.001 testdata absent")

    rows = duckdb.sql(f"""
        SELECT t_id, gid, ln,
               (r % 37) * 40.0 AS x1, floor(r / 37) * 35.0 AS y1,
               'text' || CAST(gid % 97 AS VARCHAR) AS gtxt,
               CASE WHEN gid % 3 = 0 THEN 'text' || CAST(gid % 97 AS VARCHAR)
                    ELSE 'text' || CAST((gid + 1) % 97 AS VARCHAR) END AS ptxt,
               gid % 13 = 0 AS ignore,
               CAST(CASE WHEN ln <= 3 THEN 2.0 ELSE 9000.0 END AS DOUBLE) AS shift
        FROM (
          SELECT l_orderkey % 50 AS t_id,
                 l_orderkey * 10 + l_linenumber AS gid,
                 l_linenumber AS ln,
                 row_number() OVER (PARTITION BY l_orderkey % 50
                                    ORDER BY l_orderkey * 10 + l_linenumber)
                   - 1 AS r
          FROM read_parquet('{sf_dir}/lineitem.parquet')
          WHERE l_linenumber <= 4)
        ORDER BY t_id, gid
    """).fetchall()

    gt_dir = tmp_path / "gt"
    dt_dir = tmp_path / "dt"
    gt_dir.mkdir()
    dt_dir.mkdir()
    per = defaultdict(lambda: ([], []))
    for t_id, gid, ln, x1, y1, gtxt, ptxt, ign, shift in rows:
        x1, y1, shift = float(x1), float(y1), float(shift)
        g, d = per[t_id]
        quad = [x1, y1, x1 + 25, y1, x1 + 25, y1 + 18, x1, y1 + 18]
        g.append("\t".join([repr(c) for c in quad]
                           + ["1" if ign else "0", gtxt]))
        px, py = x1 + shift, y1 + shift
        pq = [px, py, px + 25, py, px + 25, py + 18, px, py + 18]
        d.append("\t".join([repr(c) for c in pq] + [ptxt]))
    for t_id, (g, d) in per.items():
        (gt_dir / f"t{t_id:03d}.txt").write_text("\n".join(g) + "\n")
        (dt_dir / f"t{t_id:03d}.txt").write_text("\n".join(d) + "\n")

    class _Area:
        def __init__(self, a):
            self.area = a

    class _Rect:
        def __init__(self, pts):
            pts = np.asarray(pts, dtype=float)
            self.x1, self.y1 = pts[:, 0].min(), pts[:, 1].min()
            self.x2, self.y2 = pts[:, 0].max(), pts[:, 1].max()

        @property
        def convex_hull(self):
            return self

        @property
        def area(self):
            return (self.x2 - self.x1) * (self.y2 - self.y1)

        def _inter(self, o):
            w = min(self.x2, o.x2) - max(self.x1, o.x1)
            h = min(self.y2, o.y2) - max(self.y1, o.y1)
            return w * h if w > 0 and h > 0 else 0.0

        def intersects(self, o):
            return self._inter(o) > 0.0

        def intersection(self, o):
            return _Area(self._inter(o))

    def _lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    import types
    ed_mod = types.SimpleNamespace(eval=_lev)
    geos = types.SimpleNamespace(TopologicalError=ArithmeticError)
    shp = types.SimpleNamespace(geos=geos)

    src = open(os.path.join(
        REF_ROOT, "tools/end2end/eval_end2end.py")).read()
    body = src[src.index("def strQ2B"):src.index("    print('character_acc")]
    body += ("    return dict(hit=hit, dt_count=dt_count,"
             " gt_count=gt_count,\n"
             "        n_img=len(val_names), precision=precision,\n"
             "        recall=recall, fmeasure=fmeasure,\n"
             "        avg_edit_dist_img=avg_edit_dist_img,\n"
             "        avg_edit_dist_field=avg_edit_dist_field,\n"
             "        character_acc=character_acc)\n")
    ns = {"np": np, "os": _os, "operator": __import__("operator"),
          "defaultdict": defaultdict, "editdistance": ed_mod,
          "shapely": shp, "Polygon": _Rect, "print": lambda *a: None}
    exec(body, ns)
    want = ns["e2e_eval"](str(gt_dir), str(dt_dir))

    got = q_e2e_metric(spark, sf_dir).first()

    def r4(x):
        s = 1 if x >= 0 else -1
        return s * math.floor(abs(x) * 1e4 + 0.5) / 1e4

    assert (got["hit"], got["gt_count"], got["dt_count"]) == (
        want["hit"], want["gt_count"], want["dt_count"])
    for col in ("precision", "recall", "fmeasure", "character_acc",
                "avg_edit_dist_field", "avg_edit_dist_img"):
        assert abs(got[col] - r4(want[col])) < 2e-9, (
            col, got[col], want[col])


def test_copy_paste_matches_executed_reference():
    """Executes the reference's ENTIRE copy_paste.py (CopyPaste +
    rotate_bbox, copy_paste.py:26-177) with import stubs: cv2's
    getRotationMatrix2D shimmed by its documented closed form
    (augments.rotation_matrix_2d — same substitution precedent as the
    other cv2 shims), tools.infer.utility.get_rotate_crop_image by our
    exec-differentialed pixelops transcription, PIL by a shim whose
    rotate(expand=1) size uses augments.pil_rotate_expand_size (Pillow is
    absent from the container, so that one sub-step is transcription-
    pinned, like pyclipper's unclip — raster contents never feed the
    compared label outputs), and shapely/IaaAugment by inert stubs (the
    former's helpers and the latter's instance are dead code on this
    path). Seeds the GLOBAL random + np.random streams per trial;
    augments.copy_paste_doc with the same seed must reproduce polys,
    texts, ignore_tags, and paste provenance bit-for-bit."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.augments import (copy_paste_doc,
                                          pil_rotate_expand_size,
                                          rotation_matrix_2d)
    from paddleocr_spark.pixelops import get_rotate_crop_image

    class ShimImage:
        def __init__(self, arr):
            self._a = np.asarray(arr)

        @property
        def size(self):
            return (self._a.shape[1], self._a.shape[0])

        @property
        def width(self):
            return self._a.shape[1]

        @property
        def height(self):
            return self._a.shape[0]

        def convert(self, mode):
            assert mode == "RGBA"
            a = self._a
            if a.shape[2] == 3:
                a = np.concatenate(
                    [a, np.full(a.shape[:2] + (1,), 255, a.dtype)], axis=2)
            return ShimImage(a)

        def rotate(self, angle, expand=0):
            assert expand == 1
            nw, nh = pil_rotate_expand_size(self.width, self.height, angle)
            return ShimImage(np.zeros((nh, nw, self._a.shape[2]),
                                      self._a.dtype))

        def split(self):
            return tuple(ShimImage(self._a[:, :, i:i + 1])
                         for i in range(self._a.shape[2]))

        def paste(self, im, xy, mask=None):
            pass  # raster unobserved by the compared outputs

        def __array__(self, dtype=None, copy=None):
            return self._a if dtype is None else self._a.astype(dtype)

    cv2_stub = types.ModuleType("cv2")
    cv2_stub.COLOR_BGR2RGB = 4
    cv2_stub.COLOR_RGB2BGR = 4
    cv2_stub.cvtColor = lambda img, code: np.ascontiguousarray(
        img[..., :3][..., ::-1])
    cv2_stub.getRotationMatrix2D = lambda c, a, s: rotation_matrix_2d(
        c, a, s)

    pil_image = types.ModuleType("PIL.Image")
    pil_image.fromarray = lambda arr: ShimImage(arr)
    pil_pkg = types.ModuleType("PIL")
    pil_pkg.Image = pil_image

    shapely_geom = types.ModuleType("shapely.geometry")
    shapely_geom.Polygon = object  # module-level helpers are dead code
    shapely_pkg = types.ModuleType("shapely")
    shapely_pkg.geometry = shapely_geom

    iaa_mod = types.ModuleType("ppocr.data.imaug.iaa_augment")

    class _IaaAugment:  # constructed in __init__, never invoked
        def __init__(self, *a, **k):
            pass

    iaa_mod.IaaAugment = _IaaAugment
    rcd_mod = types.ModuleType("ppocr.data.imaug.random_crop_data")
    from paddleocr_spark.augments import is_poly_outside_rect
    rcd_mod.is_poly_outside_rect = is_poly_outside_rect
    util_mod = types.ModuleType("tools.infer.utility")
    util_mod.get_rotate_crop_image = get_rotate_crop_image

    mods = {
        "cv2": cv2_stub, "PIL": pil_pkg, "PIL.Image": pil_image,
        "shapely": shapely_pkg, "shapely.geometry": shapely_geom,
        "ppocr": types.ModuleType("ppocr"),
        "ppocr.data": types.ModuleType("ppocr.data"),
        "ppocr.data.imaug": types.ModuleType("ppocr.data.imaug"),
        "ppocr.data.imaug.iaa_augment": iaa_mod,
        "ppocr.data.imaug.random_crop_data": rcd_mod,
        "tools": types.ModuleType("tools"),
        "tools.infer": types.ModuleType("tools.infer"),
        "tools.infer.utility": util_mod,
    }
    saved = {m: sys.modules.get(m) for m in mods}
    sys.modules.update(mods)
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/copy_paste.py").read()
        exec(src[src.index("import copy"):], ns)
        cp = ns["CopyPaste"]()

        rng = random.Random(4242)
        pastes_seen = rejects_seen = 0
        for trial in range(250):
            seed = rng.randint(0, 2 ** 31 - 1)
            n_src = rng.randint(1, 6)
            n_ext = rng.randint(0, 8)
            src_w, src_h = 640, rng.randint(200, 900)

            def mk(n, big_ok):
                out = []
                for _ in range(n):
                    x1 = rng.uniform(0, 500)
                    y1 = rng.uniform(0, 150)
                    w = rng.uniform(5, 900 if big_ok else 300)
                    h = rng.uniform(5, 60)
                    out.append([[x1, y1], [x1 + w, y1],
                                [x1 + w, y1 + h], [x1, y1 + h]])
                return np.array(out, np.float32).reshape(n, 4, 2)

            src_q = mk(n_src, False)
            ext_q = mk(n_ext, True)  # big crops exercise the reject arm
            src_t = [f"s{i}" for i in range(n_src)]
            ext_t = [f"e{i}" for i in range(n_ext)]
            src_i = np.array([rng.random() < 0.3 for _ in range(n_src)])
            ext_i = np.array([rng.random() < 0.3 for _ in range(n_ext)])

            data = {
                "image": np.zeros((src_h, src_w, 3), np.uint8),
                "polys": src_q.copy(), "texts": list(src_t),
                "ignore_tags": src_i.copy(),
                "ext_data": [{
                    "image": np.zeros((300, 700, 3), np.uint8),
                    "polys": ext_q.copy(), "texts": list(ext_t),
                    "ignore_tags": ext_i.copy()}],
            }
            random.seed(seed)
            np.random.seed(seed)
            want = cp(data)

            polys, texts, ignores, pasted = copy_paste_doc(
                seed, src_q, src_t, src_i, src_h, src_w,
                ext_q, ext_t, ext_i)
            n_want = len(want["polys"])
            assert len(polys) == n_want, (trial, seed)
            assert np.array_equal(np.asarray(want["polys"]), polys), (
                trial, seed)
            assert want["texts"] == texts, (trial, seed)
            assert want["ignore_tags"].tolist() == ignores.tolist(), (
                trial, seed)
            # provenance: each appended row's text names its ext source
            for k, src_pos in enumerate(pasted):
                assert texts[n_src + k] == f"e{src_pos}"
            pastes_seen += len(pasted)
            rejects_seen += (len(ext_q) > 0 and not pasted)
        assert pastes_seen > 100  # both arms genuinely exercised
        assert rejects_seen > 5
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v


def test_make_pse_gt_matches_executed_reference():
    """Executes the reference's ENTIRE MakePseGt (make_pse_gt.py:28-119)
    with the established rect axioms substituted: pyclipper →
    input-grid signed Clipper rounding + shrink_rect, shapely.Polygon →
    rect area/perimeter, cv2.fillPoly → fill_rect on the poly bbox
    (exact for axis-aligned quads), cv2.resize → shape-only cvRound
    dims. The scale branch, the verbatim rate-ladder float walk, the
    +1e-6 mmocr distance, tag escalation on collapse, the i+1 label
    fill + binarize, and the final-tag training mask all run as the
    reference wrote them; kernels.make_pse_gt must reproduce per-scale
    union pixel counts, dims, final tags, and the mask sum exactly on
    fuzzed rect sets covering both branches."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.kernels import (_clipper_round_signed, fill_rect,
                                         make_pse_gt, shrink_rect)

    class _PCO:
        def __init__(self):
            self._path = None

        def AddPath(self, path, jt, et):
            self._path = [(_clipper_round_signed(float(x)),
                           _clipper_round_signed(float(y)))
                          for x, y in path]

        def Execute(self, delta):
            xs = [p[0] for p in self._path]
            ys = [p[1] for p in self._path]
            r = shrink_rect(min(xs), min(ys), max(xs), max(ys), -delta)
            if r is None:
                return []
            x0, y0, x1, y1 = r
            return [[[x0, y0], [x1, y0], [x1, y1], [x0, y1]]]

    pyclipper_stub = types.ModuleType("pyclipper")
    pyclipper_stub.PyclipperOffset = _PCO
    pyclipper_stub.JT_ROUND = 1
    pyclipper_stub.ET_CLOSEDPOLYGON = 2

    class _RectPoly:
        def __init__(self, poly):
            xs = [float(p[0]) for p in poly]
            ys = [float(p[1]) for p in poly]
            bw = max(xs) - min(xs)
            bh = max(ys) - min(ys)
            self.area = bw * bh
            self.length = 2 * (bw + bh)

    shapely_geom = types.ModuleType("shapely.geometry")
    shapely_geom.Polygon = _RectPoly
    shapely_pkg = types.ModuleType("shapely")
    shapely_pkg.geometry = shapely_geom

    cv2_stub = types.ModuleType("cv2")

    def _resize(img, dsize=None, fx=None, fy=None):
        assert dsize is None
        return np.zeros((round(img.shape[0] * fy),
                         round(img.shape[1] * fx)) + img.shape[2:],
                        img.dtype)

    def _fillpoly(img, pts, val):
        for q in pts:
            q = np.asarray(q)
            fill_rect(img, int(q[:, 0].min()), int(q[:, 1].min()),
                      int(q[:, 0].max()), int(q[:, 1].max()), val)

    cv2_stub.resize = _resize
    cv2_stub.fillPoly = _fillpoly
    mods = {"cv2": cv2_stub, "pyclipper": pyclipper_stub,
            "shapely": shapely_pkg, "shapely.geometry": shapely_geom}
    saved = {m: sys.modules.get(m) for m in mods}
    sys.modules.update(mods)
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/make_pse_gt.py").read()
        exec(src[src.index("from __future__"):], ns)
        pse = ns["MakePseGt"](kernel_num=7, size=80, min_shrink_ratio=0.4)

        rng = random.Random(909)
        branch = {True: 0, False: 0}
        escal = 0
        for trial in range(200):
            n = rng.randint(0, 8)
            h = rng.randint(40, 140)
            w = 120
            boxes = []
            for _ in range(n):
                x0 = rng.uniform(-8, 110)
                y0 = rng.uniform(-8, h - 5)
                boxes.append([x0, y0, x0 + rng.uniform(0, 60),
                              y0 + rng.uniform(0, 30)])
            boxes = np.array(boxes, np.float64).reshape(n, 4)
            tags = [rng.random() < 0.25 for _ in range(n)]
            polys = np.array([[[b[0], b[1]], [b[2], b[1]],
                               [b[2], b[3]], [b[0], b[3]]]
                              for b in boxes]).reshape(n, 4, 2)
            data = {"image": np.zeros((h, w, 3), np.uint8),
                    "polys": polys.copy(),
                    "ignore_tags": list(tags)}
            want = pse(data)

            scaled, nh, nw, per_scale, ftags, mask_px = make_pse_gt(
                boxes, tags, h, w, kernel_num=7, size=80,
                min_shrink_ratio=0.4)
            branch[scaled] += 1
            assert want["image"].shape == (nh, nw, 3), (trial, h)
            assert want["gt_kernels"].shape == (7, nh, nw)
            for k, (rate, painted, px) in enumerate(per_scale):
                assert int(want["gt_kernels"][k].sum()) == px, (trial, k)
            assert np.array_equal(want["gt_text"], want["gt_kernels"][0])
            assert want["ignore_tags"] == ftags, (trial,)
            escal += sum(ftags) - sum(tags)
            assert int(want["mask"].sum()) == mask_px, (trial,)
        assert branch[True] > 40 and branch[False] > 40
        assert escal > 20  # collapse escalation genuinely exercised
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v


def test_east_process_train_matches_executed_reference():
    """Executes the reference's ENTIRE EASTProcessTrain
    (east_process.py:28-436) — rotate_im_poly (real np.rot90),
    check_and_validate_polys (wrong-direction flip + force-ignore),
    shrink_poly's arctan2 walk, generate_quad's geo/score/mask, the
    padded random crop, preprocess — with only cv2 shimmed: resize
    returns cvRound-dim zeros (pixels never feed the labels) and
    fillPoly fills the int quad's bbox (the quads are axis-aligned up to
    float epsilon; same bbox axiom as the other gt-map differentials).
    Seeds the GLOBAL np.random per trial; augments.east_process_doc with
    RandomState(seed) must reproduce the None/bg/ok branch, the exact
    score/geo/mask subsampled maps, and the output shapes."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.augments import east_process_doc
    from paddleocr_spark.kernels import fill_rect

    cv2_stub = types.ModuleType("cv2")

    def _resize(img, dsize=None, dst=None, fx=None, fy=None):
        assert dsize is None
        return np.zeros((round(img.shape[0] * fy),
                         round(img.shape[1] * fx)) + img.shape[2:],
                        img.dtype)

    def _fillpoly(img, pts, val):
        for q in pts:
            q = np.asarray(q)
            fill_rect(img, int(q[:, 0].min()), int(q[:, 1].min()),
                      int(q[:, 0].max()), int(q[:, 1].max()), val)

    cv2_stub.resize = _resize
    cv2_stub.fillPoly = _fillpoly
    saved = sys.modules.get("cv2")
    sys.modules["cv2"] = cv2_stub
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/east_process.py").read()
        exec(src[src.index("import math"):], ns)
        east = ns["EASTProcessTrain"]()

        rng = random.Random(24601)
        statuses = {}
        for trial in range(150):
            seed = rng.randint(0, 2 ** 31 - 1)
            n = rng.randint(1, 6)
            h = rng.randint(60, 160)
            w = rng.randint(60, 160)
            quads = []
            tags = []
            for _ in range(n):
                x0 = rng.uniform(0, w - 6)
                y0 = rng.uniform(0, h - 6)
                bw = rng.uniform(0, 60)   # sub-1-area drops included
                bh = rng.uniform(0, 40)
                q = [[x0, y0], [x0 + bw, y0], [x0 + bw, y0 + bh],
                     [x0, y0 + bh]]
                if rng.random() < 0.25:   # wrong-direction minority
                    q = [q[0], q[3], q[2], q[1]]
                quads.append(q)
                tags.append(rng.random() < 0.3)
            quads = np.array(quads, np.float32).reshape(n, 4, 2)

            data = {"image": np.zeros((h, w, 3), np.uint8),
                    "polys": quads.copy(),
                    "ignore_tags": np.array(tags)}
            np.random.seed(seed)
            want = east(data)

            got = east_process_doc(seed, quads.copy(), tags, h, w)
            statuses[got["status"]] = statuses.get(got["status"], 0) + 1
            if want is None:
                assert got["status"].startswith("none"), (trial, seed)
                continue
            if got["status"] == "bg":
                assert want["score_map"].sum() == 0 == got["score_px"]
                assert int(want["training_mask"].sum()) == got["mask_px"]
                assert want["image"].shape == (3, 512, 512)
                continue
            assert got["status"] == "ok", (trial, seed)
            assert int(want["score_map"].sum()) == got["score_px"]
            assert int(want["training_mask"].sum()) == got["mask_px"]
            for c in range(9):
                assert float(np.sum(want["geo_map"][c],
                                    dtype=np.float64)) == \
                    got["geo_sums"][c], (trial, seed, c)
            assert want["image"].shape == (3, 512, 512)
        # every branch genuinely exercised across the fuzz corpus
        assert statuses.get("ok", 0) > 60, statuses
        assert statuses.get("bg", 0) > 3, statuses
        assert sum(v for k, v in statuses.items()
                   if k.startswith("none")) > 3, statuses
    finally:
        if saved is None:
            sys.modules.pop("cv2", None)
        else:
            sys.modules["cv2"] = saved


def test_sast_process_train_matches_executed_reference():
    """Executes the reference's ENTIRE SASTProcessTrain
    (sast_process.py:28-777) — validate (minAreaRect-always quad +
    hv tags), aspect jitter, 2048 cap, min_crop_size random crop, random
    downscale, the pixel-only blur/brighten/darken gates (draws
    consumed), random pad placement, generate_tcl_label (0.15 ignore
    fill, shrunk center-line, per-quad TBO walk) and
    generate_tvo_and_tco — with cv2 shimmed: resize/GaussianBlur shape-
    only, fillPoly as the bbox axiom, minAreaRect/boxPoints via
    pixelops.min_area_box (the CT-differential convention). Seeds the
    GLOBAL np.random per trial; sast_gt.sast_process_doc with
    RandomState(seed) must reproduce the branch walk and every channel
    sum of score/tbo/mask/tvo/tco exactly."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.kernels import fill_rect
    from paddleocr_spark.pixelops import min_area_box
    from paddleocr_spark.sast_gt import sast_process_doc

    cv2_stub = types.ModuleType("cv2")

    def _resize(img, dsize=None, dst=None, fx=None, fy=None):
        assert dsize is None
        return np.zeros((round(img.shape[0] * fy),
                         round(img.shape[1] * fx)) + img.shape[2:],
                        img.dtype)

    def _fillpoly(img, pts, val):
        q = np.asarray(pts)
        if q.ndim == 2:
            q = q[None]
        for quad in q:
            fill_rect(img, int(quad[:, 0].min()), int(quad[:, 1].min()),
                      int(quad[:, 0].max()), int(quad[:, 1].max()), val)
        return img

    cv2_stub.resize = _resize
    cv2_stub.fillPoly = _fillpoly
    cv2_stub.GaussianBlur = lambda im, ksize=None, sigmaX=0, sigmaY=0: im
    cv2_stub.minAreaRect = lambda pts: min_area_box(pts)
    cv2_stub.boxPoints = lambda rect: rect
    saved = sys.modules.get("cv2")
    sys.modules["cv2"] = cv2_stub
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/sast_process.py").read()
        exec(src[src.index("import math"):], ns)
        sast = ns["SASTProcessTrain"]()

        rng = random.Random(31337)
        statuses = {}
        for trial in range(150):
            seed = rng.randint(0, 2 ** 31 - 1)
            n = rng.randint(1, 5)
            h = rng.randint(400, 900)
            w = rng.randint(400, 900)
            quads, tags = [], []
            for _ in range(n):
                x0 = rng.uniform(0, w - 20)
                y0 = rng.uniform(0, h - 20)
                if rng.random() < 0.3:   # vertical minority (hv_tag=0)
                    bw, bh = rng.uniform(5, 40), rng.uniform(100, 300)
                else:
                    bw, bh = rng.uniform(20, 400), rng.uniform(10, 80)
                quads.append([[x0, y0], [x0 + bw, y0],
                              [x0 + bw, y0 + bh], [x0, y0 + bh]])
                tags.append(rng.random() < 0.3)
            quads = np.array(quads, np.float32).reshape(n, 4, 2)

            data = {"image": np.zeros((h, w, 3), np.uint8),
                    "polys": quads.copy(),
                    "ignore_tags": np.array(tags)}
            np.random.seed(seed)
            want = sast(data)

            got = sast_process_doc(seed, quads.copy(), tags, h, w)
            statuses[got["status"]] = statuses.get(got["status"], 0) + 1
            if want is None:
                assert got["status"].startswith("none"), (trial, seed)
                continue
            assert got["status"] == "ok", (trial, seed)
            assert int(want["score_map"].sum()) == got["score_px"]
            assert float(np.sum(want["training_mask"],
                                dtype=np.float64)) == got["mask_sum"]
            for c in range(5):   # border_map is (5, h, w) post-transpose
                assert float(np.sum(want["border_map"][c],
                                    dtype=np.float64)) == \
                    got["tbo_sums"][c], (trial, seed, c)
            for c in range(9):
                assert float(np.sum(want["tvo_map"][c],
                                    dtype=np.float64)) == \
                    got["tvo_sums"][c], (trial, seed, c)
            for c in range(3):
                assert float(np.sum(want["tco_map"][c],
                                    dtype=np.float64)) == \
                    got["tco_sums"][c], (trial, seed, c)
            assert want["image"].shape == (3, 512, 512)
        assert statuses.get("ok", 0) > 40, statuses
        assert sum(v for k, v in statuses.items()
                   if k.startswith("none")) > 10, statuses
    finally:
        if saved is None:
            sys.modules.pop("cv2", None)
        else:
            sys.modules["cv2"] = saved


def test_fce_targets_matches_executed_reference():
    """Executes the reference's ENTIRE FCENetTargets
    (fce_targets.py:25-686) — head/tail discovery, sideline resampling,
    shrunk center-region boxes, Fourier signatures (real numpy fft),
    normalize/clockwise, the three level stacks — with cv2 shimmed:
    fillPoly as the bbox axiom (all filled shapes on the rect path are
    axis-aligned) and boundingRect as the inclusive bbox. The operator
    is fully deterministic (no RNG); fce_gt.fce_targets_doc must
    reproduce every channel sum of every level map exactly, and the
    maps themselves are compared array-equal."""
    import sys
    import types

    import numpy as np

    from paddleocr_spark.fce_gt import fce_targets_doc, generate_level_targets
    from paddleocr_spark.kernels import fill_rect

    cv2_stub = types.ModuleType("cv2")

    def _fillpoly(img, pts, val):
        for p in pts:
            p = np.asarray(p).reshape(-1, 2)
            fill_rect(img, int(p[:, 0].min()), int(p[:, 1].min()),
                      int(p[:, 0].max()), int(p[:, 1].max()), val)

    def _brect(pts):
        p = np.asarray(pts).reshape(-1, 2)
        x, y = int(p[:, 0].min()), int(p[:, 1].min())
        return (x, y, int(p[:, 0].max()) - x + 1,
                int(p[:, 1].max()) - y + 1)

    cv2_stub.fillPoly = _fillpoly
    cv2_stub.boundingRect = _brect
    saved = sys.modules.get("cv2")
    sys.modules["cv2"] = cv2_stub
    try:
        ns: dict = {}
        src = open("/root/reference/ppocr/data/imaug/fce_targets.py").read()
        exec(src[src.index("import cv2"):], ns)
        fce = ns["FCENetTargets"]()

        rng = random.Random(5150)
        level_hits = [0, 0, 0]
        for trial in range(60):
            n = rng.randint(1, 6)
            h = rng.randint(200, 1200)
            w = rng.randint(400, 1100)
            quads, tags = [], []
            for _ in range(n):
                x0 = rng.uniform(0, w * 0.6)
                y0 = rng.uniform(0, h * 0.7)
                # size spread across the three level proportion ranges
                frac = rng.choice([0.1, 0.22, 0.4, 0.6, 0.9])
                bw = min(w - x0 - 1, frac * h * rng.uniform(0.8, 1.2))
                bh = rng.uniform(8, max(9, 0.4 * bw))
                if rng.random() < 0.3:
                    bw, bh = bh, min(bw, h - y0 - 1)   # vertical minority
                quads.append([[x0, y0], [x0 + bw, y0],
                              [x0 + bw, y0 + bh], [x0, y0 + bh]])
                tags.append(rng.random() < 0.3)
            quads = np.array(quads, np.float32).reshape(n, 4, 2)

            results = {"image": np.zeros((h, w, 3), np.uint8),
                       "polys": quads.copy(),
                       "ignore_tags": list(tags)}
            want = fce(results)

            care = [p for p, t in zip(quads, tags) if not t]
            ignore = [p for p, t in zip(quads, tags) if t]
            mine_maps = generate_level_targets((h, w), care, ignore)
            got = fce_targets_doc(quads.copy(), tags, h, w)
            for lv, key in enumerate(("p3_maps", "p4_maps", "p5_maps")):
                assert np.array_equal(want[key], mine_maps[lv]), (trial, lv)
                t_px, c_px, e_px, reals, imags = got[lv]
                assert int(want[key][0].sum()) == t_px
                assert int(want[key][1].sum()) == c_px
                level_hits[lv] += t_px > 0
                assert int(want[key][2].sum()) == e_px
                for c in range(11):
                    assert float(np.sum(want[key][3 + c],
                                        dtype=np.float64)) == reals[c]
                    assert float(np.sum(want[key][14 + c],
                                        dtype=np.float64)) == imags[c]
        assert all(hits > 5 for hits in level_hits), level_hits
    finally:
        if saved is None:
            sys.modules.pop("cv2", None)
        else:
            sys.modules["cv2"] = saved


def test_vl_label_encode_matches_executed_reference():
    """R5: execute the reference's VLLabelEncode
    (ppocr/data/imaug/label_ops.py:1726-1784) under seeded global
    random against labelenc.vl_encode_py — the 1-element occlusion
    sample, the raw-string index arithmetic (first/last/middle arms),
    the None fallbacks for out-of-dict remainders, and the shared
    +1-shift/0-pad encode all run from reference source."""
    import json as _json
    import types

    from paddleocr_spark.functions import labelenc as LE

    shim = {"get_logger": lambda: types.SimpleNamespace(
        warning=lambda *a, **k: None), "json": _json}
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class BaseRecLabelEncode",
                     "class CTCLabelEncode_GraphemeLabel", shim)
    ns["sample"] = random.sample          # `from random import sample`
    ns = _exec_slice("ppocr/data/imaug/label_ops.py",
                     "class VLLabelEncode", "class CTLabelEncode", ns)
    op = ns["VLLabelEncode"](25)

    rng = random.Random(73)
    pool = "abcXYZ019 .,!한글*#"
    texts = ["", "a", "#", "a" * 25, "a" * 26, "#a#", "한글한"]
    texts += ["".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
              for _ in range(300)]
    for i, t in enumerate(texts):
        seed = 9000 + i
        random.seed(seed)
        want = op({"label": t})
        got = LE.vl_encode_py(t, seed)
        if want is None:
            assert got is None, t
            continue
        assert got is not None, t
        change_id, length, lres, lsub, label, label_res, label_sub = got
        assert change_id == want["label_id"], t
        assert length == int(want["length"]), t
        assert lres == int(want["length_res"]), t
        assert lsub == int(want["length_sub"]), t
        assert label == want["label"].tolist(), t
        assert label_res == want["label_res"].tolist(), t
        assert label_sub == want["label_sub"].tolist(), t
