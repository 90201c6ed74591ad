"""Exec-reference differentials + pins for the DRRG target
transcription (paddleocr_spark/drrg_gt.py).

Executes ``ppocr/data/imaug/drrg_targets.py`` VERBATIM over axis-
aligned rect polys under seeded global np.random, with the raster
axioms (fillPoly scanline, LINE_8 Bresenham, 8-CC first-occurrence
labeling, k x k erosion) and the lanms import shimmed to the
reference's OWN pure-python nms_locality (locality_aware_nms.py,
executed verbatim with shapely's convex intersection re-derived).
The head/tail scoring walk, sideline resampling, component geometry,
NMS control flow, jitter and random-fallback draws all run from
reference source.
"""
from __future__ import annotations

import random
import sys
import types

import numpy as np

from paddleocr_spark.drrg_gt import (
    connected_components8, drrg_gt_rows_for_doc, drrg_targets_doc,
    erode_min, fill_poly, la_nms_quads, polyline8)
from paddleocr_spark.kernels import convex_intersect_area, poly_area

REF = "/root/reference/ppocr/data/imaug"


class _ShapelyPoly:
    """shapely.geometry.Polygon surface locality_aware_nms touches."""

    def __init__(self, pts):
        if isinstance(pts, _ShapelyPoly):
            self._p = pts._p
        else:
            self._p = np.asarray(pts, dtype=np.float64).reshape(-1, 2)

    @property
    def is_valid(self):
        return True

    def buffer(self, d):
        assert d == 0
        return self

    @property
    def area(self):
        return poly_area(self._p)

    def intersection(self, other):
        a = convex_intersect_area(self._p, other._p)
        return types.SimpleNamespace(area=a)


def _load_ref_la_nms():
    """Execute locality_aware_nms.py verbatim (shapely shimmed)."""
    shapely = types.ModuleType("shapely")
    geom = types.ModuleType("shapely.geometry")
    geom.Polygon = _ShapelyPoly
    shapely.geometry = geom
    saved = {m: sys.modules.get(m) for m in ("shapely", "shapely.geometry")}
    sys.modules["shapely"] = shapely
    sys.modules["shapely.geometry"] = geom
    ns: dict = {}
    try:
        exec(open("/root/reference/ppocr/postprocess/"
                  "locality_aware_nms.py").read(), ns)
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v
    return ns


def _cv2_stub():
    cv2 = types.ModuleType("cv2")

    def _fill_poly(img, pts_list, color=None, **kw):
        val = color if color is not None else kw.get("color")
        for pts in pts_list:
            fill_poly(img, pts, val)

    def _polylines(img, pts_list, is_closed, color, thickness):
        assert is_closed == 0 and thickness == 1
        for pts in pts_list:
            polyline8(img, pts, color)

    def _cc(mask, connectivity=8):
        assert connectivity == 8
        return connected_components8(mask)

    def _erode(img, kernel, iterations=1):
        assert iterations == 1
        kh, kw = kernel.shape
        assert kh == kw and (kernel == 1).all()
        return erode_min(img, kh)

    cv2.fillPoly = _fill_poly
    cv2.polylines = _polylines
    cv2.connectedComponents = _cc
    cv2.erode = _erode
    return cv2


def _load_ref_drrg():
    """Execute drrg_targets.py verbatim; returns its namespace."""
    la = _load_ref_la_nms()
    lanms = types.ModuleType("lanms")
    lanms.merge_quadrangle_n9 = \
        lambda polys, thr: _stable_nms(la, polys, thr)
    ppocr = types.ModuleType("ppocr")
    pu = types.ModuleType("ppocr.utils")
    put = types.ModuleType("ppocr.utils.utility")
    put.check_install = lambda *a, **k: None
    pu.utility = put
    ppocr.utils = pu
    mods = {"cv2": _cv2_stub(), "lanms": lanms, "ppocr": ppocr,
            "ppocr.utils": pu, "ppocr.utils.utility": put}
    # lanms is imported at CALL time (drrg_targets.py:547) — persist it
    sys.modules["lanms"] = lanms
    saved = {m: sys.modules.get(m)
             for m in ("cv2", "ppocr", "ppocr.utils",
                       "ppocr.utils.utility")}
    sys.modules.update({m: mods[m] for m in saved})
    ns: dict = {}
    try:
        exec(open(f"{REF}/drrg_targets.py").read(), ns)
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v
    return ns


def _stable_nms(la, polys, thr):
    """The reference's own nms_locality, with standard_nms' unstable
    argsort replaced by the stable order la_nms_quads documents (DRRG
    scores are merge counts — all ties)."""
    S = []
    p = None
    for g in np.asarray(polys, dtype=np.float64):
        g = g.copy()
        if p is not None and la["intersection"](g, p) > thr:
            p = la["weighted_merge"](g, p)
        else:
            if p is not None:
                S.append(p)
            p = g
    if p is not None:
        S.append(p)
    if len(S) == 0:
        return np.array([])
    S = np.array(S)
    order = list(np.argsort(S[:, 8], kind="stable")[::-1])
    keep = []
    while order:
        i = order.pop(0)
        keep.append(i)
        order = [t for t in order
                 if la["intersection"](S[i], S[t]) <= thr]
    return S[keep]


def _mk_polys(rng, h, w, n):
    polys, tags = [], []
    for k in range(n):
        x0 = rng.randint(2, max(w - 30, 3))
        y0 = rng.randint(2, max(h - 20, 3))
        bw = rng.choice([12, 25, 60, 120])
        bh = rng.choice([10, 16, 24])
        x1, y1 = min(x0 + bw, w - 2), min(y0 + bh, h - 2)
        polys.append(np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                              dtype=np.float32))
        tags.append(rng.random() < 0.25)
    return polys, tags


def test_drrg_targets_match_executed_reference():
    ns = _load_ref_drrg()
    rng = random.Random(41)
    for trial in range(25):
        h = rng.choice([96, 128, 160])
        w = rng.choice([128, 200, 320])
        n = rng.randint(0, 4)
        polys, tags = _mk_polys(rng, h, w, n)
        seed = 3000 + trial
        np.random.seed(seed)
        img = np.zeros((h, w, 3), np.uint8)
        want = ns["DRRGTargets"]()({
            "image": img,
            "polys": [p.copy() for p in polys],
            "ignore_tags": list(tags)})
        got = drrg_targets_doc([p.copy() for p in polys], list(tags),
                               h, w, seed)
        for k in ("gt_text_mask", "gt_center_region_mask", "gt_mask",
                  "gt_top_height_map", "gt_bot_height_map",
                  "gt_sin_map", "gt_cos_map", "gt_comp_attribs"):
            assert got[k].dtype == want[k].dtype, (trial, k)
            assert np.array_equal(got[k], want[k]), (trial, k)


def test_drrg_small_canvas_rand_param_fallback():
    """min(h, w) small enough to trigger the margin-overflow
    recalculation of the random-component height bounds."""
    ns = _load_ref_drrg()
    rng = random.Random(5)
    polys, tags = _mk_polys(rng, 48, 200, 1)
    for seed in range(6):
        np.random.seed(seed)
        want = ns["DRRGTargets"]()({
            "image": np.zeros((48, 200, 3), np.uint8),
            "polys": [p.copy() for p in polys],
            "ignore_tags": list(tags)})
        got = drrg_targets_doc([p.copy() for p in polys], list(tags),
                               48, 200, seed)
        assert np.array_equal(got["gt_comp_attribs"],
                              want["gt_comp_attribs"]), seed


def test_drrg_mid_canvas_empty_candidates_crash_quirk():
    """Genuine reference behavior pinned: h=64 escapes the margin-
    overflow fallback (2*26+1 <= 64) but the 21-px erosion then empties
    the random-center candidate window, so np.random.choice raises —
    on BOTH the executed reference and the transcription.  (Real DRRG
    training feeds 640^2 crops; the gate kernel floors its canvas.)"""
    import pytest
    ns = _load_ref_drrg()
    np.random.seed(0)
    with pytest.raises(ValueError):
        ns["DRRGTargets"]()({
            "image": np.zeros((64, 128, 3), np.uint8),
            "polys": [], "ignore_tags": []})
    with pytest.raises(ValueError):
        drrg_targets_doc([], [], 64, 128, 0)


def test_drrg_numpy_bool_tag_quirk():
    """`tag is True` keeps numpy-bool-tagged polys on the TEXT side —
    the same fce_gt quirk, preserved by the transcription."""
    ns = _load_ref_drrg()
    poly = [np.array([[4, 4], [60, 4], [60, 20], [4, 20]], np.float32)]
    np.random.seed(1)
    want = ns["DRRGTargets"]()({
        "image": np.zeros((128, 160, 3), np.uint8),
        "polys": [poly[0].copy()],
        "ignore_tags": [np.bool_(True)]})
    got = drrg_targets_doc([poly[0].copy()], [np.bool_(True)],
                           128, 160, 1)
    assert want["gt_text_mask"].sum() > 0          # ignored-but-text
    assert np.array_equal(got["gt_text_mask"], want["gt_text_mask"])
    assert np.array_equal(got["gt_mask"], want["gt_mask"])
    assert int(got["gt_mask"].sum()) == 128 * 160  # nothing masked off


# ---------------------------------------------------------------------------
# primitive pins
# ---------------------------------------------------------------------------

def test_fill_poly_inclusive_rect():
    img = np.zeros((10, 12), np.uint8)
    fill_poly(img, np.array([[2, 3], [7, 3], [7, 6], [2, 6]]), 1)
    assert img.sum() == 6 * 4
    assert img[3:7, 2:8].all()


def test_polyline8_horizontal_and_diagonal():
    img = np.zeros((6, 10), np.uint8)
    polyline8(img, np.array([[1, 2], [7, 2]]), 1)
    assert img[2, 1:8].all() and img.sum() == 7
    img2 = np.zeros((6, 6), np.uint8)
    polyline8(img2, np.array([[0, 0], [5, 5]]), 1)
    assert img2.sum() == 6 and all(img2[i, i] for i in range(6))


def test_connected_components8_order_and_diag():
    m = np.zeros((5, 9), np.uint8)
    m[0, 0] = 1
    m[1, 1] = 1              # diagonal -> same component
    m[0, 4] = 1              # second component (row-major order)
    m[4, 8] = 1              # third
    num, lab = connected_components8(m)
    assert num == 4
    assert lab[0, 0] == lab[1, 1] == 1
    assert lab[0, 4] == 2 and lab[4, 8] == 3


def test_erode_min_even_kernel_anchor():
    img = np.full((6, 6), 9, np.uint8)
    img[2, 2] = 1
    out = erode_min(img, 2)                        # anchor (1, 1)
    want = np.full((6, 6), 9, np.uint8)
    want[2:4, 2:4] = 1                             # spreads down-right
    assert np.array_equal(out, want)


def test_convex_intersect_area_squares():
    a = np.array([[0, 0], [4, 0], [4, 4], [0, 4]])
    b = np.array([[2, 2], [6, 2], [6, 6], [2, 6]])
    assert abs(convex_intersect_area(a, b) - 4.0) < 1e-12
    c = np.array([[10, 10], [11, 10], [11, 11], [10, 11]])
    assert convex_intersect_area(a, c) == 0.0


def test_la_nms_quads_merges_adjacent_duplicates():
    q = np.array([0, 0, 10, 0, 10, 4, 0, 4], dtype=np.float64)
    polys = np.vstack([np.r_[q, 1.0], np.r_[q + 0.1, 1.0],
                       np.r_[q + 100, 1.0]])
    out = la_nms_quads(polys, 0.25)
    assert out.shape[0] == 2
    assert out[0, 8] == 2.0                        # merged pair first


def test_drrg_gt_rows_deterministic():
    rects = np.array([[50.0, 10.0, 300.0, 40.0],
                      [400.0, 20.0, 520.0, 60.0]])
    r1 = drrg_gt_rows_for_doc("d-7", rects, [False, True], 96, 600)
    r2 = drrg_gt_rows_for_doc("d-7", rects, [False, True], 96, 600)
    assert r1 == r2 and len(r1) == 16 and r1[0] == "d-7"
    assert r1[1] > 0 and r1[8] >= 9                # min comps padded
