"""Exec-reference differentials + pins for the PGNet target
transcription (paddleocr_spark/pg_gt.py).

Executes ``ppocr/data/imaug/pg_process.py`` AND
``ppocr/utils/e2e_utils/extract_textpoint_fast.py`` VERBATIM under
seeded global np.random over 16-point rect polys, with the raster
axioms (fillPoly/polylines/8-CC from drrg_gt, bilinear resize,
auto-sigma Gaussian blur, minAreaRect+boxPoints, the regenerated
Lam-Lee-Suen thinning LUTs) shimmed on both sides.  The poly
validation/reversal walk, all scale/blur/brightness/pad draws, TCL
shrink geometry, TBO fields, direction labels, CTC label prep, and
the default (v2) point gather run from reference source.
"""
from __future__ import annotations

import os
import random
import sys
import tempfile
import types

import numpy as np

from paddleocr_spark.pg_gt import (
    PG_LEXICON, _rect_to_poly16, gaussian_blur_auto, pg_gt_rows_for_doc,
    pg_process_doc, thin_skeleton)

REF = "/root/reference"


def _cv2_stub():
    from paddleocr_spark.drrg_gt import (connected_components8,
                                         fill_poly, polyline8)
    from paddleocr_spark.pixelops import min_area_box, resize_bilinear

    cv2 = types.ModuleType("cv2")

    def _resize(img, dsize=None, fx=None, fy=None, interpolation=None):
        if dsize is None:
            h, w = img.shape[:2]
            return resize_bilinear(img, int(round(h * fy)),
                                   int(round(w * fx)))
        return resize_bilinear(img, dsize[1], dsize[0])

    def _fill_poly(img, pts_list, color=None, **kw):
        val = color if color is not None else kw.get("color")
        for pts in pts_list:
            fill_poly(img, pts, val)
        return img

    def _polylines(img, pts_list, is_closed, color, thickness=1):
        assert not is_closed and thickness == 1
        for pts in pts_list:
            polyline8(img, pts, color)

    def _min_area_rect(pts):
        box = np.array(min_area_box(pts))
        center = (float(box[:, 0].mean()), float(box[:, 1].mean()))
        return (center, box)

    def _gauss(img, ksize, sigmaX=0, sigmaY=0):
        assert sigmaX == 0 and sigmaY == 0
        return gaussian_blur_auto(img, ksize[0])

    cv2.resize = _resize
    cv2.fillPoly = _fill_poly
    cv2.polylines = _polylines
    cv2.minAreaRect = _min_area_rect
    cv2.boxPoints = lambda rect: rect[1]
    cv2.GaussianBlur = _gauss
    cv2.connectedComponents = \
        lambda m, connectivity=8: connected_components8(m)
    return cv2


def _load_ref_pg():
    """Execute extract_textpoint_fast.py then pg_process.py verbatim;
    returns (pg namespace, dict_path)."""
    cv2 = _cv2_stub()
    skel = types.ModuleType("skimage.morphology._skeletonize")
    skel.thin = lambda m: thin_skeleton(m)
    morph = types.ModuleType("skimage.morphology")
    morph._skeletonize = skel
    skimage = types.ModuleType("skimage")
    skimage.morphology = morph

    mods = {"cv2": cv2, "skimage": skimage,
            "skimage.morphology": morph,
            "skimage.morphology._skeletonize": skel}
    saved = {m: sys.modules.get(m) for m in mods}
    sys.modules.update(mods)
    try:
        tp_ns: dict = {}
        exec(open(f"{REF}/ppocr/utils/e2e_utils/"
                  "extract_textpoint_fast.py").read(), tp_ns)
        # expose the executed module for pg_process's import
        etp = types.ModuleType("ppocr.utils.e2e_utils."
                               "extract_textpoint_fast")
        for k, v in tp_ns.items():
            setattr(etp, k, v)
        e2e = types.ModuleType("ppocr.utils.e2e_utils")
        e2e.extract_textpoint_fast = etp
        pu = types.ModuleType("ppocr.utils")
        pu.e2e_utils = e2e
        ppocr = types.ModuleType("ppocr")
        ppocr.utils = pu
        more = {"ppocr": ppocr, "ppocr.utils": pu,
                "ppocr.utils.e2e_utils": e2e,
                "ppocr.utils.e2e_utils.extract_textpoint_fast": etp}
        saved.update({m: sys.modules.get(m) for m in more
                      if m not in saved})
        sys.modules.update(more)
        ns: dict = {}
        exec(open(f"{REF}/ppocr/data/imaug/pg_process.py").read(), ns)
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v
    fd, dict_path = tempfile.mkstemp(suffix=".txt")
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write("\n".join(PG_LEXICON))
    return ns, dict_path


def _mk_doc(rng, h, w, n):
    polys, tags, texts = [], [], []
    pool = "abcXYZ019 .,!#한"
    for k in range(n):
        x0 = rng.randint(5, max(w - 120, 6))
        y0 = rng.randint(5, max(h - 60, 6))
        bw = rng.choice([40, 90, 160, 260])
        bh = rng.choice([14, 22, 36])
        p16 = _rect_to_poly16(x0, y0, min(x0 + bw, w - 2),
                              min(y0 + bh, h - 2))
        if rng.random() < 0.2:
            p16 = p16[::-1]            # wrong direction -> reversal arm
        polys.append(p16)
        tags.append(rng.random() < 0.2)
        texts.append("".join(rng.choice(pool)
                             for _ in range(rng.randint(0, 12))))
    img = ((np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 7)
           % 256).astype(np.uint8)
    img = np.stack([img, (img * 5 + 31) % 256, (img * 11 + 57) % 256],
                   axis=-1).astype(np.uint8)
    return img, polys, tags, texts


def _run_ref(ns, dict_path, img, polys, tags, texts, seed):
    np.random.seed(seed)
    op = ns["PGProcessTrain"](
        character_dict_path=dict_path, max_text_length=50,
        max_text_nums=30, tcl_len=64, use_resize=True)
    return op({"image": img.copy(),
               "polys": np.array(polys, dtype=np.float32),
               "ignore_tags": list(tags),
               "texts": list(texts)})


_KEYS = ("images", "tcl_maps", "tcl_label_maps", "border_maps",
         "direction_maps", "training_masks", "label_list", "pos_list",
         "pos_mask")


def _assert_same(got, want, ctx):
    if want is None:
        assert got is None, ctx
        return
    assert got is not None, ctx
    for k in _KEYS:
        assert got[k].shape == want[k].shape, (ctx, k)
        assert np.array_equal(np.asarray(got[k]), np.asarray(want[k])), \
            (ctx, k)


def test_pg_process_matches_executed_reference():
    ns, dict_path = _load_ref_pg()
    rng = random.Random(91)
    live = 0
    for trial in range(20):
        h = rng.choice([320, 420, 512])
        w = rng.choice([420, 512, 600])
        img, polys, tags, texts = _mk_doc(rng, h, w, rng.randint(0, 5))
        seed = 5000 + trial
        want = _run_ref(ns, dict_path, img, polys, tags, texts, seed)
        got = pg_process_doc(img, polys, tags, texts, seed)
        _assert_same(got, want, trial)
        live += want is not None
    assert live >= 5                       # drop arms aren't everything


def test_thin_skeleton_basics():
    """The regenerated Lam-Lee-Suen LUT thinning: a filled horizontal
    bar thins to a 1-px line; isolated pixels and empty masks are
    fixed points."""
    bar = np.zeros((11, 40), np.uint8)
    bar[3:8, 4:36] = 1
    sk = thin_skeleton(bar)
    assert sk.sum() > 0
    # every column of the interior collapses to exactly one pixel
    cols = sk[:, 10:30].sum(axis=0)
    assert (cols == 1).all()
    single = np.zeros((5, 5), np.uint8)
    single[2, 2] = 1
    assert np.array_equal(thin_skeleton(single),
                          single.astype(bool))
    assert thin_skeleton(np.zeros((4, 4), np.uint8)).sum() == 0


def test_gaussian_blur_auto_pins():
    img = np.full((9, 9, 3), 50, np.uint8)
    assert np.array_equal(gaussian_blur_auto(img, 1), img)
    assert np.array_equal(gaussian_blur_auto(img, 5), img)
    rng = np.random.RandomState(0)
    noisy = rng.randint(0, 256, (12, 17, 3)).astype(np.uint8)
    out = gaussian_blur_auto(noisy, 3)
    assert out.shape == noisy.shape
    assert float(np.abs(np.diff(out.astype(int), axis=1)).mean()) < \
        float(np.abs(np.diff(noisy.astype(int), axis=1)).mean())


def test_pg_gt_rows_deterministic():
    rects = np.array([[40.0, 60.0, 360.0, 96.0],
                      [80.0, 160.0, 420.0, 200.0]])
    r1 = pg_gt_rows_for_doc("d-3", rects, [False, False],
                            ["hello", "world9"], 420, 512)
    r2 = pg_gt_rows_for_doc("d-3", rects, [False, False],
                            ["hello", "world9"], 420, 512)
    assert r1 == r2 and len(r1) == 11 and r1[0] == "d-3"
