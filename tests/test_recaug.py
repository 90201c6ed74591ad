"""Exec-reference differentials + unit pins for the RecAug seeded
transcription (paddleocr_spark/recaug.py).

The tia warp family is the rare GENUINE end-to-end differential: the
reference's ``text_image_aug/augment.py`` + ``warp_mls.py`` import
nothing but numpy, so the tests below execute the reference source
verbatim against seeded GLOBAL RNGs and compare bit-for-bit with our
explicit-RNG transcription.  For ``rec_img_aug.py`` itself the only
substitutions are import stubs: cv2's three entry points route to our
own primitives (circular for those two pixel kernels, exactly like the
CT/rotate-crop shims — the composition, gating, and pure-numpy ops stay
genuine), PIL/paddle/abinet are unused at call time.
"""
from __future__ import annotations

import random
import sys
import types

import numpy as np
import pytest

from paddleocr_spark.recaug import (
    REC_AUG_VARIANTS, _reflect101_pad, bda_image, bgr2hsv_u8,
    gaussian_kernel_1d, hsv2bgr_u8, rec_aug_for_ref, rec_aug_image,
    sep_gauss5_blur, tia_distort, tia_perspective, tia_stretch, warp_mls)

REF = "/root/reference/ppocr/data/imaug"


# ---------------------------------------------------------------------------
# reference loaders
# ---------------------------------------------------------------------------

def _load_ref_tia():
    """Execute the reference warp_mls.py + augment.py verbatim (both are
    pure numpy) and return the module namespace of augment.py."""
    ns_w: dict = {}
    exec(open(f"{REF}/text_image_aug/warp_mls.py").read(), ns_w)
    src = open(f"{REF}/text_image_aug/augment.py").read()
    src = src.replace("from .warp_mls import WarpMLS",
                      "# relative import injected by test")
    ns_a: dict = {"WarpMLS": ns_w["WarpMLS"]}
    exec(src, ns_a)
    return ns_a


def _cv2_stub():
    """cv2 surface rec_img_aug.py touches, routed to our primitives."""
    from paddleocr_spark.pixelops import resize_bilinear
    from paddleocr_spark.recaug import _GAUSS5

    cv2 = types.ModuleType("cv2")
    cv2.CV_32F = 5
    cv2.COLOR_BGR2HSV = 40
    cv2.COLOR_HSV2BGR = 54
    cv2.COLOR_BGR2GRAY = 6
    cv2.INTER_LINEAR = 1
    cv2.INTER_CUBIC = 2
    cv2.INTER_AREA = 3
    cv2.INTER_NEAREST = 0
    cv2.getPerspectiveTransform = None      # unused on exercised paths

    def _gk(ksize, sigma, ktype=None):
        return gaussian_kernel_1d(ksize, sigma).reshape(-1, 1)

    def _sep(img, ddepth, kx, ky):
        assert ddepth == -1
        assert np.allclose(np.ravel(kx), _GAUSS5)
        assert np.allclose(np.ravel(ky), _GAUSS5)
        return sep_gauss5_blur(img)

    def _cvt(img, code):
        if code == cv2.COLOR_BGR2HSV:
            return bgr2hsv_u8(img)
        assert code == cv2.COLOR_HSV2BGR
        return hsv2bgr_u8(img)

    def _resize(img, wh, interpolation=None):
        return resize_bilinear(img, wh[1], wh[0])

    cv2.getGaussianKernel = _gk
    cv2.sepFilter2D = _sep
    cv2.cvtColor = _cvt
    cv2.resize = _resize
    cv2.GaussianBlur = lambda img, k, s: sep_gauss5_blur(img)
    return cv2


def _load_ref_rec_img_aug():
    """Execute rec_img_aug.py with import stubs; returns its namespace.
    The tia functions injected are the REAL executed reference ones."""
    tia = _load_ref_tia()
    cv2 = _cv2_stub()

    paddle = types.ModuleType("paddle")
    vision = types.ModuleType("paddle.vision")
    transforms = types.ModuleType("paddle.vision.transforms")
    transforms.Compose = lambda ops: ops
    vision.transforms = transforms
    paddle.vision = vision
    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace()

    src = open(f"{REF}/rec_img_aug.py").read()
    for line in (
            "from PIL import Image",
            "from .text_image_aug import tia_perspective, tia_stretch, "
            "tia_distort",
            "from .abinet_aug import CVGeometry, CVDeterioration, "
            "CVColorJitter, SVTRGeometry, SVTRDeterioration",
            "from paddle.vision.transforms import Compose",
            "from .operators_mh import ExtractGrapheme",
    ):
        assert line in src, line
        src = src.replace(line, f"# [test-injected] {line}")

    ns: dict = {
        "tia_distort": tia["tia_distort"],
        "tia_stretch": tia["tia_stretch"],
        "tia_perspective": tia["tia_perspective"],
        "Compose": transforms.Compose,
        "Image": pil.Image,
        "CVGeometry": object, "CVDeterioration": object,
        "CVColorJitter": object, "SVTRGeometry": object,
        "SVTRDeterioration": object, "ExtractGrapheme": object,
    }
    saved = {m: sys.modules.get(m)
             for m in ("cv2", "PIL", "paddle", "paddle.vision",
                       "paddle.vision.transforms")}
    sys.modules["cv2"] = cv2
    sys.modules["PIL"] = pil
    sys.modules["paddle"] = paddle
    sys.modules["paddle.vision"] = vision
    sys.modules["paddle.vision.transforms"] = transforms
    try:
        exec(src, ns)
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v
    return ns


def _img(h, w, tag=0):
    rng = np.random.RandomState(7000 + h * 131 + w * 17 + tag)
    return rng.randint(0, 256, (h, w, 3)).astype(np.uint8)


# ---------------------------------------------------------------------------
# tia family — genuine end-to-end differentials
# ---------------------------------------------------------------------------

SIZES = [(32, 100), (20, 20), (48, 201), (64, 99), (101, 150), (30, 320)]


def test_tia_distort_matches_executed_reference():
    ref = _load_ref_tia()
    for h, w in SIZES:
        img = _img(h, w)
        for seed in range(3):
            for segment in (3, 4, 6):
                np.random.seed(seed)
                want = ref["tia_distort"](img.copy(), segment)
                got = tia_distort(np.random.RandomState(seed),
                                  img.copy(), segment)
                assert np.array_equal(got, want), (h, w, seed, segment)


def test_tia_stretch_matches_executed_reference():
    ref = _load_ref_tia()
    for h, w in SIZES:
        img = _img(h, w, 1)
        for seed in range(3):
            np.random.seed(seed)
            want = ref["tia_stretch"](img.copy(), 4)
            got = tia_stretch(np.random.RandomState(seed), img.copy(), 4)
            assert np.array_equal(got, want), (h, w, seed)


def test_tia_perspective_matches_executed_reference():
    ref = _load_ref_tia()
    for h, w in SIZES:
        img = _img(h, w, 2)
        for seed in range(3):
            np.random.seed(seed)
            want = ref["tia_perspective"](img.copy())
            got = tia_perspective(np.random.RandomState(seed), img.copy())
            assert np.array_equal(got, want), (h, w, seed)


def test_warp_mls_anchor_hit_quirks_match_reference():
    """Control points landing EXACTLY on grid nodes pin the two anchor
    branches (snap-to-source for a non-last hit; the partial-sum MLS
    walk for a last-point hit)."""
    ns_w: dict = {}
    exec(open(f"{REF}/text_image_aug/warp_mls.py").read(), ns_w)
    img = _img(40, 130, 3)
    # node (0, 0) == dst_pts[0] -> snap branch; (129, 39) == last point
    src_pts = [[3, 2], [120, 5], [125, 35], [2, 36]]
    dst_pts = [[0, 0], [130, 0], [130, 40], [129, 39]]
    want = ns_w["WarpMLS"](img, src_pts, dst_pts, 130, 40).generate()
    got = warp_mls(img, src_pts, dst_pts, 130, 40)
    assert np.array_equal(got, want)


def test_warp_mls_grid_edge_columns_match_reference():
    """Widths/heights straddling the 100-px grid step (the stepped
    while-loop's clamp-to-edge jump)."""
    ns_w: dict = {}
    exec(open(f"{REF}/text_image_aug/warp_mls.py").read(), ns_w)
    for h, w in [(100, 101), (101, 100), (99, 205), (200, 199), (1, 50)]:
        img = _img(h, w, 4)
        src_pts = [[0, 0], [w, 0], [w, h], [0, h]]
        dst_pts = [[2, 1], [w - 3, 2], [w - 1, h - 2], [1, h - 1]]
        want = ns_w["WarpMLS"](img, src_pts, dst_pts, w, h).generate()
        got = warp_mls(img, src_pts, dst_pts, w, h)
        assert np.array_equal(got, want), (h, w)


# ---------------------------------------------------------------------------
# RecAug / BDA — executed reference with cv2 routed to our primitives
# ---------------------------------------------------------------------------

def test_rec_aug_matches_executed_reference():
    ns = _load_ref_rec_img_aug()
    for h, w in [(32, 120), (40, 250), (20, 20)]:
        img = _img(h, w, 5)
        for seed in range(12):
            random.seed(seed)
            np.random.seed(seed)
            want = ns["RecAug"]()({"image": img.copy()})["image"]
            got = rec_aug_image(img, seed)
            assert np.array_equal(got, want), (h, w, seed)


def test_bda_small_image_guards_match_reference():
    """Crop (>=20x20) and jitter (>10x10) size guards: the gate coins
    must still be consumed when the guarded op is skipped."""
    ns = _load_ref_rec_img_aug()
    for h, w in [(15, 15), (8, 30), (25, 12), (21, 21)]:
        img = _img(h, w, 6)
        for seed in range(10):
            random.seed(seed)
            np.random.seed(seed)
            want = ns["BaseDataAugmentation"]()({"image": img.copy()})
            got = bda_image(random.Random(seed),
                            np.random.RandomState(seed), img.copy())
            assert np.array_equal(got, want["image"]), (h, w, seed)


# ---------------------------------------------------------------------------
# unit pins
# ---------------------------------------------------------------------------

def test_gaussian_kernel_matches_closed_form():
    k = gaussian_kernel_1d(5, 1.0)
    raw = np.exp(-0.5 * np.array([-2., -1., 0., 1., 2.]) ** 2)
    assert np.allclose(k, raw / raw.sum(), atol=1e-7)
    assert k.dtype == np.float32
    assert abs(float(k.sum()) - 1.0) < 1e-6


def test_reflect101_pad_small_axes():
    assert _reflect101_pad(1, 2).tolist() == [0, 0, 0, 0, 0]
    assert _reflect101_pad(2, 2).tolist() == [0, 1, 0, 1, 0, 1]
    assert _reflect101_pad(5, 2).tolist() == [2, 1, 0, 1, 2, 3, 4, 3, 2]


def test_hsv_primary_colors():
    px = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255],
                    [128, 128, 128]]], np.uint8)      # B, G, R, gray
    hsv = bgr2hsv_u8(px)
    assert hsv[0, 0].tolist() == [120, 255, 255]
    assert hsv[0, 1].tolist() == [60, 255, 255]
    assert hsv[0, 2].tolist() == [0, 255, 255]
    assert hsv[0, 3].tolist() == [0, 0, 128]
    back = hsv2bgr_u8(hsv)
    assert np.array_equal(back, px)


def test_hsv_roundtrip_near_lossless():
    # hue quantizes to 0..179 (2-degree steps), so saturated colors can
    # move a few counts through the round trip — same as real OpenCV
    img = _img(23, 37, 13)
    back = hsv2bgr_u8(bgr2hsv_u8(img))
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 5


def test_blur_preserves_constant_image():
    img = np.full((16, 24, 3), 77, np.uint8)
    assert np.array_equal(sep_gauss5_blur(img), img)


def test_rec_aug_seed_replay_is_deterministic():
    img = _img(32, 96, 14)
    a = rec_aug_image(img, 123)
    b = rec_aug_image(img, 123)
    c = rec_aug_image(img, 124)
    assert np.array_equal(a, b)
    assert a.shape != c.shape or not np.array_equal(a, c)


def test_rec_aug_for_ref_rows_shape():
    rows = rec_aug_for_ref("m-000042")
    assert [r[1] for r in rows] == list(REC_AUG_VARIANTS)
    for r in rows:
        assert r[3] >= 24 and r[4] >= 64     # tiled past every guard
        assert 0 <= r[6] <= r[7] <= 255
