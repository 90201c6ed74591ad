"""Exec-reference differentials + unit pins for the ABINet/SVTR
augment transcription (paddleocr_spark/cvaug.py).

The differential executes ``ppocr/data/imaug/abinet_aug.py`` VERBATIM
(sys.modules-stubbed imports only, zero source edits) and, for the
wrappers, ``rec_img_aug.py`` with the executed abinet classes injected.
Every RNG walk, gate, matrix build, shuffle, and crop/envelope
bookkeeping is genuine; the cv2 raster primitives (warpAffine/
warpPerspective/resize/pyrDown/filter2D/minAreaRect+boxPoints/
getRotationMatrix2D/getPerspectiveTransform) are routed to our own
re-derivations on BOTH sides — circular for those kernels, the same
documented trade the tia/CT/rotate-crop differentials made.
CVColorJitter is stubbed to identity on both sides (paddle/PIL pixel
math, external); it is the LAST chain member, so the stub perturbs no
upstream draw.
"""
from __future__ import annotations

import random
import sys
import types

import numpy as np

from paddleocr_spark.cvaug import (
    CVAUG_VARIANTS, INTER_AREA, INTER_LINEAR, INTER_NEAREST,
    _affine_call, _gaussian_noise, _motion_blur, _perspective_call,
    _rescale, _rotation_call, abinet_rec_aug_image, cvaug_for_ref,
    filter2d_reflect101, get_rotation_matrix_2d, pyr_down, resize_interp,
    svtr_geometry, svtr_rec_aug_image, warp_affine,
    warp_perspective_interp)

REF = "/root/reference/ppocr/data/imaug"


# ---------------------------------------------------------------------------
# reference loaders
# ---------------------------------------------------------------------------

class _Compose:
    """paddle.vision.transforms.Compose: apply in order."""

    def __init__(self, transforms):
        self.transforms = transforms

    def __call__(self, data):
        for f in self.transforms:
            data = f(data)
        return data


class _ColorJitter:
    """Identity stand-in for paddle's ColorJitter (no init/call RNG;
    CVColorJitter draws its own gate before invoking this)."""

    def __init__(self, brightness=0, contrast=0, saturation=0, hue=0):
        pass

    def __call__(self, img):
        return img


def _cv2aug_stub():
    """cv2 surface abinet_aug.py touches, routed to our primitives."""
    from paddleocr_spark.pixelops import get_perspective_transform, \
        min_area_box

    cv2 = types.ModuleType("cv2")
    cv2.INTER_NEAREST = INTER_NEAREST
    cv2.INTER_LINEAR = INTER_LINEAR
    cv2.INTER_CUBIC = 2
    cv2.INTER_AREA = INTER_AREA
    cv2.BORDER_CONSTANT = 0
    cv2.BORDER_REPLICATE = 1

    def _grm(center, angle, scale):
        return get_rotation_matrix_2d(center, angle, scale)

    def _warp_affine(img, m, dsize, flags=INTER_LINEAR, borderMode=0):
        return warp_affine(img, m, dsize, flags,
                           border_replicate=(borderMode == 1))

    def _warp_persp(img, m, dsize, flags=INTER_LINEAR, borderMode=0):
        return warp_perspective_interp(img, m, dsize, flags,
                                       border_replicate=(borderMode == 1))

    def _resize(img, dsize, interpolation=INTER_LINEAR):
        return resize_interp(img, dsize, interpolation)

    cv2.getRotationMatrix2D = _grm
    cv2.warpAffine = _warp_affine
    cv2.warpPerspective = _warp_persp
    cv2.getPerspectiveTransform = \
        lambda s, d: get_perspective_transform(s, d)
    cv2.minAreaRect = lambda pts: pts          # rect token: the points
    cv2.boxPoints = lambda rect: min_area_box(rect)
    cv2.resize = _resize
    cv2.pyrDown = pyr_down
    cv2.filter2D = lambda img, ddepth, kernel: filter2d_reflect101(
        img, np.asarray(kernel, np.float64))
    return cv2


def _patched_modules():
    """sys.modules dict satisfying abinet_aug.py's imports."""
    cv2 = _cv2aug_stub()
    paddle = types.ModuleType("paddle")
    vision = types.ModuleType("paddle.vision")
    transforms = types.ModuleType("paddle.vision.transforms")
    transforms.Compose = _Compose
    transforms.ColorJitter = _ColorJitter
    vision.transforms = transforms
    paddle.vision = vision
    return {"cv2": cv2, "paddle": paddle, "paddle.vision": vision,
            "paddle.vision.transforms": transforms}


def _exec_with_stubs(src, ns, mods):
    saved = {m: sys.modules.get(m) for m in mods}
    sys.modules.update(mods)
    try:
        exec(src, ns)
    finally:
        for m, v in saved.items():
            if v is None:
                sys.modules.pop(m, None)
            else:
                sys.modules[m] = v
    return ns


def _load_ref_abinet():
    """Execute abinet_aug.py verbatim; returns its namespace."""
    return _exec_with_stubs(open(f"{REF}/abinet_aug.py").read(), {},
                            _patched_modules())


def _load_ref_wrappers():
    """Execute rec_img_aug.py with the EXECUTED abinet classes injected
    (relative imports commented, as in test_recaug) and return the
    namespace exposing ABINetRecAug / SVTRRecAug."""
    ab = _load_ref_abinet()
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
    ns = {
        "Image": types.SimpleNamespace(),
        "tia_distort": None, "tia_stretch": None, "tia_perspective": None,
        "Compose": _Compose,
        "CVGeometry": ab["CVGeometry"],
        "CVDeterioration": ab["CVDeterioration"],
        "CVColorJitter": ab["CVColorJitter"],
        "SVTRGeometry": ab["SVTRGeometry"],
        "SVTRDeterioration": ab["SVTRDeterioration"],
        "ExtractGrapheme": object,
    }
    return _exec_with_stubs(src, ns, _patched_modules())


def _img(h, w, tag=0):
    rng = np.random.RandomState(9000 + h * 131 + w * 17 + tag)
    return rng.randint(0, 256, (h, w, 3)).astype(np.uint8)


SIZES = [(32, 100), (48, 160), (26, 300), (64, 64)]


# ---------------------------------------------------------------------------
# per-op differentials — construct fresh + apply once under seeded
# global RNGs vs our explicit-RNG transcription
# ---------------------------------------------------------------------------

def _seeded(seed):
    random.seed(seed)
    np.random.seed(seed)
    return random.Random(seed), np.random.RandomState(seed)


def test_rotation_matches_executed_reference():
    ns = _load_ref_abinet()
    for h, w in SIZES:
        img = _img(h, w)
        for seed in range(6):
            rpy, rnp = _seeded(seed)
            want = ns["CVRandomRotation"](degrees=45)(img.copy())
            got = _rotation_call(rpy, rnp, img.copy(), 45)
            assert np.array_equal(got, want), (h, w, seed)


def test_affine_matches_executed_reference():
    ns = _load_ref_abinet()
    for h, w in SIZES:
        img = _img(h, w, 1)
        for seed in range(8):
            rpy, rnp = _seeded(seed)
            want = ns["CVRandomAffine"](
                degrees=45, translate=(0.0, 0.0), scale=(0.5, 2.),
                shear=(45, 15))(img.copy())
            got = _affine_call(rpy, rnp, img.copy(), 45, (0.0, 0.0),
                               (0.5, 2.), (45, 15))
            assert np.array_equal(got, want), (h, w, seed)


def test_affine_translate_and_single_shear_branches():
    """Non-zero translate draws + the len-1 shear arm + translate=None
    (no translation draws at all)."""
    ns = _load_ref_abinet()
    img = _img(40, 120, 2)
    for seed in range(8):
        rpy, rnp = _seeded(seed)
        want = ns["CVRandomAffine"](
            degrees=20, translate=(0.3, 0.2), scale=(0.8, 1.4),
            shear=30)(img.copy())
        got = _affine_call(rpy, rnp, img.copy(), 20, (0.3, 0.2),
                           (0.8, 1.4), [30])
        assert np.array_equal(got, want), seed
        rpy, rnp = _seeded(seed + 100)
        want = ns["CVRandomAffine"](degrees=20)(img.copy())
        got = _affine_call(rpy, rnp, img.copy(), 20, None, None, None)
        assert np.array_equal(got, want), seed


def test_perspective_matches_executed_reference():
    ns = _load_ref_abinet()
    for h, w in SIZES:
        img = _img(h, w, 3)
        for seed in range(8):
            rpy, rnp = _seeded(seed)
            want = ns["CVRandomPerspective"](distortion=0.5)(img.copy())
            got = _perspective_call(rpy, rnp, img.copy(), 0.5)
            assert np.array_equal(got, want), (h, w, seed)


def test_rescale_matches_executed_reference():
    ns = _load_ref_abinet()
    img = _img(32, 100, 4)
    for seed in range(10):                 # hits factor 0..4 incl. 0
        rpy, rnp = _seeded(seed)
        want = ns["CVRescale"](factor=4)(img.copy())
        got = _rescale(rpy, rnp, 4, (128, 512))(img.copy())
        assert np.array_equal(got, want), seed
    # tuple-factor arm
    rpy, rnp = _seeded(3)
    want = ns["CVRescale"](factor=(1, 3))(img.copy())
    got = _rescale(rpy, rnp, (1, 3), (128, 512))(img.copy())
    assert np.array_equal(got, want)


def test_gaussian_noise_matches_executed_reference():
    ns = _load_ref_abinet()
    img = _img(24, 80, 5)
    for seed in range(6):
        rpy, rnp = _seeded(seed)
        want = ns["CVGaussianNoise"](var=20)(img.copy())
        got = _gaussian_noise(rnp, 20)(img.copy())
        assert np.array_equal(got, want), seed
    rpy, rnp = _seeded(2)
    want = ns["CVGaussianNoise"](var=(5, 30))(img.copy())
    got = _gaussian_noise(rnp, (5, 30))(img.copy())
    assert np.array_equal(got, want)


def test_motion_blur_matches_executed_reference():
    ns = _load_ref_abinet()
    img = _img(24, 80, 6)
    for seed in range(8):                  # degree 1..6 incl. even dims
        rpy, rnp = _seeded(seed)
        want = ns["CVMotionBlur"](degrees=6)(img.copy())
        got = _motion_blur(rnp, 6, 90)(img.copy())
        assert np.array_equal(got, want), seed


def test_svtr_geometry_matches_executed_reference():
    ns = _load_ref_abinet()
    img = _img(32, 100, 10)
    for aug_type in (0, 1):
        for seed in range(16):
            rpy, rnp = _seeded(seed)
            want = ns["SVTRGeometry"](
                aug_type=aug_type, degrees=45, translate=(0.0, 0.0),
                scale=(0.5, 2.), shear=(45, 15), distortion=0.5,
                p=0.5)(img.copy())
            got = svtr_geometry(rpy, rnp, img.copy(), aug_type=aug_type,
                                degrees=45, translate=(0.0, 0.0),
                                scale=(0.5, 2.), shear=(45, 15),
                                distortion=0.5, p=0.5)
            assert np.array_equal(got, want), (aug_type, seed)


# ---------------------------------------------------------------------------
# wrapper differentials — the EXECUTED ABINetRecAug / SVTRRecAug
# ---------------------------------------------------------------------------

def test_abinet_rec_aug_matches_executed_reference():
    ns = _load_ref_wrappers()
    for h, w in [(32, 128), (48, 160), (26, 300)]:
        img = _img(h, w, 11)
        for seed in range(20):
            random.seed(seed)
            np.random.seed(seed)
            want = ns["ABINetRecAug"]()({"image": img.copy()})["image"]
            got = abinet_rec_aug_image(img, seed)
            assert np.array_equal(got, want), (h, w, seed)


def test_svtr_rec_aug_matches_executed_reference():
    ns = _load_ref_wrappers()
    img = _img(40, 140, 12)
    for aug_type in (0, 1):
        for seed in range(20):
            random.seed(seed)
            np.random.seed(seed)
            want = ns["SVTRRecAug"](aug_type=aug_type)(
                {"image": img.copy()})["image"]
            got = svtr_rec_aug_image(img, seed, aug_type=aug_type)
            assert np.array_equal(got, want), (aug_type, seed)


# ---------------------------------------------------------------------------
# raster-primitive unit pins (public OpenCV semantics)
# ---------------------------------------------------------------------------

def test_rotation_matrix_closed_form():
    m = get_rotation_matrix_2d((10.0, 5.0), 90.0, 1.0)
    assert np.allclose(m[:, :2], [[0, 1], [-1, 0]], atol=1e-12)
    # the centre must be a fixed point
    assert np.allclose(m @ np.array([10.0, 5.0, 1.0]), [10.0, 5.0],
                       atol=1e-9)


def test_warp_affine_identity_and_shift():
    img = _img(13, 17, 13)
    ident = np.array([[1.0, 0, 0], [0, 1.0, 0]])
    assert np.array_equal(warp_affine(img, ident, (17, 13)), img)
    shift = np.array([[1.0, 0, 3], [0, 1.0, 2]])
    out = warp_affine(img, shift, (17, 13), INTER_NEAREST)
    assert np.array_equal(out[2:, 3:], img[:11, :14])
    assert (out[:2] == 0).all() and (out[:, :3] == 0).all()


def test_warp_perspective_identity():
    img = _img(11, 19, 14)
    assert np.array_equal(
        warp_perspective_interp(img, np.eye(3), (19, 11)), img)


def test_pyr_down_constant_and_shape():
    img = np.full((21, 34, 3), 93, np.uint8)
    out = pyr_down(img)
    assert out.shape == (11, 17, 3)
    assert (out == 93).all()


def test_resize_area_integer_decimation_is_box_mean():
    img = np.arange(8 * 12 * 1, dtype=np.uint8).reshape(8, 12)
    out = resize_interp(img, (6, 4), INTER_AREA)       # 2x2 boxes
    want = img.reshape(4, 2, 6, 2).mean(axis=(1, 3))
    assert np.array_equal(out, np.clip(np.rint(want), 0, 255)
                          .astype(np.uint8))


def test_resize_nearest_same_size_is_identity():
    img = _img(9, 14, 15)
    assert np.array_equal(resize_interp(img, (14, 9), INTER_NEAREST),
                          img)


def test_filter2d_delta_kernel_is_identity():
    img = _img(12, 15, 16)
    k = np.zeros((3, 5))
    k[1, 2] = 1.0
    assert np.array_equal(filter2d_reflect101(img, k), img)


def test_filter2d_reflect101_border():
    img = np.array([[10, 20, 30, 40]], np.uint8)
    k = np.array([[0.0, 0.0, 1.0]])                    # shift-left tap
    out = filter2d_reflect101(img, k)
    # x=3 reads source x=4 -> reflect101 -> x=2
    assert out.tolist() == [[20, 30, 40, 30]]


# ---------------------------------------------------------------------------
# gate-query kernel pins
# ---------------------------------------------------------------------------

def test_cvaug_seed_replay_is_deterministic():
    img = _img(32, 96, 17)
    assert np.array_equal(abinet_rec_aug_image(img, 7),
                          abinet_rec_aug_image(img, 7))
    a = svtr_rec_aug_image(img, 11, aug_type=1)
    b = svtr_rec_aug_image(img, 11, aug_type=1)
    assert np.array_equal(a, b)


def test_cvaug_for_ref_rows_shape():
    rows = cvaug_for_ref("m-000042")
    assert [r[1] for r in rows] == list(CVAUG_VARIANTS)
    for r in rows:
        assert r[3] > 0 and r[4] > 0
        assert 0 <= r[6] <= r[7] <= 255
