"""R6 rec-resize family: exec-ref differentials + quirk pins.

Executes the reference's ENTIRE deterministic resize roster
(ppocr/data/imaug/rec_img_aug.py:255-721 — the 13 ``*ResizeImg`` classes
and 5 helpers) with cv2 shimmed by our own primitives (the sanctioned
pattern from the get_rotate_crop_image / CT / SAST differentials: the
pixel resampler is shared, everything AROUND it — ratio rules, rounding,
norm chains, padding arithmetic, dtype walks — runs as the reference
wrote it) and asserts bit-equality against paddleocr_spark.recresize.
"""

from __future__ import annotations

import math
import os
import random
import types

import numpy as np
import pytest

import paddleocr_spark.recresize as RR

REF_ROOT = "/root/reference"
REF_FILE = os.path.join(REF_ROOT, "ppocr/data/imaug/rec_img_aug.py")

pytestmark = pytest.mark.skipif(
    not os.path.isfile(REF_FILE), reason="reference checkout not available")


class _Cv2Shim:
    """cv2 surface the resize roster touches, backed by our kernels.

    ``resize`` accepts the interpolation flag in EITHER the keyword slot
    or the positional third slot — SPINRecResizeImg passes it
    positionally where real cv2 expects ``dst`` (rec_img_aug.py:439);
    honoring the author's intent keeps the differential meaningful."""
    INTER_NEAREST = 0
    INTER_LINEAR = 1
    INTER_CUBIC = 2
    INTER_AREA = 3
    COLOR_BGR2GRAY = 6

    @staticmethod
    def resize(img, dsize, pos=None, interpolation=None):
        interp = interpolation
        if isinstance(pos, int):
            interp = pos
        if interp in (None, 1):
            from paddleocr_spark.pixelops import resize_bilinear
            return resize_bilinear(img, int(dsize[1]), int(dsize[0]))
        if interp == 2:
            return RR.resize_bicubic(img, int(dsize[1]), int(dsize[0]))
        raise AssertionError(f"unshimmed interpolation {interp}")

    @staticmethod
    def cvtColor(img, code):
        assert code == _Cv2Shim.COLOR_BGR2GRAY
        return RR.cvt_bgr2gray(img)


def _exec_resize_roster() -> dict:
    src = open(REF_FILE).read()
    body = src[src.index("class ClsResizeImg"):]
    ns = {
        "cv2": _Cv2Shim, "np": np, "math": math, "random": random,
        "copy": __import__("copy"),
        "Image": types.SimpleNamespace(LANCZOS=1),
    }
    exec(body, ns)
    return ns


@pytest.fixture(scope="module")
def ref():
    return _exec_resize_roster()


def _imgs(n=60, seed=7):
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        h = int(rng.randint(1, 48))
        w = int(rng.randint(1, 48))
        out.append(rng.randint(0, 256, (h, w, 3)).astype(np.uint8))
    # deliberate aspect extremes: very wide (pad-free), very tall,
    # exact-ratio ties for the SAR divisor snap
    out.append(np.arange(3 * 2 * 400, dtype=np.uint8).reshape(2, 400, 3))
    out.append(np.arange(3 * 400 * 2, dtype=np.uint8).reshape(400, 2, 3))
    out.append(np.full((48, 18, 3), 131, np.uint8))   # resize_w 18 → 4.5
    out.append(np.full((48, 22, 3), 17, np.uint8))    # resize_w 22 → 5.5
    return out


def test_rec_resize_roster_matches_executed_reference(ref):
    """Every deterministic class in the roster, bit-exact."""
    cases = [
        (ref["ClsResizeImg"](image_shape=[3, 48, 192]),
         lambda im: {"image": RR.resize_norm_img(im, (3, 48, 192))[0]}),
        (ref["RecResizeImg"](image_shape=[3, 32, 100]),
         lambda im: dict(zip(
             ("image", "valid_ratio"),
             RR.resize_norm_img(im, (3, 32, 100), True)))),
        (ref["RecResizeImg"](image_shape=[3, 32, 100], padding=False),
         lambda im: dict(zip(
             ("image", "valid_ratio"),
             RR.resize_norm_img(im, (3, 32, 100), False)))),
        (ref["RecResizeImg"](image_shape=[3, 32, 320], eval_mode=True),
         lambda im: dict(zip(
             ("image", "valid_ratio"),
             RR.resize_norm_img_chinese(im, (3, 32, 320))))),
        (ref["SVTRRecResizeImg"](image_shape=[3, 48, 320]),
         lambda im: dict(zip(
             ("image", "valid_ratio"),
             RR.resize_norm_img(im, (3, 48, 320), True)))),
        (ref["VLRecResizeImg"](image_shape=[3, 64, 256]),
         lambda im: dict(zip(("image", "valid_ratio"),
                             RR.vl_resize(im, (3, 64, 256))))),
        (ref["ABINetRecResizeImg"](image_shape=[3, 32, 128]),
         lambda im: dict(zip(
             ("image", "valid_ratio"),
             RR.resize_norm_img_abinet(im, (3, 32, 128))))),
        (ref["RFLRecResizeImg"](image_shape=[1, 32, 100]),
         lambda im: dict(zip(("image", "valid_ratio"),
                             RR.rfl_resize(im, (1, 32, 100))))),
        (ref["PRENResizeImg"](image_shape=[64, 256]),
         lambda im: {"image": RR.pren_resize(im, 64, 256)}),
        (ref["SPINRecResizeImg"](image_shape=(100, 32), interpolation=2,
                                 mean=[127.5], std=[127.5]),
         lambda im: {"image": RR.spin_resize(im, (100, 32))}),
        (ref["GrayRecResizeImg"](image_shape=(100, 32),
                                 resize_type="OpenCV"),
         lambda im: {"image": RR.gray_resize(im, (100, 32))}),
        (ref["GrayRecResizeImg"](image_shape=(100, 32),
                                 resize_type="OpenCV", scale=False),
         lambda im: {"image": RR.gray_resize(im, (100, 32),
                                             scale=False)}),
        (ref["GrayRecResizeImg"](image_shape=[1, 32, 100],
                                 resize_type="OpenCV", padding=True),
         lambda im: {"image": RR.gray_resize(im, (1, 32, 100),
                                             padding=True)}),
        (ref["SARRecResizeImg"](image_shape=[3, 48, 48, 160]),
         lambda im: dict(zip(
             ("image", "resized_shape", "pad_shape", "valid_ratio"),
             RR.resize_norm_img_sar(im, (3, 48, 48, 160))))),
        (ref["SRNRecResizeImg"](image_shape=[1, 64, 256], num_heads=8,
                                max_text_length=25),
         lambda im: dict(zip(
             ("image", "encoder_word_pos", "gsrm_word_pos",
              "gsrm_slf_attn_bias1", "gsrm_slf_attn_bias2"),
             (RR.resize_norm_img_srn(im, (1, 64, 256)),
              *RR.srn_other_inputs((1, 64, 256), 8, 25))))),
    ]
    for img in _imgs():
        for op, ours_fn in cases:
            want = op({"image": img.copy()})
            ours = ours_fn(img.copy())
            for key, got in ours.items():
                w = want[key]
                if isinstance(got, np.ndarray):
                    assert w.dtype == got.dtype, (type(op).__name__, key)
                    assert np.array_equal(w, got), (
                        type(op).__name__, key, img.shape)
                else:
                    assert w == got, (type(op).__name__, key, img.shape)


def test_sar_divisor_snap_uses_bankers_round():
    """rec_img_aug.py:565 divides by the width divisor and applies
    Python round() — half-EVEN.  18/4 = 4.5 → 16 (down to even), while
    22/4 = 5.5 → 24 (up to even): asymmetric on purpose, pinned."""
    for src_w, want_w in ((18, 16), (22, 24)):
        img = np.zeros((48, src_w, 3), np.uint8)
        _, resize_shape, _, _ = RR.resize_norm_img_sar(
            img, (3, 48, 4, 160))
        assert resize_shape[2] == want_w, (src_w, resize_shape)


def test_bicubic_identity_and_constants():
    """scale 1 makes every sample coordinate integral (t = 0 → weights
    (0,1,0,0)): identity.  Constant images stay constant at any scale
    (the Keys kernel's weights sum to 1)."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    assert np.array_equal(RR.resize_bicubic(img, 9, 13), img)
    flat = np.full((5, 7), 119, np.uint8)
    out = RR.resize_bicubic(flat, 31, 3)
    assert out.shape == (31, 3) and np.all(out == 119)


def test_gray_fixed_point_rounding():
    """The three BT.601 coefficients sum to exactly 2^14, so pure-gray
    pixels are fixed points; a half-boundary case pins the +2^13 round."""
    for v in (0, 1, 127, 128, 254, 255):
        px = np.full((1, 1, 3), v, np.uint8)
        assert RR.cvt_bgr2gray(px)[0, 0] == v
    # B=255,G=0,R=0 → (255·1868 + 8192) >> 14 = 29 (floor of 29.57)
    px = np.zeros((1, 1, 3), np.uint8)
    px[0, 0, 0] = 255
    assert RR.cvt_bgr2gray(px)[0, 0] == 29
    # 2-D passthrough
    g = np.arange(6, dtype=np.uint8).reshape(2, 3)
    assert RR.cvt_bgr2gray(g) is g


def test_srn_other_inputs_values():
    enc, word, b1, b2 = RR.srn_other_inputs((1, 64, 256), 8, 25)
    assert enc.shape == (256, 1) and enc.dtype == np.int64
    assert word.shape == (25, 1) and word[-1, 0] == 24
    assert b1.shape == (8, 25, 25) and b2.shape == (8, 25, 25)
    # bias1 masks strictly-upper, bias2 strictly-lower, diagonal open
    assert b1[0, 0, 1] == -1e9 and b1[0, 1, 0] == 0 and b1[0, 0, 0] == 0
    assert b2[0, 1, 0] == -1e9 and b2[0, 0, 1] == 0 and b2[0, 0, 0] == 0
