"""R6 deterministic subset of the recognizer resize/normalize family.

Transcribes the RESIZE half of ``ppocr/data/imaug/rec_img_aug.py`` — the
13 ``*ResizeImg`` operator classes and their 5 shared helpers (lines
255-721), which are fully deterministic (no RNG anywhere in them) — under
the same contract as :mod:`paddleocr_spark.pixelops`: cv2's documented
INTER_LINEAR / INTER_CUBIC center-aligned sampling and BGR2GRAY
fixed-point arithmetic re-derived from public semantics, float32 norm
chains in the reference's own operation order.

What stays out (and why, recorded in ROADMAP): the AUGMENT half of the
file (RecAug/BaseDataAugmentation/ABINetRecAug/RecConAug/SVTRRecAug,
lines 26-253) drives tia_* warps and imgaug-style jitters whose RNG walks
live inside third-party pixel libraries absent from this container — a
differential would be circular.  ``GrayRecResizeImg``'s PIL arm
(``Image.LANCZOS`` resampling, rec_img_aug.py:489-492) is likewise
transcription-pinned only; its padding and OpenCV arms are implemented.

Reference: hoonisone/PaddleOCR ``ppocr/data/imaug/rec_img_aug.py``
  resize_norm_img           :589-620   resize_norm_img_sar     :554-586
  resize_norm_img_chinese   :623-647   resize_norm_img_srn     :650-674
  resize_norm_img_abinet    :677-694   srn_other_inputs        :697-721
  ClsResizeImg :255  RecResizeImg :266  VLRecResizeImg :294
  RFLRecResizeImg :326  SRNRecResizeImg :353  SARRecResizeImg :373
  PRENResizeImg :389  SPINRecResizeImg :408  GrayRecResizeImg :453
  ABINetRecResizeImg :504  SVTRRecResizeImg :516
"""
from __future__ import annotations

import math

import numpy as np

from .pixelops import _cubic_weights, resize_bilinear

__all__ = [
    "cvt_bgr2gray", "resize_bicubic", "resize_norm_img",
    "resize_norm_img_chinese", "resize_norm_img_sar",
    "resize_norm_img_srn", "resize_norm_img_abinet", "srn_other_inputs",
    "gray_resize", "pren_resize", "vl_resize", "spin_resize",
    "rfl_resize", "rec_resize_for_ref",
    "REC_RESIZE_VARIANTS",
]


def cvt_bgr2gray(img: np.ndarray) -> np.ndarray:
    """cv2.cvtColor(img, cv2.COLOR_BGR2GRAY) analog.

    uint8 path: OpenCV's fixed-point ITU-R BT.601 weights —
    ``(B*1868 + G*9617 + R*4899 + 2^13) >> 14`` (the three coefficients
    are round(w * 2^14) with w = 0.114/0.587/0.299 and sum exactly
    2^14, so the result is an exact uint8).  Float path: the plain
    floating dot product with the same weights."""
    if img.ndim == 2:
        return img
    b = img[..., 0]
    g = img[..., 1]
    r = img[..., 2]
    if img.dtype == np.uint8:
        acc = (b.astype(np.int64) * 1868 + g.astype(np.int64) * 9617
               + r.astype(np.int64) * 4899 + (1 << 13)) >> 14
        return acc.astype(np.uint8)
    return (0.114 * b + 0.587 * g + 0.299 * r).astype(img.dtype)


def _cubic_coords(out_n: int, src_n: int):
    """Center-aligned source coords + 4 clamped tap indices/weights."""
    scale = src_n / out_n
    fx = (np.arange(out_n, dtype=np.float64) + 0.5) * scale - 0.5
    x0 = np.floor(fx).astype(np.int64)
    t = fx - x0
    taps = np.stack([np.clip(x0 + k, 0, src_n - 1) for k in (-1, 0, 1, 2)])
    return taps, _cubic_weights(t)                 # (4,out_n), (out_n,4)


def resize_bicubic(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """cv2.resize(img, (out_w, out_h), INTER_CUBIC) analog: Keys bicubic
    a = -0.75 (cv2's kernel; same weights as pixelops.warp_perspective's
    INTER_CUBIC taps), center-aligned sampling, clamped borders, float64
    accumulation, half-up rounded uint8 out for uint8 in."""
    h, w = img.shape[:2]
    ytaps, ywts = _cubic_coords(out_h, h)
    xtaps, xwts = _cubic_coords(out_w, w)
    p = img.astype(np.float64)
    squeeze = p.ndim == 2
    if squeeze:
        p = p[:, :, None]
    rows = np.einsum("kowc,ok->owc",
                     p[ytaps.reshape(-1)].reshape(4, out_h, w, -1),
                     ywts)                          # (out_h, w, c)
    out = np.einsum("hkoc,ok->hoc",
                    rows[:, xtaps.reshape(-1), :].reshape(
                        out_h, 4, out_w, -1),
                    xwts)                           # (out_h, out_w, c)
    if img.dtype == np.uint8:
        out = np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
    else:
        out = out.astype(img.dtype)
    if squeeze:
        out = out[..., 0]
    return np.ascontiguousarray(out)


def _resize(img: np.ndarray, out_w: int, out_h: int,
            interpolation: int = 1) -> np.ndarray:
    """cv2.resize dispatch on the reference's integer interpolation
    flags (0 NEAREST unsupported-here, 1 LINEAR, 2 CUBIC)."""
    if interpolation == 2:
        return resize_bicubic(img, out_h, out_w)
    return resize_bilinear(img, out_h, out_w)


def resize_norm_img(img: np.ndarray, image_shape, padding: bool = True,
                    interpolation: int = 1):
    """rec_img_aug.py:589-620 — the CTC-default resize/normalize: ratio
    rule with math.ceil, float32 /255 − 0.5 / 0.5 chain, right-zero-pad
    to (C, H, W), valid_ratio = min(1, resized_w / imgW)."""
    imgC, imgH, imgW = image_shape
    h = img.shape[0]
    w = img.shape[1]
    if not padding:
        resized_image = _resize(img, imgW, imgH, interpolation)
        resized_w = imgW
    else:
        ratio = w / float(h)
        if math.ceil(imgH * ratio) > imgW:
            resized_w = imgW
        else:
            resized_w = int(math.ceil(imgH * ratio))
        resized_image = _resize(img, resized_w, imgH)
    resized_image = resized_image.astype("float32")
    if image_shape[0] == 1:
        resized_image = resized_image / 255
        resized_image = resized_image[np.newaxis, :]
    else:
        resized_image = resized_image.transpose((2, 0, 1)) / 255
    resized_image -= 0.5
    resized_image /= 0.5
    padding_im = np.zeros((imgC, imgH, imgW), dtype=np.float32)
    padding_im[:, :, 0:resized_w] = resized_image
    valid_ratio = min(1.0, float(resized_w / imgW))
    return padding_im, valid_ratio


def resize_norm_img_chinese(img: np.ndarray, image_shape):
    """rec_img_aug.py:623-647 — the eval/infer dialect: the target width
    GROWS with the aspect ratio (imgW = int(imgH · max_wh_ratio)), so the
    pad is at most one ceil's worth."""
    imgC, imgH, imgW = image_shape
    max_wh_ratio = imgW * 1.0 / imgH
    h, w = img.shape[0], img.shape[1]
    ratio = w * 1.0 / h
    max_wh_ratio = max(max_wh_ratio, ratio)
    imgW = int(imgH * max_wh_ratio)
    if math.ceil(imgH * ratio) > imgW:
        resized_w = imgW
    else:
        resized_w = int(math.ceil(imgH * ratio))
    resized_image = _resize(img, resized_w, imgH)
    resized_image = resized_image.astype("float32")
    if image_shape[0] == 1:
        resized_image = resized_image / 255
        resized_image = resized_image[np.newaxis, :]
    else:
        resized_image = resized_image.transpose((2, 0, 1)) / 255
    resized_image -= 0.5
    resized_image /= 0.5
    padding_im = np.zeros((imgC, imgH, imgW), dtype=np.float32)
    padding_im[:, :, 0:resized_w] = resized_image
    valid_ratio = min(1.0, float(resized_w / imgW))
    return padding_im, valid_ratio


def resize_norm_img_sar(img: np.ndarray, image_shape,
                        width_downsample_ratio: float = 0.25):
    """rec_img_aug.py:554-586 — SAR's divisor-snapped width: ceil then
    Python round() (BANKER'S — a resize_w of exactly divisor·k + divisor/2
    rounds to EVEN k, preserved), min/max clamps, −1 pad fill."""
    imgC, imgH, imgW_min, imgW_max = image_shape
    h = img.shape[0]
    w = img.shape[1]
    valid_ratio = 1.0
    width_divisor = int(1 / width_downsample_ratio)
    ratio = w / float(h)
    resize_w = math.ceil(imgH * ratio)
    if resize_w % width_divisor != 0:
        resize_w = round(resize_w / width_divisor) * width_divisor
    if imgW_min is not None:
        resize_w = max(imgW_min, resize_w)
    if imgW_max is not None:
        valid_ratio = min(1.0, 1.0 * resize_w / imgW_max)
        resize_w = min(imgW_max, resize_w)
    resized_image = _resize(img, resize_w, imgH)
    resized_image = resized_image.astype("float32")
    if image_shape[0] == 1:
        resized_image = resized_image / 255
        resized_image = resized_image[np.newaxis, :]
    else:
        resized_image = resized_image.transpose((2, 0, 1)) / 255
    resized_image -= 0.5
    resized_image /= 0.5
    resize_shape = resized_image.shape
    padding_im = -1.0 * np.ones((imgC, imgH, imgW_max), dtype=np.float32)
    padding_im[:, :, 0:resize_w] = resized_image
    pad_shape = padding_im.shape
    return padding_im, resize_shape, pad_shape, valid_ratio


def resize_norm_img_srn(img: np.ndarray, image_shape) -> np.ndarray:
    """rec_img_aug.py:650-674 — SRN's 1×/2×/3×-height width ladder,
    BGR2GRAY AFTER the resize, float64 black canvas, (1, H, W) float32."""
    imgC, imgH, imgW = image_shape
    img_black = np.zeros((imgH, imgW))
    im_hei = img.shape[0]
    im_wid = img.shape[1]
    if im_wid <= im_hei * 1:
        img_new = _resize(img, imgH * 1, imgH)
    elif im_wid <= im_hei * 2:
        img_new = _resize(img, imgH * 2, imgH)
    elif im_wid <= im_hei * 3:
        img_new = _resize(img, imgH * 3, imgH)
    else:
        img_new = _resize(img, imgW, imgH)
    img_np = np.asarray(img_new)
    img_np = cvt_bgr2gray(img_np)
    img_black[:, 0:img_np.shape[1]] = img_np
    img_black = img_black[:, :, np.newaxis]
    row, col, c = img_black.shape
    c = 1
    return np.reshape(img_black, (c, row, col)).astype(np.float32)


def resize_norm_img_abinet(img: np.ndarray, image_shape):
    """rec_img_aug.py:677-694 — hard resize + ImageNet norm in FLOAT64
    (the mean/std arrays are float64, so the subtract/divide promote; the
    final astype is the only float32 rounding), no padding."""
    imgC, imgH, imgW = image_shape
    resized_image = _resize(img, imgW, imgH)
    resized_w = imgW
    resized_image = resized_image.astype("float32")
    resized_image = resized_image / 255.0
    mean = np.array([0.485, 0.456, 0.406])
    std = np.array([0.229, 0.224, 0.225])
    resized_image = (
        resized_image - mean[None, None, ...]) / std[None, None, ...]
    resized_image = resized_image.transpose((2, 0, 1))
    resized_image = resized_image.astype("float32")
    valid_ratio = min(1.0, float(resized_w / imgW))
    return resized_image, valid_ratio


def srn_other_inputs(image_shape, num_heads: int, max_text_length: int):
    """rec_img_aug.py:697-721 — SRN's positional/attention-bias side
    inputs: pure integer/float tensor construction, no image."""
    imgC, imgH, imgW = image_shape
    feature_dim = int((imgH / 8) * (imgW / 8))
    encoder_word_pos = np.array(range(0, feature_dim)).reshape(
        (feature_dim, 1)).astype("int64")
    gsrm_word_pos = np.array(range(0, max_text_length)).reshape(
        (max_text_length, 1)).astype("int64")
    gsrm_attn_bias_data = np.ones((1, max_text_length, max_text_length))
    gsrm_slf_attn_bias1 = np.triu(gsrm_attn_bias_data, 1).reshape(
        [1, max_text_length, max_text_length])
    gsrm_slf_attn_bias1 = np.tile(gsrm_slf_attn_bias1,
                                  [num_heads, 1, 1]) * [-1e9]
    gsrm_slf_attn_bias2 = np.tril(gsrm_attn_bias_data, -1).reshape(
        [1, max_text_length, max_text_length])
    gsrm_slf_attn_bias2 = np.tile(gsrm_slf_attn_bias2,
                                  [num_heads, 1, 1]) * [-1e9]
    return [encoder_word_pos, gsrm_word_pos, gsrm_slf_attn_bias1,
            gsrm_slf_attn_bias2]


def gray_resize(img: np.ndarray, image_shape, padding: bool = False,
                scale: bool = True) -> np.ndarray:
    """GrayRecResizeImg (rec_img_aug.py:453-501), padding + OpenCV arms:
    BGR2GRAY first; padding arm uses the CTC ratio rule then /128 − 1
    (NOT /255 − .5/.5 — a different normalization than resize_norm_img);
    OpenCV arm hard-resizes to the (w, h) tuple.  The PIL/LANCZOS arm is
    out of scope (Pillow absent; transcription-pinned in ROADMAP)."""
    img = cvt_bgr2gray(img)
    if padding:
        imgC, imgH, imgW = image_shape
        h = img.shape[0]
        w = img.shape[1]
        ratio = w / float(h)
        if math.ceil(imgH * ratio) > imgW:
            resized_w = imgW
        else:
            resized_w = int(math.ceil(imgH * ratio))
        resized_image = _resize(img, resized_w, imgH)
        norm_img = np.expand_dims(resized_image, -1)
        norm_img = norm_img.transpose((2, 0, 1))
        resized_image = norm_img.astype(np.float32) / 128.0 - 1.0
        padding_im = np.zeros((imgC, imgH, imgW), dtype=np.float32)
        padding_im[:, :, 0:resized_w] = resized_image
        return padding_im
    out_w, out_h = image_shape
    img = _resize(img, out_w, out_h)
    norm_img = np.expand_dims(img, -1)
    norm_img = norm_img.transpose((2, 0, 1))
    if scale:
        return norm_img.astype(np.float32) / 128.0 - 1.0
    return norm_img.astype(np.float32) / 255.0


def pren_resize(img: np.ndarray, dst_h: int, dst_w: int) -> np.ndarray:
    """PRENResizeImg (rec_img_aug.py:389-405): hard resize, /255 − .5/.5
    in float64 (uint8→float64 promotion), float32 out."""
    resized_img = _resize(img, dst_w, dst_h)
    resized_img = resized_img.transpose((2, 0, 1)) / 255
    resized_img -= 0.5
    resized_img /= 0.5
    return resized_img.astype(np.float32)


def vl_resize(img: np.ndarray, image_shape):
    """VLRecResizeImg (rec_img_aug.py:294-323): hard resize, /255 only
    (no mean shift), valid_ratio trivially 1.0."""
    imgC, imgH, imgW = image_shape
    resized_image = _resize(img, imgW, imgH)
    resized_w = imgW
    resized_image = resized_image.astype("float32")
    if image_shape[0] == 1:
        resized_image = resized_image / 255
        norm_img = resized_image[np.newaxis, :]
    else:
        norm_img = resized_image.transpose((2, 0, 1)) / 255
    valid_ratio = min(1.0, float(resized_w / imgW))
    return norm_img, valid_ratio


def spin_resize(img: np.ndarray, image_shape,
                mean=(127.5,), std=(127.5,),
                interpolation: int = 2) -> np.ndarray:
    """SPINRecResizeImg (rec_img_aug.py:408-450): gray, INTER_CUBIC by
    default, (1, H, W) layout, float64 mean/stdinv broadcast (the
    reference reshapes them (1, -1) so they broadcast over W).

    Quirks: (a) the reference passes ``interpolation`` POSITIONALLY as
    cv2.resize's third argument (rec_img_aug.py:439) — that slot is
    ``dst``, not ``interpolation``; we implement the author's evident
    intent (cubic resampling) and the differential shim accepts the int
    in either slot.  (b) the class's 3-element mean/std DEFAULT
    (rec_img_aug.py:412-413) cannot broadcast against the (1, H, W)
    gray tensor — dead code; the shipped config
    (test_tipc/configs/rec_r32_gaspin_bilstm_att.yml:83-87) passes
    1-element [127.5], which is our default here."""
    img = cvt_bgr2gray(img)
    out_w, out_h = image_shape
    img = _resize(img, out_w, out_h, interpolation)
    img = np.array(img, np.float32)
    img = np.expand_dims(img, -1)
    img = img.transpose((2, 0, 1))
    img = img.copy().astype(np.float32)
    # the reference writes np.float64(arr): for the one non-crashing
    # configuration (1-element mean/std) that returns a float64 SCALAR,
    # and a scalar operand keeps the in-place -=/*= computing in float32
    # (value-based promotion) — an array cast here would silently upcast
    # the arithmetic to float64 and change the low bits
    mean = np.float64(np.array(mean, dtype=np.float32).reshape(-1)[0])
    stdinv = 1 / np.float64(np.array(std, dtype=np.float32).reshape(-1)[0])
    img -= mean
    img *= stdinv
    return img


def rfl_resize(img: np.ndarray, image_shape, padding: bool = True,
               interpolation: int = 1):
    """RFLRecResizeImg (rec_img_aug.py:326-350): BGR2GRAY then the CTC
    resize_norm_img walk (the gray 2-D array rides its imgC==1 branch)."""
    img = cvt_bgr2gray(img)
    return resize_norm_img(img, image_shape, padding, interpolation)


# ---------------------------------------------------------------------------
# Gate-query kernel: every variant over one rendered blob
# ---------------------------------------------------------------------------

#: variant → callable(img) -> (chw float32 array, valid_ratio, resize_w);
#: valid_ratio/resize_w are -1 where the reference defines none.  Shapes
#: are each head's stock config (PP-OCR rec 3×32×100/320, SAR 48×48-160,
#: SRN 1×64×256, ABINet 3×32×128, NRTR gray 100×32, PREN 64×256,
#: VL 3×64×256, SPIN 100×32).
REC_RESIZE_VARIANTS = {
    "ctc": lambda img: (lambda r: (r[0], r[1], -1))(
        resize_norm_img(img, (3, 32, 100), True)),
    "ctc_nopad": lambda img: (lambda r: (r[0], r[1], -1))(
        resize_norm_img(img, (3, 32, 100), False)),
    "chinese": lambda img: (lambda r: (r[0], r[1], -1))(
        resize_norm_img_chinese(img, (3, 32, 320))),
    "sar": lambda img: (lambda r: (r[0], r[3], r[1][2]))(
        resize_norm_img_sar(img, (3, 48, 48, 160))),
    "srn": lambda img: (resize_norm_img_srn(img, (1, 64, 256)), -1.0, -1),
    "abinet": lambda img: (lambda r: (r[0], r[1], -1))(
        resize_norm_img_abinet(img, (3, 32, 128))),
    "gray_pad": lambda img: (gray_resize(img, (1, 32, 100), padding=True),
                             -1.0, -1),
    "gray_cv": lambda img: (gray_resize(img, (100, 32), padding=False),
                            -1.0, -1),
    "pren": lambda img: (pren_resize(img, 64, 256), -1.0, -1),
    "vl": lambda img: (lambda r: (r[0], r[1], -1))(
        vl_resize(img, (3, 64, 256))),
    "spin": lambda img: (spin_resize(img, (100, 32)), -1.0, -1),
    "rfl": lambda img: (lambda r: (r[0], r[1], -1))(
        rfl_resize(img, (1, 32, 100))),
}


def rec_resize_for_ref(ref: str) -> list[tuple]:
    """All 12 resize variants over one rendered blob; per-variant tensor
    stats.  Returns rows (ref, variant, out_c, out_h, out_w, valid_ratio,
    resize_w, mean, vmin, vmax) with floats rounded Python-round(·, 4)
    inside the kernel (shared rounding site with the fixture oracle)."""
    from .imagecodecs import render_ref_image
    from .pixelops import imread_color

    _, buf = render_ref_image(ref)
    img = imread_color(buf)
    rows = []
    for variant in sorted(REC_RESIZE_VARIANTS):
        chw, valid_ratio, resize_w = REC_RESIZE_VARIANTS[variant](img)
        rows.append((
            ref, variant, int(chw.shape[0]), int(chw.shape[1]),
            int(chw.shape[2]), round(float(valid_ratio), 4),
            int(resize_w),
            round(float(chw.mean(dtype=np.float64)), 4),
            round(float(chw.min()), 4), round(float(chw.max()), 4)))
    return rows
