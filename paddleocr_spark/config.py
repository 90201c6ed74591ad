"""Reference-config bridge: compile a PaddleOCR YAML into a transform chain.

A user of the reference drives everything from a config YAML
(tools/program.py:load_config) whose ``Train/Eval → dataset → transforms``
list is compiled by ``ppocr/data/imaug/__init__.py:create_operators`` into
a per-sample op chain (``transform()``: each op mutates a ``data`` dict;
returning ``None`` drops the sample). This module is the switch surface:
it loads the SAME YAML files and compiles the SAME op names onto this
repo's kernels —

* pixel ops run per sample on real buffers (``pixelops`` / ``recresize``:
  DecodeImage, DetResizeForTest, NormalizeImage, ToCHWImage, Pad,
  KeepKeys, and the full deterministic ``*RecResizeImg`` roster);
* ops that are deliberately column-level here (label encoders — the
  ``rec_label_*`` / ``det_label_encode`` gate queries and
  ``functions/labelenc.py``) or RNG-bound (the imgaug augment family,
  ROADMAP "Coverage gaps") are reported, not silently dropped: strict
  mode raises naming them; ``strict=False`` returns a per-op report so a
  migrating user sees exactly which config lines map where.

``spark_transform`` runs a compiled chain distributed: one per-row
Arrow stage (``operators.grouped.map_rows``) over the media refs — the
same physical shape as every other decode-family stage in this repo.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import numpy as np

SampleOp = Callable[[dict], Any]

#: Reference default ImageNet stats (operators.py:85-88).
_IN_MEAN = [0.485, 0.456, 0.406]
_IN_STD = [0.229, 0.224, 0.225]


def load_config(path: str) -> dict:
    """tools/program.py:load_config — YAML only (the reference asserts
    the yml/yaml suffix; the legacy AttrDict/global-override plumbing is
    CLI sugar, not semantics)."""
    import yaml

    assert path.endswith((".yml", ".yaml")), "only yml/yaml supported"
    with open(path, "rb") as f:
        return yaml.safe_load(f)


def dataset_transforms(cfg: dict, section: str = "Eval") -> list[dict]:
    """The ``transforms`` op-param list of a config section (each element
    a single-key dict, create_operators' input contract)."""
    return cfg[section]["dataset"]["transforms"]


# ---------------------------------------------------------------------------
# Per-sample op factories (imaug semantics: data dict in, data dict out,
# None drops the sample)
# ---------------------------------------------------------------------------

def _op_decode_image(img_mode: str = "RGB", channel_first: bool = False,
                     **_) -> SampleOp:
    from .pixelops import decode_image_op

    def op(data: dict):
        data["image"] = decode_image_op(data["image"], img_mode,
                                        channel_first)
        return data
    return op


def _op_normalize(scale=None, mean=None, std=None, order: str = "chw",
                  **_) -> SampleOp:
    from .pixelops import normalize_image
    if isinstance(scale, str):
        scale = eval(scale)        # the reference's own parse (operators.py:83)
    mean = mean if mean is not None else _IN_MEAN
    std = std if std is not None else _IN_STD

    def op(data: dict):
        data["image"] = normalize_image(data["image"], scale, mean, std,
                                        order)
        return data
    return op


def _op_tochw(**_) -> SampleOp:
    from .pixelops import to_chw

    def op(data: dict):
        data["image"] = np.ascontiguousarray(to_chw(data["image"]))
        return data
    return op


def _op_keep_keys(keep_keys: list, **_) -> SampleOp:
    def op(data: dict):
        return [data[k] for k in keep_keys]
    return op


def _op_pad(size=None, size_div: int = 32, **_) -> SampleOp:
    from .pixelops import pad_image

    def op(data: dict):
        data["image"] = pad_image(data["image"], size, size_div)
        return data
    return op


def _op_det_resize_for_test(limit_side_len: int = 736,
                            limit_type: str = "min", **kw) -> SampleOp:
    """DetResizeForTest resize_image_type0 (operators.py:228-322), the
    limit_side_len/limit_type branch — the one every shipped det config
    uses. image_shape/resize_long variants are other resize_type
    branches; raise loudly if a config asks for them."""
    if "image_shape" in kw or "resize_long" in kw:
        raise NotImplementedError(
            "DetResizeForTest resize_type 1/2 (image_shape/resize_long)")
    from .pixelops import resize_bilinear

    def op(data: dict):
        img = data["image"]
        h, w = img.shape[:2]
        if limit_type == "max":
            ratio = (float(limit_side_len) / max(h, w)
                     if max(h, w) > limit_side_len else 1.0)
        else:
            ratio = (float(limit_side_len) / min(h, w)
                     if min(h, w) < limit_side_len else 1.0)
        rh, rw = int(h * ratio), int(w * ratio)
        rh = max(int(round(rh / 32) * 32), 32)   # Python HALF-EVEN round,
        rw = max(int(round(rw / 32) * 32), 32)   # the reference's own call
        data["image"] = resize_bilinear(img, rh, rw)
        data["shape"] = np.array([h, w, rh / float(h), rw / float(w)])
        return data
    return op


def _op_rec_resize_img(image_shape=(3, 32, 100), infer_mode: bool = False,
                       character_dict_path=None, padding: bool = True,
                       **_) -> SampleOp:
    """RecResizeImg (rec_img_aug.py:255-276): the chinese grow-width
    branch when infer_mode with a character dict, else the CTC
    pad/nopad resize."""
    from .recresize import resize_norm_img, resize_norm_img_chinese

    def op(data: dict):
        if infer_mode and character_dict_path is not None:
            norm, ratio = resize_norm_img_chinese(data["image"],
                                                  tuple(image_shape))
        else:
            norm, ratio = resize_norm_img(data["image"],
                                          tuple(image_shape), padding)
        data["image"] = norm
        data["valid_ratio"] = ratio
        return data
    return op


def _op_sar_resize(image_shape=(3, 48, 48, 160),
                   width_downsample_ratio: float = 0.25, **_) -> SampleOp:
    from .recresize import resize_norm_img_sar

    def op(data: dict):
        norm, resized_shape, pad_shape, valid_ratio = resize_norm_img_sar(
            data["image"], tuple(image_shape), width_downsample_ratio)
        data["image"] = norm
        data["resized_shape"] = resized_shape
        data["pad_shape"] = pad_shape
        data["valid_ratio"] = valid_ratio
        return data
    return op


def _op_srn_resize(image_shape=(1, 64, 256), num_heads: int = 8,
                   max_text_length: int = 25, **_) -> SampleOp:
    from .recresize import resize_norm_img_srn, srn_other_inputs

    def op(data: dict):
        data["image"] = resize_norm_img_srn(data["image"],
                                            tuple(image_shape))
        (data["encoder_word_pos"], data["gsrm_word_pos"],
         data["gsrm_slf_attn_bias1"],
         data["gsrm_slf_attn_bias2"]) = srn_other_inputs(
            tuple(image_shape), num_heads, max_text_length)
        return data
    return op


def _simple_img(fn: Callable, **fixed) -> Callable:
    def factory(**params) -> SampleOp:
        kw = {**fixed, **params}

        def op(data: dict):
            out = fn(data["image"], **kw)
            if isinstance(out, tuple):
                data["image"] = out[0]
                data["valid_ratio"] = out[1]
            else:
                data["image"] = out
            return data
        return op
    return factory


def _pren_factory(image_shape=(64, 256), **_) -> SampleOp:
    from .recresize import pren_resize

    def op(data: dict):
        data["image"] = pren_resize(data["image"], *image_shape)
        return data
    return op


def _build_supported() -> dict[str, Callable[..., SampleOp]]:
    from . import recresize as R
    return {
        "DecodeImage": _op_decode_image,
        "NormalizeImage": _op_normalize,
        "ToCHWImage": _op_tochw,
        "KeepKeys": _op_keep_keys,
        "Pad": _op_pad,
        "DetResizeForTest": _op_det_resize_for_test,
        "RecResizeImg": _op_rec_resize_img,
        "SARRecResizeImg": _op_sar_resize,
        "SRNRecResizeImg": _op_srn_resize,
        "ABINetRecResizeImg": _simple_img(
            R.resize_norm_img_abinet, image_shape=(3, 32, 128)),
        "GrayRecResizeImg": _simple_img(
            R.gray_resize, image_shape=(1, 32, 100)),
        "PRENResizeImg": _pren_factory,
        "VLRecResizeImg": _simple_img(
            R.vl_resize, image_shape=(3, 64, 256)),
        "SPINRecResizeImg": _simple_img(
            R.spin_resize, image_shape=(100, 32)),
        "RFLRecResizeImg": _simple_img(
            R.rfl_resize, image_shape=(1, 32, 100)),
        "RobustScannerRecResizeImg": _op_sar_resize,
    }


#: name → human reason for the sample-mode gap + where the semantics DO
#: live in this repo (the migrating user's pointer).
UNSUPPORTED_REASONS = {
    "CTCLabelEncode": "column-level: functions/labelenc + rec_label_* gates",
    "AttnLabelEncode": "column-level: functions/labelenc (rec_label_roster)",
    "SARLabelEncode": "column-level: functions/labelenc (rec_label_roster)",
    "DetLabelEncode": "column-level: det_label_encode gate",
    "TableLabelEncode": "column-level: table_label_encode gate",
    "EastRandomCropData": "seeded-replay contract: east_crop gate",
    "CopyPaste": "seeded-replay contract: copy_paste gate",
    "MakeShrinkMap": "gate query shrink_map (kernels.py)",
    "MakeBorderMap": "gate query border_map (kernels.py)",
    "IaaAugment": "RNG inside imgaug — enum, ROADMAP Coverage gaps",
    "RecAug": "RNG augment half of rec_img_aug — enum, ROADMAP",
    "RecConAug": "RNG augment — enum, ROADMAP",
}


def build_transforms(op_list: list[dict], strict: bool = True
                     ) -> tuple[list[SampleOp], list[tuple[str, str]]]:
    """create_operators (imaug/__init__.py:70-90) against this repo's
    kernels. Returns (ops, report) where report rows are (op_name,
    'ok' | 'skipped: <reason>'). strict=True raises on the first op
    with no sample-level mapping."""
    supported = _build_supported()
    ops: list[SampleOp] = []
    report: list[tuple[str, str]] = []
    for item in op_list:
        assert isinstance(item, dict) and len(item) == 1, "yaml format error"
        name = list(item)[0]
        params = item[name] or {}
        if name in supported:
            ops.append(supported[name](**params))
            report.append((name, "ok"))
        else:
            reason = UNSUPPORTED_REASONS.get(
                name, "no deterministic sample-level mapping")
            if strict:
                raise NotImplementedError(f"{name}: {reason}")
            report.append((name, f"skipped: {reason}"))
    return ops, report


def transform_sample(data: dict | Any, ops: list[SampleOp]):
    """imaug.transform (imaug/__init__.py:53-67): fold ops; None drops."""
    for op in ops:
        data = op(data)
        if data is None:
            return None
    return data


def spark_transform(refs, ops: list[SampleOp]):
    """Run a compiled chain distributed over a (media_ref) DataFrame:
    render + decode happens inside the chain's DecodeImage (fed the
    deterministic blob bytes), one per-row Arrow stage
    (operators.grouped.map_rows) — the same physical stage shape as the
    other decode-family queries. Each output sample is reduced to (ref,
    ndim, dim0, dim1, numel, mean4) so results stay atomic-typed."""
    from .imagecodecs import render_ref_image
    from .operators.grouped import map_rows

    def go(ref):
        out = transform_sample({"image": render_ref_image(ref)[1]}, ops)
        if out is None:
            return []
        arr = np.asarray(out[0] if isinstance(out, list) else out["image"])
        return [(ref, arr.ndim, int(arr.shape[0]),
                 int(arr.shape[1]) if arr.ndim > 1 else 0, int(arr.size),
                 round(float(arr.mean(dtype=np.float64)), 4))]

    return map_rows(refs.select("media_ref"), go, "media_ref string, "
                    "ndim long, dim0 long, dim1 long, numel long, mean double")
