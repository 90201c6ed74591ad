"""Reference-config bridge: real YAML files from the reference checkout
compile onto this repo's kernels, unsupported ops are reported with
pointers (never silently dropped), and the compiled chain's output is
bit-equal to calling the kernels directly."""

from __future__ import annotations

import os

import numpy as np
import pytest

from paddleocr_spark.config import (build_transforms, dataset_transforms,
                                    load_config, transform_sample)

REF = "/root/reference/test_tipc/configs"
REC_YML = os.path.join(REF, "rec_r34_vd_none_none_ctc_v2_0",
                       "rec_icdar15_train.yml")
DET_YML = os.path.join(REF, "det_r50_vd_pse_v2_0", "det_r50_vd_pse.yml")

needs_ref = pytest.mark.skipif(not os.path.exists(REF),
                               reason="no reference checkout")


def _img(h=20, w=37, seed=3):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8)


@needs_ref
def test_rec_config_compiles_and_matches_direct_kernels():
    from paddleocr_spark.imagecodecs import encode_png
    from paddleocr_spark.pixelops import decode_image_op
    from paddleocr_spark.recresize import resize_norm_img

    cfg = load_config(REC_YML)
    tlist = dataset_transforms(cfg, "Eval")
    with pytest.raises(NotImplementedError, match="CTCLabelEncode"):
        build_transforms(tlist, strict=True)
    ops, report = build_transforms(tlist, strict=False)
    assert [r for r in report if r[1] != "ok"] == [
        ("CTCLabelEncode",
         "skipped: column-level: functions/labelenc + rec_label_* gates")]
    # the config wires DecodeImage(BGR) → RecResizeImg [3,32,100] →
    # KeepKeys; the compiled chain must equal direct composition
    img = _img()
    buf = encode_png(img)
    out = transform_sample({"image": buf, "label": "x", "length": 1}, ops)
    assert isinstance(out, list) and len(out) == 3   # KeepKeys order
    direct = resize_norm_img(decode_image_op(buf, "BGR"), (3, 32, 100),
                             True)[0]
    assert out[0].shape == (3, 32, 100)
    assert np.array_equal(out[0], direct)


@needs_ref
def test_det_config_compiles_and_matches_direct_kernels():
    from paddleocr_spark.imagecodecs import encode_png
    from paddleocr_spark.pixelops import (decode_image_op, normalize_image,
                                          resize_bilinear, to_chw)

    cfg = load_config(DET_YML)
    tlist = dataset_transforms(cfg, "Eval")
    ops, report = build_transforms(tlist, strict=False)
    skipped = [n for n, s in report if s != "ok"]
    assert skipped == ["DetLabelEncode"]
    img = _img(h=50, w=80, seed=9)
    buf = encode_png(img)
    data = {"image": buf, "shape": None, "polys": [], "ignore_tags": []}
    out = transform_sample(data, ops)
    assert isinstance(out, list) and len(out) == 4
    got = out[0]
    # direct: decode BGR → type0 resize limit min 736 → normalize
    # hwc 1/255 ImageNet → CHW
    d = decode_image_op(buf, "BGR")
    h, w = d.shape[:2]
    ratio = 736.0 / min(h, w)
    rh = max(int(round(int(h * ratio) / 32) * 32), 32)
    rw = max(int(round(int(w * ratio) / 32) * 32), 32)
    want = to_chw(normalize_image(resize_bilinear(d, rh, rw),
                                  1.0 / 255.0, order="hwc"))
    assert got.shape == want.shape and got.shape[1] % 32 == 0
    assert np.array_equal(got, np.ascontiguousarray(want))
    # shape_list analog recorded for inverse scaling
    assert list(out[1][:2]) == [h, w]


@needs_ref
def test_sar_config_roster_entry():
    """A config naming SARRecResizeImg maps to the SAR divisor-snap
    kernel with valid_ratio emitted (rec_img_aug.py:554-586)."""
    from paddleocr_spark.imagecodecs import encode_png
    from paddleocr_spark.recresize import resize_norm_img_sar

    ops, report = build_transforms(
        [{"DecodeImage": {"img_mode": "BGR"}},
         {"SARRecResizeImg": {"image_shape": [3, 48, 48, 160]}}])
    assert all(s == "ok" for _, s in report)
    img = _img(h=30, w=90, seed=5)
    out = transform_sample({"image": encode_png(img)}, ops)
    from paddleocr_spark.pixelops import decode_image_op
    want, _, _, vr = resize_norm_img_sar(
        decode_image_op(encode_png(img), "BGR"), (3, 48, 48, 160))
    assert np.array_equal(out["image"], want)
    assert out["valid_ratio"] == vr


def test_spark_transform_runs_distributed(spark):
    """The compiled chain over the media-refs table: one per-row stage,
    atomic stat rows, deterministic across runs."""
    from paddleocr_spark.config import spark_transform
    from paddleocr_spark.entry_queries import _media_refs

    ops, _ = build_transforms(
        [{"DecodeImage": {"img_mode": "BGR"}},
         {"DetResizeForTest": {"limit_side_len": 64, "limit_type": "min"}},
         {"NormalizeImage": {"scale": "1./255.", "order": "hwc"}},
         {"ToCHWImage": None},
         {"KeepKeys": {"keep_keys": ["image", "shape"]}}])
    refs = _media_refs(spark, "/root/testdata/sf0.001")
    out = spark_transform(refs, ops)
    rows = {r["media_ref"]: r for r in out.collect()}
    assert len(rows) == refs.count()
    r = next(iter(rows.values()))
    assert r["ndim"] == 3 and r["dim1"] % 32 == 0
    rows2 = {r["media_ref"]: r for r in spark_transform(refs, ops).collect()}
    assert rows == rows2


@needs_ref
def test_gate_transforms_match_the_real_yaml():
    """The inlined CONFIG_GATE_TRANSFORMS must equal the actual
    det_r50_vd_pse.yml Eval list with only DetLabelEncode removed — the
    gate stays honest to the file it claims to mirror."""
    from paddleocr_spark.entry_queries import CONFIG_GATE_TRANSFORMS

    cfg = load_config(DET_YML)
    tlist = [t for t in dataset_transforms(cfg, "Eval")
             if list(t)[0] != "DetLabelEncode"]
    # normalize: the yaml KeepKeys keeps det-label keys our gate drops
    assert [list(t)[0] for t in tlist] == [
        list(t)[0] for t in CONFIG_GATE_TRANSFORMS]
    for ours, theirs in zip(CONFIG_GATE_TRANSFORMS[:-1], tlist[:-1]):
        name = list(ours)[0]
        if name == "NormalizeImage":
            assert ours[name]["scale"] == theirs[name]["scale"]
            assert ours[name]["mean"] == theirs[name]["mean"]
            assert ours[name]["std"] == theirs[name]["std"]
        elif name == "DetResizeForTest":
            assert ours[name] == theirs[name]
