"""Multimodal column plumbing — opaque binary media + typed metadata.

Media spans carry a ``media_ref`` (content-addressed, e.g. ``img://h/<hex>``)
rather than inline bytes; at 10^12-doc scale the bytes live in an object
store and only flow through executors inside Arrow batches. This module
implements the Spark-side plumbing — schema, partitioning, Arrow batch
shape — for decode / feature-extract / resize / frame-sample stages:

* :func:`decode_media` — one per-row Arrow stage
  (``operators.grouped.map_rows``) over (media_ref, content) rows.
  With ``fake=True`` (default, the blob-less synthetic corpus) metadata +
  features derive deterministically from the ref's md5; ``fake=False`` is
  the REAL path (round 4): it decodes the ``content`` bytes with the
  pure-numpy codecs in :mod:`paddleocr_spark.imagecodecs` (PPM/PGM, BMP,
  PNG-via-zlib — the cv2.imdecode seam of paddleocr.py:529-571 made
  real for every container stdlib+numpy can handle).
* :func:`media_features` — per-ref feature rows for the whole corpus:
  dedup media by ref FIRST (content-addressed storage ⇒ decode each blob
  once, join back many — the media-analog of common-subplan reuse J7).
* :func:`frame_sample` — video frame-sampling analog: explodes n_frames
  into (ref, frame_idx) rows with a deterministic stride, the PDF→pages
  explode shape (S2, utility.py:97-128).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.grouped import map_rows

MEDIA_SCHEMA = ("media_ref string, width long, height long, n_frames long, "
                "feature array<float>")

FEATURE_DIM = 8


def _fake_decode(ref: str) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for cv2.imdecode + feature extraction."""
    h = hashlib.md5(ref.encode()).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    n_frames = 1 + h[2] % 8
    feat = (np.frombuffer(h[:FEATURE_DIM], dtype=np.uint8)
            .astype(np.float32) / 255.0)
    return width, height, n_frames, feat.tolist()


def pixel_stats(arr: np.ndarray) -> dict:
    """Decoded-pixel statistics shared by the real decode path and the
    gate query. ``gray`` is the integer floor of (R+G+B)/3 (identity on
    single-channel images since (3v)//3 == v); alpha never contributes.
    All integer-exact so the DuckDB oracle can restate them."""
    rgb = arr[..., :3] if arr.shape[2] >= 3 else np.repeat(arr, 3, axis=2)
    px = rgb.astype(np.int64)
    gray = px.sum(axis=2) // 3
    n = float(gray.size)
    return {
        "width": arr.shape[1], "height": arr.shape[0],
        "mean_r": float(px[..., 0].mean()),
        "mean_g": float(px[..., 1].mean()),
        "mean_b": float(px[..., 2].mean()),
        "mean_gray": float(gray.mean()),
        "min_gray": int(gray.min()), "max_gray": int(gray.max()),
        "frac_bright": float((gray > 127).sum() / n),
    }


def decode_media(media: DataFrame, fake: bool = True) -> DataFrame:
    """(media_ref [, content:binary]) → decoded metadata + feature vector.

    Arrow-batched grouped decode; never per-row Python UDFs. ``fake=True``
    derives metadata from the ref's md5 (the blob-less corpus);
    ``fake=False`` decodes the ``content`` column for real via
    :func:`paddleocr_spark.imagecodecs.decode_image` — feature =
    [mean_r, mean_g, mean_b, mean_gray, min_gray, max_gray,
    frac_bright, n_channels]. Every entry is integer-exact arithmetic
    over uint8 pixels (sums are exact in float64), so the DuckDB oracle
    reproduces them bit-for-bit from the pixel formula alone.
    """

    if fake:
        return map_rows(media.select("media_ref"),
                        lambda ref: [(ref, *_fake_decode(ref))],
                        MEDIA_SCHEMA)
    from .imagecodecs import decode_frames

    def decode_one(ref: str, content: bytes):
        frames = decode_frames(bytes(content))
        arr = frames[0]  # stats on frame 0: check_and_read's GIF
        s = pixel_stats(arr)  # branch feeds exactly this frame
        feat = [s["mean_r"], s["mean_g"], s["mean_b"], s["mean_gray"],
                float(s["min_gray"]), float(s["max_gray"]),
                s["frac_bright"], float(arr.shape[2])]
        return [(ref, s["width"], s["height"], len(frames), feat)]

    return map_rows(media.select("media_ref", "content"), decode_one,
                    MEDIA_SCHEMA)


def media_features(documents: DataFrame) -> DataFrame:
    """All media spans → distinct refs → decode once per blob.

    The distinct() is the scale-critical step: media refs are
    content-addressed, so duplicated media across documents (common at web
    scale) decodes exactly once; consumers join features back by ref.
    """
    refs = (documents
            .select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref"))
            .distinct())
    return decode_media(refs)


def frame_sample(features: DataFrame, stride: int = 2) -> DataFrame:
    """Video frame-sampling analog: one row per sampled frame index
    (0, stride, 2*stride, ... < n_frames) — the explode(pages) shape."""
    return features.select(
        "media_ref", "n_frames",
        F.explode(F.sequence(
            F.lit(0), F.col("n_frames") - 1, F.lit(stride))
        ).alias("frame_idx"))


def media_resize(features: DataFrame, limit_side_len: int = 960,
                 limit_type: str = "max") -> DataFrame:
    """P7 ``DetResizeForTest.resize_image_type0`` over decoded media dims
    (ppocr/data/imaug/operators.py:273-322, wired with limit_side_len=960
    limit_type='max' at tools/infer/predict_det.py:66-74).

    Faithful transcription as pure JVM expressions: ratio limits the max
    (or min) side to ``limit_side_len``; ``int(h*ratio)`` truncates; the
    /32 snap uses Python round()'s HALF-EVEN tie rule, reproduced here
    with integer arithmetic (q + 1 iff rem > 16 or (rem == 16 and q odd))
    so Spark and DuckDB agree without engine-specific bankers'-rounding
    builtins; floor 32. The reference's <64px sum pre-padding never fires
    for our decoded dims (min side 64) and is not replicated.

    Input: (media_ref, width, height); output adds resize_w/resize_h and
    4dp ratios (shape_list analog feeding inverse scaling, SURVEY O-DB 7).
    """
    L = float(limit_side_len)
    h, w = F.col("height").cast("double"), F.col("width").cast("double")
    if limit_type == "max":
        ratio = F.when(F.greatest(h, w) > L, L / F.greatest(h, w)) \
                 .otherwise(F.lit(1.0))
    else:  # 'min' (the det default when unconfigured, operators.py:233-234)
        ratio = F.when(F.least(h, w) < L, L / F.least(h, w)) \
                 .otherwise(F.lit(1.0))

    def snap32(r0):
        q = F.floor(r0 / 32)
        rem = r0 - 32 * q
        up = (rem > 16) | ((rem == 16) & (q % 2 == 1))
        return F.greatest(32 * (q + up.cast("long")), F.lit(32))

    rh0 = F.floor(h * ratio)
    rw0 = F.floor(w * ratio)
    return features.select(
        "media_ref",
        F.col("width").cast("long").alias("src_w"),
        F.col("height").cast("long").alias("src_h"),
        snap32(rw0).cast("long").alias("resize_w"),
        snap32(rh0).cast("long").alias("resize_h"),
    ).select(
        "*",
        F.round(F.col("resize_h") / F.col("src_h").cast("double"), 4)
        .alias("ratio_h"),
        F.round(F.col("resize_w") / F.col("src_w").cast("double"), 4)
        .alias("ratio_w"))


def preprocess_image_stats(refs: DataFrame) -> DataFrame:
    """P8 ``preprocess_image`` analogs on deterministic fake pixels
    (paddleocr.py:699-705: alpha_to_color → optional invert →
    binarize_img/Otsu; ppocr/utils/utility.py:77-95).

    Per media_ref (md5-derived, like the decode stub):

    * RGBA channels = the first 4 md5 bytes; ``alpha_to_color`` flattens
      onto white replicating the reference's FLOAT path bit-for-bit —
      ``trunc(255*(1 - A/255) + C*(A/255))`` in IEEE doubles with the same
      operation order (exact integer math would disagree on values whose
      float computation lands an ulp below an integer: astype(np.uint8)
      truncates that to k-1 while the exact quotient is k);
    * ``invert`` = 255 - flattened (cv2.bitwise_not);
    * ``otsu_bin`` = Otsu's threshold (kernels.otsu_threshold semantics)
      over a 16-bin histogram whose weights are the md5 hex digits —
      computed relationally (cumulative window + strict-first argmax) so
      the DuckDB twin restates it verbatim.

    Output: (media_ref, r_flat, g_flat, b_flat, r_inv, otsu_bin).
    """
    hx = refs.select("media_ref", F.md5("media_ref").alias("hx"))

    def byte(i: int):
        d1 = F.expr(f"instr('0123456789abcdef', substring(hx, {2*i+1}, 1))")
        d2 = F.expr(f"instr('0123456789abcdef', substring(hx, {2*i+2}, 1))")
        return ((d1 - 1) * 16 + (d2 - 1)).cast("long")

    a = byte(3)
    chans = hx.select(
        "media_ref", "hx", byte(0).alias("R"), byte(1).alias("G"),
        byte(2).alias("B"), a.alias("A"))
    flatc = {c: F.expr(
        f"CAST(floor(255 * (1 - A / 255.0D) + {c} * (A / 255.0D)) AS LONG)")
        for c in ("R", "G", "B")}
    rgba = chans.select(
        "media_ref", "hx",
        flatc["R"].alias("r_flat"), flatc["G"].alias("g_flat"),
        flatc["B"].alias("b_flat"))
    rgba = rgba.withColumn("r_inv", 255 - F.col("r_flat"))

    bins = hx.select(
        "media_ref", "hx",
        F.explode(F.expr("sequence(0, 15)")).alias("b"),
    ).select(
        "media_ref", "b",
        F.expr("instr('0123456789abcdef', substring(hx, "
               "CAST(b + 1 AS INT), 1)) - 1").alias("wt"))
    from pyspark.sql.window import Window
    wcum = (Window.partitionBy("media_ref").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("media_ref")
    cum = (bins.withColumn("w0", F.sum("wt").over(wcum))
           .withColumn("s0", F.sum(F.col("b") * F.col("wt")).over(wcum))
           .withColumn("total", F.sum("wt").over(wall))
           .withColumn("sum_all",
                       F.sum(F.col("b") * F.col("wt")).over(wall)))
    w1 = F.col("total") - F.col("w0")
    num = (F.col("s0") * w1
           - (F.col("sum_all") - F.col("s0")) * F.col("w0"))
    var = F.when((F.col("w0") > 0) & (w1 > 0),
                 (num * num).cast("double")
                 / (F.col("w0") * w1).cast("double")).otherwise(F.lit(-1.0))
    wrank = Window.partitionBy("media_ref").orderBy(
        F.col("var").desc(), F.col("b"))
    otsu = (cum.withColumn("var", var)
            .withColumn("rn", F.row_number().over(wrank))
            .filter(F.col("rn") == 1)
            .select("media_ref", F.col("b").cast("long").alias("otsu_bin")))
    return rgba.drop("hx").join(otsu, "media_ref")
