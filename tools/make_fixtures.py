#!/usr/bin/env python
"""Generate committed expected-output fixtures for the non-SQL queries.

The driver's correctness gate hash-compares each ``queries()`` entry with
its ``oracle_sql()`` twin at sf=0.01. Five operators are iterative (greedy
NMS, Hirschberg LCS, greedy IoU matching, tree edit distance, the O1/O2
reading-order kernels) and cannot be restated in SQL — but their outputs on
the FIXED sf0.01 input are just tables, so the oracle can be a committed
parquet file produced by an independent single-node computation, and the
oracle SQL a plain ``read_parquet`` of it. That upgrades the five entries
from the driver's weaker rows-only check to full hash rows — pinning, in
particular, the flagship's distributed whole-document kernel
(pipeline.extract), which pytest-in-repo covers only at tiny scale.

Independence: input synthesis runs in DuckDB (the same engine the driver's
gate uses, never Spark) and the per-group computation in plain
pandas/NumPy. The iterative kernels themselves are imported from
``paddleocr_spark.kernels``/``oracle`` — the sanctioned "oracle == kernels
imported twice" rule (SURVEY.md §5): exact order ties cannot be re-derived
two ways without breaking bit-equality. Everything AROUND the kernels
(grouping, aggregation, rounding, assembly) is re-implemented here.

Usage: python tools/make_fixtures.py [sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 → /root/repo/fixtures (committed).

Float rounding replicates Spark's ``F.round`` (BigDecimal HALF_UP over the
shortest decimal repr) via :func:`f_round`; per-pair TEDS uses Python
``round`` because the Spark side rounds inside the Arrow UDF with Python
``round`` too.
"""

from __future__ import annotations

import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paddleocr_spark.functions.metrics import (EPS, det_match_counts,
                                               lcs_string)
from paddleocr_spark.functions.teds import teds_score
from paddleocr_spark.kernels import hard_nms
from paddleocr_spark.oracle import extract_pandas


#: Row order inside an NMS group (the Spark side's ``spatial._BOX_ORDER``):
#: ``box_id`` is not unique, so ties break on the box itself.
BOX_ORDER = ["box_id", "x1", "y1", "x2", "y2", "score"]


def f_round(x: float, scale: int = 4) -> float:
    """Spark F.round semantics for DoubleType: HALF_UP on the shortest
    decimal representation (BigDecimal.valueOf == repr for our ranges)."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def fx_flagship_extract(con, sf_dir: str) -> pd.DataFrame:
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    out = extract_pandas(docs)
    rows = []
    for doc_id, spans in zip(out["doc_id"], out["spans"]):
        for s in spans:
            rows.append((doc_id, s["offset"], s["kind"], s["text"],
                         s["media_ref"]))
    return pd.DataFrame(rows, columns=["doc_id", "order", "kind", "text",
                                       "media_ref"]).astype(
        {"order": "int64"})


def fx_nms_per_class(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_nms input, synthesized in DuckDB; hard_nms per group."""
    base = con.sql(f"""
        SELECT printf('doc_%03d', l_orderkey % 20) AS doc_id,
               CASE WHEN l_partkey % 2 = 0 THEN 'text' ELSE 'table' END
                   AS label,
               l_orderkey * 10 + l_linenumber AS box_id,
               CAST((l_partkey % 25) * 8 AS DOUBLE) AS x1,
               CAST((l_suppkey % 20) * 10 AS DOUBLE) AS y1,
               CAST((l_partkey % 25) * 8 + 40 AS DOUBLE) AS x2,
               CAST((l_suppkey % 20) * 10 + 30 AS DOUBLE) AS y2,
               CAST(box_id % 100 AS DOUBLE) / 100.0 AS score
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 3
    """).df()
    outs = []
    for (doc_id, label), g in base.groupby(["doc_id", "label"], sort=True):
        # JVM pre-cap: rank <= nms_top_k by (score desc, box_id, x1..y2)
        g = g.sort_values(["score"] + BOX_ORDER[:-1],
                          ascending=[False] + [True] * 5).head(1000)
        g = g.sort_values(BOX_ORDER, kind="stable")
        picked = hard_nms(g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=float),
                          g["score"].to_numpy(dtype=float),
                          iou_threshold=0.5, top_k=100, candidate_size=200)
        out = g.iloc[picked].copy()
        out["keep_order"] = range(len(picked))
        outs.append(out)
    return (pd.concat(outs, ignore_index=True)
            .astype({"box_id": "int64", "keep_order": "int64"})
            [["doc_id", "label", "box_id", "x1", "y1", "x2", "y2",
              "score", "keep_order"]])


def fx_char_prf(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_char_prf single-node: pairs in DuckDB, counts + the
    rec_metric.py:205-239 report re-derived in plain Python."""
    pairs = con.sql(f"""
        SELECT CASE WHEN doc_id % 4 = 0 THEN text
                    ELSE translate(text, 'aeo', 'eoa') END AS pred,
               text AS target
        FROM read_parquet('{os.path.join(sf_dir, "documents.parquet")}')
    """).df()
    label: dict[str, int] = {}
    pred_c: dict[str, int] = {}
    answer: dict[str, int] = {}
    for pred, target in zip(pairs["pred"], pairs["target"]):
        pred = (pred or "").replace(" ", "")
        target = (target or "").replace(" ", "")
        for c in pred:
            pred_c[c] = pred_c.get(c, 0) + 1
        for c in target:
            label[c] = label.get(c, 0) + 1
        for c in lcs_string(pred, target):
            answer[c] = answer.get(c, 0) + 1
    chars = sorted(set(label) | set(pred_c) | set(answer))
    sum_r = cnt_r = sum_p = cnt_p = sum_f1 = 0.0
    for c in chars:
        nl, np_, na = label.get(c, 0), pred_c.get(c, 0), answer.get(c, 0)
        recall = na / (nl + EPS)
        precision = na / (np_ + EPS)
        r_val = recall if nl > 0 else 0.0
        p_val = precision if np_ > 0 else 0.0
        if nl > 0:
            sum_r += recall
            cnt_r += 1
        if np_ > 0:
            sum_p += precision
            cnt_p += 1
        sum_f1 += 2 * r_val * p_val / (r_val + p_val + EPS)
    tot_label = float(sum(label.values()))
    tot_pred = float(sum(pred_c.values()))
    tot_answer = float(sum(answer.values()))
    op = tot_answer / (tot_pred + EPS)
    orc = tot_answer / (tot_label + EPS)
    return pd.DataFrame([{
        "mean_precision": f_round(sum_p / (cnt_p + EPS)),
        "mean_recall": f_round(sum_r / (cnt_r + EPS)),
        "mean_f1": f_round(sum_f1 / (len(chars) + EPS)),
        "overall_precision": f_round(op),
        "overall_recall": f_round(orc),
        "overall_f1": f_round(2 * orc * op / (orc + op + EPS)),
    }])


def fx_det_eval(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_det_eval single-node: greedy per-doc counts +
    combine_results (det_metric.py:24-79)."""
    base = con.sql(f"""
        SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
               l_orderkey * 10 + l_linenumber AS oid,
               CAST((l_partkey % 40) * 30 AS DOUBLE) AS x1,
               CAST((l_suppkey % 30) * 30 AS DOUBLE) AS y1,
               l_linenumber AS ln
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 4
    """).df()
    m = d = g = 0
    n_images = 0
    for _, grp in base.groupby("doc_id", sort=True):
        grp = grp.sort_values("oid", kind="stable")
        gt = np.column_stack([grp["x1"], grp["y1"],
                              grp["x1"] + 25, grp["y1"] + 18])
        ignore = (grp["oid"] % 11 == 0).to_numpy()
        shift = np.where(grp["ln"] <= 3, 3.0, 7000.0)
        det = np.column_stack([grp["x1"] + shift, grp["y1"] + shift,
                               grp["x1"] + shift + 25,
                               grp["y1"] + shift + 18])
        gc, dc, mm = det_match_counts(gt, ignore, det)
        m += mm
        d += dc
        g += gc
        n_images += 1
    p = 0.0 if d == 0 else m / d
    r = 0.0 if g == 0 else m / g
    h = 0.0 if p + r == 0 else 2 * p * r / (p + r)
    return pd.DataFrame([{
        "precision": f_round(p), "recall": f_round(r), "hmean": f_round(h),
        "n_images": np.int64(n_images)}])


def fx_det_fce_metric(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_det_fce_metric single-node: the same greedy
    kernel per (doc, threshold) with dets filtered below threshold
    BEFORE matching, per-threshold combine, then the reference's
    literal hmean-max and AP folds (det_metric.py:135-165)."""
    base = con.sql(f"""
        SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
               l_orderkey * 10 + l_linenumber AS oid,
               CAST((l_partkey % 40) * 30 AS DOUBLE) AS x1,
               CAST((l_suppkey % 30) * 30 AS DOUBLE) AS y1,
               l_linenumber AS ln
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 4
    """).df()
    thrs = [0.1 * t for t in range(10)]
    sums = {t: [0, 0, 0] for t in thrs}          # m, d, g
    for _, grp in base.groupby("doc_id", sort=True):
        grp = grp.sort_values("oid", kind="stable")
        gt = np.column_stack([grp["x1"], grp["y1"],
                              grp["x1"] + 25, grp["y1"] + 18])
        ignore = (grp["oid"] % 11 == 0).to_numpy()
        shift = np.where(grp["ln"] <= 3, 3.0, 7000.0)
        det = np.column_stack([grp["x1"] + shift, grp["y1"] + shift,
                               grp["x1"] + shift + 25,
                               grp["y1"] + shift + 18])
        score = ((grp["oid"] * 7) % 10).to_numpy() / 10.0 + 0.05
        for t in thrs:
            keep = score >= t
            gc, dc, mm = det_match_counts(gt, ignore, det[keep])
            sums[t][0] += mm
            sums[t][1] += dc
            sums[t][2] += gc
    rows = []
    for t in thrs:
        m, d, g = sums[t]
        p = 0.0 if d == 0 else m / d
        r = 0.0 if g == 0 else m / g
        h = 0.0 if p + r == 0 else 2 * p * r / (p + r)
        rows.append((t, p, r, h))
    hmean_max = max(h for _, _, _, h in rows)
    max_precision, pre_recall, ap = 0.0, 1.0, 0.0
    for _, p, r, _ in rows:                      # reference fold order
        ap += max_precision * (pre_recall - r)
        max_precision = max(max_precision, p)
        pre_recall = r
    return pd.DataFrame(
        [(f_round(t, 1), f_round(p), f_round(r), f_round(h),
          f_round(hmean_max), f_round(ap)) for t, p, r, h in rows],
        columns=["thr", "precision", "recall", "hmean", "hmean_max",
                 "ap"])


def fx_table_metric(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_table_metric single-node: structure half from the
    table_token_acc SQL twin (run verbatim over registered views — the
    independent DuckDB restatement, not the Spark code); bbox half from
    det_match_counts over the J1 cell/box universe per table, combined
    with DetMetric's ratios."""
    from paddleocr_spark.entry_queries import oracle_sql

    for t in ("documents", "lineitem"):
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    st = con.sql(oracle_sql()["table_token_acc"]).df()
    t_ids = sorted(con.sql(
        "SELECT DISTINCT l_orderkey % 50 AS t_id FROM lineitem "
        "WHERE l_linenumber <= 4").df()["t_id"])
    cells = np.array([[(c % 4) * 200.0, (c // 4) * 250.0,
                       (c % 4) * 200.0 + 199, (c // 4) * 250.0 + 249]
                      for c in range(12)])
    no_ign = np.zeros(len(cells), dtype=bool)
    m = d = g = n_img = 0
    for t in t_ids:
        shift = np.where(np.arange(12) <= (t % 5) + 5, 3.0, 7000.0)
        det = cells + shift[:, None]
        gc, dc, mm = det_match_counts(cells, no_ign, det)
        m += mm
        d += dc
        g += gc
        n_img += 1
    p = 0.0 if d == 0 else m / d
    r = 0.0 if g == 0 else m / g
    h = 0.0 if p + r == 0 else 2 * p * r / (p + r)
    return pd.DataFrame([{
        "acc": st["token_acc"].iloc[0],
        "n_tables": np.int64(st["n_tables"].iloc[0]),
        "bbox_metric_precision": f_round(p),
        "bbox_metric_recall": f_round(r),
        "bbox_metric_hmean": f_round(h),
        "n_bbox_images": np.int64(n_img)}])


def fx_ct_metric(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_ct_metric single-node: the same site synthesis in
    DuckDB + plain python, the SAME sigma/tau + matching kernels
    (kernels-imported-twice), the ratio combine re-implemented."""
    from paddleocr_spark.functions.metrics import (ct_match_counts,
                                                   ct_sigma_tau)

    base = con.sql(f"""
        SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
               l_orderkey * 10 + l_linenumber AS oid,
               l_linenumber AS ln,
               CAST((l_partkey % 37) * 300 AS DOUBLE) AS x,
               CAST((l_suppkey % 23) * 200 AS DOUBLE) AS y
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 4
    """).df()
    # gt/det tables keyed by (oid*10 + k) and SORTED by that id — the
    # distributed kernel orders group rows by ["side", "oid"], and the
    # matching walk is order-sensitive, so the replay must present the
    # same row order.
    docs: dict[str, dict] = {}
    for row in base.itertuples(index=False):
        d = docs.setdefault(row.doc_id, {"gt": [], "det": []})
        x, y, ln, oid = row.x, row.y, int(row.ln), int(row.oid)
        if ln == 3:
            d["gt"] += [(oid * 10, [x, y, x + 50, y + 40], False),
                        (oid * 10 + 1, [x + 50, y, x + 100, y + 40], False)]
        else:
            d["gt"].append((oid * 10, [x, y, x + 100, y + 40],
                            ln == 4 and oid % 3 == 0))
        if ln == 1:
            d["det"].append((oid * 10, [x + 3, y + 3, x + 103, y + 43]))
        elif ln == 2:
            d["det"] += [(oid * 10, [x, y, x + 50, y + 40]),
                         (oid * 10 + 1, [x + 50, y, x + 100, y + 40])]
        elif ln == 3:
            d["det"].append((oid * 10, [x, y, x + 100, y + 40]))
        else:
            d["det"].append((oid * 10,
                             [x + 7000, y + 7000, x + 7100, y + 7040]))
    g = dd = r = p = 0.0
    for doc in sorted(docs):
        v = docs[doc]
        gts = sorted(v["gt"])
        dets = sorted(v["det"])
        sigma, tau = ct_sigma_tau(
            np.array([b for _, b, _ in gts]),
            np.array([f for _, _, f in gts], dtype=bool),
            np.array([b for _, b in dets]))
        ng, nd, rr, pp, _ = ct_match_counts(sigma, tau)
        g += ng
        dd += nd
        r += rr
        p += pp
    rec = 0.0 if g == 0 else r / g
    prc = 0.0 if dd == 0 else p / dd
    f = 0.0 if prc + rec == 0 else 2 * prc * rec / (prc + rec)
    return pd.DataFrame([{
        "precision": f_round(prc), "recall": f_round(rec),
        "f_score": f_round(f), "total_num_gt": np.int64(g),
        "total_num_det": np.int64(dd)}])


def fx_e2e_deteval(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_e2e_deteval single-node: ct_metric's site
    synthesis + strings, the SAME e2e_sigma_tau / ct_match_counts
    kernels (rec_flag=True), the full final-report ratios
    re-implemented (Deteval.py:659-705)."""
    from paddleocr_spark.functions.metrics import (ct_match_counts,
                                                   e2e_sigma_tau)

    base = con.sql(f"""
        SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
               l_orderkey * 10 + l_linenumber AS oid,
               l_linenumber AS ln,
               CAST((l_partkey % 37) * 300 AS DOUBLE) AS x,
               CAST((l_suppkey % 23) * 200 AS DOUBLE) AS y
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 4
    """).df()

    def det_txt(i: int) -> str:
        return (f"w{i}", f"W{i}", f"x{i}")[i % 3]

    docs: dict[str, dict] = {}
    for row in base.itertuples(index=False):
        d = docs.setdefault(row.doc_id, {"gt": [], "det": []})
        x, y, ln, oid = row.x, row.y, int(row.ln), int(row.oid)
        dc = ln == 4 and oid % 3 == 0
        if ln == 3:
            d["gt"] += [
                (oid * 10, [x, y, x + 50, y + 40], f"w{oid * 10}"),
                (oid * 10 + 1, [x + 50, y, x + 100, y + 40],
                 f"w{oid * 10 + 1}")]
        else:
            d["gt"].append((oid * 10, [x, y, x + 100, y + 40],
                            "" if dc else f"w{oid * 10}"))
        if ln == 1:
            d["det"].append((oid * 10, [x + 3, y + 3, x + 103, y + 43]))
        elif ln == 2:
            d["det"] += [(oid * 10, [x, y, x + 50, y + 40]),
                         (oid * 10 + 1, [x + 50, y, x + 100, y + 40])]
        elif ln == 3:
            d["det"].append((oid * 10, [x, y, x + 100, y + 40]))
        else:
            d["det"].append((oid * 10,
                             [x + 7000, y + 7000, x + 7100, y + 7040]))
    g = dd = r = p = 0.0
    hits = 0
    for doc in sorted(docs):
        v = docs[doc]
        gts = sorted(v["gt"])
        dets = sorted(v["det"])
        care = np.array([t != "" for _, _, t in gts], dtype=bool)
        sigma, tau, keep = e2e_sigma_tau(
            np.array([b for _, b, _ in gts]), care,
            np.array([b for _, b in dets]))
        gt_strs = [t for (_, _, t), c in zip(gts, care) if c]
        det_strs = [det_txt(i) for (i, _), kp in zip(dets, keep) if kp]
        ng, nd, rr, pp, hh = ct_match_counts(sigma, tau, gt_strs,
                                             det_strs)
        g += ng
        dd += nd
        r += rr
        p += pp
        hits += hh
    rec = 0.0 if g == 0 else r / g
    prc = 0.0 if dd == 0 else p / dd
    f = 0.0 if prc + rec == 0 else 2 * prc * rec / (prc + rec)
    seqerr = 1.0 if r == 0 else 1.0 - hits / r
    rec_e = 0.0 if g == 0 else hits / g
    prc_e = 0.0 if dd == 0 else hits / dd
    f_e = 0.0 if prc_e + rec_e == 0 else (
        2 * prc_e * rec_e / (prc_e + rec_e))
    return pd.DataFrame([{
        "precision": f_round(prc), "recall": f_round(rec),
        "f_score": f_round(f), "seqerr": f_round(seqerr),
        "recall_e2e": f_round(rec_e), "precision_e2e": f_round(prc_e),
        "f_score_e2e": f_round(f_e), "total_num_gt": np.int64(g),
        "total_num_det": np.int64(dd), "hit_str_count": np.int64(hits)}])


def fx_teds(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_teds single-node: pairs in DuckDB, teds_score +
    Python round per pair (matching the Arrow UDF's rounding)."""
    docs = os.path.join(sf_dir, "documents.parquet")
    cell = ("'<html><body><table><thead><tr><td>' || w[1] || "
            "'</td><td>' || {h2} || "
            "'</td></tr></thead><tbody><tr><td>' || w[3] || '</td><td>' || "
            "w[4] || '</td></tr>{tail}</tbody></table></body></html>'")
    true_html = cell.format(h2="w[2]", tail="<tr><td>x</td><td>y</td></tr>")
    pred_html = ("CASE WHEN pair_id % 3 = 0 THEN " + cell.format(
        h2="'MUT'", tail="") + " ELSE " + cell.format(
        h2="w[2]", tail="<tr><td>x</td><td>y</td></tr>") + " END")
    pairs = con.sql(f"""
        WITH w AS (
            SELECT doc_id AS pair_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x != '')[1:6] AS w
            FROM read_parquet('{docs}')
        )
        SELECT pair_id, {pred_html} AS pred_html, {true_html} AS true_html
        FROM w WHERE len(w) >= 4
    """).df()
    return pd.DataFrame({
        "pair_id": pairs["pair_id"].astype("int64"),
        "teds": [round(teds_score(p, t), 4) for p, t in
                 zip(pairs["pred_html"], pairs["true_html"])],
    })


def fx_east_nms(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_east_nms input in DuckDB; nms_locality per doc."""
    from paddleocr_spark.kernels import nms_locality
    base = con.sql(f"""
        SELECT printf('doc_%03d', l_orderkey % 25) AS doc_id,
               l_orderkey * 10 + l_linenumber AS box_id,
               CAST((l_partkey % 15) * 20 AS DOUBLE) AS x1,
               CAST((l_suppkey % 12) * 25 AS DOUBLE) AS y1,
               CAST((l_partkey % 15) * 20 + 50 AS DOUBLE) AS x2,
               CAST((l_suppkey % 12) * 25 + 35 AS DOUBLE) AS y2,
               0.3 + CAST(box_id % 70 AS DOUBLE) / 100.0 AS score
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 3
    """).df()
    outs = []
    for doc_id, g in base.groupby("doc_id", sort=True):
        g = g.sort_values(BOX_ORDER, kind="stable")
        kept, scores = nms_locality(
            g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=float),
            g["score"].to_numpy(dtype=float))
        outs.append(pd.DataFrame({
            "doc_id": doc_id, "keep_order": range(len(scores)),
            "x1": kept[:, 0], "y1": kept[:, 1],
            "x2": kept[:, 2], "y2": kept[:, 3], "score": scores}))
    return (pd.concat(outs, ignore_index=True)
            .astype({"keep_order": "int64"}))


def fx_pse_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_pse_detect single-node: doc ids from DuckDB, maps +
    expansion via the shared kernels."""
    from paddleocr_spark.kernels import pse_boxes
    from paddleocr_spark.operators.spatial import (PSE_RATIO, PSE_SRC,
                                                   pse_doc_maps)
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 200 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        score, kernels = pse_doc_maps(int(d))
        for bi, (x1, y1, x2, y2, s) in enumerate(pse_boxes(
                score, kernels, (PSE_SRC, PSE_SRC, PSE_RATIO, PSE_RATIO))):
            rows.append((int(d), bi, x1, y1, x2, y2, s))
    return pd.DataFrame(rows, columns=[
        "doc_id", "box_idx", "x1", "y1", "x2", "y2", "score"]).astype(
        {"doc_id": "int64", "box_idx": "int64", "x1": "int64",
         "y1": "int64", "x2": "int64", "y2": "int64"})


def fx_drrg_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_drrg_detect single-node: doc ids from DuckDB,
    graphs + clustering/boundary assembly via the shared kernels."""
    from paddleocr_spark.kernels import drrg_boundaries
    from paddleocr_spark.operators.spatial import (DRRG_RATIO,
                                                   drrg_doc_graph)
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 200 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        edges, scores, comps = drrg_doc_graph(int(d))
        boxes, bscores = drrg_boundaries(edges, scores, comps, DRRG_RATIO)
        for pi, (poly, s) in enumerate(zip(boxes, bscores)):
            for qi, (x, y) in enumerate(poly):
                rows.append((int(d), pi, qi, float(x), float(y), float(s)))
    return pd.DataFrame(rows, columns=[
        "doc_id", "boundary_idx", "pt_idx", "x", "y", "score"]).astype(
        {"doc_id": "int64", "boundary_idx": "int64", "pt_idx": "int64"})


def fx_fce_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_fce_detect single-node: doc ids from DuckDB,
    maps + Fourier reconstruction/NMS via the shared kernels."""
    from paddleocr_spark.kernels import fce_boundaries
    from paddleocr_spark.operators.spatial import FCE_RATIO, fce_doc_maps
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 120 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        cls, reg = fce_doc_maps(int(d))
        boxes, scores = fce_boundaries(cls, reg, FCE_RATIO)
        for pi, (poly, s) in enumerate(zip(boxes, scores)):
            for qi, (x, y) in enumerate(poly):
                rows.append((int(d), pi, qi, float(x), float(y), float(s)))
    return pd.DataFrame(rows, columns=[
        "doc_id", "poly_idx", "pt_idx", "x", "y", "score"]).astype(
        {"doc_id": "int64", "poly_idx": "int64", "pt_idx": "int64"})


def fx_sast_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_sast_detect single-node: doc ids from DuckDB,
    maps + quad restore/NMS/clustering via the shared kernels."""
    from paddleocr_spark.kernels import sast_polys
    from paddleocr_spark.operators.spatial import (SAST_RATIO, SAST_SRC,
                                                   sast_doc_maps)
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 200 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        tcl, tvo, tbo, tco = sast_doc_maps(int(d))
        polys = sast_polys(tcl, tvo, tbo, tco, SAST_RATIO, SAST_RATIO,
                           SAST_SRC, SAST_SRC)
        for pi, poly in enumerate(polys):
            for qi, (x, y) in enumerate(poly):
                rows.append((int(d), pi, qi, float(x), float(y)))
    return pd.DataFrame(rows, columns=[
        "doc_id", "poly_idx", "pt_idx", "x", "y"]).astype(
        {"doc_id": "int64", "poly_idx": "int64", "pt_idx": "int64"})


def fx_ct_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_ct_detect single-node: doc ids from DuckDB, maps +
    centripetal propagation via the shared kernels."""
    from paddleocr_spark.kernels import ct_boxes
    from paddleocr_spark.operators.spatial import CT_ORG, ct_doc_maps
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 200 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        out, score = ct_doc_maps(int(d))
        for bi, (x1, y1, x2, y2, s) in enumerate(
                ct_boxes(out, score, (CT_ORG, CT_ORG))):
            rows.append((int(d), bi, x1, y1, x2, y2, s))
    return pd.DataFrame(rows, columns=[
        "doc_id", "box_idx", "x1", "y1", "x2", "y2", "score"]).astype(
        {"doc_id": "int64", "box_idx": "int64", "x1": "int64",
         "y1": "int64", "x2": "int64", "y2": "int64"})


def fx_db_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_db_detect single-node: doc ids from DuckDB, maps +
    boxes_from_bitmap via the shared kernels."""
    from paddleocr_spark.kernels import db_boxes
    from paddleocr_spark.operators.spatial import (DB_RATIO, DB_SRC,
                                                   db_doc_maps)
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 200 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        pred = db_doc_maps(int(d))
        for bi, (x1, y1, x2, y2, s) in enumerate(db_boxes(
                pred, (DB_SRC, DB_SRC, DB_RATIO, DB_RATIO))):
            rows.append((int(d), bi, x1, y1, x2, y2, s))
    return pd.DataFrame(rows, columns=[
        "doc_id", "box_idx", "x1", "y1", "x2", "y2", "score"]).astype(
        {"doc_id": "int64", "box_idx": "int64", "x1": "int64",
         "y1": "int64", "x2": "int64", "y2": "int64"})


def fx_table_html_master(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries table_html_master single-node: token stream + cell
    assignments from the DuckDB twins (table_structure / cell_match
    oracle SQL over registered views), contents + walk via the shared
    kernels (operators.table.html_master_one)."""
    from paddleocr_spark.entry_queries import oracle_sql
    from paddleocr_spark.operators.table import html_master_one
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW IF NOT EXISTS {t} AS "
                        f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    toks = con.sql(sqls["table_structure"]).df().sort_values(
        ["t_id", "pos"])
    cells = con.sql(sqls["cell_match"]).df().sort_values(
        ["t_id", "box_id"])

    def content(box_id: int) -> str:
        if box_id % 21 == 0:
            return "<b>"
        x = str(box_id % 100)
        m = box_id % 7
        return {0: f"<b>w{x}", 1: f"w{x}</b>", 2: f" w{x}",
                3: ""}.get(m, f"w{x}")

    rows = []
    cell_groups = {t: g for t, g in cells.groupby("t_id")}
    for t_id, g in toks.groupby("t_id"):
        cg = cell_groups.get(t_id)
        cell_list = ([] if cg is None else
                     [(int(b), int(c), content(int(b)))
                      for b, c in zip(cg.box_id, cg.cell_id)])
        rows.append((int(t_id), html_master_one(
            int(t_id), list(g.token), cell_list)))
    return pd.DataFrame(rows, columns=["t_id", "html"]).astype(
        {"t_id": "int64"})


def fx_east_detect(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_east_detect single-node: doc ids from DuckDB, maps +
    detect via the shared kernels."""
    from paddleocr_spark.kernels import east_detect_boxes
    from paddleocr_spark.operators.spatial import (EAST_RATIO, EAST_SRC,
                                                   east_doc_maps)
    ids = con.sql(f"""
        SELECT doc_id FROM read_parquet(
            '{os.path.join(sf_dir, "documents.parquet")}')
        WHERE doc_id < 200 ORDER BY doc_id
    """).df()["doc_id"]
    rows = []
    for d in ids:
        score, geo = east_doc_maps(int(d))
        for bi, (x1, y1, x2, y2, s) in enumerate(east_detect_boxes(
                score, geo, (EAST_SRC, EAST_SRC, EAST_RATIO, EAST_RATIO))):
            rows.append((int(d), bi, x1, y1, x2, y2, s))
    return pd.DataFrame(rows, columns=[
        "doc_id", "box_idx", "x1", "y1", "x2", "y2", "score"]).astype(
        {"doc_id": "int64", "box_idx": "int64", "x1": "int64",
         "y1": "int64", "x2": "int64", "y2": "int64"})


def _media_refs_single_node(con, sf_dir: str) -> list[str]:
    """Distinct media refs of the synthetic corpus, derived in DuckDB via
    the SYNTH_CTE twin (never Spark)."""
    from paddleocr_spark.entry_queries import SYNTH_CTE
    docs = os.path.join(sf_dir, "documents.parquet")
    con.execute("CREATE OR REPLACE VIEW documents AS "
                f"SELECT * FROM read_parquet('{docs}')")
    rows = con.sql(
        f"WITH {SYNTH_CTE.lstrip()} SELECT DISTINCT media_ref "
        "FROM synth_spans WHERE kind = 'media' ORDER BY media_ref"
    ).fetchall()
    return [r[0] for r in rows]


def fx_tensor_ops(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_tensor_ops single-node: refs from the DuckDB synth
    twin; the float32 P1→P6→P2→P5→P3 chain imported from pixelops (the
    sanctioned kernels-imported-twice rule — an exact float32 chain
    cannot be re-derived independently without breaking bit-equality)."""
    from paddleocr_spark.pixelops import tensor_ops_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in tensor_ops_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "channel", "res_h", "res_w", "pad_h", "pad_w",
        "mean", "vmin", "vmax", "ratio_h", "ratio_w"])


def fx_rec_resize(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_rec_resize single-node (see fx_tensor_ops)."""
    from paddleocr_spark.recresize import rec_resize_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in rec_resize_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "variant", "out_c", "out_h", "out_w", "valid_ratio",
        "resize_w", "mean", "vmin", "vmax"])


def fx_rec_aug(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_rec_aug single-node (see fx_tensor_ops)."""
    from paddleocr_spark.recaug import rec_aug_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in rec_aug_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "variant", "seed", "out_h", "out_w", "mean",
        "vmin", "vmax", "crc"])


def fx_ct_gt(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_ct_gt single-node: span geometry + P9/P10 drop
    flags from the DuckDB twins, the seeded CT target chain via the
    shared kernel (ctgt.ct_gt_rows_for_doc — reference parity pinned by
    the exec-ref differential in tests/test_ctgt.py)."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import EAST_CROP_CANVAS_MARGIN
    from paddleocr_spark.ctgt import ct_gt_rows_for_doc
    from paddleocr_spark.entry_queries import oracle_sql
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        xs[:, 1] *= 2        # q_ct_gt's x2 vertical spread
        xs[:, 3] *= 2
        ign = np.array([(d, s) not in kept_set
                        for d, s in zip(g["doc_id"], g["span_idx"])])
        h = int(xs[:, 3].max()) + EAST_CROP_CANVAS_MARGIN
        rows.append(ct_gt_rows_for_doc(str(doc_id), xs, ign, h,
                                       G.PAGE_WIDTH))
    return pd.DataFrame(rows, columns=[
        "doc_id", "gi_sum", "tm_sum", "gki_sum", "gk_sum", "tmd_sum",
        "dist_px", "dist_x", "dist_y", "img_crc"])


def fx_pg_gt(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_pg_gt single-node (see fx_ct_gt): span geometry
    + drop flags via the DuckDB twins, per-span texts derived the same
    deterministic way, the seeded PGNet walk via the shared kernel."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import EAST_CROP_CANVAS_MARGIN
    from paddleocr_spark.entry_queries import oracle_sql
    from paddleocr_spark.pg_gt import pg_gt_rows_for_doc
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        xs[:, 1] = np.clip(xs[:, 1] * 6, 0, 940)   # q_pg_gt's spread
        xs[:, 3] = np.clip(xs[:, 3] * 6, 0, 940)
        ign = np.array([(d, s) not in kept_set
                        for d, s in zip(g["doc_id"], g["span_idx"])])
        texts = [f"{k.upper()}#{int(s)}"
                 for k, s in zip(g["kind"], g["span_idx"])]
        h = int(xs[:, 3].max()) + EAST_CROP_CANVAS_MARGIN
        rows.append(pg_gt_rows_for_doc(str(doc_id), xs, ign, texts, h,
                                       G.PAGE_WIDTH))
    return pd.DataFrame(rows, columns=[
        "doc_id", "live", "img_sum", "tcl_sum", "tcl_label_sum",
        "border_sum", "direction_sum", "mask_sum", "pos_px", "pos_sum",
        "label_sum"])


def fx_randaug(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_randaug single-node (see fx_tensor_ops)."""
    from paddleocr_spark.randaug import randaug_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in randaug_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "seed", "out_h", "out_w", "mean", "vmin", "vmax",
        "crc"])


def fx_vl_label_encode(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_vl_label_encode single-node: the shared sample
    texts via SQL, the seeded VL occlusion encode via the shared
    kernel (labelenc.vl_encode_py — reference parity pinned by the
    exec-ref differential)."""
    from paddleocr_spark.functions.labelenc import vl_encode_py
    p = os.path.join(sf_dir, "documents.parquet")
    texts = con.sql(f"""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN upper(substring(text, CAST(1 + doc_id % 7 AS INT),
                                         CAST(doc_id % 30 AS INT)))
                    ELSE substring(text, CAST(1 + doc_id % 7 AS INT),
                                   CAST(doc_id % 30 AS INT)) END AS text
        FROM read_parquet('{p}') ORDER BY doc_id""").df()
    rows = []
    for did, text in zip(texts["doc_id"], texts["text"]):
        r = vl_encode_py(text, int(did))
        if r is None:
            continue
        cid, ln, lr, ls, lab, res, sub = r
        rows.append((int(did), cid, ln, lr, ls,
                     ",".join(map(str, lab)), ",".join(map(str, res)),
                     ",".join(map(str, sub))))
    return pd.DataFrame(rows, columns=[
        "doc_id", "change_id", "length", "length_res", "length_sub",
        "label", "label_res", "label_sub"])


def fx_drrg_gt(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_drrg_gt single-node (see fx_ct_gt)."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import EAST_CROP_CANVAS_MARGIN
    from paddleocr_spark.drrg_gt import drrg_gt_rows_for_doc
    from paddleocr_spark.entry_queries import oracle_sql
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        xs[:, 1] = np.clip(xs[:, 1] * 2, 0, 940)   # q_drrg_gt's spread
        xs[:, 3] = np.clip(xs[:, 3] * 2, 0, 940)   # + canvas cap
        ign = np.array([(d, s) not in kept_set
                        for d, s in zip(g["doc_id"], g["span_idx"])])
        h = int(xs[:, 3].max()) + EAST_CROP_CANVAS_MARGIN
        rows.append(drrg_gt_rows_for_doc(str(doc_id), xs, ign, h,
                                         G.PAGE_WIDTH))
    return pd.DataFrame(rows, columns=[
        "doc_id", "text_px", "eff_px", "center_px", "top_sum", "bot_sum",
        "sin_sum", "cos_sum", "n_comps", "ax_sum", "ay_sum", "ah_sum",
        "aw_sum", "acos_sum", "asin_sum", "albl_sum"])


def fx_cvaug(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_cvaug single-node (see fx_tensor_ops)."""
    from paddleocr_spark.cvaug import cvaug_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in cvaug_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "variant", "seed", "out_h", "out_w", "mean",
        "vmin", "vmax", "crc"])


def fx_table_xlsx(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_table_xlsx single-node: the table HTML comes from
    table_html's own DuckDB oracle SQL (independent of the Spark walk);
    the grid/zip kernel is shared (kernels-imported-twice rule — the
    md5 of deterministic bytes cannot be re-derived two ways)."""
    from paddleocr_spark.entry_queries import oracle_sql
    from paddleocr_spark.xlsx import xlsx_rows_for
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}')")
    # DuckDB's parallel scan returns rows in nondeterministic order;
    # sort so fixture regeneration is byte-stable (gate sorts anyway)
    html = con.sql(oracle_sql()["table_html"]).df().sort_values(
        "t_id").reset_index(drop=True)
    rows = [xlsx_rows_for(t, h)[:6]
            for t, h in zip(html["t_id"], html["html"])]
    return pd.DataFrame(rows, columns=[
        "t_id", "n_rows", "n_cols", "n_merges", "xlsx_size", "xlsx_md5"])


def fx_can_metric(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_can_metric single-node: same label/pred token
    synthesis replayed in plain python (md5 per 1-based token position),
    same 64-doc batching, the SAME scorer imported from
    functions/metrics.can_batch_stats (kernels-imported-twice), and the
    same final ratios, with Spark's HALF_UP rounding."""
    import hashlib

    from paddleocr_spark.entry_queries import CAN_BATCH, CAN_MAX_WORDS
    from paddleocr_spark.functions.metrics import can_batch_stats

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    batches: dict[int, list[tuple[int, list, list]]] = {}
    for did, text in zip(docs.doc_id, docs.text):
        label = [w for w in str(text or "").lower().split(" ") if w]
        label = label[:CAN_MAX_WORDS]
        if not label:
            continue
        pred = [
            w + "~" if hashlib.md5(
                f"{int(did)}@{i + 1}".encode()).hexdigest()[0] == "0"
            else w for i, w in enumerate(label)]
        batches.setdefault(int(did) // CAN_BATCH, []).append(
            (int(did), label, pred))
    num = den = lines = right = 0.0
    for b in sorted(batches):
        rows = sorted(batches[b])
        wr, lr, wl, bs = can_batch_stats(
            [r[1] for r in rows], [r[2] for r in rows])
        num += wr * wl
        den += wl
        right += lr
        lines += bs
    return pd.DataFrame([(f_round(num / den), f_round(right / lines),
                          len(batches), int(lines))],
                        columns=["word_rate", "exp_rate", "n_batches",
                                 "n_lines"])


def fx_sr_metric(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_sr_metric single-node (see fx_tensor_ops)."""
    from paddleocr_spark.pixelops import sr_pair_for_ref
    rows = [sr_pair_for_ref(ref)
            for ref in _media_refs_single_node(con, sf_dir)]
    return pd.DataFrame(rows, columns=["media_ref", "psnr", "ssim"])


def fx_config_transforms(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_config_transforms single-node: the same compiled
    chain (config.build_transforms over CONFIG_GATE_TRANSFORMS) replayed
    per ref with transform_sample."""
    from paddleocr_spark.config import build_transforms, transform_sample
    from paddleocr_spark.entry_queries import CONFIG_GATE_TRANSFORMS
    from paddleocr_spark.imagecodecs import render_ref_image

    ops, _ = build_transforms(CONFIG_GATE_TRANSFORMS)
    rows = []
    for ref in _media_refs_single_node(con, sf_dir):
        _, buf = render_ref_image(ref)
        out = transform_sample({"image": buf}, ops)
        arr = np.asarray(out[0] if isinstance(out, list) else out["image"])
        rows.append((ref, arr.ndim, int(arr.shape[0]),
                     int(arr.shape[1]) if arr.ndim > 1 else 0,
                     int(arr.size),
                     round(float(arr.mean(dtype=np.float64)), 4)))
    return pd.DataFrame(rows, columns=["media_ref", "ndim", "dim0",
                                       "dim1", "numel", "mean"])


def fx_layout_preprocess(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_layout_preprocess single-node (see fx_tensor_ops)."""
    from paddleocr_spark.pixelops import layout_preprocess_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in layout_preprocess_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "channel", "out_h", "out_w", "mean", "vmin", "vmax"])


def fx_rotate_crop(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_rotate_crop single-node (see fx_tensor_ops)."""
    from paddleocr_spark.pixelops import crops_for_ref
    rows = [r for ref in _media_refs_single_node(con, sf_dir)
            for r in crops_for_ref(ref)]
    return pd.DataFrame(rows, columns=[
        "media_ref", "crop_id", "out_h", "out_w", "pix_sum", "first_val"])


def fx_border_map(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_border_map single-node: the identical
    make_border_map kernel over the identical box synthesis, so the
    unrounded doubles are bit-equal to the distributed run."""
    import numpy as np

    from paddleocr_spark.kernels import BORDER_THRESH_MIN, make_border_map

    boxes = con.sql(f"""
        SELECT printf('doc_%04d', l_orderkey % 200) AS doc_id,
               l_orderkey * 10 + l_linenumber AS box_id,
               CAST((l_partkey % 11) * 10 AS DOUBLE) AS x0,
               CAST((l_suppkey % 7) * 9 AS DOUBLE) AS y0,
               CAST((l_partkey % 11) * 10 + l_orderkey % 29 AS DOUBLE) AS x1,
               CAST((l_suppkey % 7) * 9
                    + (l_suppkey + l_linenumber) % 24 AS DOUBLE) AS y1,
               (l_orderkey % 23 = 0) AS tag
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 4 AND l_orderkey % 11 = 0
        ORDER BY doc_id, box_id
    """).df()
    rows = []
    for doc_id, g in boxes.groupby("doc_id", sort=True):
        rect = g[["x0", "y0", "x1", "y1"]].to_numpy(dtype=np.float64)
        canvas, mask = make_border_map(
            rect, g["tag"].to_numpy(dtype=bool), 68, 120)
        rows.append((doc_id, float(canvas.sum(dtype=np.float64)),
                     float(canvas.max()),
                     int((canvas > BORDER_THRESH_MIN).sum()),
                     int(mask.sum())))
    return pd.DataFrame(rows, columns=[
        "doc_id", "thr_sum", "thr_max", "thr_px", "mask_px"])


def fx_east_crop(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_east_crop single-node: span geometry + P9/P10 drop
    flags from the DuckDB oracle twins, the seeded crop itself via the
    shared kernel (augments.east_crop_doc — the RNG walk is the contract
    and cannot be re-derived two ways; its reference parity is pinned by
    the exec-ref differential instead)."""
    from paddleocr_spark.augments import east_crop_doc
    from paddleocr_spark.entry_queries import oracle_sql
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        boxes = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        ignored = np.array([(d, s) not in kept_set
                            for d, s in zip(g["doc_id"], g["span_idx"])])
        span_idx = g["span_idx"].to_numpy()
        cx, cy, cw, ch, sc, keep = east_crop_doc(
            int(str(doc_id)[4:]), boxes, ignored)
        for pos, nx1, ny1, nx2, ny2 in keep:
            rows.append((str(doc_id), int(span_idx[pos]),
                         bool(ignored[pos]), cx, cy, cw, ch,
                         sc, nx1, ny1, nx2, ny2))
    return pd.DataFrame(rows, columns=[
        "doc_id", "span_idx", "ignored", "crop_x", "crop_y", "crop_w",
        "crop_h", "scale", "nx1", "ny1", "nx2", "ny2"]).astype(
        {"span_idx": "int64", "crop_x": "int64", "crop_y": "int64",
         "crop_w": "int64", "crop_h": "int64"})


def fx_pse_crop(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_pse_crop single-node: box layouts from DuckDB,
    shrink-map rasters + the seeded stdlib-random crop via the shared
    kernels (RNG-walk bit-parity is the contract; reference parity is
    pinned by the exec-ref differential)."""
    from paddleocr_spark.augments import (PSE_CROP_SIZE,
                                          random_crop_img_mask)
    from paddleocr_spark.entry_queries import _SHRINK_H, _SHRINK_W
    from paddleocr_spark.kernels import make_shrink_map
    li = con.sql(f"""
        SELECT format('doc_{{:04d}}', l_orderkey % 200) AS doc_id,
               l_orderkey * 10 + l_linenumber AS box_id,
               CAST((l_partkey % 12) * 10 - 5 AS DOUBLE) AS x0,
               CAST((l_suppkey % 8) * 9 - 4 AS DOUBLE) AS y0,
               CAST((l_partkey % 12) * 10 - 5 + l_orderkey % 30
                    AS DOUBLE) AS x1,
               CAST((l_suppkey % 8) * 9 - 4
                    + (l_suppkey + l_linenumber) % 24 AS DOUBLE) AS y1,
               l_orderkey % 23 = 0 AS tag
        FROM read_parquet('{os.path.join(sf_dir, "lineitem.parquet")}')
        WHERE l_linenumber <= 4 AND l_orderkey % 11 = 0
        ORDER BY doc_id, box_id
    """).df()
    rows = []
    for doc_id, g in li.groupby("doc_id", sort=True):
        rect = g[["x0", "y0", "x1", "y1"]].to_numpy(dtype=np.float64)
        _, gt, mask = make_shrink_map(
            rect, g["tag"].to_numpy(dtype=bool), _SHRINK_H, _SHRINK_W)
        data = {"image": np.zeros((_SHRINK_H, _SHRINK_W, 3), np.uint8),
                "gt_text": gt, "mask": mask}
        i, j, forced, out = random_crop_img_mask(
            int(str(doc_id)[4:]), data, "gt_text",
            {"image", "gt_text", "mask"}, PSE_CROP_SIZE)
        rows.append((str(doc_id), int(i), int(j), bool(forced),
                     int(out["gt_text"].sum()), int(out["mask"].sum())))
    return pd.DataFrame(rows, columns=[
        "doc_id", "crop_i", "crop_j", "forced", "gt_sum",
        "mask_sum"]).astype(
        {"crop_i": "int64", "crop_j": "int64",
         "gt_sum": "int64", "mask_sum": "int64"})


def fx_copy_paste(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_copy_paste single-node: span geometry + texts +
    P9/P10 drop flags from the DuckDB oracle twins, the seeded paste walk
    via the shared kernel (augments.copy_paste_doc — the dual-stream RNG
    walk is the contract; reference parity is pinned by exec-ref
    differential #43). Pairing mirrors the operator: ext = XOR-1 doc,
    missing partner = empty ext sample."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import (EAST_CROP_CANVAS_MARGIN,
                                          copy_paste_doc)
    from paddleocr_spark.entry_queries import oracle_sql
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df()
    txt = con.sql(sqls["explode_spans"]).df()[["doc_id", "span_idx", "text"]]
    geom = geom.merge(txt, on=["doc_id", "span_idx"],
                      how="left").sort_values(["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    groups = {d: g for d, g in geom.groupby("doc_id", sort=True)}

    def arrays(g):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        quads = np.stack([xs[:, [0, 1]], xs[:, [2, 1]], xs[:, [2, 3]],
                          xs[:, [0, 3]]], axis=1).astype(np.float32)
        texts = [None if pd.isna(t) else str(t) for t in g["text"]]
        ign = np.array([(d, s) not in kept_set
                        for d, s in zip(g["doc_id"], g["span_idx"])])
        return quads, texts, ign, g["span_idx"].to_numpy(), xs

    rows = []
    for doc_id in sorted(groups):
        did = int(str(doc_id)[4:])
        sq, st, si, sspan, sxs = arrays(groups[doc_id])
        partner = f"doc_{did ^ 1:07d}"
        if partner in groups:
            eq, et, ei, espan, _ = arrays(groups[partner])
        else:
            eq, et, ei, espan = (np.zeros((0, 4, 2), np.float32), [],
                                 np.zeros(0, bool), np.zeros(0, np.int64))
        src_h = (int(sxs[:, 3].max()) if len(sxs) else 0) \
            + EAST_CROP_CANVAS_MARGIN
        polys, texts, ignores, pasted = copy_paste_doc(
            did, sq, st, si, src_h, G.PAGE_WIDTH, eq, et, ei)
        n_src = len(sq)
        for pos in range(len(polys)):
            p = polys[pos]
            sp = (int(sspan[pos]) if pos < n_src
                  else int(espan[pasted[pos - n_src]]))
            t = texts[pos]
            rows.append((str(doc_id), pos, pos >= n_src, sp,
                         None if t is None else str(t),
                         bool(ignores[pos]),
                         float(p[0, 0]), float(p[0, 1]),
                         float(p[1, 0]), float(p[1, 1]),
                         float(p[2, 0]), float(p[2, 1]),
                         float(p[3, 0]), float(p[3, 1])))
    return pd.DataFrame(rows, columns=[
        "doc_id", "pos", "pasted", "src_span", "text", "ignored",
        "x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4"]).astype(
        {"pos": "int64", "src_span": "int64"})


def fx_east_gt(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_east_gt single-node: span geometry + P9/P10 drop
    flags from the DuckDB twins, the seeded EAST target walk via the
    shared kernel (augments.east_process_doc — RNG + raster walk is the
    contract; reference parity pinned by exec-ref differential #45)."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import (EAST_CROP_CANVAS_MARGIN,
                                          east_process_doc)
    from paddleocr_spark.entry_queries import oracle_sql
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        quads = np.stack([xs[:, [0, 1]], xs[:, [2, 1]], xs[:, [2, 3]],
                          xs[:, [0, 3]]], axis=1).astype(np.float32)
        ign = np.array([(d, s) not in kept_set
                        for d, s in zip(g["doc_id"], g["span_idx"])])
        h = int(xs[:, 3].max()) + EAST_CROP_CANVAS_MARGIN
        o = east_process_doc(int(str(doc_id)[4:]), quads, ign,
                             h, G.PAGE_WIDTH)
        crop = o["crop"] or (None, None, None, None)
        gs = o["geo_sums"] or [None] * 9
        rows.append((str(doc_id), o["status"], o["rot_cnt"],
                     o["rd_scale"], crop[0], crop[1], crop[2], crop[3],
                     o["n_out"], o["new_h"], o["new_w"], o["score_px"],
                     o["mask_px"], *gs))
    cols = (["doc_id", "status", "rot_cnt", "rd_scale", "cx0", "cy0",
             "cx1", "cy1", "n_out", "new_h", "new_w", "score_px",
             "mask_px"] + [f"g{c}" for c in range(9)])
    df = pd.DataFrame(rows, columns=cols)
    df["rot_cnt"] = df["rot_cnt"].astype("int64")
    df["n_out"] = df["n_out"].astype("int64")
    for c in ("cx0", "cy0", "cx1", "cy1", "new_h", "new_w",
              "score_px", "mask_px"):
        df[c] = df[c].astype("Int64")
    return df


def fx_sast_gt(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_sast_gt single-node: span geometry + P9/P10 drop
    flags from the DuckDB twins, the seeded SAST target walk via the
    shared kernel (sast_gt.sast_process_doc — RNG + raster walk is the
    contract; reference parity pinned by exec-ref differential #46)."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import EAST_CROP_CANVAS_MARGIN
    from paddleocr_spark.entry_queries import oracle_sql
    from paddleocr_spark.sast_gt import sast_process_doc
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        xs[:, 1] *= 4        # q_sast_gt's x4 vertical spread
        xs[:, 3] *= 4
        quads = np.stack([xs[:, [0, 1]], xs[:, [2, 1]], xs[:, [2, 3]],
                          xs[:, [0, 3]]], axis=1).astype(np.float32)
        ign = np.array([(d, s) not in kept_set
                        for d, s in zip(g["doc_id"], g["span_idx"])])
        h = int(xs[:, 3].max()) + EAST_CROP_CANVAS_MARGIN
        o = sast_process_doc(int(str(doc_id)[4:]), quads, ign,
                             h, G.PAGE_WIDTH)
        crop = o["crop"] or (None, None, None, None)
        bs = o["tbo_sums"] or [None] * 5
        vs = o["tvo_sums"] or [None] * 9
        cs = o["tco_sums"] or [None] * 3
        rows.append((str(doc_id), o["status"], o["asp_scale"],
                     crop[0], crop[1], crop[2], crop[3], o["rz_scale"],
                     o["sh"], o["sw"], o["n_out"], o["score_px"],
                     o["mask_sum"], *bs, *vs, *cs))
    cols = (["doc_id", "status", "asp_scale", "cx0", "cy0", "cx1", "cy1",
             "rz_scale", "sh", "sw", "n_out", "score_px", "mask_sum"]
            + [f"b{c}" for c in range(5)] + [f"v{c}" for c in range(9)]
            + [f"c{c}" for c in range(3)])
    df = pd.DataFrame(rows, columns=cols)
    df["n_out"] = df["n_out"].astype("int64")
    for c in ("cx0", "cy0", "cx1", "cy1", "sh", "sw", "score_px"):
        df[c] = df[c].astype("Int64")
    return df


def fx_fce_gt(con, sf_dir: str) -> pd.DataFrame:
    """entry_queries.q_fce_gt single-node: span geometry + drop flags
    from the DuckDB twins, the deterministic FCE target walk via the
    shared kernel (fce_gt.fce_targets_doc — the fft signature is not
    SQL-expressible; reference parity pinned by exec-ref differential
    #47)."""
    from paddleocr_spark import geometry as G
    from paddleocr_spark.augments import EAST_CROP_CANVAS_MARGIN
    from paddleocr_spark.entry_queries import oracle_sql
    from paddleocr_spark.fce_gt import fce_targets_doc
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    sqls = oracle_sql()
    geom = con.sql(sqls["span_geometry"]).df().sort_values(
        ["doc_id", "span_idx"])
    kept = con.sql(sqls["det_drop_filters"]).df()
    kept_set = set(zip(kept["doc_id"], kept["span_idx"]))
    rows = []
    for doc_id, g in geom.groupby("doc_id", sort=True):
        xs = g[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        xs[:, 1] *= 2        # q_fce_gt's x2 vertical spread
        xs[:, 3] *= 2
        quads = np.stack([xs[:, [0, 1]], xs[:, [2, 1]], xs[:, [2, 3]],
                          xs[:, [0, 3]]], axis=1).astype(np.float32)
        tags = [bool((d, s) not in kept_set)
                for d, s in zip(g["doc_id"], g["span_idx"])]
        h = int(xs[:, 3].max()) + EAST_CROP_CANVAS_MARGIN
        out = fce_targets_doc(quads, tags, h, G.PAGE_WIDTH)
        for lv, (t_px, c_px, e_px, reals, imags) in enumerate(out):
            rows.append((str(doc_id), lv, t_px, c_px, e_px,
                         *reals, *imags))
    cols = (["doc_id", "level", "text_px", "center_px", "eff_px"]
            + [f"r{c}" for c in range(11)] + [f"i{c}" for c in range(11)])
    return pd.DataFrame(rows, columns=cols).astype(
        {"level": "int64", "text_px": "int64", "center_px": "int64",
         "eff_px": "int64"})


FIXTURES = {
    "can_metric": fx_can_metric,
    "sr_metric": fx_sr_metric,
    "det_fce_metric": fx_det_fce_metric,
    "table_metric": fx_table_metric,
    "ct_metric": fx_ct_metric,
    "e2e_deteval": fx_e2e_deteval,
    "config_transforms": fx_config_transforms,
    "tensor_ops": fx_tensor_ops,
    "rec_resize": fx_rec_resize,
    "rec_aug": fx_rec_aug,
    "cvaug": fx_cvaug,
    "ct_gt": fx_ct_gt,
    "drrg_gt": fx_drrg_gt,
    "vl_label_encode": fx_vl_label_encode,
    "randaug": fx_randaug,
    "pg_gt": fx_pg_gt,
    "border_map": fx_border_map,
    "rotate_crop": fx_rotate_crop,
    "layout_preprocess": fx_layout_preprocess,
    "table_xlsx": fx_table_xlsx,
    "flagship_extract": fx_flagship_extract,
    "nms_per_class": fx_nms_per_class,
    "char_prf_metric": fx_char_prf,
    "det_eval_greedy": fx_det_eval,
    "teds_metric": fx_teds,
    "east_nms": fx_east_nms,
    "pse_detect": fx_pse_detect,
    "drrg_detect": fx_drrg_detect,
    "fce_detect": fx_fce_detect,
    "sast_detect": fx_sast_detect,
    "ct_detect": fx_ct_detect,
    "db_detect": fx_db_detect,
    "table_html_master": fx_table_html_master,
    "east_detect": fx_east_detect,
    "east_crop": fx_east_crop,
    "copy_paste": fx_copy_paste,
    "east_gt": fx_east_gt,
    "sast_gt": fx_sast_gt,
    "fce_gt": fx_fce_gt,
    "pse_crop": fx_pse_crop,
}


def main() -> int:
    import duckdb
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, fn in FIXTURES.items():
        df = fn(con, sf_dir)
        path = os.path.join(out_dir, f"{name}.sf0_01.parquet")
        df.to_parquet(path, index=False)
        print(f"{name}: {len(df)} rows -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
