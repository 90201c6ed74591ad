"""Single-node pandas oracle — the executable spec for the extraction pipeline.

Runs the same semantics as paddleocr_spark.pipeline on plain pandas, but
implements the row-level stages *independently* (literal reference loop
semantics: per-token ``str.replace`` for style stripping, per-span Python
arithmetic for geometry/score) so the Spark pipeline's re-expressions (the
JVM stages and ``extract``'s Arrow prefix) are cross-checked, while the order kernels are the shared module
(SURVEY.md §5: oracle == kernels imported twice — exact order ties cannot be
re-derived two ways without breaking bit-equality).
"""

from __future__ import annotations

import pandas as pd

from . import geometry as G
from .kernels import order_document, strip_style_tokens
from .synth import synth_spans_pandas


def extract_pandas(documents_pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id:int64, text) → extracted (doc_id:str, spans:list[dict]).

    Mirrors pipeline.extract stage by stage; see that module for the
    reference citations.
    """
    return extract_spans_pandas(synth_spans_pandas(documents_pdf))


def extract_spans_pandas(synth: pd.DataFrame) -> pd.DataFrame:
    """(doc_id:str, spans:list[dict]) → extracted, one document per input
    row. A NULL doc_id has no P10 score, so its text spans drop."""
    thresh = int(round(G.DROP_SCORE * G.SCORE_MOD))
    out = []
    for doc_id, spans in zip(synth["doc_id"], synth["spans"]):
        did = None if doc_id is None else int(doc_id[4:])
        kept = []
        for idx, sp in enumerate(spans):
            kind, text = sp["kind"], sp["text"]
            x1 = sp["offset"] % G.PAGE_WIDTH
            y1 = sp["offset"] // G.PAGE_WIDTH
            w = G.span_width(kind, text)
            h = G.span_height(kind)
            if w <= G.MIN_SIDE or h <= G.MIN_SIDE:      # P9
                continue
            if kind == "text" and (did is None or G.span_score_milli(
                    did, idx) < thresh):                          # P10
                continue
            stripped = None if text is None else strip_style_tokens(text)  # P11
            kept.append({"kind": kind, "text": stripped,
                         "media_ref": sp["media_ref"],
                         "x1": x1, "y1": y1, "x2": x1 + w, "y2": y1 + h})
        if not kept:
            continue
        rank = order_document(
            [s["kind"] for s in kept],
            [s["x1"] for s in kept], [s["y1"] for s in kept],
            [s["x2"] for s in kept], [s["y2"] for s in kept],
            G.PAGE_WIDTH,
        )
        ordered = [kept[i] for i in rank.argsort(kind="stable")]
        out.append({
            "doc_id": doc_id,
            "spans": [
                {"kind": s["kind"], "text": s["text"],
                 "media_ref": s["media_ref"], "offset": i}
                for i, s in enumerate(ordered)
            ],
        })
    return pd.DataFrame(out, columns=["doc_id", "spans"])
