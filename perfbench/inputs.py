"""Seeded benchmark inputs.

Every table the benchmark feeds the program is generated here from the
workload name and ``--seed``; nothing is read from outside the checkout.
The same (workload, seed) always yields identical tables.

* ``spans``: the ``(doc_id, spans)`` corpus the extraction pipeline reads,
  made by ``synth.synth_spans_pandas`` (the pandas twin of
  ``synth.synth_spans``, equal by tests/test_pipeline.py) over a generated
  documents table, so no Spark session is needed to make it. Written as
  several parquet files.
* ``sf/documents.parquet``: the driver-testdata shape ``(doc_id bigint,
  text, lang, source, n_chars)`` the secondary queries read. Word
  vocabulary, language mix and the 44..577-char length range follow the
  sf0.1 ``documents`` table.
* ``sf/lineitem.parquet``: the four lineitem columns ``table_html_master``
  reads.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from paddleocr_spark import geometry as G
from paddleocr_spark import synth

from perfbench import replay

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
#: doc ids are drawn below this bound; the secondary queries compute
#: 32-bit products of the id, so it stays far below 2**31 / 100.
ID_SPACE = 2_000_000

SPAN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])

WORKLOADS = ("web_clean", "layout_mixed", "secondary_slow")
#: Documents in the span corpus: one warm extract takes over a second at
#: 4 cores, and a whole run of every workload fits the time the benchmark
#: is given.
SPAN_DOCS = {"web_clean": 60_000, "layout_mixed": 16_000,
             "secondary_slow": 4_000}
#: Shape of each workload's span corpus.
SHAPE = {"web_clean": "web", "layout_mixed": "mixed",
         "secondary_slow": "mixed"}
SF_DOCS = 500
LINEITEM_ROWS = 6_000
N_SPAN_FILES = 8
#: The generator replays the kernel over this many leading documents and
#: fails if web_clean's fast-path share falls below the minimum.
GUARD_DOCS = 5_000
MIN_WEB_FAST_SHARE = 0.95


def _rng(workload: str, seed: int, part: str) -> np.random.Generator:
    key = hashlib.sha256(f"{workload}/{seed}/{part}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _texts(rng: np.random.Generator, lengths: np.ndarray) -> list[str]:
    """Space-joined vocabulary words, cut at the first word boundary at or
    past each target length (so n_chars lands near the target)."""
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                         int(lengths.sum()) // 3 + 64)]
    out, pos = [], 0
    for target in lengths.tolist():
        parts, n = [], -1
        while n < target:
            w = words[pos % len(words)]
            pos += 1
            parts.append(w)
            n += len(w) + 1
        out.append(" ".join(parts))
    return out


def is_web_clean(did: np.ndarray, n_chunks: np.ndarray) -> np.ndarray:
    """Docs whose kept spans form one plain text region, so the kernel's
    vectorised fast path orders them: no title, no double-column layout,
    no skew media, no media, table or same-row tie among their text
    chunks, and no non-final chunk dropped by the P9/P10 filters (a drop
    opens a gap that splits the region, and condition B of
    ``pipeline._order_ranks`` sends any doc with a narrow non-final
    region to the slow path). These are the ``synth`` rules, vectorised."""
    ok = (did % 3 != 0) & (did % 50 != 7) & (did % 211 != 13) & (
        did % 997 != 13)
    thresh = int(round(G.DROP_SCORE * G.SCORE_MOD))
    for i in range(int(n_chunks.max())):
        live = i < n_chunks
        bad = ((did * 7 + i * 13) % 23 == 5) | ((did + i) % 29 == 11)
        if i > 0:
            bad |= (did + i) % 19 == 3
        milli = G.SCORE_BASE_MILLI + (
            (did * 7 + i * 173) % G.SCORE_MOD
        ) * G.SCORE_SPREAD_NUM // G.SCORE_SPREAD_DEN
        dropped = ((did * 3 + i) % 41 == 17) | (milli < thresh)
        bad |= (i < n_chunks - 1) & dropped
        ok &= ~(live & bad)
    return ok


def documents(shape: str, rng: np.random.Generator, n: int) -> pd.DataFrame:
    if shape == "web":
        # short pages of 1..3 text chunks, ids filtered to the plain shape
        cand = rng.choice(ID_SPACE, 4 * n, replace=False).astype(np.int64)
        lengths = rng.integers(24, 3 * synth.CHUNK - 8, 4 * n)
        chunks = np.maximum(1, -(-lengths // synth.CHUNK))
        keep = np.flatnonzero(is_web_clean(cand, chunks))[:n]
        if len(keep) < n:
            raise RuntimeError("web shape: too few plain-shape doc ids")
        did, lengths = cand[keep], lengths[keep]
    elif shape == "mixed":
        did = rng.choice(ID_SPACE, n, replace=False).astype(np.int64)
        lengths = rng.integers(44, 578, n)
    else:
        raise ValueError(f"unknown shape {shape!r}")
    order = np.argsort(did)
    did, lengths = did[order], lengths[order]
    text = _texts(rng, lengths)
    return pd.DataFrame({
        "doc_id": did,
        "text": text,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, N_SOURCES, n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def span_documents(workload: str, seed: int, n: int | None = None
                   ) -> pd.DataFrame:
    """The documents table the workload's span corpus is made from."""
    return documents(SHAPE[workload], _rng(workload, seed, "spans"),
                     SPAN_DOCS[workload] if n is None else n)


def lineitem(rng: np.random.Generator, n_rows: int) -> pd.DataFrame:
    n_orders = n_rows // 4
    per = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per)[:n_rows]
    start = np.concatenate([[0], np.cumsum(per)[:-1]])
    linenumber = (np.arange(len(orderkey))
                  - np.repeat(start, per)[:n_rows] + 1).astype(np.int32)
    return pd.DataFrame({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 20_000, len(orderkey)),
        "l_suppkey": rng.integers(1, 1_000, len(orderkey)),
        "l_linenumber": linenumber,
    })


def spans_table(docs: pd.DataFrame) -> pa.Table:
    pdf = synth.synth_spans_pandas(docs[["doc_id", "text"]])
    return pa.Table.from_pandas(pdf, schema=SPAN_SCHEMA, preserve_index=False)


def input_checksum(docs: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in ("doc_id", "text", "lang", "source"):
        h.update("\x1f".join(map(str, docs[col].tolist())).encode())
    return h.hexdigest()[:16]


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Materialise every input table under ``out_dir``. Returns the paths,
    the span documents (for the oracle check) and the input size."""
    docs = span_documents(workload, seed)
    spans = spans_table(docs)
    spans_dir = os.path.join(out_dir, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    step = -(-spans.num_rows // N_SPAN_FILES)
    for k in range(N_SPAN_FILES):
        pq.write_table(spans.slice(k * step, step),
                       os.path.join(spans_dir, f"part-{k:05d}.parquet"))

    sf_dir = os.path.join(out_dir, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    sf_docs = documents("mixed", _rng(workload, seed, "sf"), SF_DOCS)
    pq.write_table(pa.Table.from_pandas(sf_docs, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(pa.Table.from_pandas(
        lineitem(_rng(workload, seed, "lineitem"), LINEITEM_ROWS),
        preserve_index=False), os.path.join(sf_dir, "lineitem.parquet"))

    # The web_clean corpus exists to keep the slow-path kernel idle: refuse
    # to hand it out if its documents drifted off the fast path.
    fast_share = replay.replay(
        [replay.kernel_input(spans.slice(0, GUARD_DOCS))],
        GUARD_DOCS)["kernel.fast_share"]
    if workload == "web_clean" and fast_share < MIN_WEB_FAST_SHARE:
        raise RuntimeError(f"web_clean fast-path share {fast_share:.3f} "
                           f"< {MIN_WEB_FAST_SHARE}")

    n_spans = int(pc.sum(pc.list_value_length(
        spans.column("spans"))).as_py())
    span_bytes = sum(os.path.getsize(os.path.join(spans_dir, f))
                     for f in os.listdir(spans_dir))
    return {"docs": len(docs), "spans": n_spans, "bytes": span_bytes,
            "sf_docs": len(sf_docs), "lineitem_rows": LINEITEM_ROWS,
            "fast_share_sample": fast_share,
            "checksum": input_checksum(docs) + input_checksum(sf_docs),
            "documents": docs, "sf_dir": sf_dir, "spans_dir": spans_dir}
