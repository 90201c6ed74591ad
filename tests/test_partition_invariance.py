"""Partition invariance: representative registry queries must produce
IDENTICAL canonical results under different spark.sql.shuffle.partitions,
and under a different input layout.

This is the distributed-correctness property the DuckDB gate cannot see
(the oracle never shuffles): any order-dependence smuggled into an
aggregate, window frame, Arrow kernel batch boundary, or coalesce shows
up as a hash drift between exchange layouts. Representative set: one
query per execution shape — the flagship mapInArrow carry, a grouped
Arrow walk, a min_by tie-break aggregate, an iterative CC, a band-join
dedup, the LMDB fan-out, a gt-map raster, and the survivor anti-join.

The shuffle setting never reaches the input scan (each sf table is one
file, so one task) nor the grouped kernels (they repartition to an
explicit count), so the second arm re-reads the same rows from a copy of
the sf dir whose ``documents``, ``events`` and ``lineitem`` are split
round-robin into three files each: rows reach every exchange from
several map tasks, in a different order.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest

SF = "/root/testdata/sf0.001"

REPRESENTATIVE = [
    "flagship_extract",        # mapInArrow reading-order carry
    "table_html_master",       # grouped-Arrow token walk
    "cell_match",              # min_by (1-IoU, dis, cell_id) tie-break
    "neardup_components",      # iterative large/small-star CC
    "neardup_survivors",       # broadcast label anti-join form
    "dedup_minhash_pairs",     # persisted band self-join
    "lmdb_scan",               # per-env fan-out + per-row decode
    "shrink_map",              # grouped raster kernel
    "rec_ensemble",            # window + struct max aggregation
    "pack_shards",             # running-sum window shard cut
    "lm_score",                # self-join on the bigram count table
    "line_dedup",              # digest distinct-count + join-back
    "dedup_trim",              # min-okey digest agg + collect_set rebuild
    "bloom_dedup",             # distinct bit set + left-semi probe
    "ccnet_buckets",           # global rank thresholds on one window
    "adaptive_quality_filter",  # per-facet order statistic + broadcast
    "semdedup",                # Lloyd replay + in-cluster triangular max
    "quality_classifier",      # two-class NB counts + broadcast scoring
    "minhash_survivors",       # verified-pair CC + broadcast anti-join
    "bpe_merges",              # iterative argmax + broadcast fold rewrite
    "corpus_stats",            # ROLLUP grouping-set expansion
    "sessionize",              # lag + running-sum session split
    "asof_join",               # union + last-ignorenulls carry-forward
    "zorder_layout",           # integer Morton keys + min/max rollup
    # round-5 metric closure: order-sensitive per-doc walks + batched
    # scorers — the shapes where a batch/partition boundary could leak
    "ct_metric",               # Deteval matching walk per doc
    "e2e_deteval",             # same walk + string hits
    "det_fce_metric",          # pseudo-doc threshold sweep + AP window
    "can_metric",              # grouped-Arrow batch scorer (sorted)
    "rec_metric_grapheme",     # stack + per-channel agg
    "config_transforms",       # compiled-chain per-row Arrow stage
    # round-5 continuation: the shapes where layout could leak —
    # register folds, top-k windows, running sums, iterative tree builds
    "readability_extract",     # widening repartition + per-block scores
    "boilerpipe_extract",      # lag/lead window triple
    "gopher_repetition",       # position-union coverage + pivots
    "interleaved_pack",        # per-source running-sum packing
    "kn_lm_score",             # continuation-count broadcast joins
    "hll_cardinality",         # integer register fold (order-free sum)
    "cms_heavy_hitters",       # D-row counter fold + min estimate
    "weighted_sample",         # per-stratum top-k rank
    "qdigest_quantiles",       # collected leaf array + HOF fold + walk
    "wordpiece_encode",        # vocab threshold + unrolled matcher
]


def _canon_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(r[c] for c in cols))
                  for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_is_shuffle_partition_invariant(spark, name):
    from paddleocr_spark.entry_queries import queries
    fn = queries()[name]
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        h3 = _canon_hash(fn(spark, SF))
        spark.conf.set(key, "64")
        h64 = _canon_hash(fn(spark, SF))
    finally:
        spark.conf.set(key, orig)
    assert h3 == h64, f"{name} drifts across shuffle layouts"


#: Tables the layout arm splits; the rest are copied as they are (one
#: file each: ``similarity.embeddings_meta`` reads its table as a file).
SPLIT_TABLES = ("documents", "events", "lineitem")


@pytest.fixture(scope="module")
def split_sf_dir(tmp_path_factory):
    """A copy of SF with each SPLIT_TABLES table written round-robin as
    three parquet files in a ``<name>.parquet`` directory."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_split")
    for f in sorted(os.listdir(SF)):
        if f.removesuffix(".parquet") not in SPLIT_TABLES:
            shutil.copy(os.path.join(SF, f), out / f)
            continue
        t = pq.read_table(os.path.join(SF, f))
        (out / f).mkdir()
        for k in range(3):
            pq.write_table(t.take(list(range(k, t.num_rows, 3))),
                           out / f / f"part-{k}.parquet")
    return str(out)


@pytest.mark.parametrize("name",
                         REPRESENTATIVE + ["east_nms", "nms_per_class"])
def test_query_is_input_layout_invariant(spark, split_sf_dir, name):
    from paddleocr_spark.entry_queries import queries
    fn = queries()[name]
    assert _canon_hash(fn(spark, SF)) == _canon_hash(
        fn(spark, split_sf_dir)), f"{name} drifts with the input layout"
