"""The query registry's derived views, pinned: the driver window order, the
full name sets, the families perfbench's frozen entries belong to, and the
rows-only set."""

from __future__ import annotations

import ast
import hashlib
import os

import pytest

from mlvectordb_spark.queries import HEADLINE, ORACLE_SQL, QUERIES
from mlvectordb_spark.queries.common import ENTRIES, entry

# the driver oracle-checks the first 50 entries of either list, in order
FIRST_50 = [
    "shard_assignments", "media_pixel_checksums", "media_audio_checksums",
    "media_stats", "emb_pca_incremental", "source_mixture", "tpch_q11",
    "tpch_q20", "ann_ivf_recall", "ann_ivfpq_batch", "array_ops",
    "bucketed_join", "cust_big_orders", "data_split", "dedup_prefix_buckets",
    "distinct_counts", "doc_chunks", "doc_dup_ngrams", "doc_fingerprint",
    "emb_pca", "events_sliding", "grouping_sets", "heavy_bigrams", "join_mv",
    "layout_zorder", "merge_evolve", "merge_orders", "orders_cube",
    "orders_pivot", "segment_setops", "seq_pack", "stratified_sample",
    "stream_quarantine", "table_cdf", "table_cdf_multi", "table_mv",
    "tfidf_terms", "token_freq", "top_orders_per_cust", "tpch_q1", "tpch_q3",
    "train_shuffle", "udaf_geomean", "doc_dsir_weights", "doc_bigram_logprob",
    "dsir_incremental", "dedup_keep_best", "knn_l2", "hybrid_knn",
    "store_roundtrip",
]
ORACLE_FIRST_50 = [
    "shard_assignments", "media_pixel_checksums", "media_audio_checksums",
    "emb_pca_incremental", "source_mixture", "tpch_q11", "tpch_q20",
    "ann_ivfpq_batch", "array_ops", "bucketed_join", "cust_big_orders",
    "data_split", "dedup_prefix_buckets", "distinct_counts", "doc_chunks",
    "doc_dup_ngrams", "doc_fingerprint", "events_sliding", "grouping_sets",
    "heavy_bigrams", "join_mv", "layout_zorder", "merge_evolve",
    "merge_orders", "orders_cube", "orders_pivot", "segment_setops",
    "seq_pack", "stratified_sample", "stream_quarantine", "table_cdf",
    "table_cdf_multi", "table_mv", "tfidf_terms", "token_freq",
    "top_orders_per_cust", "tpch_q1", "tpch_q3", "train_shuffle",
    "udaf_geomean", "doc_dsir_weights", "doc_bigram_logprob",
    "dsir_incremental", "dedup_keep_best", "knn_l2", "hybrid_knn",
    "store_roundtrip", "knn_sq8", "ann_ivf_exact", "ann_lsh_exact",
]
ROWS_ONLY = {
    "media_stats", "ann_ivf_recall", "emb_pca", "ann_graph_knn",
    "dedup_embedding_ivf", "doc_bpe_subword", "approx_stats",
    "rollup_hll_daily", "ann_ivf_knn", "ann_lsh_knn",
}


def _digest(names, ordered: bool = False) -> str:
    text = "\n".join(names if ordered else sorted(names))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def test_driver_window_order():
    assert list(QUERIES)[:50] == FIRST_50
    assert list(ORACLE_SQL)[:50] == ORACLE_FIRST_50
    assert _digest(FIRST_50, ordered=True) == "6d16ee8a35b68a3f"
    assert _digest(ORACLE_FIRST_50, ordered=True) == "b1e0c18c8a9157bb"


def test_name_sets():
    assert (len(QUERIES), _digest(QUERIES)) == (177, "1b68a5eb689e9022")
    assert (len(ORACLE_SQL), _digest(ORACLE_SQL)) == (167, "d3eaa280757113cd")
    assert (len(HEADLINE), _digest(HEADLINE)) == (91, "05594c04b2b9c639")
    assert len(set(HEADLINE)) == len(HEADLINE)


def test_rows_only_entries():
    assert set(QUERIES) - set(ORACLE_SQL) == ROWS_ONLY
    assert set(ORACLE_SQL) <= set(QUERIES)
    assert {n for n, e in ENTRIES.items() if e.oracle is None} == ROWS_ONLY


def test_perfbench_families():
    path = os.path.join(os.path.dirname(__file__), "..", "perfbench",
                        "analytics.py")
    tree = ast.parse(open(path).read())
    frozen = next(
        ast.literal_eval(n.value) for n in tree.body
        if isinstance(n, ast.Assign) and n.targets[0].id == "ENTRIES"
    )
    assert len(frozen) == 15
    assert {n: ENTRIES[n].family for n, _f in frozen} == dict(frozen)


def test_families_are_modules():
    assert {e.family for e in ENTRIES.values()} == {
        "vector", "store", "tpch", "events", "text", "lakehouse", "media",
    }


def test_declaring_a_name_twice_raises():
    def q_knn_l2(spark, sf_dir):
        raise AssertionError("never built")

    before = dict(ENTRIES)
    with pytest.raises(ValueError, match="knn_l2"):
        entry(oracle="SELECT 1")(q_knn_l2)
    assert ENTRIES == before
