"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame,
with an ANSI-SQL DuckDB oracle per entry (driver contract, __spark_entry__.py).

Each family module (vector, store, tpch, events, text, lakehouse, media)
declares its entries with `@entry(oracle=..., headline=...)` directly above
`def q_<name>`; `QUERIES`, `ORACLE_SQL` and bench.py's `HEADLINE` are derived
from those declarations.

Oracle-parity design rules (applied uniformly):
- All float math in DOUBLE on both engines (embeddings are float32 on disk;
  both sides cast before computing).
- Every float output column is ROUND()ed — identically on both sides — so
  last-ulp fold-order differences between engines never flip a value hash.
  Sums of ~1e8 magnitude round to 2 decimals; unit-scale scores to 4.
- Every top-k is ordered by (rounded score, id): deterministic row SET even
  when raw scores tie or differ by ulps.
- Aggregate counts are BIGINT on both sides (DuckDB sum() yields HUGEINT —
  always cast); timestamps only ever surface date_trunc'd.
- Column names are aliased identically in the Spark plan and the SQL text.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# declaration order: vector first, so the entries after the window start
# with knn_sq8, ann_ivf_exact and ann_lsh_exact
from mlvectordb_spark.queries import (  # noqa: F401  isort: skip
    vector, store, tpch, events, text, lakehouse, media,
)
from mlvectordb_spark.queries.common import ENTRIES

# The driver checks the first 50 entries against their oracles;
# tools/verify_local.py checks the rest.
_WINDOW = [
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
assert len(_WINDOW) == 50 and len(set(_WINDOW)) == 50

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: ENTRIES[name].build
    for name in _WINDOW + [n for n in ENTRIES if n not in _WINDOW]
}
# in QUERIES order, so the driver may read the first 50 of either dict
ORACLE_SQL: dict[str, str] = {
    name: ENTRIES[name].oracle
    for name in QUERIES
    if ENTRIES[name].oracle is not None
}
HEADLINE = [name for name, e in ENTRIES.items() if e.headline]
