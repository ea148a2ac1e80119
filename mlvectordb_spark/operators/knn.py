"""KNN and neighborhood queries, Spark-first.

Reference semantics being reproduced (SURVEY.md §2.2):
- Q1 find_similar: top-k by metric + enrichment
  (`/root/reference/src/mlvectordb/implementations/query_processor.py:26-49`)
- Q2 batch KNN (the index API is matrix-shaped,
  `implementations/index.py:108-111`)
- Q3 top-k clamp (`implementations/index.py:103-107`) — `limit(k)` clamps
  naturally in Spark
- Q12 range query, Q13 similarity-threshold, Q15 hybrid (README-declared)

Physical strategy notes (the part that matters at 100 TB):
- Single-query KNN is `filter → withColumn(score) → orderBy → limit(k)`,
  which Catalyst compiles to TakeOrderedAndProject: a per-partition
  bounded heap + driver merge of k·num_partitions rows — NO global sort,
  no shuffle of the data set.
- The query vector is a literal column (constant-folded); predicates
  (namespace / metadata) sit below the distance computation so they reach
  the parquet scan as pushed filters.
- Batch KNN broadcasts the (small) query side into a crossJoin, then a
  per-query window top-k. The big side is never shuffled until the
  window — and the window partitions by query_id, giving num_queries-way
  parallelism.
- Scores are computed in DOUBLE and exposed both raw (`score`) and rounded
  (for deterministic cross-engine comparisons callers may round + tie-break
  on id, which all these helpers do for ordering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlvectordb_spark.functions.vector import (
    metric_ascending,
    metric_expr,
    vector_lit,
)


def rank_order(score: Column, id_col: Column, metric: str) -> list[Column]:
    """Deterministic ordering: rounded score (direction per metric), then id.

    Ordering by the ROUNDED score makes top-k boundaries stable across
    engines whose floating-point fold orders differ in the last ulp."""
    lead = score.asc() if metric_ascending(metric) else score.desc()
    return [lead, id_col.asc()]


def top_per_key(
    scored: DataFrame, key: str, k: int, id_col: str, metric: str
) -> DataFrame:
    """Per-`key` top-k of a frame carrying a rounded `score` column, by
    `rank_order` — a window over the key."""
    w = Window.partitionBy(key).orderBy(
        *rank_order(F.col("score"), F.col(id_col), metric)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_df(
    df: DataFrame,
    query_df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    metric: str = "l2",
    pre_filter: Column | None = None,
    score_decimals: int = 4,
) -> DataFrame:
    """Exact top-k where the query vector comes from a 1-row DataFrame —
    fully declarative (no driver round-trip to fetch the vector): the query
    side broadcasts into a crossJoin, constant-folding territory for
    Catalyst. Prefer this over `knn` when the probe vector already lives in
    a table."""
    if pre_filter is not None:
        df = df.filter(pre_filter)
    q = F.broadcast(query_df.select(F.col(query_vec_col).alias("__qvec")).limit(1))
    score = metric_expr(vec_col, "__qvec", metric)
    scored = (
        df.crossJoin(q)
        .withColumn("score", F.round(score, score_decimals))
        .drop("__qvec")
    )
    return scored.orderBy(
        *rank_order(F.col("score"), F.col(id_col), metric)
    ).limit(k)


def knn(
    df: DataFrame,
    qvec,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
    pre_filter: Column | None = None,
    score_decimals: int = 4,
) -> DataFrame:
    """Exact top-k nearest neighbours of one query vector.

    Returns all original columns plus a rounded `score` column, ordered
    best-first. `pre_filter` gives hybrid queries (Q15): the predicate is
    applied BELOW the distance computation, so Catalyst pushes it into the
    scan and the kernel runs only on surviving rows.
    """
    if pre_filter is not None:
        df = df.filter(pre_filter)
    score = metric_expr(vec_col, vector_lit(qvec), metric)
    scored = df.withColumn("score", F.round(score, score_decimals))
    return scored.orderBy(*rank_order(F.col("score"), F.col(id_col), metric)).limit(k)


def range_query(
    df: DataFrame,
    qvec,
    radius: float,
    vec_col: str = "embedding",
    metric: str = "l2",
    score_decimals: int = 4,
) -> DataFrame:
    """All vectors within `radius` of the query (declared Q12, README:67-75).

    Pure filter on a computed column — no limit, no sort required; Spark
    scans and filters in one codegen stage. Distance-like metrics keep
    score <= radius."""
    score = F.round(
        metric_expr(vec_col, vector_lit(qvec), metric), score_decimals
    )
    cond = score <= F.lit(radius) if metric_ascending(metric) else score >= F.lit(radius)
    return df.withColumn("score", score).filter(cond)


def threshold_query(
    df: DataFrame,
    qvec,
    threshold: float,
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_decimals: int = 4,
) -> DataFrame:
    """All vectors with similarity >= threshold (declared Q13, README:462-470)."""
    if metric_ascending(metric):
        raise ValueError("threshold_query is for similarity metrics (cosine/ip)")
    score = F.round(
        metric_expr(vec_col, vector_lit(qvec), metric), score_decimals
    )
    return df.withColumn("score", score).filter(score >= F.lit(threshold))


def hybrid_query(
    df: DataFrame,
    qvec,
    k: int,
    pre_filter: Column,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    score_decimals: int = 4,
) -> DataFrame:
    """Metadata-predicate ∧ KNN (declared Q15, README:288-299)."""
    return knn(
        df,
        qvec,
        k,
        vec_col=vec_col,
        id_col=id_col,
        metric=metric,
        pre_filter=pre_filter,
        score_decimals=score_decimals,
    )


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    data_vec: str = "embedding",
    query_vec: str = "embedding",
    data_id: str = "vec_id",
    query_id: str = "query_id",
    metric: str = "l2",
    score_decimals: int = 4,
) -> DataFrame:
    """Batch KNN: top-k data rows for EVERY query row (Q2).

    queries is broadcast (bounded query sets by contract — the reference
    caps top_k at 1000 and queries arrive via REST); data never shuffles
    for the join itself. The per-query top-k is a window with rank over
    (rounded score, id) — deterministic across engines.

    Returns (query_id, data_id, score) ordered by query then rank.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
    )
    score = F.round(
        metric_expr(data_vec, "__qvec", metric), score_decimals
    )
    joined = data.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(query_id),
        F.col(data_id).alias(data_id),
        score.alias("score"),
    )
    return top_per_key(joined, query_id, k, data_id, metric)


def hard_negatives(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    metric: str = "l2",
    score_decimals: int = 4,
) -> DataFrame:
    """Hard-negative mining for embedding-model training: for each query,
    the k NEAREST corpus items with a DIFFERENT label — the contrastive
    negatives that sit close in embedding space but are semantically wrong
    (the standard hard-negative recipe for dense-retriever / metric
    training; random negatives are too easy to teach a margin).

    Same physical shape as `knn_join` (bounded query set broadcasts, the
    corpus never shuffles for the join, per-query window top-k over
    (rounded score, id)) with the label-mismatch predicate applied BEFORE
    ranking — so the result is the true top-k of the filtered candidate
    set, not a post-filtered (and possibly short) top-k."""
    q = queries.select(
        F.col("query_id").alias("__qid"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    score = F.round(
        metric_expr(vec_col, "__qvec", metric), score_decimals
    )
    joined = (
        data.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("__qlabel"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col),
            F.col(label_col).alias("neg_label"),
            score.alias("score"),
        )
    )
    return top_per_key(joined, "query_id", k, id_col, metric)


def contrastive_triplets(
    data: DataFrame,
    queries: DataFrame,
    n_neg: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    metric: str = "l2",
    score_decimals: int = 4,
) -> DataFrame:
    """Export-ready contrastive training triplets: per query (anchor), the
    nearest SAME-label item (excluding the anchor itself) as the positive
    and the `n_neg` nearest DIFFERENT-label items as hard negatives, each
    row carrying the positive/negative scores and their margin — the
    (anchor, positive, negative) tables a metric-learning / dense-retriever
    trainer consumes directly.

    Physical shape: ONE broadcast cross join of the bounded query set
    against the corpus, scanned ONCE, join-free: the positive is a
    struct-min window over the same-label rows, the negative rank a
    row_number over the (query, side) partitioning — both windows sit on
    the SAME query_id Exchange (a subset partitioning clusters any
    superset of keys, so the second window adds only a sort). The earlier
    positive⋈negative formulation re-planned the whole scored subtree per
    branch — two corpus scans (plan audit)."""
    q = queries.select(
        F.col("query_id").alias("__qid"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    score = F.round(
        metric_expr(vec_col, "__qvec", metric), score_decimals
    )
    lead_min = metric_ascending(metric)
    scored = (
        data.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("__qid"))  # the anchor itself
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col),
            (F.col(label_col) == F.col("__qlabel")).alias("__same"),
            score.alias("score"),
        )
    )
    # positive = extremal (score, id) struct among same-label rows; struct
    # ordering is lexicographic (min over a sort key that inverts the score
    # for descending metrics), so the MIN id breaks score ties for every
    # metric direction — the same id-ascending tie convention as all other
    # top-k paths. Anchors with no same-label corpus item have a null
    # positive struct and are dropped (a triplet needs a positive).
    wq = Window.partitionBy("query_id")
    sort_score = F.col("score") if lead_min else -F.col("score")
    pos_struct = F.struct(
        sort_score.alias("__s"),
        F.col(id_col).alias("__pid"),
        F.col("score").alias("__pscore"),
    )
    pos_pick = F.min(F.when(F.col("__same"), pos_struct)).over(wq)
    lead = F.col("score").asc() if lead_min else F.col("score").desc()
    w_side = Window.partitionBy("query_id", "__same").orderBy(
        lead, F.col(id_col).asc()
    )
    return (
        scored.withColumn("__pos", pos_pick)
        .withColumn("rn", F.row_number().over(w_side))
        .filter(
            ~F.col("__same")
            & (F.col("rn") <= n_neg)
            & F.col("__pos").isNotNull()
        )
        .select(
            "query_id",
            F.col("__pos")["__pid"].alias("pos_id"),
            F.col(id_col).alias("neg_id"),
            F.col("rn").alias("neg_rank"),
            F.col("__pos")["__pscore"].alias("pos_score"),
            F.col("score").alias("neg_score"),
            F.round(
                F.col("score") - F.col("__pos")["__pscore"], score_decimals
            ).alias("margin"),
        )
    )
