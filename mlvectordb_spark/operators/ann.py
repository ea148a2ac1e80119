"""Approximate-nearest-neighbour indexes: the Spark-native analog of the
reference's HNSW index (`/root/reference/src/mlvectordb/implementations/
index.py` — hnswlib, per-namespace graphs, ef=50).

HNSW has no distributed equivalent; the idiomatic Spark substitutes are:

- **IVFIndex** (KMeans inverted file): cluster the corpus, store cluster_id
  as a column (at scale: as a partition column → probing = partition
  pruning). A query scans only the `nprobe` nearest clusters — the
  data-layout analog of HNSW's beam search, with recall controlled by
  nprobe exactly like ef. Centroids are the only driver-side state (k rows
  — genuinely tiny, the same class of object as hnswlib's graph metadata).
- **LSHIndex**: MLlib BucketedRandomProjectionLSH wrapper —
  approxNearestNeighbors for point queries, approxSimilarityJoin for the
  all-pairs / near-dup path.

Both implement the same protocol as the exact path (build → search), and
the exact brute-force KNN (operators/knn.py) stays the correctness
reference: `recall_at_k` measures any approximate index against it
(SURVEY.md §7 Phase 5 verification).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Sequence
from urllib.parse import quote

import numpy as np
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.ml.linalg import Vectors
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlvectordb_spark.commit import (
    CommittedIndex,
    commit_generation,
    open_frame,
    open_generation,
    stage_frame,
)
from mlvectordb_spark.functions.localdf import local_rows_df
from mlvectordb_spark.functions.vector import metric_expr
from mlvectordb_spark.operators.cdc import PendingTail, latest_per_key
from mlvectordb_spark.operators.knn import knn, rank_order

# fan-out for two-phase per-key top-k: phase 1 runs over key×salt groups
# so a small query batch doesn't funnel the whole candidate set into
# |queries| reducers
TOPK_SALT_BUCKETS = 64


def per_key_topk(
    df: DataFrame, key_col: str, k: int, order_cols: list, salt_on: str
) -> DataFrame:
    """Two-phase per-key top-k: a salted partial top-k first (key ×
    TOPK_SALT_BUCKETS groups — parallelism independent of |keys|), then
    the exact window over the ≤ k·buckets survivors per key. Identical
    result to the single window: every key's true top-k rows survive
    phase 1 whatever bucket they hash into. This is the batch-join analog
    of TakeOrderedAndProject's partial limits — with a handful of query
    keys the naive window sorts the entire candidate set in |keys|
    reducers; measured 7.3 s → ~1 s on 3.2M candidate rows × 16
    queries."""
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(F.col(salt_on)), F.lit(TOPK_SALT_BUCKETS))
    w1 = Window.partitionBy(key_col, "__tksalt").orderBy(*order_cols)
    partial = (
        df.withColumn("__tksalt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__tksalt")
    )
    w2 = Window.partitionBy(key_col).orderBy(*order_cols)
    return (
        partial.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _probe_join(
    table: DataFrame, queries: DataFrame, k: int, probes, query_vec: str,
    query_id: str, vec_col: str, id_col: str, pre_filter, score_decimals: int,
) -> DataFrame:
    """The IVF-family batch probe-join. Each query's probe clusters
    (`probes` over its float64 vector: certified or fixed-nprobe) union
    into ONE partition-pruned scan of `table`; a broadcast
    (query_id, cluster_id) pair table restricts each query to ITS probes,
    so each candidate row joins only the queries that probe its cluster.
    Query vectors drive driver-side probe math, bounded by the serving
    contract."""
    qrows = queries.select(query_id, query_vec).collect()
    pairs = [
        (r[query_id], int(c))
        for r in qrows
        for c in probes(np.asarray(r[query_vec], dtype=np.float64))
    ]
    probe_df = local_rows_df(
        table.sparkSession, pairs, f"{query_id} long, cluster_id int"
    )
    cand = table.filter(
        F.col("cluster_id").isin(sorted({c for _, c in pairs}))
    )
    if pre_filter is not None:
        cand = cand.filter(pre_filter)
    qv = queries.select(F.col(query_id), F.col(query_vec).alias("__qvec"))
    return _rank_per_query(
        cand.join(F.broadcast(probe_df), "cluster_id"),
        qv, k, query_id, vec_col, id_col, score_decimals,
    )


# columns an IVF-family table derives from its rows; every other column
# (the id, the vector and any payload such as a store's metadata) is data
_DERIVED = ("cluster_id", "pq_codes", "pq_err", "__dhat", "__tau_sq")


def _rank_per_query(
    cand: DataFrame, qv: DataFrame, k: int, query_id: str, vec_col: str,
    id_col: str, score_decimals: int,
) -> DataFrame:
    """Exact rounded l2 of every (query, candidate) row — the bounded
    query side `qv` (query_id, __qvec) broadcasts — then the per-query
    top-k in `rank_order`. Rows keep their data columns, so a table that
    carries payload answers a batch with whole rows."""
    data = [c for c in cand.columns if c not in _DERIVED and c != query_id]
    scored = cand.join(F.broadcast(qv), query_id).select(
        F.col(query_id),
        *data,
        F.round(
            metric_expr(vec_col, "__qvec", "l2"), score_decimals
        ).alias("score"),
    )
    return per_key_topk(
        scored, query_id, k, rank_order(F.col("score"), F.col(id_col), "l2"),
        salt_on=id_col,
    )


class IVFIndex(CommittedIndex):
    """Inverted-file index over KMeans centroids.

    build() is a Spark job (fit + transform, no driver collection of data);
    search() prunes to nprobe clusters then runs the exact kernel inside
    them. With the indexed DataFrame written `partitionBy("cluster_id")`,
    the probe filter becomes physical partition pruning at 100 TB.
    """

    REBUILD_THRESHOLD = 0.2  # reference index.py:18 — refit at 20% drift

    def __init__(
        self,
        n_clusters: int = 16,
        seed: int = 42,
        max_iter: int = 20,
        init_mode: str = "k-means||",
        eager_stats: bool = True,
    ) -> None:
        self.n_clusters = n_clusters
        self.seed = seed
        self.max_iter = max_iter
        # "random" + few iterations is the cheap fit for BLOCKING use
        # (dedup), where partition quality barely moves recall; search
        # indexes keep the k-means|| default.
        self.init_mode = init_mode
        # SEARCH indexes precompute the certified-pruning bounds in the
        # build pass (first query is probe-only); BLOCKING-only users
        # (dedup) never search, so they skip the radius pass entirely.
        self.eager_stats = eager_stats
        self.centroids: np.ndarray | None = None  # (k, dim) — driver-side
        self.indexed: DataFrame | None = None
        self._built_count = 0
        self._added_count = 0
        # per-cluster (radius, count) for exact-search pruning — k scalars,
        # driver-side, lazily computed and kept current by apply_changes
        self._radii: np.ndarray | None = None
        self._counts: np.ndarray | None = None
        self._vec_col = "embedding"
        # measured nprobe → recall@k curve (measure_recall_curve):
        # driver-side scalars like the centroids, persisted by save() so a
        # reloaded serving index can honor a recall target without
        # re-measuring
        self._recall_curve: dict[int, float] | None = None
        self.cdc = PendingTail()

    def _fit_centroids(
        self, df: DataFrame, vec_col: str, id_col: str
    ) -> np.ndarray:
        """Train centroids on a BOUNDED deterministic sample — the faiss
        IVF recipe (train on ~tens of points per centroid, never the full
        corpus). At 100 TB the training collect stays a few hundred MB
        regardless of corpus size; assignment of the full corpus is the
        distributed part. Lloyd iterations run in numpy on the driver: for
        sample sizes this bounded, one matmul per iteration beats a
        many-job distributed fit by an order of magnitude."""
        cap = int(min(max(2_000, 40 * self.n_clusters), 100_000))
        n = df.count()
        sample = df.select(F.col(vec_col).alias("v"), F.col(id_col).alias("k"))
        if n > cap:
            step = -(-n // cap)  # ceil
            sample = sample.filter(
                F.pmod(F.xxhash64(F.col("k")), F.lit(step)) == 0
            )
        X = np.array(
            [r.v for r in sample.select("v").collect()], dtype=np.float64
        )
        k = min(self.n_clusters, len(X))
        rng = np.random.default_rng(self.seed)
        cent = X[rng.choice(len(X), size=k, replace=False)]
        for _ in range(self.max_iter):
            d = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ cent.T)
                + (cent * cent).sum(axis=1)[None, :]
            )
            assign = d.argmin(axis=1)
            sums = np.zeros_like(cent)
            np.add.at(sums, assign, X)
            counts = np.bincount(assign, minlength=k).astype(np.float64)
            nonempty = counts > 0
            cent[nonempty] = sums[nonempty] / counts[nonempty, None]
        return cent

    def _assign(
        self, df: DataFrame, vec_col: str, with_dist: bool = False
    ) -> DataFrame:
        """Attach cluster_id = argmin ||x - c||² over the trained centroids:
        an Arrow-batched mapInPandas (one numpy matmul per batch, centroids
        broadcast in the task closure) — a narrow map stage with NO join,
        NO window, NO shuffle. First-occurrence argmin ties break toward
        the lowest cluster_id.

        `with_dist=True` additionally emits `__cdist` = the true L2
        distance to the chosen centroid, from the SAME matmul (one extra
        x·x term) — so a maintenance caller that needs radius growth
        (apply_changes) doesn't pay a second Python pass over the batch
        (guide §4: one boundary crossing, not two)."""
        assert self.centroids is not None
        cent = self.centroids
        cc = (cent * cent).sum(axis=1)
        # StructType.add mutates in place — build a fresh schema instead of
        # appending to the input DataFrame's cached one
        extra = [T.StructField("cluster_id", T.IntegerType())]
        if with_dist:
            extra.append(T.StructField("__cdist", T.DoubleType()))
        out_schema = T.StructType(list(df.schema.fields) + extra)

        def assign_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    pdf["cluster_id"] = np.array([], dtype=np.int32)
                    if with_dist:
                        pdf["__cdist"] = np.array([], dtype=np.float64)
                    yield pdf
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d = cc - 2.0 * (mat @ cent.T)
                cids = d.argmin(axis=1).astype(np.int32)
                pdf["cluster_id"] = cids
                if with_dist:
                    # direct (x − c)² for the argmin cluster — one gather
                    # + subtract per batch. The expanded form (c·c − 2x·c
                    # + x·x) suffers catastrophic cancellation for members
                    # near their centroid with large norms, which could
                    # record a radius slightly BELOW the true max member
                    # distance; certified-exact pruning needs radii to be
                    # true upper bounds, and _radius_rows computes the
                    # direct form, so build-time and incremental radii
                    # agree numerically.
                    diff = mat - cent[cids]
                    pdf["__cdist"] = np.sqrt((diff * diff).sum(axis=1))
                yield pdf

        return df.mapInPandas(assign_batches, schema=out_schema)

    def assign_multi(
        self, df: DataFrame, vec_col: str, probes: int = 2
    ) -> DataFrame:
        """Multi-probe assignment: one output row per (vector, probe) over
        the `probes` nearest centroids — same Arrow-batched matmul as
        _assign, with an argpartition instead of an argmin. Used for
        BLOCKING (dedup): a vector within ~eps of a Voronoi boundary lands
        in BOTH adjacent blocks, recovering the boundary-pair recall that
        single-probe blocking loses. Row count grows `probes`x and pair
        work ~probes²x — still linear in n, just a bigger constant."""
        assert self.centroids is not None
        cent = self.centroids
        cc = (cent * cent).sum(axis=1)
        p = min(probes, len(cent))
        out_schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField("cluster_id", T.IntegerType())]
        )

        def probe_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    pdf["cluster_id"] = np.array([], dtype=np.int32)
                    yield pdf
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d = cc - 2.0 * (mat @ cent.T)
                near = np.argpartition(d, p - 1, axis=1)[:, :p]
                rep = pdf.loc[pdf.index.repeat(p)].reset_index(drop=True)
                rep["cluster_id"] = near.reshape(-1).astype(np.int32)
                yield rep

        return df.mapInPandas(probe_batches, schema=out_schema)

    def build(
        self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> DataFrame:
        """Fit centroids (bounded-sample Lloyd) and attach cluster_id
        (W8/W10 analog: the derived index DataFrame)."""
        self.centroids = self._fit_centroids(df, vec_col, id_col)
        self._vec_col = vec_col
        self.indexed = self._assign(df, vec_col)
        self._added_count = 0
        self._radii = self._counts = None
        self.cdc = PendingTail()
        if self.eager_stats:
            # ONE pass computes radii+counts (build-time work, so the first
            # search is probe-only), and built_count falls out of the
            # counts — no separate count() action
            _, counts = self.cluster_stats(vec_col)
            self._built_count = int(counts.sum())
        else:
            self._built_count = self.indexed.count()
        return self.indexed

    def is_rebuild_required(self) -> bool:
        """W11 (reference index.py:164-165): True once post-build adds reach
        the drift threshold of the fitted corpus size."""
        if self._built_count == 0:
            return False
        return self._added_count / self._built_count >= self.REBUILD_THRESHOLD

    def note_full_resync(self, n_live: int) -> None:
        """Restart the W11 drift counters after a full resync: the
        maintained state IS the new baseline (catch-up volume is not
        drift), sized at the resynced live count."""
        self._built_count = max(1, int(n_live))
        self._added_count = 0

    def refresh_stats(self, vec_col: str | None = None) -> None:
        """Recompute the certified-pruning bounds from scratch (one Arrow
        pass). The incremental grow-only radius update never SHRINKS a
        radius, so a long-lived index under heavy overwrite/delete churn
        accumulates slack — still exact, but the probe sets widen toward
        a full scan. build() computes fresh stats; save() persists
        whatever is CACHED (call refresh_stats first when persisting a
        long-churned index); a floor-forced full resync
        (resync_index_from_snapshot) refreshes implicitly."""
        self._radii = self._counts = None
        self.cluster_stats(vec_col)

    def apply_changes(
        self, changes: DataFrame, vec_col: str | None = None,
        id_col: str = "vec_id", encode=None,
    ) -> DataFrame:
        """Roll the index forward from a CDC feed without a refit (the
        `PendingTail` contract): upserts assign to their nearest EXISTING
        centroid, then pass through `encode` when given (IVF+PQ's codes),
        and grow the cached cluster radii: a new member can extend its
        cluster's radius, while a delete only shrinks the true radius, so
        the cached value stays a valid upper bound and no sync forces a
        full-corpus stats pass. Upserts count toward the W11 drift
        trigger; certified pruning stays exact on any assignment. This is
        the only way rows enter a built index. The feed must carry every
        non-derived column of the indexed table (the union is by name)."""
        vec_col = vec_col or self._vec_col
        assert self.indexed is not None and self.centroids is not None

        def enter(ups: DataFrame) -> DataFrame:
            out = self._assign(ups.drop("cluster_id"), vec_col, with_dist=True)
            return out if encode is None else encode(out, vec_col)

        feed, stats = self.cdc.absorb(
            changes, id_col, enter, keys=["cluster_id"],
            aggs=[F.max("__cdist").alias("radius")],
        )
        if self._counts is not None:
            # a certified LOWER bound per cluster: each retired id left at
            # most one cluster, and every upsert entered the one it was
            # assigned to. Understating a count only widens tau (more
            # probes, same answer); overstating could break certification.
            self._counts = np.maximum(self._counts - self.cdc.last_events, 0)
        for r in stats:
            j = int(r.cluster_id)
            if self._radii is not None and float(r.radius) > self._radii[j]:
                self._radii[j] = float(r.radius)
            if self._counts is not None:
                self._counts[j] += int(r.n)
        self._added_count += self.cdc.last_upserts
        (self.indexed,) = self.cdc.fold(
            self._built_count + self._added_count,
            self.cdc.roll(self.indexed, feed, id_col),
        )
        if self.cdc.syncs == 0 and self._counts is not None:
            # the fold fired: exact counts from the materialized table
            self._counts = None
            self.cluster_stats(vec_col)
        return self.indexed

    def _radius_rows(self, df: DataFrame, vec_col: str):
        """Per-cluster (max member-to-centroid distance, count) over `df` —
        the Arrow matmul kernel of the full stats pass."""
        cent = self.centroids

        def dist_batches(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({"cluster_id": [], "cdist": []})
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                cids = pdf["cluster_id"].to_numpy().astype(np.int64)
                diff = mat - cent[cids]
                yield pd.DataFrame(
                    {
                        "cluster_id": cids,
                        "cdist": np.sqrt((diff * diff).sum(axis=1)),
                    }
                )

        return (
            df.select(vec_col, "cluster_id")
            .mapInPandas(dist_batches, schema="cluster_id long, cdist double")
            .groupBy("cluster_id")
            .agg(F.max("cdist").alias("radius"), F.count("*").alias("n"))
            .collect()
        )

    def cluster_stats(self, vec_col: str | None = None) -> tuple[np.ndarray, np.ndarray]:
        """Per-cluster (radius, member count): radius is the max TRUE L2
        distance of any member to its centroid. One Arrow-batched map (same
        matmul shape as _assign) + a k-row aggregate — k scalars on the
        driver, same class of state as the centroids themselves. Cached on
        the object. After apply_changes() the radii stay warm via the
        grow-only update and the counts are certified lower bounds; at
        each fold the COUNTS refresh here with a column-pruned cluster_id
        aggregate (no vector decode, no Python) — counts must never
        overstate, because tau's coverage argument needs them
        (overstating could under-cover k and break certification)."""
        assert self.indexed is not None and self.centroids is not None
        if self._radii is not None and self._counts is not None:
            return self._radii, self._counts
        vec_col = vec_col or self._vec_col
        cent = self.centroids
        if self._radii is not None and self._counts is None:
            rows = (
                self.indexed.groupBy("cluster_id")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            counts = np.zeros(len(cent), dtype=np.int64)
            for r in rows:
                counts[int(r.cluster_id)] = int(r.n)
            self._counts = counts
            return self._radii, self._counts
        stats = self._radius_rows(self.indexed, vec_col)
        radii = np.zeros(len(cent), dtype=np.float64)
        counts = np.zeros(len(cent), dtype=np.int64)
        for r in stats:
            radii[int(r.cluster_id)] = float(r.radius)
            counts[int(r.cluster_id)] = int(r.n)
        self._radii, self._counts = radii, counts
        return radii, counts

    def _certified_probes(
        self, q: np.ndarray, k: int, radii: np.ndarray, counts: np.ndarray
    ) -> list[int]:
        """Triangle-inequality probe set for one query: the clusters that
        can provably hold a true top-k member given per-cluster (radius,
        member count). Pure k-scalar driver math (no Spark job).

        - upper bound per cluster: any member is within ||q-c_j|| + r_j;
          take clusters in ascending upper-bound order until their member
          counts cover k — tau = the last upper bound is then a certified
          bound on the true kth-neighbour distance.
        - lower bound per cluster: no member is closer than
          max(0, ||q-c_j|| - r_j); clusters whose lower bound exceeds tau
          provably contain no top-k member and are pruned BEFORE the scan.
        - the bound is padded by the score-rounding granularity so the
          rounded+id tie-break ordering matches the brute-force oracle.

        Counts may be lower bounds (`apply_changes`), so a zero count does
        not prove a cluster empty and none is skipped for it; if the counts
        cover fewer than k rows, every cluster is probed (prune-nothing,
        still exact).
        """
        dq = np.sqrt(((self.centroids - q) ** 2).sum(axis=1))
        ub = dq + radii
        cum = 0
        tau = 0.0
        for j in np.argsort(ub):
            if counts[j] <= 0:
                continue
            cum += int(counts[j])
            tau = float(ub[j])
            if cum >= k:
                break
        if cum < k:
            return list(range(len(radii)))
        lb = np.maximum(0.0, dq - radii)
        # pad in SQUARED space: scores round to 4 decimals, so a point up
        # to 1e-3 (squared) past tau² can still tie into the rounded order
        tau_sq = tau * tau + 1e-3
        return [int(j) for j in range(len(radii)) if lb[j] * lb[j] <= tau_sq]

    def _filtered_counts(self, pre_filter) -> np.ndarray:
        """Per-cluster member counts under a pre-filter. Required for
        certified pruning of FILTERED search: tau must cover k MATCHING
        members (unfiltered counts would understate tau and could prune a
        cluster holding a matching neighbour). The cached radii remain
        valid upper bounds — filtered members are a subset. One cheap
        aggregate over (predicate columns, cluster_id)."""
        assert self.indexed is not None
        rows = (
            self.indexed.filter(pre_filter)
            .groupBy("cluster_id")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        counts = np.zeros(len(self.centroids), dtype=np.int64)
        for r in rows:
            counts[int(r.cluster_id)] = int(r.n)
        return counts

    def search_exact(
        self,
        qvec,
        k: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
    ) -> DataFrame:
        """EXACT top-k (L2) with cluster pruning by the triangle
        inequality — the ball-tree bound applied to the IVF layout (see
        `_certified_probes`). The one Spark job scans only the surviving
        clusters. Unlike probe-count search the result is exact on ANY
        data distribution — on well-clustered data the probe set is small,
        on adversarially uniform data it degrades toward a full scan but
        never toward a wrong answer.

        `pre_filter` (hybrid search, reference README.md:288-299): the
        predicate both restricts the scan AND re-derives the per-cluster
        coverage counts, so tau certifies the kth MATCHING neighbour and
        pruning stays exact under filtering."""
        radii, counts = self.cluster_stats(vec_col)
        if pre_filter is not None:
            counts = self._filtered_counts(pre_filter)
        q = np.asarray(qvec, dtype=np.float64)
        probes = self._certified_probes(q, k, radii, counts)
        candidates = self.indexed.filter(F.col("cluster_id").isin(probes))
        return knn(
            candidates,
            qvec,
            k,
            vec_col=vec_col,
            id_col=id_col,
            metric="l2",
            pre_filter=pre_filter,
        )

    def knn_join_exact(
        self,
        queries: DataFrame,
        k: int,
        query_vec: str = "embedding",
        query_id: str = "query_id",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
        score_decimals: int = 4,
    ) -> DataFrame:
        """Batch KNN through the IVF layout, EXACT by construction: the
        per-query certified probe sets (`_certified_probes` — k-scalar
        driver math per query, queries are bounded by the serving contract)
        union into ONE pruned scan; a broadcast (query_id, cluster_id)
        pair table restricts each query to ITS probes; per-query top-k is
        a window over (rounded score, id).

        This is the 100 TB serving shape for Q2 (reference
        implementations/index.py:108-111): `operators/knn.knn_join`
        broadcasts queries against the FULL corpus — correct, but every
        query pays a corpus scan; here the corpus-side scan reads only the
        union of probed clusters (partition pruning on the saved layout)
        and each candidate row joins only the queries that probe its
        cluster."""
        assert self.indexed is not None
        radii, counts = self.cluster_stats(vec_col)
        if pre_filter is not None:
            counts = self._filtered_counts(pre_filter)
        return _probe_join(
            self.indexed, queries, k,
            lambda q: self._certified_probes(q, k, radii, counts),
            query_vec, query_id, vec_col, id_col, pre_filter, score_decimals,
        )

    def knn_join(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 4,
        query_vec: str = "embedding",
        query_id: str = "query_id",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
        score_decimals: int = 4,
    ) -> DataFrame:
        """APPROXIMATE batch KNN through the IVF layout —
        `knn_join_exact`'s one-pruned-scan serving shape with each
        query's certified probe set replaced by its fixed-`nprobe`
        nearest clusters (the batch analog of `search`; nprobe plays
        hnswlib's ef). The reference's only batch surface is a REST loop
        of exactly these approximate single searches
        (implementations/index.py:91-129, api/rest_api.py); here the
        whole batch rides ONE scan pruned to the union of probed
        clusters. Recall < 1.0 by construction; the persisted
        calibration curve (measure_recall_curve / nprobe_for_recall)
        prices the dial, so target-recall BATCH serving rides this via
        `VectorStore.find_similar_batch(mode="approx", target_recall=)`."""
        assert self.indexed is not None
        return _probe_join(
            self.indexed, queries, k,
            lambda q: self._probe_clusters(q, nprobe),
            query_vec, query_id, vec_col, id_col, pre_filter, score_decimals,
        )

    def _probe_clusters(self, qvec, nprobe: int) -> list[int]:
        assert self.centroids is not None, "build() first"
        q = np.asarray(qvec, dtype=np.float64)
        d = ((self.centroids - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d)[: min(nprobe, len(d))]]

    def _stage(self, stage: str) -> dict:
        """Write the clustered rows into `stage` partitioned BY cluster_id
        (a probe becomes physical partition pruning on reload) and return
        the driver-side state that travels with them: the centroids, the
        exact-search pruning bounds (a reloaded index pays no corpus scan
        to re-derive them), the W11 drift counters, the build-time vector
        column (the default of refresh_stats / apply_changes / save) and
        the measured recall curve (target_recall serving pays no
        calibration jobs again)."""
        assert self.indexed is not None and self.centroids is not None
        radii, counts = self.cluster_stats()
        return {
            "indexed": stage_frame(self.indexed, stage, "indexed", "cluster_id"),
            "centroids": self.centroids.tolist(),
            "radii": radii.tolist(),
            "counts": counts.tolist(),
            "built_count": int(self._built_count),
            "added_count": int(self._added_count),
            "vec_col": self._vec_col,
            "recall_curve": _curve_state(self._recall_curve),
        }

    def _reopen(self, spark, vdir: str, state: dict) -> None:
        self.indexed = open_frame(spark, vdir, "indexed", state["indexed"])

    @classmethod
    def _from_state(cls, spark, vdir: str, state: dict) -> "IVFIndex":
        idx = cls(n_clusters=len(state["centroids"]))
        idx.centroids = np.array(state["centroids"], dtype=np.float64)
        idx._radii = np.array(state["radii"], dtype=np.float64)
        idx._counts = np.array(state["counts"], dtype=np.int64)
        idx._built_count = state["built_count"]
        idx._added_count = state["added_count"]
        idx._vec_col = state["vec_col"]
        idx._recall_curve = _curve_from(state["recall_curve"])
        idx._reopen(spark, vdir, state)
        return idx

    def search(
        self,
        qvec,
        k: int,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        metric: str = "l2",
    ) -> DataFrame:
        """Top-k within the nprobe nearest clusters. nprobe plays the role
        of hnswlib's ef: recall knob, cost knob."""
        assert self.indexed is not None, "build() first"
        probes = self._probe_clusters(qvec, nprobe)
        candidates = self.indexed.filter(F.col("cluster_id").isin(probes))
        return knn(candidates, qvec, k, vec_col=vec_col, id_col=id_col, metric=metric)

    def measure_recall_curve(
        self,
        k: int = 10,
        n_queries: int = 8,
        nprobes: Sequence[int] | None = None,
        vec_col: str | None = None,
        id_col: str = "vec_id",
    ) -> dict[int, float]:
        """Measure mean recall@k of `search(nprobe=...)` against the
        certified-exact path over a DETERMINISTIC bounded sample of the
        index's own vectors (xxhash-selected — held-out queries would need
        labels the index doesn't have; self-queries are the standard IVF
        calibration and slightly optimistic, which the ≥ target check
        absorbs). Cost: (|nprobes|+1) × n_queries partition-pruned top-k
        jobs, each probe-bounded — a one-time calibration, not a serving
        cost. The curve is cached on the object and persisted by save(),
        so serving can pick nprobe for a recall target without paying
        this again (`nprobe_for_recall`)."""
        assert self.indexed is not None and self.centroids is not None
        curve = _measure_recall_curve(
            self, k, n_queries, _nprobe_dials(nprobes, self.n_clusters),
            vec_col or self._vec_col, id_col, "nprobe",
        )
        # an empty measurement (empty index) is not cached: a later call —
        # after rows arrive via CDC — re-measures instead of serving a
        # stale nothing
        self._recall_curve = curve or None
        return curve

    def nprobe_for_recall(self, target: float) -> int:
        """Smallest measured nprobe whose recall@k meets `target`; falls
        back to probing EVERY cluster (exact coverage, recall 1.0) when no
        measured point reaches it. Raises if the curve was never measured
        — a serving router must not silently guess (auto→approx would
        silently eat a 30% recall cliff)."""
        return _nprobe_for_recall(
            self._recall_curve, target, self.n_clusters
        )


def _nprobe_dials(nprobes: Sequence[int] | None, n_clusters: int) -> list[int]:
    if nprobes is None:
        nprobes = [1, 2, 4, 8, 16]
    return [min(int(p), n_clusters) for p in nprobes]


def _measure_recall_curve(
    index,
    k: int,
    n_queries: int,
    dials: Sequence[int],
    vec_col: str,
    id_col: str,
    dial: str,
    **fixed,
) -> dict[int, float]:
    """The recall-calibration kernel of every family with a recall dial:
    mean recall@k of `index.search(q, k, <dial>=d, **fixed)` (IVF and
    IVF+PQ: `nprobe`; the graph: `ef` at a fixed `nprobe`) against
    `index.search_exact` over a deterministic xxhash-selected sample of
    the index's own rows, for each distinct dial value d >= 1. Requires
    only the family protocol (indexed / search / search_exact)."""
    dials = sorted({int(d) for d in dials if d >= 1})
    sample = (
        index.indexed.select(
            F.col(id_col).alias("qk"), F.col(vec_col).alias("qv")
        )
        .orderBy(F.xxhash64(F.col("qk").cast("string")))
        .limit(n_queries)
        .collect()
    )
    if not sample:
        # an EMPTY index measures nothing: return an empty curve, which
        # the callers do not cache and the selection resolves to the
        # family's exact-coverage fallback — fabricating recall 1.0 here
        # would be persisted, then silently under-probe once rows arrive
        return {}
    totals = {d: 0.0 for d in dials}
    for row in sample:
        q = [float(x) for x in row.qv]
        # deliberately NOT recall_at_k(approx, exact): that helper
        # re-collects the exact frame per comparison — here the exact ids
        # collect once per query and serve every dial point (|dials|×
        # fewer exact-search jobs over the calibration loop)
        exact = index.search_exact(q, k, vec_col=vec_col, id_col=id_col)
        exact_ids = {r[0] for r in exact.select(id_col).collect()}
        if not exact_ids:
            for d in dials:
                totals[d] += 1.0
            continue
        for d in dials:
            approx = index.search(
                q, k, vec_col=vec_col, id_col=id_col, **{dial: d}, **fixed
            )
            got = {r[0] for r in approx.select(id_col).collect()}
            totals[d] += len(got & exact_ids) / len(exact_ids)
    return {d: totals[d] / len(sample) for d in dials}


def _nprobe_for_recall(
    curve: dict[int, float] | None, target: float, fallback
):
    """Smallest measured dial value whose recall meets `target`, else
    `fallback` — the family's exact-coverage setting (`n_clusters` for
    IVF, `None` = exhaustive for the graph). Raises when the curve was
    never measured: a serving router must not silently guess (auto →
    approx would silently eat a 30% recall cliff)."""
    if curve is None:
        raise ValueError(
            "no measured recall curve: call measure_recall_curve() "
            "(or load() an index saved after measuring)"
        )
    # an empty curve (measured over an empty index) falls through to the
    # fallback — conservative, never under-probing
    for d in sorted(curve):
        if curve[d] >= target:
            return d
    return fallback


def _curve_state(curve: dict[int, float] | None) -> list | None:
    """A recall curve as JSON state: sorted [dial, recall] pairs."""
    if curve is None:
        return None
    return [[int(d), float(r)] for d, r in sorted(curve.items())]


def _curve_from(state: list | None) -> dict[int, float] | None:
    return None if state is None else {int(d): float(r) for d, r in state}


class LSHIndex(CommittedIndex):
    """BucketedRandomProjectionLSH wrapper (euclidean LSH)."""

    def __init__(
        self, bucket_length: float = 0.5, num_hash_tables: int = 4, seed: int = 42
    ) -> None:
        self.bucket_length = bucket_length
        self.num_hash_tables = num_hash_tables
        self.seed = seed
        self.model = None
        self.indexed: DataFrame | None = None
        self.cdc = PendingTail()

    def build(
        self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> DataFrame:
        feat = df.withColumn("__features", array_to_vector(F.col(vec_col)))
        lsh = BucketedRandomProjectionLSH(
            inputCol="__features",
            outputCol="__hashes",
            bucketLength=self.bucket_length,
            numHashTables=self.num_hash_tables,
            seed=self.seed,
        )
        self.model = lsh.fit(feat)
        self.indexed = self.model.transform(feat)
        self.cdc = PendingTail()
        return self.indexed

    def _stage(self, stage: str) -> dict:
        """Write the fitted MLlib model and the rows with the per-table
        bucket ids MATERIALIZED as plain int columns (b0..bN) into
        `stage`. The hash vectors themselves aren't parquet-representable,
        but the bucket ids are — and a loaded index then serves
        `search_exact` bucket-window filters as PUSHED parquet predicates
        with no re-hashing of the corpus per query (the 100 TB serving
        shape; the IVF analog is its partitionBy(cluster_id))."""
        assert self.model is not None and self.indexed is not None
        self.model.write().save(os.path.join(stage, "model"))
        buckets = [f"b{i}" for i in range(self.num_hash_tables)]
        keep = [
            c for c in self.indexed.columns
            if c not in ("__hashes", "__features", *buckets)
        ]
        data = self.indexed.select(*keep, *[
            self._bucket_col(i).alias(b) for i, b in enumerate(buckets)
        ])
        return {"data": stage_frame(data, stage, "data")}

    def _reopen(self, spark, vdir: str, state: dict) -> None:
        self.indexed = open_frame(spark, vdir, "data", state["data"])

    @classmethod
    def _from_state(cls, spark, vdir: str, state: dict) -> "LSHIndex":
        from pyspark.ml.feature import BucketedRandomProjectionLSHModel

        idx = cls()
        idx.model = BucketedRandomProjectionLSHModel.load(
            os.path.join(vdir, "model")
        )
        idx.bucket_length = float(idx.model.getBucketLength())
        idx.num_hash_tables = int(idx.model.getNumHashTables())
        idx._reopen(spark, vdir, state)
        return idx

    @classmethod
    def load(
        cls, spark, path: str, vec_col: str = "embedding"
    ) -> "LSHIndex":
        """Restore the model and the bucket-materialized rows of the
        newest generation. The b0..bN columns serve search_exact directly
        (pushed filters); approx paths re-hash on demand
        (`_with_features`)."""
        return super().load(spark, path)

    def apply_changes(
        self, changes: DataFrame, vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """CDC maintenance (the `PendingTail` contract): upserts re-hash
        through the FITTED model. LSH cannot drift — the random hyperplanes
        are data-independent, so hashing new rows with the saved model is
        exactly what a fresh build computes. Works on both index shapes
        (built: __hashes/__features; loaded: b0..bN bucket columns). LSH
        keeps no corpus count, so its tail folds at the row floor."""
        from pyspark.ml.functions import vector_to_array

        assert self.model is not None and self.indexed is not None

        def enter(ups: DataFrame) -> DataFrame:
            hashed = self.model.transform(
                ups.withColumn("__features", array_to_vector(F.col(vec_col)))
            )
            if "__hashes" in self.indexed.columns:
                return hashed
            # bucket-materialized shape: b{i} from the NEW rows' hashes
            return hashed.select(
                *ups.columns,
                *[
                    vector_to_array(F.col("__hashes")[i])[0]
                    .cast("long")
                    .alias(f"b{i}")
                    for i in range(self.num_hash_tables)
                ],
            )

        feed, _ = self.cdc.absorb(changes, id_col, enter)
        (self.indexed,) = self.cdc.fold(
            0, self.cdc.roll(self.indexed, feed, id_col)
        )
        return self.indexed

    def _with_features(self, vec_col: str = "embedding") -> DataFrame:
        """self.indexed with the MLlib feature/hash columns present —
        computed on demand for the approx paths when the index came from
        a bucket-materialized save."""
        assert self.model is not None and self.indexed is not None
        if "__hashes" in self.indexed.columns:
            return self.indexed
        return self.model.transform(
            self.indexed.withColumn(
                "__features", array_to_vector(F.col(vec_col))
            )
        )

    def search(self, qvec, k: int, id_col: str = "vec_id") -> DataFrame:
        """approxNearestNeighbors: returns (id, distCol) for ~k candidates."""
        assert self.model is not None and self.indexed is not None
        key = Vectors.dense([float(x) for x in qvec])
        out = self.model.approxNearestNeighbors(self._with_features(), key, k)
        return out.select(id_col, F.col("distCol").alias("score"))

    def query_buckets(self, qvec) -> list[int]:
        """The query's bucket id per hash table. The fitted random unit
        vectors are k·dim driver-scale state (the same class as IVF
        centroids), so the buckets are plain numpy dot products — no Spark
        job per query. Falls back to a 1-row model.transform if the JVM
        accessor is unavailable; both paths compute
        floor(q·u_i / bucketLength), the BRP hash definition."""
        assert self.model is not None and self.indexed is not None
        L = float(self.model.getBucketLength())
        try:
            rvs = self.model._call_java("randUnitVectors")
            q = np.asarray([float(x) for x in qvec], dtype=np.float64)
            return [
                int(np.floor(float(np.dot(q, np.asarray(v.toArray()))) / L))
                for v in rvs
            ]
        except Exception:  # noqa: BLE001 — private accessor moved/renamed
            spark = self.indexed.sparkSession
            qdf = local_rows_df(spark, 
                [([float(x) for x in qvec],)], "qv array<double>"
            ).withColumn("__features", array_to_vector(F.col("qv")))
            row = self.model.transform(qdf).head()
            return [int(v[0]) for v in row["__hashes"]]

    def _bucket_col(self, i: int):
        """Bucket id of hash table i: the materialized b{i} parquet column
        when present (loaded index — filter pushdown territory), else
        extracted from the MLlib hash vectors (freshly built index)."""
        assert self.indexed is not None
        if f"b{i}" in self.indexed.columns:
            return F.col(f"b{i}").cast("long")
        from pyspark.ml.functions import vector_to_array

        return vector_to_array(F.col("__hashes")[i])[0].cast("long")

    def search_exact(
        self,
        qvec,
        k: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        score_decimals: int = 4,
    ) -> DataFrame:
        """EXACT top-k (squared L2) through the LSH layout — the certified
        two-stage contract shared with `IVFIndex.search_exact` and
        `quantize.knn_sq8`, derived from the BRP hash geometry: buckets are
        floor(x·u_i / L) over random UNIT vectors u_i, so for any x,
        |x·u_i − q·u_i| ≤ ||x − q|| (Cauchy–Schwarz) and a point whose
        bucket differs from the query's by Δ in table i is at true distance
        ≥ (Δ−1)·L.

        1. PROBE: exact top-k inside the standard LSH candidate set (shares
           ≥1 bucket with the query). Its kth distance tau bounds the true
           kth distance from above.
        2. CERTIFY: every true top-k member has d ≤ sqrt(tau), hence per
           table |Δbucket| ≤ sqrt(tau)/L + 1 — rescore exactly within that
           bucket WINDOW across all tables (an AND of per-table range
           predicates: pure Catalyst, no similarity join).

        tau is padded by the score-rounding granularity (the
        ann_ivf_exact/knn_sq8 convention) so rounded+id tie-break ordering
        equals the brute-force oracle on any data. If the probe pool holds
        fewer than k rows the rescore degrades to a full scan — never to a
        wrong answer."""
        assert self.model is not None and self.indexed is not None
        qb = self.query_buckets(qvec)
        same_any = None
        for i, b in enumerate(qb):
            c = self._bucket_col(i) == F.lit(b)
            same_any = c if same_any is None else (same_any | c)
        pool = self.indexed.filter(same_any)
        top = (
            knn(pool, qvec, k, vec_col=vec_col, id_col=id_col, metric="l2")
            .select("score")
            .collect()
        )
        if len(top) >= k:
            tau_sq = float(top[-1]["score"]) + 1e-3
            width = int(tau_sq ** 0.5 / self.bucket_length) + 1
            window_all = None
            for i, b in enumerate(qb):
                c = F.abs(self._bucket_col(i) - F.lit(b)) <= F.lit(width)
                window_all = c if window_all is None else (window_all & c)
            cand = self.indexed.filter(window_all)
        else:
            cand = self.indexed
        return knn(
            cand,
            qvec,
            k,
            vec_col=vec_col,
            id_col=id_col,
            metric="l2",
            score_decimals=score_decimals,
        )

    def similarity_join(
        self, other: DataFrame | None = None, threshold: float = 1.0,
        vec_col: str = "embedding",
    ) -> DataFrame:
        """approxSimilarityJoin — the LSH-bucketed near-dup path: candidate
        pairs within a euclidean threshold without a quadratic cross join."""
        assert self.model is not None and self.indexed is not None
        left = self._with_features(vec_col)
        right = (
            left
            if other is None
            else self.model.transform(
                other.withColumn("__features", array_to_vector(F.col(vec_col)))
            )
        )
        return self.model.approxSimilarityJoin(
            left, right, threshold, distCol="dist"
        )


class IVFPQIndex(CommittedIndex):
    """IVF + PQ — the standard large-scale ANN architecture (faiss
    IVF*,PQ*): KMeans partitions give partition-pruned probes, PQ codes
    give an 8×-smaller scan INSIDE the probed clusters, and BOTH layers
    carry certified bounds, so the composed search is still EXACT:

    1. cluster pruning (`IVFIndex._certified_probes`): the probe set
       provably contains every true top-k member;
    2. code scan over ONLY the probed clusters (partition pruning on the
       saved layout; reads m ints + 1 double per row, not d floats);
    3. per-vector PQ bounds (`PQIndex.certified_pool`): tau = kth
       smallest upper bound within the probes — which bounds the GLOBAL
       kth distance, since the probes contain the true top-k — prunes the
       rescore pool;
    4. exact rescore of the pool against full-precision vectors.

    Codebooks encode raw vectors (not residuals — the per-vector error
    bound ||x − x̂|| is what certifies exactness and is residual-agnostic;
    residual encoding would shrink e and the pool, not change answers).
    Driver state: k centroids + k radii + m·k_sub sub-centroids."""

    def __init__(
        self,
        n_clusters: int = 16,
        m: int = 8,
        k_sub: int = 16,
        seed: int = 42,
    ) -> None:
        from mlvectordb_spark.operators.quantize import PQIndex

        self.ivf = IVFIndex(n_clusters=n_clusters, seed=seed)
        self.pq = PQIndex(m=m, k_sub=k_sub, seed=seed)
        self.encoded: DataFrame | None = None
        # measured nprobe → recall@k (same contract as IVFIndex)
        self._recall_curve: dict[int, float] | None = None

    @property
    def n_clusters(self) -> int:
        return self.ivf.n_clusters

    @property
    def cdc(self) -> PendingTail:
        return self.ivf.cdc

    def build(
        self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> DataFrame:
        clustered = self.ivf.build(df, vec_col=vec_col, id_col=id_col)
        self.pq.fit(df, vec_col=vec_col, id_col=id_col)
        self.encoded = self.pq.encode(clustered, vec_col=vec_col)
        # the IVF layer's stats/searches run over the encoded table so a
        # single physical dataset backs both layers
        self.ivf.indexed = self.encoded
        return self.encoded

    @property
    def indexed(self) -> DataFrame | None:
        """Protocol alias for the composed index's one physical dataset
        (the encoded table) — lets maintenance code (NamespaceIndexFamily,
        the snapshot resync, store attach) treat every index family
        uniformly through `.indexed`."""
        return self.encoded

    @indexed.setter
    def indexed(self, df: DataFrame) -> None:
        self.encoded = df
        self.ivf.indexed = df
        self.pq.encoded = df

    def is_rebuild_required(self) -> bool:
        """W11 delegation: the composed index drifts when its IVF layer
        does (codebook drift tracks the same distribution shift)."""
        return self.ivf.is_rebuild_required()

    def note_full_resync(self, n_live: int) -> None:
        self.ivf.note_full_resync(n_live)

    def refresh_stats(self, vec_col: str | None = None) -> None:
        self.ivf.refresh_stats(vec_col)

    def apply_changes(
        self, changes: DataFrame, vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """CDC maintenance through the composed layout: the IVF roll-forward
        with the EXISTING codebooks encoding the upserts. Exactness is
        unconditional: errors are computed fresh per re-encoded vector;
        only pruning quality drifts (W11 counter)."""
        self.indexed = self.ivf.apply_changes(
            changes, vec_col=vec_col, id_col=id_col, encode=self.pq.encode
        )
        return self.encoded

    def _stage(self, stage: str) -> dict:
        """ONE physical dataset partitioned by cluster_id (probe =
        partition pruning) carrying codes + error + full vectors, written
        by the IVF layer, plus the driver-scale state of both layers."""
        assert self.encoded is not None and self.pq.codebooks is not None
        return {
            "ivf": self.ivf._stage(stage),
            "codebooks": self.pq.codebooks.tolist(),
            "recall_curve": _curve_state(self._recall_curve),
        }

    def _reopen(self, spark, vdir: str, state: dict) -> None:
        self.ivf._reopen(spark, vdir, state["ivf"])
        self.indexed = self.ivf.indexed

    @classmethod
    def _from_state(cls, spark, vdir: str, state: dict) -> "IVFPQIndex":
        books = np.array(state["codebooks"], dtype=np.float64)
        idx = cls(m=books.shape[0], k_sub=books.shape[1])
        idx.ivf = IVFIndex._from_state(spark, vdir, state["ivf"])
        idx.pq.codebooks = books
        idx.indexed = idx.ivf.indexed
        idx._recall_curve = _curve_from(state["recall_curve"])
        return idx

    def search(
        self,
        qvec,
        k: int,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        metric: str = "l2",
    ) -> DataFrame:
        """APPROXIMATE fixed-nprobe probe through the composed layout —
        the `IVFIndex.search` analog (nprobe plays hnswlib's ef): scan
        only the nprobe nearest clusters and rescore their rows exactly
        on the full-precision vectors the encoded table carries. Recall
        < 1.0 is possible by construction; certified exactness stays with
        `search_exact`. Gives the PQ family the same recall/latency dial
        (and `measure_recall_curve`/`nprobe_for_recall` calibration) as
        the plain IVF family, so a store's `mode="approx"` +
        `target_recall` serving works against either."""
        assert self.encoded is not None
        probes = self.ivf._probe_clusters(qvec, nprobe)
        cand = self.encoded.filter(F.col("cluster_id").isin(probes))
        return knn(
            cand, qvec, k, vec_col=vec_col, id_col=id_col, metric=metric
        )

    def measure_recall_curve(
        self,
        k: int = 10,
        n_queries: int = 8,
        nprobes: Sequence[int] | None = None,
        vec_col: str | None = None,
        id_col: str = "vec_id",
    ) -> dict[int, float]:
        """IVFIndex.measure_recall_curve through the composed layout —
        the shared `_measure_recall_curve` kernel over this object's
        search/search_exact; cached and persisted by save()."""
        assert self.encoded is not None
        curve = _measure_recall_curve(
            self, k, n_queries, _nprobe_dials(nprobes, self.n_clusters),
            vec_col or self.ivf._vec_col, id_col, "nprobe",
        )
        self._recall_curve = curve or None
        return curve

    def nprobe_for_recall(self, target: float) -> int:
        """See IVFIndex.nprobe_for_recall — same contract."""
        return _nprobe_for_recall(
            self._recall_curve, target, self.n_clusters
        )

    def search_exact(
        self,
        qvec,
        k: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
    ) -> DataFrame:
        """Doubly-pruned EXACT top-k: certified cluster probes → code-only
        scan of the probed partitions → per-vector PQ bounds → exact
        rescore. See class docstring for why each stage preserves
        exactness.

        `pre_filter` gives hybrid search through the composed layout: the
        probe coverage counts are re-derived under the predicate (the
        `IVFIndex.search_exact` rule — unfiltered counts could over-prune)
        and both the code scan and the PQ tau run over matching rows only,
        so every bound certifies the kth MATCHING neighbour."""
        radii, counts = self.ivf.cluster_stats(vec_col)
        if pre_filter is not None:
            counts = self.ivf._filtered_counts(pre_filter)
        q = np.asarray(qvec, dtype=np.float64)
        probes = self.ivf._certified_probes(q, k, radii, counts)
        pruned = self.encoded.filter(F.col("cluster_id").isin(probes))
        if pre_filter is not None:
            pruned = pruned.filter(pre_filter)
        bounded = self.pq._with_bounds(qvec, df=pruned)
        pool = self.pq.certified_pool(bounded, k)
        return knn(
            pool, qvec, k, vec_col=vec_col, id_col=id_col, metric="l2"
        ).drop("__dhat")

    def knn_join_exact(
        self,
        queries: DataFrame,
        k: int,
        query_vec: str = "embedding",
        query_id: str = "query_id",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
        score_decimals: int = 4,
    ) -> DataFrame:
        """Batch KNN through the composed IVF+PQ layout, EXACT by
        construction — `IVFIndex.knn_join_exact`'s serving shape with the
        PQ bound layer stacked per query:

        1. per-query certified probe sets (driver math over k scalars per
           query) union into ONE partition-pruned scan;
        2. a single Arrow-batched ADC pass attaches d̂ per (query,
           candidate) row — per-query m×k_sub lookup tables ride the task
           closure (|queries|·m·k_sub doubles, driver-scale);
        3. per-query tau = kth smallest (d̂ + pq_err) — a window over the
           query key — prunes each query's rescore pool via the per-vector
           triangle-inequality bound;
        4. exact rescore of the pooled rows, per-query top-k window.

        Every query's tau is taken within ITS certified probes, which
        provably contain its true top-k, so the pool bound is global and
        the result equals brute-force exact search (the oracle)."""
        assert self.encoded is not None and self.pq.codebooks is not None
        spark = self.encoded.sparkSession
        radii, counts = self.ivf.cluster_stats(vec_col)
        if pre_filter is not None:
            counts = self.ivf._filtered_counts(pre_filter)
        books = self.pq.codebooks
        m, k_sub, sub = books.shape
        qrows = queries.select(query_id, query_vec).collect()
        pairs: list[tuple] = []
        luts: dict = {}
        for r in qrows:
            q = np.asarray(r[query_vec], dtype=np.float64)
            for c in self.ivf._certified_probes(q, k, radii, counts):
                pairs.append((r[query_id], int(c)))
            lut = np.zeros((m, k_sub))
            for b in range(m):
                diff = books[b] - q[b * sub : (b + 1) * sub][None, :]
                lut[b] = (diff * diff).sum(axis=1)
            luts[r[query_id]] = lut
        probe_df = local_rows_df(spark, 
            pairs, f"{query_id} long, cluster_id int"
        )
        cand = self.encoded.filter(
            F.col("cluster_id").isin(sorted({c for _, c in pairs}))
        )
        if pre_filter is not None:
            cand = cand.filter(pre_filter)
        sel = cand.join(F.broadcast(probe_df), "cluster_id").drop(
            "cluster_id"
        )
        out_schema = T.StructType(
            [f for f in sel.schema.fields if f.name != "pq_codes"]
            + [T.StructField("__dhat", T.DoubleType())]
        )

        def scan_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    pdf = pdf.drop(columns=["pq_codes"])
                    pdf["__dhat"] = []
                    yield pdf
                    continue
                codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
                qids = pdf[query_id].to_numpy()
                dh = np.zeros(len(pdf))
                for qid in np.unique(qids):
                    mask = qids == qid
                    dsq = luts[qid][
                        np.arange(m)[None, :], codes[mask]
                    ].sum(axis=1)
                    dh[mask] = np.sqrt(np.maximum(dsq, 0.0))
                pdf = pdf.drop(columns=["pq_codes"])
                pdf["__dhat"] = dh
                yield pdf

        # the bounded scan feeds two consumers (per-query tau + the pool
        # filter); materialize it once instead of re-running the ADC pass
        bounded = sel.mapInPandas(
            scan_batches, schema=out_schema
        ).localCheckpoint()
        # per-query tau = kth smallest upper bound == max ub over the
        # per-query top-k by ub (two-phase — same reducer-skew fix as the
        # final top-k); a query with < k candidates gets max-over-all,
        # which keeps its whole pool (lb <= ub <= tau for every row)
        ub = F.col("__dhat") + F.col("pq_err")
        topk_ub = per_key_topk(
            bounded.withColumn("__ub", ub),
            query_id,
            k,
            [F.col("__ub").asc(), F.col(id_col).asc()],
            salt_on=id_col,
        )
        taus = topk_ub.groupBy(query_id).agg(
            (F.max("__ub") * F.max("__ub") + F.lit(1e-3)).alias("__tau_sq")
        )
        lb = F.greatest(F.lit(0.0), F.col("__dhat") - F.col("pq_err"))
        pool = bounded.join(F.broadcast(taus), query_id, "left").filter(
            F.col("__tau_sq").isNull() | (lb * lb <= F.col("__tau_sq"))
        )
        qv = local_rows_df(spark, 
            [
                (r[query_id], [float(x) for x in r[query_vec]])
                for r in qrows
            ],
            f"{query_id} long, __qvec array<double>",
        )
        return _rank_per_query(
            pool, qv, k, query_id, vec_col, id_col, score_decimals
        )

    def knn_join(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 4,
        query_vec: str = "embedding",
        query_id: str = "query_id",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
        score_decimals: int = 4,
    ) -> DataFrame:
        """APPROXIMATE batch KNN through the composed IVF+PQ layout — the
        `IVFIndex.knn_join` shape (fixed-nprobe probe sets union into ONE
        pruned scan) with candidates rescored EXACTLY on the
        full-precision vectors the encoded table carries (same contract
        as `search`: approximation lives only in which clusters are
        probed, so the calibration curve prices it and target-recall
        batch serving works against the PQ family too)."""
        assert self.encoded is not None
        return _probe_join(
            self.encoded, queries, k,
            lambda q: self.ivf._probe_clusters(q, nprobe),
            query_vec, query_id, vec_col, id_col, pre_filter, score_decimals,
        )


def resync_index_from_snapshot(
    index, snap: DataFrame, vec_col: str, id_col: str, write_version: int
) -> None:
    """Full index resync from an authoritative live snapshot — the
    fallback when the CDC floor moved past the index's synced version
    (compaction physically erased the events it needed; the
    Delta/Iceberg contract across VACUUM). `snap` carries one row per
    live vector: (id_col, vec_col, change_type='upsert', write_version),
    already in the index's representation (the caller applies any space
    normalization).

    Expressed as one synthetic CDC feed through the index's own
    `apply_changes` — the same maintenance kernel serves catch-up and
    incremental for every family (IVF, IVF+PQ, LSH, graph): every live
    row as an upsert (retire-and-reassign) plus a delete for every served
    id the snapshot no longer holds. One snapshot scan + one anti-join of
    the index's id column; no refit. Afterwards the
    drift counters restart at the snapshot size — a resync is a fresh
    baseline, not drift (without the reset, absorbing the snapshot as
    adds trips is_rebuild_required() permanently on every floor-forced
    resync)."""
    vec_type = {f.name: f.dataType for f in index.indexed.schema.fields}[
        vec_col
    ]
    wv = int(write_version)
    served = index.indexed.select(id_col)
    pending = getattr(index, "pending", None)  # the graph's flat tail
    if pending is not None:
        served = served.unionByName(pending.select(id_col))
    stale = (
        served.join(snap.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.lit(None).cast(vec_type).alias(vec_col),
            F.lit("delete").alias("change_type"),
            F.lit(wv).cast("long").alias("write_version"),
        )
    )
    index.apply_changes(
        snap.unionByName(stale, allowMissingColumns=True),
        vec_col=vec_col, id_col=id_col,
    )
    note = getattr(index, "note_full_resync", None)
    if note is not None:
        note(index.cdc.last_upserts)
    # a full resync is also the natural stats-refresh point: grow-only
    # radii never shrink, so restore tightness while the corpus is in hand
    refresh = getattr(index, "refresh_stats", None)
    if refresh is not None:
        refresh(vec_col)


class NamespaceIndexFamily:
    """Per-namespace index isolation — the reference's unit of index
    isolation is the namespace (`implementations/index.py:19,32-48`: one
    hnswlib graph per namespace, created lazily, independent
    dimensionality). Here: one index member per namespace, created
    lazily from `factory`, with build/apply_changes routed by the feed's
    namespace column. Driver state stays k × |namespaces| centroid
    scalars — the same class of object as the reference's per-namespace
    graph metadata.

    Works with any member family that speaks the build/apply_changes/
    search_exact protocol (IVFIndex, IVFPQIndex, LSHIndex)."""

    def __init__(self, factory=None) -> None:
        self.factory = factory if factory is not None else (lambda: IVFIndex())
        self.members: dict[str, object] = {}

    def namespaces(self) -> list[str]:
        return sorted(self.members)

    def member(self, namespace: str):
        idx = self.members.get(namespace)
        if idx is None:
            raise KeyError(f"no index for namespace {namespace!r}")
        return idx

    def build(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        ns_col: str = "namespace",
    ) -> None:
        """One member per namespace present in `df`. |namespaces| fits the
        driver by the same argument as the reference's index dict; each
        member build is a partition-pruned Spark job over its slice."""
        for ns in [r[0] for r in df.select(ns_col).distinct().collect()]:
            idx = self.factory()
            idx.build(
                df.filter(F.col(ns_col) == ns).drop(ns_col),
                vec_col=vec_col,
                id_col=id_col,
            )
            self.members[ns] = idx

    def apply_changes(
        self,
        changes: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        ns_col: str = "namespace",
    ) -> None:
        """Route a CDC feed (`VectorStore.changes_since` shape plus the
        namespace column) to the per-namespace members. A namespace seen
        for the first time creates its member lazily from the feed's
        upserts (reference `_get_or_create_index`, index.py:32-48);
        namespaces absent from the feed are untouched — per-namespace
        isolation of maintenance, unlike the reference's rebuild which
        drops every other namespace's index (the documented
        query_processor.py:58-61 bug we do not replicate)."""
        for ns in [r[0] for r in changes.select(ns_col).distinct().collect()]:
            sub = changes.filter(F.col(ns_col) == ns).drop(ns_col)
            idx = self.members.get(ns)
            if idx is None:
                idx = self.factory()
                # a brand-new member builds from the feed's LIVE state:
                # latest event per id wins, and ids whose latest event is a
                # delete never enter — a feed can legitimately carry
                # upsert(x,v1) → upsert(x,v2) → delete(y)
                live = (
                    latest_per_key(sub, [id_col], F.col("write_version").desc())
                    .filter(F.col("change_type") == "upsert")
                    .drop("change_type", "write_version")
                )
                if not live.limit(1).count():
                    # every id's latest event is a delete: nothing live to
                    # index — the member is created by a later feed that
                    # carries live rows (building on empty would crash the
                    # k-means fit)
                    continue
                idx.build(live, vec_col=vec_col, id_col=id_col)
                self.members[ns] = idx
            else:
                idx.apply_changes(sub, vec_col=vec_col, id_col=id_col)

    def search_exact(
        self,
        namespace: str,
        qvec,
        k: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        pre_filter=None,
    ) -> DataFrame:
        """Exact certified search within ONE namespace's member — other
        namespaces' members are never touched (isolation, reference
        tests/test_query_processor.py:70-85). `pre_filter` forwards only
        when given: families without filtered-search support (LSH) still
        serve unfiltered queries."""
        kwargs = {"vec_col": vec_col, "id_col": id_col}
        if pre_filter is not None:
            kwargs["pre_filter"] = pre_filter
        return self.member(namespace).search_exact(qvec, k, **kwargs)

    def _stage(self, stage: str) -> dict:
        """Every member's layout under `stage/<member dir>` and one state
        entry per namespace: its dir, member class name and member state.
        The dir is the quoted name for readability plus an md5 suffix, so
        namespaces that differ only in case cannot collide on
        case-insensitive filesystems."""
        members = {}
        for ns, idx in self.members.items():
            sub = (
                quote(ns, safe="")[:64]
                + "-"
                + hashlib.md5(ns.encode("utf-8")).hexdigest()[:8]
            )
            members[ns] = {
                "dir": sub,
                "cls": type(idx).__name__,
                "state": idx._stage(os.path.join(stage, sub)),
            }
        return {"members": members}

    def save(self, path: str) -> None:
        """Q23 per-namespace persistence (reference save_index,
        README.md:239-241, with the namespace as the unit of isolation):
        every member writes into the SAME stage, so the whole family is
        one committed generation under `path` — a failure in any member
        leaves the previous family whole."""
        vdir, state = commit_generation(path, self._stage)
        for ns, m in state["members"].items():
            idx = self.members[ns]
            idx._reopen(
                idx.indexed.sparkSession, os.path.join(vdir, m["dir"]),
                m["state"],
            )

    @classmethod
    def load(cls, spark, path: str, factory=None) -> "NamespaceIndexFamily":
        """Restore every member of the newest generation; member classes
        resolve from this module by the saved class name. Pass the SAME
        `factory` the family was built with — lazy creation of namespaces
        first seen after the reload uses it (persistence cannot capture a
        lambda, so omitting it silently reverts new members to the
        default IVFIndex())."""
        vdir, state = open_generation(path)
        fam = cls(factory=factory)
        for ns, m in state["members"].items():
            member_cls = globals().get(m["cls"])
            if member_cls is None:
                # members defined outside this module (GraphANNIndex
                # imports FROM here, so it can't be imported at top level)
                from mlvectordb_spark.operators import graph_ann as _graph

                member_cls = getattr(_graph, m["cls"])
            fam.members[ns] = member_cls._from_state(
                spark, os.path.join(vdir, m["dir"]), m["state"]
            )
        return fam


def recall_at_k(
    approx_df: DataFrame,
    exact_df: DataFrame,
    id_col: str = "vec_id",
) -> float:
    """|approx ∩ exact| / |exact| — the Phase-5 verification metric: every
    approximate index is judged against the exact brute-force path."""
    exact_ids = {r[id_col] for r in exact_df.select(id_col).collect()}
    approx_ids = {r[id_col] for r in approx_df.select(id_col).collect()}
    if not exact_ids:
        return 1.0
    return len(approx_ids & exact_ids) / len(exact_ids)
