"""Scalar (int8) vector quantization — the storage-compression path.

At 100 TB the embedding column dominates storage and scan cost; SQ8 (one
byte per component, per-vector min/max scale) is the standard 4× shrink a
vector store offers (reference's hnswlib holds float32, but every
production ANN system pairs the index with a quantized codebook). Search
then runs in two stages: approximate scan over dequantized codes to build
a candidate pool, then exact rescoring of the pool against the full-
precision vectors — recall loss is confined to candidates whose quantized
score straddles the pool boundary.

All expressions are pure Catalyst array ops (no Python). Plan-shape rule
learned the hard way: per-vector scalars (min, scale) MUST be hoisted into
their own projection before any lambda references them — higher-order
functions evaluate interpreted, so an `array_min(v)` inlined into a
`transform` lambda is recomputed PER ELEMENT (O(d²) per row; measured 6-8×
slower on the 64-dim bench corpus). The helpers below stage `__v`,
`__mn`, `__scale` as columns and have lambdas reference them as plain
attributes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlvectordb_spark.commit import CommittedIndex, open_frame, stage_frame
from mlvectordb_spark.functions.vector import l2_sq


def _dbl(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def with_sq8_stage(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the staged quantization scalars: `__v` (double vector),
    `__mn`, `__scale`. Constant vectors get scale 0 (codes all 0, exact
    reconstruction of mn)."""
    return df.withColumn("__v", _dbl(vec_col)).withColumn(
        "__mn", F.array_min("__v")
    ).withColumn(
        "__scale", (F.array_max("__v") - F.array_min("__v")) / F.lit(255.0)
    )


def sq8_codes() -> Column:
    """Int codes round((x-mn)/scale) over the staged columns."""
    mn, scale = F.col("__mn"), F.col("__scale")
    return F.transform(
        "__v",
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.round((x - mn) / scale, 0))
        .cast("int"),
    )


def sq8_reconstruction() -> Column:
    """Round-tripped (quantize → dequantize) vector over staged columns.
    SQL text, so it can be an operand of the `functions/vector` scores."""
    return F.expr(
        "transform(__v, __x -> __mn + CASE WHEN __scale = 0D THEN 0D "
        "ELSE round((__x - __mn) / __scale, 0) END * __scale)"
    )


def sq8_abs_error() -> Column:
    """Per-component |x - dequant(quant(x))| over staged columns."""
    return F.zip_with(F.col("__v"), sq8_reconstruction(), lambda a, b: F.abs(a - b))


def sq8_error_stats(
    df: DataFrame, group_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-group mean/max absolute reconstruction error — the quantization
    quality diagnostic. One narrow projection pass + one group-by."""
    staged = with_sq8_stage(df, vec_col)
    err = sq8_abs_error()
    per_vec = staged.select(
        group_col,
        (
            F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("__v")
        ).alias("mean_err"),
        F.array_max(err).alias("max_err"),
    )
    return per_vec.groupBy(group_col).agg(
        F.round(F.avg("mean_err"), 6).alias("avg_abs_err"),
        F.round(F.max("max_err"), 6).alias("max_abs_err"),
        F.count("*").cast("bigint").alias("n_vectors"),
    )


class PQIndex(CommittedIndex):
    """Product quantization: split the d-dim space into `m` subspaces,
    k-means a small codebook per subspace, store each vector as m small
    codes (+1 double) — the standard faiss-style compression step beyond
    SQ8 (m·log2(k_sub) bits/vector vs 8 bits/component). The reference's
    hnswlib holds raw float32 (implementations/index.py); PQ is what a
    100 TB deployment scans instead of the embedding column.

    The twist that makes it ORACLE-CHECKABLE: encoding stores each
    vector's reconstruction error e = ||x - x̂||, and the triangle
    inequality gives |d(q,x) − d(q,x̂)| ≤ e — so the asymmetric-distance
    scan yields a CERTIFIED interval [d̂−e, d̂+e] per vector. Search takes
    tau = kth smallest upper bound, keeps every vector whose lower bound
    clears it, and rescores that pool exactly: exact top-k on ANY data and
    ANY codebook quality (a bad codebook only inflates the pool, never the
    answer) — the same two-stage contract as knn_sq8 / IVF / LSH
    search_exact, with the bound carried per-vector instead of derived
    per-cluster.

    Scale shape: fit collects a BOUNDED sample (the IVF recipe); encoding
    and the distance scan are Arrow-batched numpy maps (codes matmul /
    LUT gather — no shuffle, no join); the two scan stages read the
    m-byte code column, not the d-float embedding; only the bounded pool
    touches full precision."""

    def __init__(
        self, m: int = 8, k_sub: int = 16, seed: int = 42, max_iter: int = 15
    ) -> None:
        self.m = m
        self.k_sub = k_sub
        self.seed = seed
        self.max_iter = max_iter
        self.codebooks = None  # (m, k_sub, d/m) numpy
        self.encoded: DataFrame | None = None
        self._vec_col = "embedding"

    # -- fit / encode -------------------------------------------------------

    def fit(self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"):
        """Train per-subspace codebooks on a bounded deterministic sample
        (numpy Lloyd per subspace — driver-scale state, like IVF
        centroids)."""
        import numpy as np

        cap = int(min(max(2_000, 40 * self.k_sub * self.m), 100_000))
        n = df.count()
        sample = df.select(F.col(vec_col).alias("v"), F.col(id_col).alias("k"))
        if n > cap:
            step = -(-n // cap)
            sample = sample.filter(
                F.pmod(F.xxhash64(F.col("k")), F.lit(step)) == 0
            )
        X = np.array([r.v for r in sample.select("v").collect()], dtype=np.float64)
        d = X.shape[1]
        if d % self.m != 0:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        sub = d // self.m
        rng = np.random.default_rng(self.seed)
        books = np.zeros((self.m, self.k_sub, sub))
        for b in range(self.m):
            Xb = X[:, b * sub : (b + 1) * sub]
            k = min(self.k_sub, len(Xb))
            cent = Xb[rng.choice(len(Xb), size=k, replace=False)]
            for _ in range(self.max_iter):
                dist = (
                    (Xb * Xb).sum(axis=1)[:, None]
                    - 2.0 * (Xb @ cent.T)
                    + (cent * cent).sum(axis=1)[None, :]
                )
                assign = dist.argmin(axis=1)
                sums = np.zeros_like(cent)
                np.add.at(sums, assign, Xb)
                counts = np.bincount(assign, minlength=k).astype(np.float64)
                ok = counts > 0
                cent[ok] = sums[ok] / counts[ok, None]
            books[b, :k] = cent
            if k < self.k_sub:  # degenerate tiny corpus: repeat last row
                books[b, k:] = cent[-1]
        self.codebooks = books
        self._vec_col = vec_col
        return self

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Attach `pq_codes` (array<int>, one code per subspace) and
        `pq_err` (double, ||x − x̂||) — a narrow Arrow-batched map, no
        shuffle."""
        import numpy as np
        from pyspark.sql import types as T

        assert self.codebooks is not None, "fit() first"
        books = self.codebooks
        m, k_sub, sub = books.shape
        out_schema = T.StructType(
            list(df.schema.fields)
            + [
                T.StructField("pq_codes", T.ArrayType(T.IntegerType())),
                T.StructField("pq_err", T.DoubleType()),
            ]
        )

        def encode_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    pdf["pq_codes"] = []
                    pdf["pq_err"] = []
                    yield pdf
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = np.zeros((len(mat), m), dtype=np.int32)
                err_sq = np.zeros(len(mat))
                for b in range(m):
                    Xb = mat[:, b * sub : (b + 1) * sub]
                    cent = books[b]
                    dist = (
                        (Xb * Xb).sum(axis=1)[:, None]
                        - 2.0 * (Xb @ cent.T)
                        + (cent * cent).sum(axis=1)[None, :]
                    )
                    codes[:, b] = dist.argmin(axis=1)
                    err_sq += np.maximum(dist.min(axis=1), 0.0)
                pdf["pq_codes"] = list(codes)
                pdf["pq_err"] = np.sqrt(err_sq)
                yield pdf

        self.encoded = df.mapInPandas(encode_batches, schema=out_schema)
        return self.encoded

    def build(self, df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"):
        self.fit(df, vec_col, id_col)
        return self.encode(df, vec_col)

    # -- persistence (Q23 contract) ----------------------------------------

    def _stage(self, stage: str) -> dict:
        assert self.codebooks is not None and self.encoded is not None
        return {
            "encoded": stage_frame(self.encoded, stage, "encoded"),
            "codebooks": self.codebooks.tolist(),
            "vec_col": self._vec_col,
        }

    def _reopen(self, spark, vdir: str, state: dict) -> None:
        self.encoded = open_frame(spark, vdir, "encoded", state["encoded"])

    @classmethod
    def _from_state(cls, spark, vdir: str, state: dict) -> "PQIndex":
        import numpy as np

        books = np.array(state["codebooks"], dtype=np.float64)
        idx = cls(m=books.shape[0], k_sub=books.shape[1])
        idx.codebooks = books
        idx._vec_col = state["vec_col"]
        idx._reopen(spark, vdir, state)
        return idx

    # -- search -------------------------------------------------------------

    def _with_bounds(self, qvec, df: DataFrame | None = None) -> DataFrame:
        """Asymmetric-distance scan over the codes: attach `__dhat`
        (d(q, x̂), via an m × k_sub lookup table computed driver-side) —
        with pq_err this is the certified interval per vector. `df`
        overrides the scanned table (must carry pq_codes/pq_err — the
        IVF+PQ composition passes its cluster-pruned slice)."""
        import numpy as np
        from pyspark.sql import types as T

        src = df if df is not None else self.encoded
        assert src is not None
        books = self.codebooks
        m, k_sub, sub = books.shape
        q = np.asarray(qvec, dtype=np.float64)
        lut = np.zeros((m, k_sub))
        for b in range(m):
            qb = q[b * sub : (b + 1) * sub]
            diff = books[b] - qb[None, :]
            lut[b] = (diff * diff).sum(axis=1)
        out_schema = T.StructType(
            list(src.schema.fields)
            + [T.StructField("__dhat", T.DoubleType())]
        )

        def scan_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    pdf["__dhat"] = []
                    yield pdf
                    continue
                codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
                dsq = lut[np.arange(m)[None, :], codes].sum(axis=1)
                pdf["__dhat"] = np.sqrt(np.maximum(dsq, 0.0))
                yield pdf

        return src.mapInPandas(scan_batches, schema=out_schema)

    def search_exact(
        self,
        qvec,
        k: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """EXACT top-k (squared L2) through the PQ codes: tau = kth
        smallest (d̂ + e) upper bound (one TakeOrdered over the code scan),
        pool = everything whose lower bound max(0, d̂ − e) clears tau
        (padded by the score-rounding granularity), exact rescore of the
        pool. Certified by the per-vector triangle inequality — see the
        class docstring."""
        from mlvectordb_spark.operators.knn import knn

        cand = self.certified_pool(self._with_bounds(qvec), k)
        return knn(
            cand, qvec, k, vec_col=vec_col, id_col=id_col, metric="l2"
        ).drop("__dhat")

    @staticmethod
    def certified_pool(bounded: DataFrame, k: int) -> DataFrame:
        """tau = kth smallest upper bound over a bounded scan; keep every
        row whose lower bound clears it (padded by the score-rounding
        granularity — the shared exact-search contract). Shared by the
        standalone PQ search and the IVF+PQ composition (where `bounded`
        is already cluster-pruned; tau within the certified probes still
        bounds the GLOBAL kth distance because the probes provably contain
        the true top-k).

        A search through here runs two 1-task jobs over the bounded scan:
        this tau collect, then the caller's rescore of the pool. The pool
        filter needs tau as a literal; computing it inside the rescore's
        plan instead would need a global aggregate or window, i.e. a
        shuffle, which adaptive execution runs as a job of its own, plus
        a broadcast of the result — no fewer jobs and a larger plan."""
        ub_rows = (
            bounded.select((F.col("__dhat") + F.col("pq_err")).alias("ub"))
            .orderBy(F.col("ub").asc())
            .limit(k)
            .collect()
        )
        if len(ub_rows) < k:
            return bounded  # tiny corpus: rescore everything, still exact
        tau = float(ub_rows[-1]["ub"])
        tau_sq = tau * tau + 1e-3
        lb = F.greatest(F.lit(0.0), F.col("__dhat") - F.col("pq_err"))
        return bounded.filter(lb * lb <= F.lit(tau_sq))


def knn_sq8(
    emb: DataFrame,
    qdf: DataFrame,
    k: int,
    pool: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage quantized KNN (squared-L2): stage 1 ranks the corpus by
    distance over SQ8-reconstructed vectors (what a scan over stored codes
    computes — the full-precision column is never touched); stage 2
    rescores only the `pool` best candidates exactly and returns top-k.

    Both stages are TakeOrderedAndProject over a narrow scan — no corpus
    shuffle; the pool (≥k, constant-sized) is the only intermediate."""
    q = F.broadcast(qdf.select(_dbl(vec_col).alias("__qvec")))
    staged = with_sq8_stage(emb, vec_col).crossJoin(q)
    approx = l2_sq(sq8_reconstruction(), "__qvec")
    cands = (
        staged.withColumn("__approx", approx)
        .orderBy(F.col("__approx").asc(), F.col(id_col).asc())
        .limit(pool)
    )
    exact = F.round(l2_sq("__v", "__qvec"), 4)
    return (
        cands.withColumn("score", exact)
        .orderBy(F.col("score").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("__qvec", "__approx", "__v", "__mn", "__scale")
    )
