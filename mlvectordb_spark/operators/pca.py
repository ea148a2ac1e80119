"""Distributed PCA / whitening over an embedding column.

The standard embedding-preprocessing step for a training-data pipeline
(dim reduction before ANN indexing, decorrelation before quantization —
e.g. the OPQ/PCA rotation step in public FAISS practice). The reference
has no analog (vectors are served as ingested, hnswlib wrapper,
implementations/index.py); this belongs to the LLM-pipeline extension
layer.

Scale design — the classic two-phase moment aggregation:

1. **Partials** (distributed): one `mapInPandas` pass emits, per
   partition, the triple (n, Σx, Σxxᵀ) — a single row of d + d² doubles.
   For d=64 that is 32 KB/partition; the driver collects ≤ one row per
   partition regardless of table size (100 TB → still |partitions| rows).
   Bound: d ≲ 2000 keeps a partial under ~32 MB — embedding dims in
   practice are far below that.
2. **Eig** (driver): covariance = (Σxxᵀ − n·μμᵀ)/(n−1) is a d×d local
   matrix; `numpy.linalg.eigh` is exact, deterministic, and O(d³) —
   microseconds at d=64. Partials are summed in partition order (sorted)
   so the fit is bit-deterministic for a fixed layout.
3. **Project** (distributed): an Arrow-batched pandas UDF applies the
   (k,d) component matrix as one BLAS matmul per batch — no shuffle, no
   per-row Python.

Sign convention: each component is flipped so its largest-|entry|
coordinate is positive — eigenvectors are sign-deterministic across
platforms.

Incremental form (r11): `MomentState` carries the same (n, Σx, Σxxᵀ)
as a mergeable value — batch updates, exact merges, atomic .npz
persistence, and a foreachBatch accumulator (`start_pca_moments`) with
a replay-idempotent batch-id watermark, so a PCA model over an ingest
stream's full history is always one driver-local eig away."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlvectordb_spark.commit import publish_durable

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("o", T.ArrayType(T.DoubleType())),
    ]
)


@dataclass
class PCAModel:
    mean: np.ndarray  # (d,)
    components: np.ndarray  # (k, d) rows = principal axes, descending var
    explained_variance: np.ndarray  # (k,)
    total_variance: float  # trace of the covariance
    n: int

    @property
    def explained_ratio(self) -> np.ndarray:
        return self.explained_variance / max(self.total_variance, 1e-300)


def moment_partials(df: DataFrame, vec_col: str) -> DataFrame:
    """The distributed phase: (n, Σx, Σxxᵀ) per partition, one output row
    each. This is the ONLY pass over the data."""

    def gen(batches):
        n = 0
        s = None
        o = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += mat.shape[0]
            bs = mat.sum(axis=0)
            bo = mat.T @ mat
            s = bs if s is None else s + bs
            o = bo if o is None else o + bo
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [s.tolist()],
                    "o": [o.ravel().tolist()],
                }
            )

    out = df.select(vec_col).mapInPandas(gen, schema=_PARTIAL_SCHEMA)
    return out.withColumn("pid", F.spark_partition_id())


def covariance(df: DataFrame, vec_col: str) -> tuple[np.ndarray, np.ndarray, int]:
    """Driver-side reduction of the partials: (mean, cov, n). One
    implementation shared with the incremental path — the batch form is
    just a single-state MomentState (a future numeric change lands on
    both paths by construction)."""
    st = MomentState.of(df, vec_col)
    mean, cov = st.mean_cov()
    return mean, cov, st.n


def _model_from_cov(mean: np.ndarray, cov: np.ndarray, n: int, k: int) -> PCAModel:
    d = cov.shape[0]
    k = min(k, d)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, d)
    # deterministic sign: largest-|entry| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PCAModel(
        mean=mean,
        components=comps,
        explained_variance=np.maximum(vals[order], 0.0),
        total_variance=float(np.trace(cov)),
        n=n,
    )


def fit_pca(df: DataFrame, vec_col: str, k: int) -> PCAModel:
    mean, cov, n = covariance(df, vec_col)
    return _model_from_cov(mean, cov, n, k)


@dataclass
class MomentState:
    """Mergeable sufficient statistics for PCA — the INCREMENTAL form of
    the one-pass moment kernel above. (n, Σx, Σxxᵀ) is closed under
    addition, so a model over ingest-so-far never re-reads old data:
    each new batch contributes its own moment triple (one distributed
    pass over THAT batch only) and states merge exactly — the same
    mergeable-sketch contract as the HLL rollups (operators/rollup.py),
    applied to dense second moments. The eig step stays driver-local on
    the merged d×d matrix, so refreshing the model after a merge costs
    O(d³) microseconds, not a scan.

    Replay safety for streaming (`start_pca_moments` /
    `apply_pca_moments_batch`): `last_batch_id` is a foreachBatch
    watermark — a replayed batch id is a no-op, so retries never
    double-count (the merge_sink batch-id guard, applied to moments).
    Persistence is a single .npz staged next to `path` and committed by
    one atomic rename."""

    n: int
    s: np.ndarray  # (d,) Σx
    o: np.ndarray  # (d, d) Σxxᵀ
    last_batch_id: int = -1

    @classmethod
    def zero(cls, d: int) -> "MomentState":
        return cls(n=0, s=np.zeros(d), o=np.zeros((d, d)))

    @classmethod
    def of(cls, df: DataFrame, vec_col: str) -> "MomentState":
        """One distributed pass over `df` → its moment triple. Partials
        are summed in partition order for determinism."""
        rows = sorted(
            moment_partials(df, vec_col).collect(), key=lambda r: r["pid"]
        )
        if not rows:
            raise ValueError("empty input: no vectors to accumulate")
        d = len(rows[0]["s"])
        st = cls.zero(d)
        st.n = sum(r["n"] for r in rows)
        for r in rows:
            st.s += np.asarray(r["s"])
            st.o += np.asarray(r["o"]).reshape(d, d)
        return st

    def merge(self, other: "MomentState") -> "MomentState":
        if self.n and other.n and len(self.s) != len(other.s):
            raise ValueError(
                f"dimension mismatch: {len(self.s)} vs {len(other.s)}"
            )
        return MomentState(
            n=self.n + other.n,
            s=self.s + other.s,
            o=self.o + other.o,
            last_batch_id=max(self.last_batch_id, other.last_batch_id),
        )

    def mean_cov(self) -> tuple[np.ndarray, np.ndarray]:
        if self.n == 0:
            raise ValueError("empty state")
        mean = self.s / self.n
        if self.n < 2:
            return mean, np.zeros((len(self.s), len(self.s)))
        cov = (self.o - self.n * np.outer(mean, mean)) / (self.n - 1)
        return mean, (cov + cov.T) / 2.0

    def to_model(self, k: int) -> PCAModel:
        mean, cov = self.mean_cov()
        return _model_from_cov(mean, cov, self.n, k)

    def save(self, path: str) -> None:
        """Durable atomic publish (`commit.publish_durable`)."""
        publish_durable(path, lambda fh: np.savez(
            fh, n=self.n, s=self.s, o=self.o,
            last_batch_id=self.last_batch_id,
        ))

    @classmethod
    def load(cls, path: str) -> "MomentState":
        with np.load(path) as z:
            return cls(
                n=int(z["n"]), s=z["s"], o=z["o"],
                last_batch_id=int(z["last_batch_id"]),
            )


def apply_pca_moments_batch(
    state_path: str, batch_df: DataFrame, batch_id: int, vec_col: str
) -> MomentState:
    """foreachBatch body: fold one micro-batch's moments into the
    persisted state (replay-idempotent via the batch-id watermark).
    Returns the state after the fold."""
    import os

    state = (
        MomentState.load(state_path)
        if os.path.exists(state_path)
        else None
    )
    if state is not None and batch_id <= state.last_batch_id:
        return state  # retried/replayed batch — already counted
    delta = MomentState.of(batch_df, vec_col)
    merged = delta if state is None else state.merge(delta)
    merged.last_batch_id = batch_id
    merged.save(state_path)
    return merged


def start_pca_moments(
    stream_df: DataFrame,
    vec_col: str,
    state_path: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Structured-Streaming wiring: accumulate PCA moments over an
    ingest stream. The model over everything-ingested-so-far is
    `MomentState.load(state_path).to_model(k)` at any time — no rescan
    of history, exactly-once under retries (batch-id watermark)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_pca_moments_batch(state_path, batch_df, batch_id, vec_col)

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def project(
    df: DataFrame,
    vec_col: str,
    model: PCAModel,
    out_col: str = "pca",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Append `out_col` = components @ (x - mean), optionally whitened
    (unit variance per axis). One BLAS matmul per Arrow batch."""
    comps = model.components.copy()
    if whiten:
        comps = comps / np.sqrt(model.explained_variance + eps)[:, None]
    mean = model.mean

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _proj(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(col.to_numpy()).astype(np.float64)
        out = (mat - mean) @ comps.T
        return pd.Series(list(out))

    return df.withColumn(out_col, _proj(F.col(vec_col)))
