"""Incremental / streaming DSIR language models.

The DSIR bucket LM (operators/curation.dsir_log_weights) is a pair of
hashed-ngram count vectors — closed under addition, i.e. a mergeable
sketch exactly like the PCA moment triple (operators/pca.MomentState)
and the HLL rollups (operators/rollup.py). `DSIRState` is that sketch
made explicit: each ingest batch contributes ONE distributed
conditional-count pass over ITS rows only, states merge exactly, and
scoring any corpus against the accumulated LM reuses the batch path's
shared feature stream and scoring tail
(curation.dsir_feature_stream / dsir_score_stream — one feature
definition, so batch and incremental weights are bit-identical when the
folds cover the same corpus; the driver-gate entry `dsir_incremental`
asserts exactly that against the one-shot DuckDB oracle).

Replay safety and persistence mirror MomentState: `last_batch_id` is a
foreachBatch watermark (a replayed batch id is a no-op, so retries never
double-count), and saves are a staged .npz fsync'd then committed by one
atomic rename (pca.py:203's crash discipline).

Scale posture: state is 2×n_buckets int64 (64 KiB at the default 4096
buckets) on the driver; the per-batch fold collects ≤n_buckets
aggregated rows, never the stream; scoring builds the ≤n_buckets-row
log-ratio table with the SAME Spark expressions as the batch path
(driver numpy would risk last-ulp libm drift vs the JVM) and broadcasts
it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlvectordb_spark.commit import publish_durable
from mlvectordb_spark.functions.localdf import local_rows_df

from mlvectordb_spark.operators.curation import (
    DSIR_BUCKETS,
    DSIR_SALT,
    dsir_bucket_counts,
    dsir_feature_stream,
    dsir_score_stream,
)


@dataclass
class DSIRState:
    """Mergeable DSIR LM: per-bucket raw and target feature counts.

    The hash `salt` is part of the state's identity (it defines the
    bucket space): it persists with the counts, and merge/score reject
    a mismatched salt — mixing salts would silently hash features into
    unrelated buckets (r12 review)."""

    raw: np.ndarray  # (n_buckets,) int64 — all-corpus feature counts
    tgt: np.ndarray  # (n_buckets,) int64 — target-slice feature counts
    salt: str = DSIR_SALT
    last_batch_id: int = field(default=-1)

    @classmethod
    def zero(
        cls, n_buckets: int = DSIR_BUCKETS, salt: str = DSIR_SALT
    ) -> "DSIRState":
        return cls(
            raw=np.zeros(n_buckets, dtype=np.int64),
            tgt=np.zeros(n_buckets, dtype=np.int64),
            salt=salt,
        )

    @classmethod
    def of(
        cls,
        docs: DataFrame,
        target_pred: Column,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = DSIR_BUCKETS,
        salt: str = DSIR_SALT,
    ) -> "DSIRState":
        """One distributed conditional-count pass over `docs` → its LM
        delta. Collects ≤n_buckets aggregated rows, never the stream."""
        st = cls.zero(n_buckets, salt)
        rows = dsir_bucket_counts(
            dsir_feature_stream(
                docs, target_pred, text_col, id_col, n_buckets, salt
            )
        ).collect()
        for r in rows:
            st.raw[r["bucket"]] = r["raw_n"]
            st.tgt[r["bucket"]] = r["tgt_n"]
        return st

    def merge(self, other: "DSIRState") -> "DSIRState":
        if len(self.raw) != len(other.raw):
            raise ValueError(
                f"bucket-count mismatch: {len(self.raw)} vs {len(other.raw)}"
            )
        if self.salt != other.salt:
            raise ValueError(
                f"salt mismatch: {self.salt!r} vs {other.salt!r} — the "
                "states count features in unrelated bucket spaces"
            )
        return DSIRState(
            raw=self.raw + other.raw,
            tgt=self.tgt + other.tgt,
            salt=self.salt,
            last_batch_id=max(self.last_batch_id, other.last_batch_id),
        )

    def save(self, path: str) -> None:
        """Durable atomic publish (`commit.publish_durable`)."""
        publish_durable(path, lambda fh: np.savez(
            fh, raw=self.raw, tgt=self.tgt, salt=np.array(self.salt),
            last_batch_id=self.last_batch_id,
        ))

    @classmethod
    def load(cls, path: str) -> "DSIRState":
        with np.load(path) as z:
            return cls(
                raw=z["raw"].astype(np.int64),
                tgt=z["tgt"].astype(np.int64),
                salt=str(z["salt"]),
                last_batch_id=int(z["last_batch_id"]),
            )

    def log_ratio_table(self, spark) -> DataFrame:
        """The FULL n_buckets-row (bucket, lr) table, computed with the
        SAME Spark expressions as the batch path (long+1 / long+m
        double division under F.log) — driver numpy would risk last-ulp
        libm drift against the JVM and flip the 4-decimal rounding.

        ALL buckets are emitted, including never-seen ones (their ratio
        is the pure smoothing term log((tr+m)/(tt+m))): the streaming
        contract scores corpora that may contain features the folded LM
        never saw, and a seen-only table would silently drop those
        features from n_feats and the weight sum (r12 review)."""
        m = len(self.raw)
        rows = [
            (int(b), int(self.raw[b]), int(self.tgt[b])) for b in range(m)
        ]
        lm = local_rows_df(spark, 
            rows, "bucket bigint, raw_n bigint, tgt_n bigint"
        )
        tr, tt = int(self.raw.sum()), int(self.tgt.sum())
        return lm.select(
            "bucket",
            (
                F.log((F.col("tgt_n") + 1) / F.lit(tt + m))
                - F.log((F.col("raw_n") + 1) / F.lit(tr + m))
            ).alias("lr"),
        )

    def score(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Score `docs` against the accumulated LM — shared feature
        stream and scoring tail with the batch path, so a state folded
        over the whole corpus reproduces dsir_log_weights exactly; docs
        with features the LM never saw score them under the smoothing
        term (never silently dropped). Uses the state's own salt."""
        feats = dsir_feature_stream(
            docs, F.lit(False), text_col, id_col, len(self.raw), self.salt
        )
        return dsir_score_stream(
            feats, self.log_ratio_table(docs.sparkSession), id_col
        )


def apply_dsir_batch(
    state_path: str,
    batch_df: DataFrame,
    batch_id: int,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    salt: str = DSIR_SALT,
) -> DSIRState:
    """foreachBatch body: fold one micro-batch's bucket counts into the
    persisted LM (replay-idempotent via the batch-id watermark).
    Returns the state after the fold."""
    import os

    state = (
        DSIRState.load(state_path) if os.path.exists(state_path) else None
    )
    if state is not None and batch_id <= state.last_batch_id:
        return state  # retried/replayed batch — already counted
    delta = DSIRState.of(
        batch_df, target_pred, text_col, id_col, n_buckets, salt
    )  # merge() rejects a salt/bucket mismatch with the persisted state
    merged = delta if state is None else state.merge(delta)
    merged.last_batch_id = batch_id
    merged.save(state_path)
    return merged


def start_dsir_lm(
    stream_df: DataFrame,
    target_pred: Column,
    state_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    salt: str = DSIR_SALT,
    trigger_once: bool = False,
):
    """Structured-Streaming wiring: accumulate the DSIR LM over an
    ingest stream. Weights against everything-ingested-so-far are
    `DSIRState.load(state_path).score(corpus)` at any time — no rescan
    of history, exactly-once under retries (batch-id watermark)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_dsir_batch(
            state_path, batch_df, batch_id, target_pred,
            text_col, id_col, n_buckets, salt,
        )

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
