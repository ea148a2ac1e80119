"""Streaming vector ingest into VectorStore.

The reference's only write path is REST inserts one HTTP call at a time
(`api/rest_api.py:96-161`); the streaming-native equivalent is a
micro-batched ingest: a stream of VectorDTO-shaped records (values +
metadata + namespace) lands in the storage table via foreachBatch.

foreachBatch is the right tool (vs a direct parquet sink) because ingest
needs the store's write semantics: uuid assignment, float casting,
metadata_json derivation, namespace partitioning — and gets exactly-once
per micro-batch through the checkpointed batch id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from mlvectordb_spark.operators.store import VectorStore

INGEST_SCHEMA = T.StructType(
    [
        T.StructField("values", T.ArrayType(T.FloatType()), nullable=False),
        T.StructField(
            "metadata", T.MapType(T.StringType(), T.StringType()), nullable=True
        ),
        T.StructField("namespace", T.StringType(), nullable=False),
    ]
)


def start_vector_ingest(
    stream: DataFrame, store: VectorStore, checkpoint_dir: str, query_name: str
):
    """Attach a DTO stream to a VectorStore. Returns the StreamingQuery.

    Each micro-batch is one distributed append via the store's bulk write
    kernel (`shape_ingest_df` → `insert_df`): uuid() per row executor-side
    (W1/W2 insert semantics — fresh id always), partitioned by namespace.
    `check_dims=False` skips the per-batch aggregation pass — hot-path
    latency beats the redundant check once the namespace dim is set.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.insert_df(batch_df, check_dims=False)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


UPSERT_INGEST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("values", T.ArrayType(T.FloatType()), nullable=True),
        T.StructField("namespace", T.StringType(), nullable=False),
        T.StructField("op", T.StringType(), nullable=False),  # upsert|delete
        # event order within a micro-batch: a batch carrying delete(k) then
        # upsert(k) (a resurrect) must end with k live — without a sequence
        # the batch-apply order (all upserts, then all deletes) would pick
        # delete-wins regardless of stream order.
        T.StructField("seq", T.LongType(), nullable=False),
    ]
)


def apply_mutation_batch(store: VectorStore, batch_df: DataFrame) -> None:
    """Apply one UPSERT_INGEST_SCHEMA micro-batch to the store: only the
    LATEST op per (id, namespace) in stream (`seq`) order applies — so
    delete-then-upsert in one batch resurrects and the reverse deletes,
    matching per-event application. One window over the micro-batch
    (bounded by the trigger interval); `latest` is unique per key, so the
    upsert skips the in-batch collapse. Shared by both ingest loops."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.cdc import latest_per_key

    latest = latest_per_key(batch_df, ["id", "namespace"], F.col("seq").desc())
    ups = latest.filter(F.col("op") == "upsert").select(
        "id", "values", "namespace"
    )
    if ups.limit(1).count():
        store.upsert_df(ups, assume_unique_ids=True)
    dels = latest.filter(F.col("op") == "delete").select("id", "namespace")
    if dels.limit(1).count():
        store.delete_df(dels)


def start_indexed_ingest(
    stream: DataFrame,
    store: VectorStore,
    index,
    checkpoint_dir: str,
    query_name: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    since_version: int | None = None,
):
    """Mutation stream (id + values + op ∈ {upsert, delete}) into the
    store WITH a continuously-fresh serving index: each micro-batch
    applies its upserts/deletes through the store's versioned write paths,
    then rolls the index forward from the store's OWN CDC feed
    (`changes_since` → the index's `apply_changes`) — the index never reads
    the mutation stream directly, so any writer (REST, batch, other
    streams) funnels through the same sync and the index converges on the
    store's truth.

    Replay safety: a replayed batch re-appends the same ids at a higher
    write_version (latest-wins collapses them) and re-applies a feed that
    retires-then-re-adds the same ids in the index — both idempotent in
    the read view. The index family's pending-tail fold
    (`operators/cdc.PendingTail`) bounds its union/anti-join lineage, so a
    long-running stream holds a bounded plan at O(batch) cost per batch.

    Intra-batch order: the stream's `seq` field decides — only the LATEST
    op per (id, namespace) applies, so delete(k) then upsert(k) in one
    micro-batch resurrects k (and the reverse deletes it), matching what
    per-event application would produce.

    Floor safety: routine writes can move the CDC floor past the batch's
    start version — upsert_df retires a tombstone when a deleted id is
    re-upserted, and the 20% auto-compaction trigger fires from both write
    paths. The sync is `VectorStore.catch_up_index` over every namespace,
    the same catch-up `sync_indexes` runs: when the floor has moved, the
    batch falls back to a FULL index resync from the store's current
    state instead of killing the stream — the snapshot-then-delta
    contract a CDC replica follows across VACUUM.

    Convergence across writers: the sync bookmark starts at
    `since_version` (default: the store version when the stream starts —
    the index must be current as of then) and CARRIES FORWARD batch to
    batch as the version each catch-up returns, so events written by
    OTHER writers between micro-batches are picked up by the next batch's
    feed instead of being silently skipped."""
    bookmark = {
        "v": store.current_version() if since_version is None else int(since_version)
    }

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_mutation_batch(store, batch_df)
        bookmark["v"] = store.catch_up_index(
            index, bookmark["v"], vec_col, id_col
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_store_ingest(
    stream: DataFrame, store: VectorStore, checkpoint_dir: str, query_name: str
):
    """Mutation stream (UPSERT_INGEST_SCHEMA) into the store with EVERY
    attached per-namespace serving index kept fresh: each micro-batch
    applies its ops latest-per-key in stream (`seq`) order through the
    store's versioned write paths, then `store.sync_indexes()` rolls all
    attached members forward from the store's own CDC feed — including
    the floor-moved full-resync fallback. The per-namespace composition
    of `start_indexed_ingest`: attach members via
    `VectorStore.attach_index`/`build_index` (e.g. a
    `NamespaceIndexFamily`'s members) and any writer's changes converge
    into every namespace's index."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_mutation_batch(store, batch_df)
        store.sync_indexes()

    return (
        stream.writeStream.foreachBatch(write_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
