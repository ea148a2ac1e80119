"""CDC roll-forward shared by every served index family.

`VectorStore.changes_since` emits one row per event: the id, the vector
(null on a delete), `change_type` in {'upsert', 'delete'} and a monotone
`write_version`. Every family (IVF, IVF+PQ, LSH, graph) rolls forward from
that feed with the same steps — keep the latest event per id, retire the
ids the feed touches, re-enter the upserts — and differs only in how an
upsert re-enters (cluster assignment, PQ encoding, re-hashing, routing to
a flat tail). `latest_per_key` is the window; `PendingTail` is the rest.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlvectordb_spark.functions.vector import id_in

_UPSERT = "__upsert"
_RETIRED = "__retired"


def latest_per_key(df: DataFrame, keys: Sequence[str], *order: Column) -> DataFrame:
    """The first row per `keys` under `order` — pass descending version
    columns for latest-event-wins."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


class PendingTail:
    """The roll-forward policy of one served index.

    - Latest event wins: the feed collapses to one event per id, highest
      `write_version` first; an id whose latest event is a delete leaves
      the index, an upserted id leaves and re-enters with its new vector.
    - One materializing action per sync: the deduped events and the feed
      built from them (re-entered upserts ∪ delete ids) are lazy
      localCheckpoints, both materialized by the stats aggregate in
      `absorb`, which yields the counts and any family statistics.
    - Retire without a job: the stats job also returns the ids of the
      first `INLINE_IDS` + 1 deduped events of the first partition. When
      that covers the whole feed, the retire step is an SQL-text
      `NOT IN` list on the driver, so a read of the index launches no
      broadcast job. Larger feeds anti-join the feed's ids, broadcast up
      to `BROADCAST_FEED_ROWS`; a catch-up or resync feed above that
      takes the AQE-sized join.
    - Fold rule: each sync appends one anti-join + union to the index
      plan, so per-sync cost is O(feed), not O(index). The chain is
      localCheckpointed once `FOLD_SYNCS` syncs or `FOLD_SHARE` of the
      index (floored at `FOLD_FLOOR_ROWS`) in tail rows accumulate; a
      resync-sized feed folds at once.
    - After `apply_changes` the index plan references only checkpointed
      data and its own prior state, never the store's files, so
      compaction can rewrite them at any time.
    """

    INLINE_IDS = 1024
    BROADCAST_FEED_ROWS = 2_000_000
    FOLD_SYNCS = 8
    FOLD_SHARE = 0.2
    FOLD_FLOOR_ROWS = 1024

    def __init__(self) -> None:
        self.syncs = 0
        self.rows = 0
        self.last_upserts = 0
        self.last_events = 0
        self.retired_ids: list | None = None

    def absorb(
        self,
        changes: DataFrame,
        id_col: str,
        enter: Callable[[DataFrame], DataFrame],
        keys: Sequence[str] = (),
        aggs: Sequence[Column] = (),
    ) -> tuple[DataFrame, list]:
        """Collapse `changes`, pass the upserts through the family's
        `enter` step and materialize the feed with one aggregate grouped by
        `keys` (plus `aggs`). Returns the feed and the upsert stats rows."""
        latest = latest_per_key(
            changes, [id_col], F.col("write_version").desc()
        ).localCheckpoint(eager=False)
        kind = F.col("change_type")
        ups = enter(
            latest.filter(kind == "upsert").drop("change_type", "write_version")
        )
        dels = latest.filter(kind == "delete").select(id_col)
        feed = ups.withColumn(_UPSERT, F.lit(True)).unionByName(
            dels.withColumn(_UPSERT, F.lit(False)), allowMissingColumns=True
        ).localCheckpoint(eager=False)
        # the retired-id branch reads the first partition's leading rows
        # only (monotonically_increasing_id is the row number there), so it
        # returns at most INLINE_IDS + 1 ids; it is the whole feed exactly
        # when that count equals the event count
        inline = latest.filter(
            F.monotonically_increasing_id() <= self.INLINE_IDS
        ).select(F.col(id_col).alias(_RETIRED))
        rows = (
            feed.groupBy(_UPSERT, *keys)
            .agg(F.count(F.lit(1)).alias("n"), *aggs)
            .unionByName(inline, allowMissingColumns=True)
            .collect()
        )
        stats = [r for r in rows if r[_UPSERT] is not None]
        retired = [r[_RETIRED] for r in rows if r[_UPSERT] is None]
        up_rows = [r for r in stats if r[_UPSERT]]
        self.last_upserts = sum(int(r.n) for r in up_rows)
        self.last_events = sum(int(r.n) for r in stats)
        self.retired_ids = (
            retired
            if len(retired) == self.last_events <= self.INLINE_IDS
            and all(isinstance(i, (str, int)) for i in retired)
            else None
        )
        return feed, up_rows

    def retire(self, df: DataFrame, feed: DataFrame, id_col: str) -> DataFrame:
        """`df` without the ids the feed touches."""
        if self.retired_ids is not None:
            return df.filter(id_in(id_col, self.retired_ids, negate=True))
        ids = feed.select(id_col)
        if self.last_events <= self.BROADCAST_FEED_ROWS:
            ids = F.broadcast(ids)
        return df.join(ids, id_col, "left_anti")

    @staticmethod
    def entering(feed: DataFrame) -> DataFrame:
        """The feed's re-entered upserts."""
        return feed.filter(F.col(_UPSERT)).drop(_UPSERT)

    def roll(self, df: DataFrame, feed: DataFrame, id_col: str) -> DataFrame:
        """Retire the feed's ids from `df` and union its upserts."""
        return self.retire(df, feed, id_col).unionByName(
            self.entering(feed).select(*df.columns)
        )

    def fold(self, base_rows: int, *dfs: DataFrame | None) -> tuple:
        """Count this sync toward the fold rule; localCheckpoint `dfs` when
        it fires. `base_rows` is the family's index-size estimate."""
        self.syncs += 1
        self.rows += self.last_upserts
        floor = max(self.FOLD_FLOOR_ROWS, base_rows)
        if self.syncs < self.FOLD_SYNCS and self.rows < self.FOLD_SHARE * floor:
            return dfs
        self.syncs = self.rows = 0
        return tuple(None if df is None else df.localCheckpoint() for df in dfs)
