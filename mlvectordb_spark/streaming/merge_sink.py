"""Streaming CDC → merged table: `MERGE INTO` as a foreachBatch sink.

The generic-table twin of the store's streaming ingest
(streaming/ingest.py): a change stream (key, payload..., op-order,
optional delete flag) continuously maintained into a parquet table with
ANSI-MERGE semantics per micro-batch. This is the standard lakehouse
CDC-apply pattern (Delta/Iceberg `foreachBatch` + MERGE, public Spark
docs); the reference has no analog (REST-only inserts,
api/rest_api.py:96-161).

Correctness pieces, each load-bearing:

- **In-batch dedup first** (`dedup_source`): a micro-batch can hold many
  changes for one key; MERGE requires at most one source row per target
  row, and latest-`order_col` must win (same semantics as the store's
  seq-field fix, ingest.py:56-66).
- **Delete markers never insert**: `insert_condition=~delete` — a delete
  for a key that never existed is a no-op, not a ghost row.
- **Versioned copy-on-write with optimistic concurrency**: each batch
  stages a new version into a unique `.staging_*` directory (data files
  + schema sidecar + a commit sidecar carrying the batch id), then
  COMMITS it with one atomic `os.rename(staging, vN)` — the rename is
  exclusive, so a version directory either does not exist or is
  complete, and two writers that allocated the same version against the
  same base can never interleave files or silently lose an update: the
  second rename fails with `ConcurrentWriteError` (Delta's commit
  conflict check, on plain parquet). The `_LATEST` pointer is a
  forward-only cache of the newest committed version (it also carries
  the last applied batch id); a writer that finds its version already
  committed repairs a stale pointer forward before raising. The merge
  plan READS the current version while STAGING the next, so there is no
  read-your-own-overwrite conflict. foreachBatch retries are idempotent
  by the batch-id WATERMARK (not version equality — maintenance versions
  from `optimize()` advance the version counter without consuming batch
  ids): a replay of a batch whose pointer already flipped is SKIPPED; a
  replay of one that crashed before the rename re-stages and commits the
  same version; a replay of one that crashed BETWEEN the rename and the
  checkpoint commit finds its own batch id in the commit sidecar and
  returns idempotently.

Scale shape per batch: `merge_into(strategy="broadcast")` — the table is
scanned twice but never shuffled; all shuffles are micro-batch-sized.
With `n_buckets > 0` the WRITE side is bounded too: each version is
hash-bucketed by the merge key (`__bucket` partition directories), the
merge reads and rewrites ONLY the buckets the batch touches (partition
pruning on the scan side), and every untouched bucket directory is
hard-linked forward from the previous version — the file-level
copy-on-write that Delta/Iceberg MERGE does, on plain parquet. Per-batch
cost is O(touched buckets) ≈ O(|batch| × table/buckets), not O(table);
without bucketing a 1-row change to a 100 TB table rewrites 100 TB.
Hard links also make retention cheap: `vacuum()` removes old version
directories without copying the files newer versions still share.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mlvectordb_spark.commit import ConcurrentWriteError, publish, sweep_stale
from mlvectordb_spark.operators.expectations import _FAILED
from mlvectordb_spark.operators.merge import dedup_source, merge_into

_PTR = "_LATEST"
_META = "_TABLE_META"
_BUCKET = "__bucket"
_COMMIT = "_v_commit.json"


def _bucket_expr(keys: list[str], n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


class MergedTable:
    """A parquet table maintained by versioned copy-on-write merges.

    `n_buckets=0` keeps whole-snapshot versions; `n_buckets=B` partitions
    every version by a key-hash bucket so merges rewrite only touched
    buckets (see module docstring). The bucket count is part of the
    on-disk layout, so it is persisted on first write and validated on
    reopen: pruning with a different modulus than the one the data was
    hashed with silently misses existing rows (a merge would then
    re-insert keys it failed to see — duplicate-key corruption). The
    default `n_buckets=None` adopts whatever the table was created with.

    Concurrency contract: any number of concurrent writers (merges,
    `optimize()`, direct `write_version`) may race; exactly one commits
    each version — publishing is an atomic staging-directory rename, so
    the losers raise `ConcurrentWriteError` with the table left exactly
    as the winner published it (optimistic concurrency, the analog of
    Delta's commit conflict check; see `write_version`). Losers clean up
    after themselves (staging dir always; an orphan change recording
    unless the winner recorded its own). Readers are never blocked and
    always see complete versions. The intended steady state is still ONE
    maintaining stream per table — the conflict check is the safety net
    that turns a second writer (or an `optimize()` racing a merge) from
    a silent lost update into an explicit retryable error."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        sort_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        on_disk = self._read_meta()
        disk_buckets = None if on_disk is None else on_disk["n_buckets"]
        if n_buckets is None:
            self.n_buckets = 0 if disk_buckets is None else disk_buckets
        else:
            self.n_buckets = int(n_buckets)
            if disk_buckets is not None and disk_buckets != self.n_buckets:
                raise ValueError(
                    f"table at {path} was created with "
                    f"n_buckets={disk_buckets}; reopening with "
                    f"n_buckets={n_buckets} would prune against the wrong "
                    "modulus (pass n_buckets=None to adopt the on-disk "
                    "value)"
                )
        # sort_cols cluster rows INSIDE each written file so parquet
        # row-group min/max stats can skip on those columns (what the
        # MIN/MAX partial-recompute consumer pushes isin filters on);
        # unlike n_buckets it is a layout preference, not a correctness
        # invariant, so reopening with a different value is allowed and
        # simply applies to future writes
        if sort_cols is None:
            self.sort_cols = [] if on_disk is None else on_disk["sort_cols"]
        else:
            self.sort_cols = list(sort_cols)
        # zorder_cols: MULTI-dimensional within-file clustering — rows in
        # each written file follow the Morton curve over the named
        # columns (operators/layout.py), so row-group min/max stats stay
        # narrow on EVERY z column at once (a plain sort only serves its
        # leading column). Cut points are computed once, on the first
        # write that has data, then FROZEN in the meta so every later
        # merge lands its rows in the same z space (append_layout's
        # contract); like sort_cols this is a layout preference.
        if zorder_cols is None:
            self.zorder_cols = (
                [] if on_disk is None else on_disk["zorder_cols"]
            )
        else:
            self.zorder_cols = list(zorder_cols)
        self.zorder_cuts: dict[str, list[float]] = (
            {} if on_disk is None else on_disk["zorder_cuts"]
        )
        if self.sort_cols and self.zorder_cols:
            # mutually exclusive — but an EXPLICITLY passed preference
            # switches the table away from the adopted on-disk one (the
            # documented reopen-with-a-different-value contract); only
            # passing both at once is a contradiction worth raising on
            if sort_cols is not None and zorder_cols is not None:
                raise ValueError(
                    "sort_cols and zorder_cols are mutually exclusive "
                    "layout preferences (a z-ordered file is already "
                    "sorted — by the interleaved key)"
                )
            if zorder_cols is not None:
                self.sort_cols = []
            else:
                # keep the persisted cuts even while zorder_cols is
                # switched off — they are inert without it, and dropping
                # them would make a later switch BACK re-freeze cuts from
                # one batch instead of the z space the existing files
                # already follow
                self.zorder_cols = []
        # per-object backstop: when a z column has yielded no quantiles
        # yet (all-NULL so far), retry the derivation at most once per
        # table object instead of re-running the quantile action (a full
        # evaluation of the write's plan) on EVERY batch
        self._zcuts_attempted = False

    def _read_meta(self) -> dict | None:
        p = os.path.join(self.path, _META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            meta = json.load(f)
        return {
            "n_buckets": int(meta["n_buckets"]),
            "sort_cols": list(meta.get("sort_cols", [])),
            "zorder_cols": list(meta.get("zorder_cols", [])),
            "zorder_cuts": dict(meta.get("zorder_cuts", {})),
        }

    def _write_meta(self) -> None:
        # rewritten (atomically) whenever the in-memory state differs —
        # e.g. reopening with new sort_cols must persist the preference,
        # or the next default reopen would silently drop the clustering
        p = os.path.join(self.path, _META)
        want = {
            "n_buckets": self.n_buckets,
            "sort_cols": self.sort_cols,
            "zorder_cols": self.zorder_cols,
            "zorder_cuts": self.zorder_cuts,
        }
        if self._read_meta() != want:
            publish(p, json.dumps(want))

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:012d}")

    def _schema_path(self, version: int) -> str:
        return os.path.join(self._vdir(version), "_v_schema.json")

    def _write_schema(self, dirpath: str, df: DataFrame) -> None:
        """Persist the version's logical schema next to its files (written
        into the STAGING directory, so it is part of the atomic commit).
        After a schema evolution the version directory holds MIXED file
        schemas (hard-linked untouched buckets keep the old footer); an
        explicit read schema makes the parquet reader fill the missing
        columns with NULL instead of inferring from whichever footer it
        samples first. The underscore prefix keeps Spark's file discovery
        off it."""
        publish(os.path.join(dirpath, "_v_schema.json"), df.schema.json())

    def _commit_info(self, version: int) -> dict | None:
        """The commit sidecar a committed version carries: its batch id
        (idempotency watermark) and whether the committing writer recorded
        a change feed. None for legacy pre-commit-protocol versions."""
        p = os.path.join(self._vdir(version), _COMMIT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _read_schema(self, version: int):
        p = self._schema_path(version)
        if not os.path.exists(p):
            return None
        from pyspark.sql.types import StructType

        with open(p) as f:
            return StructType.fromJson(json.load(f))

    def _cdir(self, version: int) -> str:
        """Recorded change feed for the (version-1 → version) transition
        (written by apply_merge_batch(record_changes=True)). The leading
        underscore keeps Spark's file discovery from ever mistaking it
        for table data."""
        return os.path.join(self.path, "_changes", f"v{version:012d}")

    def has_recorded_changes(self, version: int) -> bool:
        return os.path.isdir(self._cdir(version))

    def _staged_cdir(self, version: int, token: str) -> str:
        """Per-writer STAGING location for a change recording. Racing
        writers must never write the final `_cdir` concurrently — two
        overwrite-mode Spark writes to one path can interleave into a
        mixed directory — so each writer records under a token-unique
        sibling and the COMMIT WINNER renames its own into place
        (`_activate_recording`). Losers delete their own staged dir and
        nothing else; the winner's feed is untouchable by construction."""
        return self._cdir(version) + f".w-{token}"

    def _activate_recording(
        self, version: int, token: str | None, replay: bool = False
    ) -> None:
        """Move this writer's staged recording to the final `_cdir` —
        called ONLY after winning the commit rename (or on an idempotent
        replay of our own commit), so any directory already at the final
        path is a crashed never-published writer's orphan (non-replay)
        or our own original activation (replay) and is safe to replace
        or keep respectively."""
        if token is None:
            return
        staged = self._staged_cdir(version, token)
        if not os.path.isdir(staged):
            return
        final = self._cdir(version)
        if os.path.isdir(final):
            if replay:
                # the original run activated before crashing — the
                # recomputed staged feed is an equivalent duplicate
                shutil.rmtree(staged, ignore_errors=True)
                return
            shutil.rmtree(final)
        os.rename(staged, final)

    def _published(self) -> tuple[int | None, int | None]:
        """(current version, last applied batch id) from the pointer.
        The pointer carries both so the idempotency guard and the version
        number can diverge — maintenance versions (optimize) advance the
        version WITHOUT consuming a batch id, and decoupling them in one
        atomically-replaced file means a crash can never record a batch
        as applied without its version being published (or vice versa).
        Legacy single-line pointers (version == batch id, the original
        scheme) read back as last_batch_id = version."""
        ptr = os.path.join(self.path, _PTR)
        if not os.path.exists(ptr):
            return None, None
        with open(ptr) as f:
            parts = f.read().split()
        if not parts:
            return None, None
        v = int(parts[0])
        if len(parts) > 1:
            return v, (None if parts[1] == "-" else int(parts[1]))
        return v, v

    def current_version(self) -> int | None:
        return self._published()[0]

    def last_batch_id(self) -> int | None:
        return self._published()[1]

    def df(self, spark: SparkSession | None = None) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        return self.df_at(v, spark)

    def df_at(self, version: int, spark: SparkSession | None = None) -> DataFrame:
        """Read a specific published version (time travel over the
        version directories). The internal bucket column stays internal."""
        out = self._raw_at(version, spark)
        return out.drop(_BUCKET) if self.n_buckets else out

    def _raw_at(self, version: int, spark: SparkSession | None = None) -> DataFrame:
        reader = (spark or self.spark).read
        schema = self._read_schema(version)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._vdir(version))

    def _bucket_dirs(self, version: int) -> dict[int, str]:
        vdir = self._vdir(version)
        out: dict[int, str] = {}
        if not os.path.isdir(vdir):
            return out
        for name in os.listdir(vdir):
            if name.startswith(f"{_BUCKET}="):
                out[int(name.split("=", 1)[1])] = os.path.join(vdir, name)
        return out

    def _zorder_key(self, df: DataFrame):
        """The frozen-cuts Morton key for this table's zorder_cols, or
        None when the (first) frame is empty so no cuts can be derived.
        The one-time quantile pass costs one extra evaluation of the
        first non-empty write's plan; every later merge reuses the
        persisted cuts (append_layout's frozen-cuts contract) so its rows
        land in the same z space as the existing files."""
        from mlvectordb_spark.operators.layout import column_cuts, zorder_key

        if set(self.zorder_cuts) != set(self.zorder_cols):
            if self._zcuts_attempted:
                # a previous NON-EMPTY write found a z column with no
                # derivable quantiles (all-NULL so far) — don't re-pay
                # the quantile action per batch; optimize() re-derives
                # from the full snapshot once data exists
                return None
            if df.isEmpty():
                # nothing to derive from; does not consume the attempt
                return None
            self._zcuts_attempted = True
            cuts = column_cuts(df, self.zorder_cols)
            if any(not qs for qs in cuts.values()):
                return None
            self.zorder_cuts = cuts
            self._write_meta()
        return zorder_key(df, self.zorder_cols, self.zorder_cuts)

    def _write_pointer(self, version: int, batch_id: int | None) -> None:
        bid = "-" if batch_id is None else batch_id
        publish(os.path.join(self.path, _PTR), f"{version} {bid}")

    def _repair_pointer(self, version: int) -> None:
        """Roll the pointer FORWARD to an already-committed version whose
        writer crashed between its commit (the directory rename) and its
        pointer update. A committed directory always appears complete (it
        was fully staged before the atomic rename), so this is always
        safe; the pointer only ever moves forward."""
        cur, last_bid = self._published()
        if cur is not None and version <= cur:
            return
        info = self._commit_info(version)
        bid = last_bid if info is None else info.get("batch_id")
        self._write_pointer(version, bid)

    def write_version(
        self,
        df: DataFrame,
        version: int,
        touched_buckets: list[int] | None = None,
        base_version: int | None = None,
        batch_id: int | None = None,
        recorded: bool = False,
        recorded_token: str | None = None,
    ) -> None:
        """Publish `df` as `version` with optimistic concurrency.

        The files are written into a unique STAGING directory (together
        with the schema and commit sidecars), then committed by one atomic
        `os.rename(staging, vN)` — a version directory therefore either
        does not exist or is complete, and two writers that allocated the
        same version number against the same base can never interleave
        files: the second rename fails and raises ConcurrentWriteError
        (its staging dir is removed). The `_LATEST` pointer is a
        forward-only CACHE of the newest committed version, updated after
        the rename; a writer that finds its version already committed
        repairs a stale pointer forward before raising (or returns
        idempotently when the commit carries its own batch id — the
        crash-between-commit-and-checkpoint replay)."""
        vdir = self._vdir(version)
        # only an EXPLICIT batch id may claim an existing commit as its
        # own replay; maintenance writes carry the watermark forward but
        # a carried watermark naturally equals the racing winner's batch
        # id, which must stay a conflict
        own_bid = batch_id
        if batch_id is None:
            # maintenance writes (optimize, direct write_version) must
            # CARRY the idempotency watermark forward, never reset it
            batch_id = self.last_batch_id()
        if os.path.exists(vdir):
            self._replay_or_conflict(version, own_bid, recorded_token)
            return
        self._write_meta()
        zkey = self._zorder_key(df) if self.zorder_cols else None
        import uuid

        stage = os.path.join(self.path, f".staging_{uuid.uuid4().hex}")
        try:
            if not self.n_buckets:
                if self.sort_cols:
                    df = df.sortWithinPartitions(*self.sort_cols)
                elif zkey is not None:
                    df = df.sortWithinPartitions(zkey)
                df.write.mode("overwrite").parquet(stage)
            else:
                nparts = max(1, len(touched_buckets or []) or self.n_buckets)
                shaped = df.repartition(nparts, F.col(_BUCKET))
                if self.sort_cols:
                    # keep bucket grouping, cluster by sort_cols within it
                    # so each written file's row groups carry tight
                    # min/max stats
                    shaped = shaped.sortWithinPartitions(
                        _BUCKET, *self.sort_cols
                    )
                elif zkey is not None:
                    # same, but along the Morton curve: row groups stay
                    # narrow on every z column at once
                    shaped = shaped.sortWithinPartitions(F.col(_BUCKET), zkey)
                (
                    shaped.write.mode("overwrite")
                    .partitionBy(_BUCKET)
                    .parquet(stage)
                )
                if base_version is not None and touched_buckets is not None:
                    self._link_untouched(
                        base_version, stage, set(touched_buckets)
                    )
                has_bucket_dirs = any(
                    name.startswith(f"{_BUCKET}=")
                    for name in os.listdir(stage)
                )
                if not has_bucket_dirs:
                    # an all-empty bucketed result (e.g. a bootstrap batch
                    # of nothing but delete markers) writes no
                    # schema-bearing part files — partitionBy emits only
                    # _SUCCESS — which would poison every later read with
                    # UNABLE_TO_INFER_SCHEMA. Write the empty frame flat
                    # so the version stays readable; __bucket becomes a
                    # zero-row data column, so pruning filters still
                    # resolve.
                    df.limit(0).write.mode("overwrite").parquet(stage)
            # sidecars INSIDE the staging dir: a committed version implies
            # a readable logical schema and a batch-id watermark
            self._write_schema(stage, df)
            with open(os.path.join(stage, _COMMIT), "w") as f:
                json.dump({"batch_id": batch_id, "recorded": recorded}, f)
            try:
                os.rename(stage, vdir)  # THE commit — atomic, exclusive
            except OSError:
                self._replay_or_conflict(version, own_bid, recorded_token)
                return
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        # the feed goes live between the commit rename and the pointer
        # flip: a reader racing this window sees recorded=true with the
        # dir still absent and falls back to the snapshot diff (correct,
        # just not O(changes)); once the pointer lands the recording is
        # guaranteed in place
        self._activate_recording(version, recorded_token)
        cur = self.current_version()
        if cur is None or version > cur:
            self._write_pointer(version, batch_id)

    def _replay_or_conflict(
        self, version: int, batch_id: int | None, recorded_token: str | None
    ) -> None:
        """The version dir already exists. For an idempotent replay of
        our OWN commit, re-activate the recomputed staged feed BEFORE
        repairing the pointer — in the other order a crash between the
        pointer repair and the activation would publish the version (so
        every later replay short-circuits on the batch-id watermark)
        with its feed permanently stranded in the staged dir. A
        different writer's commit repairs the pointer forward, then
        raises."""
        info = self._commit_info(version)
        if (
            batch_id is not None
            and info is not None
            and info.get("batch_id") == batch_id
        ):
            self._activate_recording(version, recorded_token, replay=True)
            self._repair_pointer(version)
            return
        self._repair_pointer(version)
        raise ConcurrentWriteError(
            f"version {version} of {self.path} was committed by another "
            f"writer (its batch id: "
            f"{None if info is None else info.get('batch_id')}); re-read "
            "the table and retry"
        )

    def _link_untouched(
        self, base_version: int, dst_root: str, touched: set[int]
    ) -> None:
        """Carry every bucket the merge did not touch into the staged new
        version by hard link (same filesystem by construction; copy
        fallback). File basenames are preserved, which is what lets
        `table_changes` prove a bucket unchanged without reading it."""
        for k, sdir in self._bucket_dirs(base_version).items():
            if k in touched:
                continue
            ddir = os.path.join(dst_root, f"{_BUCKET}={k}")
            os.makedirs(ddir, exist_ok=True)
            for fname in os.listdir(sdir):
                dst = os.path.join(ddir, fname)
                if os.path.exists(dst):
                    continue
                try:
                    os.link(os.path.join(sdir, fname), dst)
                except OSError:
                    shutil.copy2(os.path.join(sdir, fname), dst)

    def optimize(self, version: int | None = None) -> int:
        """Rewrite the current snapshot as a NEW published version with a
        fresh physical layout — the OPTIMIZE/compaction maintenance op:
        every bucket is re-packed (one file per bucket) and, for a
        z-ordered table, the frozen cuts are RE-DERIVED from the full
        snapshot first (merge churn slowly makes the original equi-depth
        bins lopsided; this is the cuts-refresh cadence
        operators/layout.py's append_layout contract anticipates). Row
        content is identical, and an EMPTY change recording is written
        for the new version so incremental consumers' recorded/composed
        CDF catch-up keeps working across the boundary (a missing
        recording would force a snapshot diff that, after a full re-pack,
        can prune nothing). Older versions stay time-travelable until
        vacuumed. The version counter advances past the stream's batch
        ids; batch idempotency rides the pointer's last_batch_id
        watermark, so the next micro-batch still applies."""
        cur = self.current_version()
        if cur is None:
            raise ValueError("table has no published versions")
        v = cur + 1 if version is None else int(version)
        if v <= cur:
            raise ValueError(
                f"optimize target version {v} must exceed current {cur}"
            )
        df = self._raw_at(cur)
        old_cuts, old_attempted = dict(self.zorder_cuts), self._zcuts_attempted
        if self.zorder_cols:
            # derive the refreshed cuts BEFORE touching persisted state:
            # a failure mid-derivation leaves the old cuts (and files)
            # intact — there is never a persisted no-cuts window for a
            # later merge to freeze batch-local cuts into
            from mlvectordb_spark.operators.layout import column_cuts

            cuts = column_cuts(df, self.zorder_cols)
            if all(qs for qs in cuts.values()):
                self.zorder_cuts = cuts
                self._zcuts_attempted = False
            else:
                # a z column is still all-NULL: the snapshot can't yield
                # cuts, so don't let write_version immediately re-run the
                # same full-scan quantile action to the same conclusion
                self._zcuts_attempted = True
        # content-identical ⇒ the (cur → v) feed is empty; record it in
        # the table's schema so adjacent and composed consumers read a
        # well-formed zero-row feed instead of falling back to a diff
        import uuid

        token = uuid.uuid4().hex
        (
            df.drop(_BUCKET)
            .limit(0)
            .withColumn("_change_type", F.lit("insert"))
            .write.mode("overwrite")
            .parquet(self._staged_cdir(v, token))
        )
        touched = (
            sorted(self._bucket_dirs(cur)) if self.n_buckets else None
        )
        try:
            self.write_version(
                df, v, touched_buckets=touched, recorded=True,
                recorded_token=token,
            )
        except ConcurrentWriteError:
            # a merge committed v first: abort cleanly — clear our staged
            # empty recording (the winner's feed, if any, lives at the
            # final _cdir and is untouched), and restore the pre-refresh
            # z cuts so later merges keep landing rows in the z space the
            # existing (un-re-packed) files actually follow
            _clear_orphan_recording(self, v, token)
            self.zorder_cuts, self._zcuts_attempted = old_cuts, old_attempted
            self._write_meta()
            raise
        return v

    def versions(self) -> list[int]:
        """Published + on-disk version numbers, ascending."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def history_floor(self) -> int | None:
        """Oldest version still on disk (vacuum moves it up). Change
        feeds and time travel below the floor are gone; consumers
        bookmarked under it must re-bootstrap (the same retention
        contract as the store's CDC history_floor, operators/store.py)."""
        vs = self.versions()
        return vs[0] if vs else None

    def vacuum(self, retain_last: int = 1) -> list[int]:
        """Drop version directories beyond the newest `retain_last`
        published ones (the current version is always kept). Hard-linked
        files shared with retained versions survive — the filesystem
        frees only data no retained version references. Returns the
        removed version numbers."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        cur = self.current_version()
        if cur is None:
            return []
        published = [v for v in self.versions() if v <= cur]
        keep = set(published[-retain_last:]) | {cur}
        removed = []
        for v in published:
            if v not in keep:
                shutil.rmtree(self._vdir(v))
                if self.has_recorded_changes(v):
                    shutil.rmtree(self._cdir(v))
                removed.append(v)
        # stages stranded by writers that crashed before their commit
        # rename: staging dirs, and staged change recordings
        # (_changes/vN.w-<token>)
        sweep_stale(self.path)
        sweep_stale(os.path.join(self.path, "_changes"), ".w-")
        return removed


def _clear_orphan_recording(
    table: MergedTable, version: int, token: str
) -> None:
    """After losing a commit race: remove ONLY this writer's staged
    recording. The final `_cdir` is written exclusively by the commit
    winner's activation rename, so a loser has nothing to adjudicate —
    its own token-unique dir is the whole orphan."""
    staged = table._staged_cdir(version, token)
    if os.path.isdir(staged):
        shutil.rmtree(staged, ignore_errors=True)


def _compose_recorded(
    table: MergedTable, steps: list[int], keys: list[str], preimage: bool
) -> DataFrame:
    """Fold N recorded step feeds into one net (first → last) feed.

    Per key: the net pre-state is the pre-side row (update_preimage /
    delete) of the key's EARLIEST event — absent when that event is an
    insert; the net post-state is the post-side row (update_postimage /
    insert) of its LATEST event — absent when that event is a delete.
    pre-only → delete, post-only → insert, both-and-differing → update,
    both-identical (a round trip back to the original) or neither
    (insert later deleted) → no net change, exactly what the snapshot
    diff would report. One shuffle of the recorded rows on the key;
    min_by/max_by structs, no window sort."""
    # ONE multi-path read (not N reads + a left-deep union chain, which
    # grows plan depth linearly when catching up over many versions);
    # the step version comes back out of the file path
    allf = table.spark.read.option("mergeSchema", "true").parquet(
        *[table._cdir(v) for v in steps]
    ).withColumn(
        "__v",
        F.regexp_extract(F.input_file_name(), r"_changes/v(\d+)/", 1).cast(
            "long"
        ),
    )
    val_cols = [
        c for c in allf.columns if c not in [*keys, "_change_type", "__v"]
    ]
    pre_side = F.col("_change_type").isin("update_preimage", "delete")
    post_side = F.col("_change_type").isin("update_postimage", "insert")
    vals = F.struct(*[F.col(c) for c in val_cols])
    agg = allf.groupBy(*keys).agg(
        F.min("__v").alias("__vmin"),
        F.max("__v").alias("__vmax"),
        F.min_by(vals, F.when(pre_side, F.col("__v"))).alias("__pre"),
        F.min(F.when(pre_side, F.col("__v"))).alias("__pre_v"),
        F.max_by(vals, F.when(post_side, F.col("__v"))).alias("__post"),
        F.max(F.when(post_side, F.col("__v"))).alias("__post_v"),
    )
    # a pre/post side only counts when it belongs to the extreme event:
    # e.g. insert@v1 + update@v2 has a preimage (at v2) but NO net
    # pre-state — the key did not exist before v1
    has_pre = F.col("__pre_v").eqNullSafe(F.col("__vmin"))
    has_post = F.col("__post_v").eqNullSafe(F.col("__vmax"))
    differs = F.lit(False)
    for c in val_cols:
        differs = differs | ~F.col(f"__pre.{c}").eqNullSafe(
            F.col(f"__post.{c}")
        )

    def _row(side: str, ctype: str):
        return F.struct(
            *[F.col(k) for k in keys],
            *[F.col(f"{side}.{c}").alias(c) for c in val_cols],
            F.lit(ctype).alias("_change_type"),
        )

    upd = (
        F.array(_row("__pre", "update_preimage"), _row("__post", "update_postimage"))
        if preimage
        else F.array(_row("__post", "update"))
    )
    variants = (
        F.when(has_pre & ~has_post, F.array(_row("__pre", "delete")))
        .when(~has_pre & has_post, F.array(_row("__post", "insert")))
        .when(has_pre & has_post & differs, upd)
    )
    return agg.select(F.explode(variants).alias("__chg")).select("__chg.*")


def table_changes(
    table: MergedTable,
    from_version: int,
    to_version: int | None = None,
    on: list[str] | str = "id",
    preimage: bool = False,
) -> DataFrame:
    """CDC-OUT: the row-level change feed between two published versions
    (the Delta `table_changes` / change-data-feed analog, public API
    shape). Returns every key whose row differs, with
    `_change_type ∈ {insert, update, delete}` and the to-version's values
    (from-version's values for deletes).

    `preimage=True` switches updates to the Delta CDF two-row form —
    `update_preimage` (old values) + `update_postimage` (new values) —
    which is what subtractive consumers need: incremental aggregate
    maintenance (operators/mv.py) must retract the old contribution
    before adding the new one, and a post-only feed cannot express that.

    Scale shape: one full-outer join of the two version snapshots on the
    key — but for a bucketed table the CoW layout proves most of it away
    first: a bucket whose file basenames are identical in both versions
    is hard-link-shared and cannot differ, so both scans are pruned to
    the buckets whose files diverged. Cost is O(changed buckets), the
    same bound as the merges that produced the delta. (Unbucketed tables
    pay the honest full diff; incremental consumers that need cheaper
    feeds can also tap the merge SOURCE stream, as streaming/ingest.py
    does for the store.) Unchanged rows are dropped before any wide
    projection."""
    keys = [on] if isinstance(on, str) else list(on)
    if to_version is None:
        to_version = table.current_version()
        if to_version is None:
            raise ValueError("table has no published versions")
    cur = table.current_version()
    avail = table.versions()
    missing = [v for v in {from_version, to_version} if v not in avail]
    if missing:
        # the documented history-floor error (retention contract): a
        # consumer bookmarked below what vacuum retained must
        # re-bootstrap, LOUDLY — falling through to the snapshot diff
        # would surface as an opaque missing-path failure deep in a lazy
        # plan (or worse, a later code change could silently rebuild
        # from wrong state)
        raise ValueError(
            f"version(s) {sorted(missing)} of {table.path} are not on "
            f"disk (history floor: {table.history_floor()}): vacuumed or "
            "never published — the change feed below the floor is gone; "
            "re-bootstrap the consumer from the current snapshot"
        )
    published = [v for v in avail if cur is not None and v <= cur]
    # a recording describes the (published-predecessor → to_version)
    # transition. Serve it only when to_version is PUBLISHED and
    # from_version is that exact predecessor: an orphan recording from a
    # merge that crashed before the pointer flip must not surface
    # changes the table never took, and batch-mode version numbering can
    # skip ids (0 then 5), where the adjacent-NUMBER check would both
    # miss the valid (0→5) pair and mislabel (4→5).
    _to_info = table._commit_info(to_version)
    recorded_ok = (
        to_version in published
        # the PAIR: the committing writer declared a recording (sidecar)
        # AND the activated dir exists — a dir alone can be a legacy
        # never-published orphan under a version later committed by a
        # non-recording writer, and must fall through to the diff
        and bool(_to_info and _to_info.get("recorded"))
        and table.has_recorded_changes(to_version)
        and published.index(to_version) > 0
        and published[published.index(to_version) - 1] == from_version
    )
    if recorded_ok:
        # the merge that produced to_version recorded its own feed
        # (batch-sized, derived from the join the merge ran anyway) —
        # serving it reads ZERO table bytes. Recorded form is the
        # preimage form; the post-only shape just drops preimages.
        rec = table.spark.read.parquet(table._cdir(to_version))
        if preimage:
            return rec
        return rec.filter(F.col("_change_type") != "update_preimage").replace(
            "update_postimage", "update", subset=["_change_type"]
        )
    # multi-step composition: when EVERY published step in (from, to] has
    # a recording, fold them key-wise instead of diffing snapshots — a
    # checkpointed consumer catches up over N versions at O(total
    # recorded changes), still zero table bytes
    if from_version in published and to_version in published:
        i0, i1 = published.index(from_version), published.index(to_version)
        steps = published[i0 + 1 : i1 + 1]

        def _step_recorded(v: int) -> bool:
            # BOTH the dir and the commit sidecar's recorded flag: a dir
            # alone can be a legacy never-published orphan under a
            # version later committed by a non-recording writer — the
            # adjacent-feed path above makes the same paired check
            info = table._commit_info(v)
            return bool(info and info.get("recorded")) and (
                table.has_recorded_changes(v)
            )

        if steps and all(_step_recorded(v) for v in steps):
            return _compose_recorded(table, steps, keys, preimage)
    if table.n_buckets:
        o_dirs = table._bucket_dirs(from_version)
        n_dirs = table._bucket_dirs(to_version)
        changed = [
            k
            for k in set(o_dirs) | set(n_dirs)
            if k not in o_dirs
            or k not in n_dirs
            or sorted(os.listdir(o_dirs[k])) != sorted(os.listdir(n_dirs[k]))
        ]
        old = table._raw_at(from_version).filter(
            F.col(_BUCKET).isin(changed)
        ).drop(_BUCKET)
        new = table._raw_at(to_version).filter(
            F.col(_BUCKET).isin(changed)
        ).drop(_BUCKET)
    else:
        old = table.df_at(from_version)
        new = table.df_at(to_version)
    # schema evolution between the versions: a column the old version
    # lacks reads as NULL there — exactly what every pre-evolution row
    # holds in the new version, so unchanged rows still diff as unchanged
    evolved = [
        c for c in new.columns if c not in old.columns
    ]
    if evolved:
        old = old.select(
            "*",
            *[
                F.lit(None).cast(new.schema[c].dataType).alias(c)
                for c in evolved
            ],
        )
    val_cols = [c for c in new.columns if c not in keys]
    cond = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
    o_present = F.col("o.__o_present").isNotNull()
    n_present = F.col("n.__n_present").isNotNull()
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    joined = (
        old.withColumn("__o_present", F.lit(1))
        .alias("o")
        .join(
            new.withColumn("__n_present", F.lit(1)).alias("n"),
            cond,
            "full_outer",
        )
    )
    if preimage:
        # one row per change EXCEPT updates, which explode into the
        # preimage/postimage pair — built as an array of row-structs so
        # the whole feed stays a single pass over the join
        def _row(side: str, ctype: str):
            return F.struct(
                *[F.col(f"{side}.{c}").alias(c) for c in keys + val_cols],
                F.lit(ctype).alias("_change_type"),
            )

        variants = (
            F.when(~o_present, F.array(_row("n", "insert")))
            .when(~n_present, F.array(_row("o", "delete")))
            .when(
                ~same,
                F.array(
                    _row("o", "update_preimage"), _row("n", "update_postimage")
                ),
            )
        )
        return (
            joined.select(F.explode(variants).alias("__chg"))
            .select("__chg.*")
        )
    change = (
        F.when(~o_present, F.lit("insert"))
        .when(~n_present, F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    side = F.when(n_present, F.lit("n")).otherwise(F.lit("o"))
    out_cols = [
        F.when(side == "n", F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
        for c in keys + val_cols
    ]
    return (
        joined.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*out_cols, "_change_type")
    )


def _record_change_feed(
    table: MergedTable,
    src: DataFrame,
    target: DataFrame | None,
    keys: list[str],
    order_col: str,
    delete_col: str | None,
    version: int,
    val_cols: list[str],
    token: str,
) -> None:
    """Derive and persist the (predecessor → version) change feed from
    the SAME source×target join shape the merge runs: matched rows that
    actually change emit preimage/postimage pairs, applied delete markers
    emit deletes with the old values, unmatched non-deletes emit inserts.
    Rows the monotonicity guard rejects and value-identical updates emit
    nothing — exactly the snapshot-diff contract, produced at batch scale
    (one extra pruned target scan; every derived frame is
    micro-batch-sized and cached).

    The feed lands in this writer's token-unique STAGING dir; the commit
    winner's `write_version` renames it into the final `_cdir` — racing
    writers never touch one path concurrently (two overwrite-mode Spark
    writes to the same dir can interleave into a mixed feed, and a loser
    writing after the winner would silently replace the winner's feed
    with changes that never committed — caught by
    tests/test_concurrency.py::test_parallel_os_thread_writers_one_wins)."""
    out_type = F.lit("insert").alias("_change_type")
    if target is None:  # bootstrap: the surviving rows ARE the inserts
        feed = src
        if delete_col is not None:
            feed = feed.filter(~F.col(delete_col))
        feed = feed.select(*keys, *val_cols, out_type)
        feed.write.mode("overwrite").parquet(
            table._staged_cdir(version, token)
        )
        return
    s_cols = [c for c in src.columns if c not in keys]
    s = src.select(*keys, *[F.col(c).alias(f"__s_{c}") for c in s_cols])
    matched = target.join(F.broadcast(s), keys, "inner").persist()
    try:
        newer = F.col(f"__s_{order_col}") > F.col(order_col)
        is_del = (
            F.col(f"__s_{delete_col}")
            if delete_col is not None
            else F.lit(False)
        )
        differs = F.lit(False)
        for c in val_cols:
            differs = differs | ~F.col(c).eqNullSafe(F.col(f"__s_{c}"))
        changed = matched.filter(newer & ~is_del & differs)
        pre = changed.select(
            *keys, *val_cols, F.lit("update_preimage").alias("_change_type")
        )
        post = changed.select(
            *keys,
            *[F.col(f"__s_{c}").alias(c) for c in val_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        dels = matched.filter(newer & is_del).select(
            *keys, *val_cols, F.lit("delete").alias("_change_type")
        )
        ins = src.join(F.broadcast(matched.select(*keys)), keys, "left_anti")
        if delete_col is not None:
            ins = ins.filter(~F.col(delete_col))
        ins = ins.select(*keys, *val_cols, out_type)
        feed = pre.unionByName(post).unionByName(dels).unionByName(ins)
        feed.write.mode("overwrite").parquet(
            table._staged_cdir(version, token)
        )
    finally:
        matched.unpersist()


def apply_merge_batch(
    table: MergedTable,
    batch: DataFrame,
    batch_id: int,
    on: list[str] | str,
    order_col: str,
    delete_col: str | None = None,
    record_changes: bool = False,
    evolve_schema: bool = False,
) -> None:
    """One micro-batch: dedup → MERGE → publish a new version.

    Version numbers are GAPLESS: the bootstrap takes the batch id, every
    later write allocates `current + 1` (see the allocation comment below
    — gapless is what completes the optimistic-concurrency CAS).
    Idempotency rides the pointer's `last_batch_id` watermark, NOT
    version equality — so an optimize between triggers can never make
    the replay guard swallow a real batch. A concurrent writer that
    publishes the contested version first makes this call raise
    `ConcurrentWriteError` (after clearing any orphan feed this writer
    recorded); inside a running stream that fails the query — surfacing
    the external-writer race beats silently losing its update.

    For a bucketed table the target scan is pruned to the batch's touched
    buckets (a bounded `distinct().collect()` over ≤ n_buckets values)
    and `write_version` rewrites only those buckets.

    `evolve_schema=True`: payload columns the batch carries that the
    table lacks are appended to the table schema (Delta automatic schema
    evolution) — existing rows read NULL there via the version's schema
    sidecar, so untouched buckets are still carried forward by hard link,
    never rewritten. Off (default), extra batch columns are ignored.

    `record_changes=True` additionally writes the version's change feed
    (preimage form) under `_changes/` DURING the merge — `table_changes`
    then serves adjacent-version feeds from the recording instead of
    diffing snapshots, so downstream incremental consumers (e.g.
    operators/mv.py) read zero table bytes. The feed is written before
    the version pointer flips: a published version implies a complete
    feed."""
    keys = [on] if isinstance(on, str) else list(on)
    cur, last_bid = table._published()
    if last_bid is not None and batch_id <= last_bid:
        # replay of an already-applied batch (crash landed between the
        # pointer flip and the checkpoint commit): applying it again would
        # overwrite its version dir WHILE the merge plan reads it — skip.
        return
    if not table.n_buckets and batch.isEmpty():
        # bucketed tables skip this pass: the touched-bucket collect below
        # is the same batch scan and its emptiness answers the same
        # question — one pass instead of two per merge (guide §1.2)
        return
    # GAPLESS allocation: always base + 1 (bootstrap takes the batch id,
    # so streams whose ids start at 0/1 keep their familiar numbering).
    # Gapless is what makes the commit rename a complete compare-and-swap
    # on the BASE version: every writer that read base `cur` contends on
    # the same directory name, so one wins and the rest raise — under the
    # old `version = batch_id if batch_id > cur` scheme two racing
    # writers with different batch ids would commit DISJOINT version
    # numbers and silently lose one update. A crash-before-commit replay
    # recomputes the same number (cur is unchanged); a crash-after-commit
    # replay is recognized by its own batch id in the commit sidecar.
    version = batch_id if cur is None else cur + 1
    # NOTE: no pre-clear of an existing final recording here. Under the
    # staged protocol a directory at the final _cdir(version) can only
    # be (a) a COMMITTED winner's activated feed — this writer is about
    # to lose the race and must not touch it — or (b) a legacy
    # (pre-staging) never-published orphan, which is harmless junk:
    # serving requires BOTH the commit sidecar's recorded flag and the
    # dir (table_changes checks the pair per step), so a stale dir is
    # never served and falls to vacuum with its version.
    src = dedup_source(batch, keys, order_col)
    touched: list[int] | None = None
    if table.n_buckets:
        src = src.withColumn(_BUCKET, _bucket_expr(keys, table.n_buckets))
        # touched buckets come from the RAW batch, not the deduped frame:
        # dedup only drops duplicate keys (same bucket), and going through
        # `src` would run its groupBy shuffle an extra time per batch
        touched = sorted(
            r[0]
            for r in batch.select(
                _bucket_expr(keys, table.n_buckets).alias(_BUCKET)
            )
            .distinct()
            .collect()
        )
        if not touched:
            # empty batch (this collect doubles as the isEmpty check —
            # the guard above skips its own pass for bucketed tables)
            return
    payload_cols = [c for c in batch.columns if c != delete_col]
    if table.n_buckets:
        payload_cols = payload_cols + [_BUCKET]
    # foreachBatch hands us a frame owned by the micro-batch's OWN
    # SparkSession; the target must be read through the SAME session or
    # the cross-session join resolves incorrectly
    val_cols = [c for c in payload_cols if c not in keys and c != _BUCKET]
    import uuid

    token = uuid.uuid4().hex if record_changes else None
    if cur is None:
        # bootstrap: the first batch's non-deleted rows ARE the table
        if delete_col is not None:
            first = src.filter(~F.col(delete_col)).select(*payload_cols)
        else:
            first = src.select(*payload_cols)
        if record_changes:
            _record_change_feed(
                table, src, None, keys, order_col, delete_col, version,
                val_cols, token,
            )
        try:
            table.write_version(
                first, version, touched_buckets=touched, batch_id=batch_id,
                recorded=record_changes, recorded_token=token,
            )
        except ConcurrentWriteError:
            if record_changes:
                _clear_orphan_recording(table, version, token)
            raise
        return
    target = table._raw_at(cur, spark=batch.sparkSession)
    new_cols = [
        c for c in val_cols if c not in target.columns
    ]
    if new_cols and not evolve_schema:
        # ANSI behavior: columns the statement never references are
        # ignored — keep the recorded feed consistent with what applies
        val_cols = [c for c in val_cols if c not in new_cols]
    if new_cols and evolve_schema:
        # widen the target through the union schema: the new columns
        # exist as typed NULLs on every pre-existing row, so the merge
        # clauses and the recorded feed need no special cases, and
        # write_version persists the widened schema in the sidecar
        target = target.select(
            "*",
            *[
                F.lit(None).cast(src.schema[c].dataType).alias(c)
                for c in new_cols
            ],
        )
    if table.n_buckets:
        # partition-pruned scan: only the batch's buckets are read
        target = target.filter(F.col(_BUCKET).isin(touched))
    # CDC monotonicity guard: a change only applies over a STRICTLY older
    # row version (s.order > t.order). Micro-batches normally arrive in
    # order, but source replays / equal-mtime file ties can deliver an
    # older batch late — without the guard it would overwrite newer data.
    # (Limitation, documented: an old insert arriving after a newer delete
    # still resurrects the key — full protection needs tombstone retention,
    # which the VectorStore path provides via write_version bookkeeping.)
    newer = F.col(f"s.{order_col}") > F.col(f"t.{order_col}")
    merged = merge_into(
        target,
        src,
        on=keys,
        update_condition=newer,
        delete_condition=(
            (F.col(f"s.{delete_col}") & newer)
            if delete_col is not None
            else None
        ),
        insert_condition=(
            ~F.col(f"s.{delete_col}") if delete_col is not None else None
        ),
        strategy="broadcast",
    )
    if record_changes:
        _record_change_feed(
            table, src, target, keys, order_col, delete_col, version,
            val_cols, token,
        )
    try:
        table.write_version(
            merged,
            version,
            touched_buckets=touched,
            base_version=cur,
            batch_id=batch_id,
            recorded=record_changes,
            recorded_token=token,
        )
    except ConcurrentWriteError:
        # lost the commit race (e.g. an external writer or an optimize()
        # published this version first): clear the staged feed recorded
        # above, then surface the conflict — an explicit retryable error
        # beats a silent lost update
        if record_changes:
            _clear_orphan_recording(table, version, token)
        raise


def start_table_merge(
    changes: DataFrame,
    table: MergedTable,
    on: list[str] | str,
    order_col: str,
    checkpoint_dir: str,
    query_name: str,
    delete_col: str | None = None,
    record_changes: bool = False,
    evolve_schema: bool = False,
    expectations=None,
    quarantine_dir: str | None = None,
    metrics_dir: str | None = None,
    on_version: Callable[[int], None] | None = None,
):
    """Run the CDC stream into the table with availableNow semantics
    (drain everything pending, then stop) — the test/batch-replay mode;
    production drops the trigger for continuous micro-batches.

    `record_changes=True` makes every merge emit its CDF recording;
    `on_version(batch_id)` fires after each version publishes — the hook
    downstream incremental consumers (e.g. a streaming materialized view
    refreshing from the recorded feed, operators/mv.py) attach to.

    `expectations` (operators/expectations.Expectations) gates every
    micro-batch BEFORE the merge — the expect_or_drop ingest pattern:
    violating rows never reach the table; with `quarantine_dir` they are
    appended there (parquet) with their `_failed_rules` and the batch id
    for triage. Use row-level rules here: in-batch duplicate keys are the
    NORMAL shape of a CDC feed (dedup_source resolves them), so a
    unique_on constraint would quarantine legitimate changes. Quarantine
    writes are at-least-once: a crash between the quarantine append and
    the version publish replays both — dedup on (__batch_id, key) when
    consuming (the table itself stays exactly-once via the publish
    guard). `metrics_dir` additionally appends every batch's per-rule
    violation counts (rule, violations, total, __batch_id) — the DQ
    observability trail; same at-least-once caveat, dedup on
    (__batch_id, rule). Under `evolve_schema=True` the QUARANTINE dir
    accumulates mixed file schemas across evolutions (it carries batch
    payloads; the metrics schema is fixed) — read it with
    `load_quarantine`, which null-widens via mergeSchema."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        before, last_bid = table._published()
        already_applied = last_bid is not None and batch_id <= last_bid
        if expectations is not None and not already_applied:
            # already-applied replays skip the gate too — without this
            # the quarantine would re-append on every checkpoint replay.
            # The watermark (not version equality) decides: maintenance
            # versions from optimize() advance the version counter
            # without consuming batch ids.
            ann = expectations.annotate(batch).persist()
            try:
                if metrics_dir is not None:
                    # per-rule counts derived from the PERSISTED annotated
                    # frame's _failed_rules — one cache scan, no predicate
                    # re-evaluation, no FK re-join, no uniqueness shuffle,
                    # and count-for-count agreement with the quarantine
                    (
                        expectations.summary_from_annotated(ann)
                        .withColumn("__batch_id", F.lit(batch_id))
                        .write.mode("append")
                        .parquet(metrics_dir)
                    )
                if quarantine_dir is not None:
                    (
                        ann.filter(F.size(_FAILED) > 0)
                        .withColumn("__batch_id", F.lit(batch_id))
                        .write.mode("append")
                        .parquet(quarantine_dir)
                    )
                clean = ann.filter(F.size(_FAILED) == 0).drop(_FAILED)
                apply_merge_batch(
                    table, clean, batch_id, on, order_col, delete_col,
                    record_changes=record_changes,
                    evolve_schema=evolve_schema,
                )
            finally:
                ann.unpersist()
        else:
            apply_merge_batch(
                table, batch, batch_id, on, order_col, delete_col,
                record_changes=record_changes, evolve_schema=evolve_schema,
            )
        if on_version is not None and table.current_version() != before:
            on_version(batch_id)

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def load_quarantine(spark: SparkSession, quarantine_dir: str) -> DataFrame:
    """Read a gated stream's quarantine with `mergeSchema=true`: under
    schema evolution the appends carry different payload schemas per
    batch generation, and a plain parquet read would infer from one
    sampled footer and silently drop the other generations' columns —
    null-widening is the correct triage view (same reasoning as the
    table's _v_schema.json sidecar, but a reader-side fix suffices here
    because the quarantine is append-only with no hard-linked files)."""
    return spark.read.option("mergeSchema", "true").parquet(quarantine_dir)
