"""VectorStore: the reference's storage + query-processor surface, Spark-first.

Reference operators reproduced (SURVEY.md §2.1/§2.2):
- W1 insert / W2 upsert_many (insert semantics — the reference's "upsert"
  always inserts with a fresh uuid4, `implementations/query_processor.py:22`;
  we additionally provide a TRUE upsert-by-id, which the reference declares
  but never implements — its overwrite test is commented out,
  `tests/test_storage_engine_in_memory.py:46-57`)
- W5 delete-by-ids returning actually-deleted ids
  (`implementations/query_processor.py:51-62`)
- W6 delete_namespace, W7 clear_all (`storage_engine_in_memory.py:57-82`)
- Q1 find_similar: KNN + enrichment (`implementations/query_processor.py:26-49`)
- Q5 read, Q6 order-preserving multi-get (`storage_engine_in_memory.py:39-44`),
  Q7 exists (cross-namespace, `:54-55`), Q8 namespace scan, Q9 count,
  Q10 list_namespaces, Q11 storage_info (`:61-69`)
- P5/P6 tombstone deletes + amortized compaction at 20% garbage
  (`implementations/index.py:80,85-89`)

Physical design (the 100 TB posture):
- One parquet table partitioned by `namespace` — partition pruning IS the
  reference's per-namespace index isolation. Appends are new files inside
  the partition; no read-modify-write on ingest.
- Deletes are tombstones in a side table; the read path anti-joins them
  (broadcast — tombstones are small between compactions). TRUE upserts are
  merge-on-read: append a higher write_version, latest-wins at read (only
  for namespaces marked upsert-dirty — clean read plans carry no window).
  Compaction rewrites only namespaces whose garbage ratio (tombstoned +
  superseded versions) ≥ threshold, mirroring the reference's amortized
  rebuild.
- Nothing collects to the driver except single-row/limit-k results; every
  bulk path is a DataFrame write.
- Store metadata (write version, history floors, per-namespace dims,
  dirty flags and garbage ledger) is one JSON state record per commit,
  published exclusively before the commit's data is written (see the
  state log section).

The reference bugs documented in SURVEY.md are deliberately NOT replicated:
per-query metric is honest; compaction is per-namespace (no cross-namespace
index wipe); no 10k capacity ceiling; storage+tombstone writes cannot
silently diverge (tombstone append is the only mutation).
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import uuid
from typing import Any, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from mlvectordb_spark.commit import ConcurrentWriteError, publish
from mlvectordb_spark.functions.localdf import local_rows_df
from mlvectordb_spark.functions.vector import id_in, id_lit, metric_expr
from mlvectordb_spark.operators.cdc import latest_per_key
from mlvectordb_spark.operators.knn import knn, knn_join, top_per_key
from mlvectordb_spark.schema import STORAGE_SCHEMA, VECTOR_SCHEMA

DEFAULT_NAMESPACE = "default"
# the raw stored vector, carried by a cosine-space index next to its
# normalized `values` so the index can answer a read by itself
RAW_VALUES = "raw_values"
REBUILD_THRESHOLD = 0.2  # tombstone ratio triggering compaction (ref index.py:18)
_STATE = "_state"  # the state log's directory under the store path
_HINT = "_LATEST"
# the metadata files stores kept before the state log, migrated on open
_MANIFESTS = (
    "write_version.json", "history_floor.json", "dirty_namespaces.json",
    "dims.json",
)


def metadata_filter(
    df: DataFrame,
    equals: Mapping[str, str] | None = None,
    json_number_ge: Mapping[str, float] | None = None,
) -> DataFrame:
    """Q14 — the declared metadata filter query (reference README:298,
    472-478; storage-side query_by_metadata README:252): equality-AND over
    the flat MapType `metadata` column, plus JSON-path numeric predicates
    over `metadata_json` for nested metadata (SURVEY.md §1.4 keeps both
    representations).

    Pure Catalyst predicates — no UDFs — so Catalyst can push what the
    source supports and fold the rest into the scan filter stage."""
    for k, v in (equals or {}).items():
        df = df.filter(F.col("metadata")[F.lit(k)] == F.lit(str(v)))
    for path, bound in (json_number_ge or {}).items():
        df = df.filter(
            F.get_json_object(F.col("metadata_json"), path).cast("double")
            >= F.lit(float(bound))
        )
    return df


def metadata_json_expr(col):
    """Deterministic flat-map JSON (sorted keys) matching the driver-side
    json.dumps(..., sort_keys=True) for flat string maps — the executor-side
    twin of `_to_rows`'s metadata_json derivation."""
    return F.to_json(
        F.map_from_arrays(
            F.array_sort(F.map_keys(col)),
            F.transform(F.array_sort(F.map_keys(col)), lambda k: col[k]),
        )
    )


def shape_ingest_df(
    df: DataFrame,
    namespace: str | None = None,
    with_ids: bool = False,
    extra_cols: Sequence[str] | None = None,
    keep_metadata_json: bool = False,
) -> DataFrame:
    """Shape an arbitrary DTO DataFrame (`values` array column, optional
    `metadata` map / `namespace` / `id` columns) into the storage schema —
    entirely executor-side: uuid() per row, float casting, metadata_json
    derivation. The shared kernel of the bulk (`insert_df`/`upsert_df`) and
    streaming (`streaming/ingest.py`) write paths.

    `keep_metadata_json=True` carries a precomputed `metadata_json` column
    through verbatim instead of re-deriving it from the flat map — the CDC
    feed carries the primary's exact json.dumps (which a flat-map
    re-derivation cannot reproduce for nested metadata), and a replica
    replaying that feed must not diverge on JSON-path queries. It is
    OPT-IN (only `apply_incremental` uses it): on the normal write paths
    the invariant "metadata_json is derived from metadata" must hold even
    when a caller's frame happens to carry a stale metadata_json column
    (e.g. one read back from `df()` and modified via the map)."""
    if namespace is not None:
        df = df.withColumn("namespace", F.lit(str(namespace)))
    elif "namespace" not in df.columns:
        df = df.withColumn("namespace", F.lit(DEFAULT_NAMESPACE))
    if with_ids:
        if "id" not in df.columns:
            raise ValueError("upsert_df requires an `id` column")
        df = df.withColumn("id", F.col("id").cast("string"))
    else:
        df = df.withColumn("id", F.expr("uuid()"))
    if "metadata" not in df.columns:
        df = df.withColumn("metadata", F.lit(None).cast("map<string,string>"))
    if keep_metadata_json and "metadata_json" in df.columns:
        mj = F.coalesce(F.col("metadata_json").cast("string"), F.lit("{}"))
    else:
        mj = F.when(
            F.col("metadata").isNotNull(), metadata_json_expr(F.col("metadata"))
        ).otherwise(F.lit("{}"))
    return df.select(
        "id",
        "namespace",
        F.transform("values", lambda x: x.cast("float")).alias("values"),
        F.coalesce(
            F.col("metadata").cast("map<string,string>"),
            F.create_map().cast("map<string,string>"),
        ).alias("metadata"),
        mj.alias("metadata_json"),
        *[F.col(c) for c in (extra_cols or [])],
    )


def _matches(ranked: DataFrame) -> list[dict[str, Any]]:
    """Collect a ranked (id, values, metadata, score) frame as the
    serving response."""
    return [
        {
            "id": r.id,
            "values": list(r.values),
            "metadata": dict(r.metadata or {}),
            "score": float(r.score),
        }
        for r in ranked.collect()
    ]


def _probe_rows(df: DataFrame, dead: int) -> DataFrame:
    """Per-id rows of a store-side probe in the shape of the compaction
    stats aggregate (null namespace marks them): `dead` = 1 for a
    tombstone hit, 0 for a stored row."""
    return df.selectExpr(
        "CAST(NULL AS STRING) AS namespace", "id", "0L AS n", "0L AS n_ids",
        f"{int(dead)}L AS dead",
    )


def _empty_state() -> dict:
    return {
        "version": 0,
        "floor": 0,
        "base": {"floor": 0, "written": 0},
        "ns": {},
    }


def _ns_entry(state: dict, namespace: str) -> dict:
    """The namespace's entry of a state record, created on first use."""
    return state["ns"].setdefault(
        namespace,
        {"written": 0, "floor": 0, "dirty": False, "dim": None, "ledger": None},
    )


def _ns_value(state: dict, namespace: str, key: str) -> int:
    """A namespace's `floor` or `written`: its own entry, raised to the
    record's `base`, which bounds every namespace (a write whose
    namespaces are unknown, a migrated store)."""
    return max(state["base"][key], state["ns"].get(namespace, {}).get(key, 0))


def _mint(
    state: dict,
    ledgers: Mapping[str, Sequence[int] | None] | None,
    dims: Mapping[str, int] | None = None,
    dirty: bool = False,
) -> None:
    """Advance `state` by one write version for a write into the keys of
    `ledgers`, each with its new (rows, ids, tombstones) or None when the
    write's delta is unknown. `ledgers=None`: the written namespaces are
    unknown, so every namespace counts as written and loses its ledger."""
    v = state["version"] = state["version"] + 1
    if ledgers is None:
        state["base"]["written"] = v
        for e in state["ns"].values():
            e["ledger"] = None
        ledgers = {}
    for ns, ledger in ledgers.items():
        e = _ns_entry(state, ns)
        e["written"] = v
        e["dirty"] = e["dirty"] or dirty
        e["ledger"] = None if ledger is None else [int(x) for x in ledger]
    for ns, d in (dims or {}).items():
        _ns_entry(state, ns)["dim"] = int(d)


def _plus(
    ledger: Sequence[int] | None, rows: int = 0, ids: int = 0,
    tombstones: int = 0,
) -> tuple[int, int, int] | None:
    """A ledger entry plus one write's delta; unknown (None) stays so."""
    if ledger is None:
        return None
    return ledger[0] + rows, ledger[1] + ids, ledger[2] + tombstones


def _bump_floor(state: dict, namespaces: Iterable[str]) -> None:
    """History below the current version was erased for `namespaces`."""
    state["floor"] = state["version"]
    for ns in namespaces:
        _ns_entry(state, ns)["floor"] = state["version"]


class VectorStore:
    """Namespaced vector storage over a partitioned parquet table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        rebuild_threshold: float = REBUILD_THRESHOLD,
    ) -> None:
        self.spark = spark
        self.path = path
        self.data_path = os.path.join(path, "vectors")
        self.tomb_path = os.path.join(path, "tombstones")
        self.state_path = os.path.join(path, _STATE)
        self.rebuild_threshold = rebuild_threshold
        # per-namespace serving indexes (attach_index): session-scoped
        # routing state, not persisted — an index family persists itself
        # via its own save/load.
        self._serving: dict[str, Any] = {}
        self._serving_synced_at: dict[str, int] = {}
        # reader-plan cache: without it every df()/_raw()/_tombstones()
        # call rebuilds the reader plan — driver-side file listing +
        # analysis per call, ~10 sequential rebuilds per serving probe.
        # Keyed on the head commit (see _cached_plan).
        self._plan_cache: dict[str, DataFrame | None] = {}
        self._plan_cache_at: int | None = None
        os.makedirs(self.state_path, exist_ok=True)
        if self._head_number()[0] == 0:
            self._migrate_manifests()

    # -- state log -----------------------------------------------------------
    # Every piece of store metadata is one JSON state record per commit,
    # `_state/<n>.json`: the write version, the store-wide history floor,
    # and per namespace the last-written version, history floor,
    # upsert-dirty flag, dim and garbage ledger. A commit is published by
    # an exclusive link to the next number, so a writer that read commit n
    # either publishes n + 1 or raises ConcurrentWriteError before it
    # writes any data. `_LATEST` is a forward-only hint, moved after the
    # commit's data is written; readers start at it and probe forward.
    # Commit numbers are not write versions: a compaction commits without
    # minting a version.

    def _commit_path(self, n: int) -> str:
        return os.path.join(self.state_path, f"{n:012d}.json")

    def _head_number(self) -> tuple[int, int]:
        """(newest commit number, hint); 0 before the first commit. A
        missing or damaged hint falls back to the highest commit on
        disk."""
        try:
            with open(
                os.path.join(self.state_path, _HINT), encoding="utf-8"
            ) as fh:
                hint = int(fh.read())
        except (OSError, ValueError):
            hint = -1
        n = hint
        if n < 0 or (n > 0 and not os.path.exists(self._commit_path(n))):
            n = max(
                (
                    int(f[:-5]) for f in os.listdir(self.state_path)
                    if f.endswith(".json") and f[:-5].isdigit()
                ),
                default=0,
            )
        while os.path.exists(self._commit_path(n + 1)):
            n += 1
        return n, hint

    def _head(self) -> tuple[int, dict]:
        """(number, state record) of the newest commit."""
        n = self._head_number()[0]
        if n == 0:
            return 0, _empty_state()
        with open(self._commit_path(n), encoding="utf-8") as fh:
            return n, json.load(fh)

    def _commit(
        self, head: tuple[int, dict], change, write=None
    ) -> tuple[int, dict]:
        """Publish commit `head` + 1: `change` edits a copy of head's
        state, then `write(state)` writes the commit's data, then the
        hint moves. Raises ConcurrentWriteError, before any data is
        written, when another writer published that number first.
        Returns the new head: (number, state)."""
        n, state = head
        state = copy.deepcopy(state)
        change(state)
        text = json.dumps(state, sort_keys=True)
        if not publish(self._commit_path(n + 1), text, exclusive=True):
            raise ConcurrentWriteError(
                f"commit {n + 1} of the store at {self.path} was published "
                "by another writer; re-read the store and retry"
            )
        if write is not None:
            write(state)
        if self._head_number()[1] < n + 1:
            publish(os.path.join(self.state_path, _HINT), str(n + 1))
        return n + 1, state

    def _record(self, change) -> tuple[int, dict]:
        """Commit work that is already done (a swap's floor bump): a lost
        race re-reads the head and retries, since the work stands."""
        while True:
            try:
                return self._commit(self._head(), change)
            except ConcurrentWriteError:
                continue

    def _migrate_manifests(self) -> None:
        """One-shot import of the four JSON manifests older stores kept
        (write version, history floors, dirty set, dims) as commit 1;
        they are removed once it is published."""
        paths = [os.path.join(self.path, f) for f in _MANIFESTS]
        if not any(os.path.exists(p) for p in paths):
            return

        def load(p, default):
            try:
                with open(p, encoding="utf-8") as fh:
                    return type(default)(json.load(fh))
            except (OSError, ValueError, TypeError):
                return default

        version, floors, dirty, dims = (
            load(p, d) for p, d in zip(paths, ({}, {}, [], {}))
        )

        def change(s):
            s["version"] = v = int(version.get("v", 0))
            s["floor"] = floor = int(floors.get("floor", 0))
            # a floor manifest without per-namespace entries bounds every
            # namespace; which namespace the last write touched is unknown
            base = floors.get("base", floor if "ns" not in floors else 0)
            s["base"] = {"floor": int(base), "written": v}
            for ns, f in floors.get("ns", {}).items():
                _ns_entry(s, ns)["floor"] = int(f)
            for ns in dirty:
                _ns_entry(s, ns)["dirty"] = True
            for ns, d in dims.items():
                _ns_entry(s, ns)["dim"] = int(d)

        try:
            self._commit((0, _empty_state()), change)
        except ConcurrentWriteError:
            return  # another object migrated first
        for p in paths:
            if os.path.exists(p):
                os.remove(p)

    # -- read path ----------------------------------------------------------

    def _cached_plan(self, kind: str, builder):
        head, hint = self._head_number()
        if head != hint:
            # the newest commit's data write may still be running: a plan
            # listed now could miss its files
            return builder()
        if head != self._plan_cache_at:
            self._plan_cache = {}
            self._plan_cache_at = head
        if kind not in self._plan_cache:
            self._plan_cache[kind] = builder()
        return self._plan_cache[kind]

    def _raw(self) -> DataFrame | None:
        return self._cached_plan("raw", self._build_raw)

    def _build_raw(self) -> DataFrame | None:
        try:
            return self.spark.read.schema(STORAGE_SCHEMA).parquet(self.data_path)
        except Exception:  # noqa: BLE001 — no data written yet
            return None

    # -- upsert bookkeeping --------------------------------------------------
    # True upserts APPEND a new write_version instead of rewriting the
    # namespace partition (a copy-on-write rewrite would amplify every
    # point upsert into a partition rewrite). The read path collapses to
    # latest-wins — but ONLY for namespaces the state record marks dirty,
    # so read plans for append-only namespaces carry no window.
    # Compaction (the existing 20% trigger) physically collapses versions
    # and clears the mark.

    def _dirty_namespaces(self) -> set[str]:
        return {ns for ns, e in self._head()[1]["ns"].items() if e["dirty"]}

    def _latest_wins(self, raw: DataFrame) -> DataFrame:
        """Collapse multi-version rows to the highest write_version per
        (id, namespace) — applied only to dirty namespaces; clean ones pass
        through without a window in their plan."""
        dirty = sorted(self._dirty_namespaces())
        if not dirty:
            return raw
        is_dirty = F.col("namespace").isin(dirty)
        deduped = latest_per_key(
            raw.filter(is_dirty),
            ["id", "namespace"],
            F.coalesce(F.col("write_version"), F.lit(0)).desc(),
        )
        return raw.filter(~is_dirty).unionByName(deduped)

    def _rewrite_tombstones(self, keep: DataFrame) -> None:
        """Replace the tombstone table with `keep` (a filter of it): write
        a temp dir, then swap it in. Spark cannot overwrite a path it is
        reading."""
        tmp = os.path.join(self.path, ".tomb_tmp")
        keep.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self.tomb_path)
        os.rename(tmp, self.tomb_path)
        self._plan_cache_at = None

    def _retire_tombstones(self, tomb: DataFrame, keys: DataFrame) -> None:
        """Resurrect upserted ids — a tombstone matches every version of
        (id, namespace), so an upsert over a previously-deleted id must
        retire the tombstone or the new version stays invisible. The
        tombstone table is bounded between compactions, so the rewrite is
        metadata-scale. A retirement erases delete events, so the caller
        moves the upserted namespaces' history floors."""
        self._rewrite_tombstones(
            tomb.join(keys, ["id", "namespace"], "left_anti")
        )

    def _drop_namespace_tombstones(self, namespaces: Sequence[str]) -> None:
        tomb = self._tombstones()
        if tomb is not None:
            self._rewrite_tombstones(
                tomb.filter(~F.col("namespace").isin(list(namespaces)))
            )

    def _tombstones(self) -> DataFrame | None:
        return self._cached_plan("tomb", self._build_tombstones)

    def _build_tombstones(self) -> DataFrame | None:
        # write_version stamps the DELETE event for time-travel/CDC
        # (df_as_of / changes_since); files written before tombstone
        # versioning read the column as null ≡ version 0, the same
        # convention as STORAGE_SCHEMA.
        try:
            return self.spark.read.schema(
                "id string, namespace string, write_version long"
            ).parquet(self.tomb_path)
        except Exception:  # noqa: BLE001
            return None

    def df(self) -> DataFrame:
        """The live storage DataFrame: tombstones applied, then latest-wins
        version collapse for namespaces with pending upserts. The
        write_version column is storage-internal and dropped here.

        The composed plan is cached with the reader relations, keyed on
        the head commit (`_cached_plan`): repeated serving reads between
        mutations reuse one analyzed plan instead of re-listing files and
        re-deriving the anti-join/window per call."""
        return self._cached_plan("df", self._build_df)

    def _build_df(self) -> DataFrame:
        raw = self._raw()
        if raw is None:
            return local_rows_df(self.spark, [], VECTOR_SCHEMA)
        tomb = self._tombstones()
        if tomb is not None:
            raw = raw.join(
                F.broadcast(tomb), on=["id", "namespace"], how="left_anti"
            )
        return self._latest_wins(raw).drop("write_version")

    # -- time travel / CDC ---------------------------------------------------
    # Every mutation carries a monotone write_version (rows and
    # tombstones alike), so the store holds an event log for free:
    # state-as-of and changes-since fall out of version-ordered
    # latest-event-wins. History is exact back to a tracked FLOOR — the
    # version at the last event-erasing rewrite (compaction collapses
    # superseded versions and folds tombstones in; an upsert over a deleted
    # id retires its tombstone). Same retention contract as Delta's
    # time travel across VACUUM: reconstructable history is bounded by
    # physical cleanup, and the floor makes the bound explicit instead of
    # silently returning wrong answers.

    def current_version(self) -> int:
        """The store's latest write version (0 = never written)."""
        return self._head()[1]["version"]

    def history_floor(self, namespace: str | None = None) -> int:
        """Oldest version `df_as_of`/`changes_since` can answer exactly —
        for the whole store, or for one namespace. Every event-erasing
        rewrite (compaction, optimize, tombstone retirement,
        delete_namespace) touches named namespaces only, so another
        namespace's history stays exact across it."""
        state = self._head()[1]
        if namespace is None:
            return state["floor"]
        return _ns_value(state, namespace, "floor")

    def _check_floor(self, version: int, namespace: str | None = None) -> None:
        floor = self.history_floor(namespace)
        if version < floor:
            raise ValueError(
                f"history below version {floor} was physically rewritten "
                f"(compaction / tombstone retirement); cannot answer for "
                f"version {version}"
            )

    def df_as_of(self, version: int, namespace: str | None = None) -> DataFrame:
        """The live view as it stood after write `version`: per
        (id, namespace), the latest event at or below `version` wins — a
        row version is visible unless superseded, a tombstone hides the
        id. Raises if `version` predates the history floor — the
        namespace's own floor when `namespace` is given (the view is then
        that namespace only).

        Plan shape: one window over the versioned union — heavier than the
        current-state `df()` (which skips the window for clean namespaces)
        and intended for audit/repro reads, not the serving path."""
        self._check_floor(version, namespace)
        raw = self._raw()
        if raw is None:
            return local_rows_df(self.spark, [], VECTOR_SCHEMA)
        wv = F.coalesce(F.col("write_version"), F.lit(0))
        events = raw.withColumn("__kind", F.lit(1))
        tomb = self._tombstones()
        if tomb is not None:
            events = events.unionByName(
                tomb.select(
                    "id",
                    "namespace",
                    F.lit(None).cast("array<float>").alias("values"),
                    F.lit(None)
                    .cast("map<string,string>")
                    .alias("metadata"),
                    F.lit(None).cast("string").alias("metadata_json"),
                    "write_version",
                    # ties only at legacy version 0: prefer the tombstone,
                    # matching the unversioned read path's anti-join
                    F.lit(0).alias("__kind"),
                )
            )
        if namespace is not None:
            events = events.filter(F.col("namespace") == namespace)
        return (
            latest_per_key(
                events.filter(wv <= version),
                ["id", "namespace"],
                wv.desc(),
                F.col("__kind").asc(),
            )
            .filter(F.col("__kind") == 1)
            .drop("__kind", "write_version")
        )

    def changes_since(
        self, version: int, namespace: str | None = None
    ) -> DataFrame:
        """CDC feed: the events needed to roll a replica of state(version)
        forward to the current state — appended row versions as `upsert`,
        tombstones as `delete`, each stamped with its write_version (apply
        in version order; a later event for the same id supersedes an
        earlier one). Raises if `version` predates the history floor —
        events before it were physically erased, and a replica that old
        must re-sync from a full snapshot instead (the Delta/Iceberg CDC
        contract across VACUUM). With `namespace`, the feed is that
        namespace's events and only its own floor applies."""
        self._check_floor(version, namespace)
        raw = self._raw()
        wv = F.coalesce(F.col("write_version"), F.lit(0))
        ns_only = (
            F.lit(True) if namespace is None
            else F.col("namespace") == namespace
        )
        out = None
        if raw is not None:
            out = raw.filter(ns_only & (wv > version)).select(
                "id",
                "namespace",
                "values",
                "metadata",
                "metadata_json",
                F.lit("upsert").alias("change_type"),
                wv.alias("write_version"),
            )
        tomb = self._tombstones()
        if tomb is not None:
            dels = tomb.filter(ns_only & (wv > version)).select(
                "id",
                "namespace",
                F.lit(None).cast("array<float>").alias("values"),
                F.lit(None).cast("map<string,string>").alias("metadata"),
                F.lit(None).cast("string").alias("metadata_json"),
                F.lit("delete").alias("change_type"),
                wv.alias("write_version"),
            )
            out = dels if out is None else out.unionByName(dels)
        if out is None:
            schema = "id string, namespace string, values array<float>, " \
                "metadata map<string,string>, metadata_json string, " \
                "change_type string, write_version long"
            return local_rows_df(self.spark, [], schema)
        return out

    # -- writes (W1-W4, W8) -------------------------------------------------

    @staticmethod
    def _to_rows(
        dtos: Iterable[Mapping[str, Any]], namespace: str, with_ids: bool
    ) -> list[Row]:
        rows = []
        for d in dtos:
            meta = d.get("metadata") or {}
            rows.append(
                Row(
                    id=str(d["id"]) if with_ids else str(uuid.uuid4()),
                    namespace=namespace,
                    values=[float(x) for x in d["values"]],
                    metadata={str(k): str(v) for k, v in meta.items()},
                    metadata_json=json.dumps(meta, sort_keys=True),
                )
            )
        return rows

    def _check_dims(self, rows: list[Row]) -> None:
        """Per-namespace dimension enforcement (the reference enforces this
        implicitly — hnswlib raises on mismatch, implementations/
        index.py:32-48; SURVEY.md §7 prescribes an explicit check since one
        global ArrayType column can't encode per-namespace dims)."""
        dims: dict[str, int] = {}
        for r in rows:
            d = dims.setdefault(r.namespace, len(r.values))
            if len(r.values) != d:
                raise ValueError(
                    f"dimension mismatch within batch for namespace "
                    f"{r.namespace!r}: {len(r.values)} != {d}"
                )
        for ns, d in dims.items():
            existing = self.dimension(ns)
            if existing is not None and existing != d:
                raise ValueError(
                    f"dimension mismatch for namespace {ns!r}: "
                    f"got {d}, namespace holds {existing}-dim vectors"
                )

    def _write_data(self, df: DataFrame, version: int) -> None:
        """Append `df` to the data table, stamped with `version`."""
        (
            df.withColumn("write_version", F.lit(version))
            .write.mode("append")
            .partitionBy("namespace")
            .parquet(self.data_path)
        )

    def _append(self, rows: list[Row]) -> None:
        """Append one namespace's rows of fresh ids at a fresh version."""
        head = self._head()
        self._check_dims(rows)
        ns, n = rows[0].namespace, len(rows)
        prior = (
            (0, 0, 0) if self._raw() is None else self._ledger_get(ns, head[1])
        )
        self._commit(
            head,
            lambda s: _mint(
                s, {ns: _plus(prior, n, n)}, {ns: len(rows[0].values)}
            ),
            lambda s: self._write_data(
                local_rows_df(self.spark, rows, VECTOR_SCHEMA), s["version"]
            ),
        )

    def insert(
        self,
        values: Sequence[float],
        metadata: Mapping[str, Any] | None = None,
        namespace: str = DEFAULT_NAMESPACE,
    ) -> str:
        """W1: single insert; returns the assigned uuid."""
        rows = self._to_rows(
            [{"values": values, "metadata": metadata}], namespace, with_ids=False
        )
        self._append(rows)
        return rows[0].id

    def upsert_many(
        self,
        dtos: Iterable[Mapping[str, Any]],
        namespace: str = DEFAULT_NAMESPACE,
    ) -> list[str]:
        """W2 with reference semantics: ALWAYS inserts (fresh uuid per DTO —
        `implementations/vector.py:13` assigns uuid4 unconditionally)."""
        rows = self._to_rows(dtos, namespace, with_ids=False)
        if rows:
            self._append(rows)
        return [r.id for r in rows]

    def upsert_by_id(
        self,
        records: Iterable[Mapping[str, Any]],
        namespace: str = DEFAULT_NAMESPACE,
    ) -> list[str]:
        """TRUE upsert keyed on id (declared-but-unimplemented in the
        reference): APPEND the new versions with a monotone write_version
        and let the read path take latest-wins per (id, namespace) — the
        merge-on-read shape (Delta deletion-vector MERGE / Iceberg v2).
        Physical collapse is deferred to the existing 20% compaction
        trigger, which counts superseded versions as garbage — so a point
        upsert costs one small append, not a namespace rewrite.

        A tombstone-based delete of the old version cannot work here:
        tombstones match on (id, namespace), so the anti-join would filter
        the NEW versions too. Instead, upserting an id RETIRES any existing
        tombstone for it (resurrect semantics).

        Bookkeeping is ONE probe job before the append (`_id_probe`): the
        batch's ids the namespace already holds (any version) and its
        tombstone hits. They are the garbage ledger's delta, so the
        compaction decision reads no data; only a namespace without a
        ledger entry adds the stats aggregate, as branches of the same
        job. The append, the dirty mark, a retirement's floor bump and the
        new ledger are one commit. The decision uses the pre-retirement
        tombstone count: at the trigger boundary that can only start a
        compaction earlier — the live view is unchanged and the retirement
        already moved the history floor."""
        last: dict[str, Mapping[str, Any]] = {}
        for rec in records:  # in-batch last-wins, matching MERGE semantics
            last[str(rec["id"])] = rec
        rows = self._to_rows(last.values(), namespace, with_ids=True)
        if not rows:
            return []
        ids = [r.id for r in rows]
        if self._raw() is None:
            self._append(rows)
            return ids
        head = self._head()
        self._check_dims(rows)
        tomb = self._tombstones()
        prior, found = self._probe(namespace, ids, head[1])
        present = {r.id for r in found if not r.dead}
        hits = sum(1 for r in found if r.dead)
        stats = _plus(prior, len(rows), len(rows) - len(present))

        def change(s):
            _mint(
                s, {namespace: _plus(stats, tombstones=-hits)},
                {namespace: len(rows[0].values)}, dirty=True,
            )
            if hits:
                _bump_floor(s, [namespace])

        def write(s):
            self._write_data(
                local_rows_df(self.spark, rows, VECTOR_SCHEMA), s["version"]
            )
            if hits:
                keys = local_rows_df(
                    self.spark, [(i, namespace) for i in ids],
                    "id string, namespace string",
                )
                self._retire_tombstones(tomb, keys)

        _, state = self._commit(head, change, write)
        self._apply_compact_policy({namespace: stats}, state)
        return ids

    def _probe(
        self, namespace: str, ids: Sequence[str], state: dict
    ) -> tuple[tuple[int, int, int], list]:
        """The namespace's ledger entry in `state` and `_id_probe`'s rows,
        in one job: a namespace without an entry seeds it from the stats
        aggregate, as branches of the probe's collect."""
        probe = self._id_probe(namespace, ids)
        prior = self._ledger_get(namespace, state)
        if prior is not None:
            return prior, probe.collect()
        stats, found = self._collect_compact_stats([namespace], probe)
        return stats[namespace], found

    def _id_probe(self, namespace: str, ids: Sequence[str]) -> DataFrame:
        """Which of `ids` the namespace holds, in `_probe_rows` shape: a
        row per stored version (dead = 0) and per tombstone (dead = 1).
        The live view holds an id iff it has a stored row and no
        tombstone. The SQL-text IN list is pushed into both scans; the
        plan has no window and no join, so its collect is one job."""
        in_batch = F.expr(f"namespace = {id_lit(namespace)}") & id_in("id", ids)
        probe = _probe_rows(self._raw().filter(in_batch), dead=0)
        tomb = self._tombstones()
        if tomb is not None:
            probe = probe.unionByName(_probe_rows(tomb.filter(in_batch), dead=1))
        return probe

    # -- DataFrame-native bulk writes (W3/W4 at scale) ----------------------

    def _check_dims_df(
        self, shaped: DataFrame
    ) -> tuple[dict[str, int], dict[str, int]]:
        """Distributed twin of `_check_dims`: ONE aggregation over the batch
        (namespace count is metadata-scale, so the collect is tiny), checked
        against the state record's dims — no per-namespace data scans.
        Returns ({namespace: dim}, {namespace: rows in the batch})."""
        stats = (
            shaped.groupBy("namespace")
            .agg(
                F.count_distinct(F.size("values")).alias("ndim"),
                F.min(F.size("values")).alias("dim"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        store_has_data = self._raw() is not None
        for r in stats:
            if r.ndim > 1:
                raise ValueError(
                    f"dimension mismatch within batch for namespace "
                    f"{r.namespace!r}"
                )
            existing = self.dimension(r.namespace) if store_has_data else None
            if existing is not None and existing != r.dim:
                raise ValueError(
                    f"dimension mismatch for namespace {r.namespace!r}: "
                    f"got {r.dim}, namespace holds {existing}-dim vectors"
                )
        return (
            {r.namespace: r.dim for r in stats},
            {r.namespace: int(r.n) for r in stats},
        )

    def insert_df(
        self,
        df: DataFrame,
        namespace: str | None = None,
        check_dims: bool = True,
    ) -> int | None:
        """W2/W4 bulk ingest, DataFrame-native: one distributed append at a
        fresh write version — shaping (uuid, casts, metadata_json) runs on
        executors; nothing crosses the driver. Returns the inserted count
        (None when `check_dims=False`, which skips the extra aggregation
        pass — the streaming ingest path's choice; the per-namespace row
        counts are then unknown, so the garbage ledger forgets the
        namespaces written)."""
        head = self._head()
        shaped = shape_ingest_df(df, namespace, with_ids=False)
        dims, counts = self._check_dims_df(shaped) if check_dims else ({}, {})
        if check_dims:  # fresh uuids: every row is a new id
            empty = self._raw() is None
            ledgers = {
                ns: _plus(
                    (0, 0, 0) if empty else self._ledger_get(ns, head[1]), n, n
                )
                for ns, n in counts.items()
            }
        else:
            ledgers = None if namespace is None else {str(namespace): None}
        self._commit(
            head, lambda s: _mint(s, ledgers, dims),
            lambda s: self._write_data(shaped, s["version"]),
        )
        return sum(counts.values()) if check_dims else None

    def upsert_df(
        self, df: DataFrame, namespace: str | None = None,
        assume_unique_ids: bool = False,
        order_col: str | None = None,
        keep_metadata_json: bool = False,
        check_dims: bool = True,
    ) -> int | None:
        """TRUE bulk upsert keyed on the `id` column — merge-on-read: ONE
        appending write of the shaped batch stamped with a monotone
        write_version; the read path takes latest-wins for the affected
        namespaces until compaction physically collapses versions. No
        existing byte is rewritten on the write path (a copy-on-write
        rewrite of every affected partition per batch is write
        amplification a 100 TB ingest can't afford); the garbage this
        defers is exactly what the 20% compaction trigger bounds.

        Duplicate ids WITHIN one batch share a single write_version, so
        they are collapsed here before the append; otherwise the
        latest-wins window would pick a nondeterministic winner, and a
        first batch into an empty store would keep both rows visible.
        The collapse is one window shuffle over the
        batch; callers that guarantee unique ids per batch (the common
        bulk-ingest contract) can skip it with `assume_unique_ids=True`.

        Which duplicate wins: pass `order_col` (a column of the INPUT df;
        highest value wins, id-ascending on ties) for a layout-independent
        winner — e.g. a sequence number or event timestamp. Without it the
        collapse falls back to "last row in batch order" via
        `monotonically_increasing_id()`, which is deterministic FOR A GIVEN
        PHYSICAL PLAN but depends on the input's partition layout: the same
        logical batch arriving repartitioned can resolve differently. Batches
        that may carry duplicate ids should supply `order_col`.

        `check_dims=False` skips the pre-write dimension-validation
        aggregation (one whole Spark job on the steady-state serving
        path) and returns None instead of the batch count — the caller
        vouches for the dims, as `insert_df(check_dims=False)` already
        allows. It requires an explicit `namespace` (without the
        validation pass the affected-namespace set for tombstone/
        compaction bookkeeping is otherwise unknowable without another
        job).

        Into an empty store the validation pass's per-namespace counts
        seed the garbage ledger (rows = ids = n). Into existing data the
        batch's overlap with stored ids is a DataFrame join away, so the
        bookkeeping runs the stats aggregate (`_after_upsert`)."""
        if not check_dims and namespace is None:
            raise ValueError(
                "upsert_df(check_dims=False) requires an explicit "
                "namespace (the affected-namespace bookkeeping otherwise "
                "needs the very aggregation pass being skipped)"
            )
        head = self._head()
        shaped = shape_ingest_df(
            df, namespace, with_ids=True,
            extra_cols=[order_col] if order_col else None,
            keep_metadata_json=keep_metadata_json,
        )
        if not assume_unique_ids:
            if order_col:
                order = [F.col(order_col).desc()]
            else:
                order = [F.monotonically_increasing_id().desc()]
            shaped = latest_per_key(shaped, ["namespace", "id"], *order)
        if order_col:
            shaped = shaped.drop(order_col)
        if check_dims:
            dims, counts = self._check_dims_df(shaped)
            affected = list(dims)
        else:
            dims, counts = {}, {}
            affected = [str(namespace)]
        had_data = self._raw() is not None
        if had_data or not check_dims:
            ledgers = {ns: None for ns in affected}
        else:
            ledgers = {ns: (n, n, 0) for ns, n in counts.items()}
        head = self._commit(
            head, lambda s: _mint(s, ledgers, dims, dirty=had_data),
            lambda s: self._write_data(shaped, s["version"]),
        )
        if had_data and affected:
            self._after_upsert(affected, shaped.select("id", "namespace"), head)
        return sum(counts.values()) if check_dims else None

    def _after_upsert(
        self, affected: Sequence[str], keys: DataFrame,
        head: tuple[int, dict],
    ) -> None:
        """Post-write bookkeeping of the bulk upsert over the upserted
        (id, namespace) `keys`: retire any tombstone an upsert resurrects,
        apply the compaction policy.

        The batch's overlap with stored ids is unknown here, so this path
        always runs the stats aggregate, which seeds the ledger; with
        tombstones present, the overlap probe rides it as a union branch —
        ONE collect. Any rewrite (tombstone retirement, compaction)
        happens strictly AFTER the read completes. How many tombstones a
        retirement erased is unknown too, so it records the floor bump
        without a seed; the decision uses the pre-retirement stats, as
        `upsert_by_id` does. `head` is the upsert's own commit."""
        tomb = self._tombstones()
        probe = None
        if tomb is not None:
            probe = _probe_rows(
                tomb.join(keys, ["id", "namespace"], "left_semi").limit(1),
                dead=1,
            )
        stats, hit = self._collect_compact_stats(affected, probe)
        if hit:
            self._retire_tombstones(tomb, keys)
            head = self._record(lambda s: _bump_floor(s, affected))
        else:
            self._seed_ledgers(head, stats)
        self._apply_compact_policy(stats, head[1])

    def delete_df(self, keys: DataFrame) -> int:
        """W5 bulk: tombstone a (id, namespace) key DataFrame. Only keys
        that are currently live are tombstoned (W5's returns-deleted
        contract, kept as a count here). No broadcast hint on the key join —
        a delete batch can be arbitrarily large; AQE picks the strategy.
        The per-namespace split of the count is unknown, so the compaction
        decision runs the stats aggregate, which seeds the ledger."""
        if self._raw() is None:
            return 0
        head = self._head()
        keys = keys.select(
            F.col("id").cast("string").alias("id"), "namespace"
        )
        present = self.df().join(keys, ["id", "namespace"], "left_semi").select(
            "id", "namespace"
        )
        n = present.count()
        if n == 0:
            return 0
        affected = [
            r.namespace for r in keys.select("namespace").distinct().collect()
        ]
        head = self._commit(
            head, lambda s: _mint(s, {ns: None for ns in affected}),
            lambda s: present.withColumn(
                "write_version", F.lit(s["version"])
            ).write.mode("append").parquet(self.tomb_path),
        )
        if affected:
            stats = self._collect_compact_stats(affected)[0]
            self._seed_ledgers(head, stats)
            self._apply_compact_policy(stats, head[1])
        return n

    # -- garbage ledger ------------------------------------------------------
    # The compaction trigger decides on three numbers per namespace: rows,
    # distinct ids and tombstones. Aggregating them is a count_distinct
    # over the whole namespace (several Spark jobs at 6k rows, a full
    # shuffle at 100 TB), which a point write must not pay. So the state
    # record carries them per namespace, every write's commit carries them
    # forward from what its own batch knows, and the aggregate runs only
    # to seed an entry a write with an unknown delta dropped.

    def _ledger_get(
        self, namespace: str, state: dict | None = None
    ) -> tuple[int, int, int] | None:
        """(rows, ids, tombstones) of `namespace` in `state` (default:
        the head's), or None when no exact entry exists."""
        if state is None:
            state = self._head()[1]
        ledger = state["ns"].get(namespace, {}).get("ledger")
        return None if ledger is None else tuple(ledger)

    def _seed_ledgers(
        self, head: tuple[int, dict],
        stats: Mapping[str, tuple[int, int, int]],
    ) -> None:
        """Record the stats aggregate's counts, measured at `head`: after
        a newer commit they may be stale, so a lost race drops them."""

        def change(s):
            for ns, ledger in stats.items():
                _ns_entry(s, ns)["ledger"] = list(ledger)

        try:
            self._commit(head, change)
        except ConcurrentWriteError:
            pass

    def _collect_compact_stats(
        self, ns_list: Sequence[str], probe: DataFrame | None = None
    ) -> tuple[dict[str, tuple[int, int, int]], list]:
        """The stats aggregate that seeds the ledger: ONE
        partition-pruned collect of every listed namespace's rows,
        distinct ids and tombstones — the live-rows and the tombstone
        aggregates as union branches — plus the caller's `probe` rows
        (`_probe_rows` shape) as a further branch of the same job.
        Returns ({namespace: (rows, ids, tombstones)}, probe rows)."""
        in_ns = id_in("namespace", ns_list)
        out = (
            self._raw()
            .filter(in_ns)
            .groupBy("namespace")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("id").alias("n_ids"),
            )
            .selectExpr(
                "namespace", "CAST(NULL AS STRING) AS id", "n", "n_ids",
                "0L AS dead",
            )
        )
        tomb = self._tombstones()
        if tomb is not None:
            out = out.unionByName(
                tomb.filter(in_ns)
                .groupBy("namespace")
                .agg(F.count("*").alias("dead"))
                .selectExpr(
                    "namespace", "CAST(NULL AS STRING) AS id", "0L AS n",
                    "0L AS n_ids", "dead",
                )
            )
        if probe is not None:
            out = out.unionByName(probe)
        stats = {ns: (0, 0, 0) for ns in ns_list}
        found = []
        for r in out.collect():
            if r.namespace is None:
                found.append(r)
            else:
                stats[r.namespace] = _plus(
                    stats[r.namespace], r.n, r.n_ids, r.dead
                )
        return stats, found

    def _apply_compact_policy(
        self, stats: Mapping[str, tuple[int, int, int]], state: dict
    ) -> None:
        """Threshold policy over per-namespace (rows, ids, tombstones):
        garbage = tombstoned rows + superseded versions (rows - distinct
        ids, counted only for namespaces `state` marks upsert-dirty) — so
        merge-on-read debt hits the same 20% threshold that tombstones
        always did."""
        for ns, (rows, ids, tomb) in stats.items():
            dirty = state["ns"].get(ns, {}).get("dirty", False)
            garbage = tomb + ((rows - ids) if dirty else 0)
            if rows and garbage / rows >= self.rebuild_threshold:
                self.compact(ns)

    # -- deletes (W5-W7, P5/P6) --------------------------------------------

    def delete(
        self, ids: Sequence[str], namespace: str = DEFAULT_NAMESPACE
    ) -> list[str]:
        """W5: tombstone ids, returning only ids that actually existed, in
        request order (reference returns deleted ids,
        query_processor.py:53-55). Presence is one `_id_probe` job.
        Triggers per-namespace compaction at the tombstone threshold,
        decided from the garbage ledger (tombstones += the ids
        tombstoned); a namespace without an entry seeds it from the stats
        aggregate, as a branch of the probe's job."""
        ids = [str(i) for i in ids]
        if not ids or self._raw() is None:
            return []
        head = self._head()
        prior, found = self._probe(namespace, ids, head[1])
        live = {r.id for r in found if not r.dead} - {
            r.id for r in found if r.dead
        }
        present = [i for i in dict.fromkeys(ids) if i in live]
        if not present:
            return []
        stats = _plus(prior, tombstones=len(present))
        _, state = self._commit(
            head, lambda s: _mint(s, {namespace: stats}),
            lambda s: local_rows_df(
                self.spark,
                [(i, namespace, s["version"]) for i in present],
                "id string, namespace string, write_version long",
            ).write.mode("append").parquet(self.tomb_path),
        )
        self._apply_compact_policy({namespace: stats}, state)
        return present

    def delete_namespace(self, namespace: str = DEFAULT_NAMESPACE) -> bool:
        """W6: drop a whole namespace = drop its partition directory."""
        part_dir = os.path.join(self.data_path, f"namespace={namespace}")
        existed = os.path.isdir(part_dir)

        def change(s):
            e = _ns_entry(s, namespace)
            e.update(written=s["version"], dirty=False, dim=None, ledger=None)
            if existed:
                _bump_floor(s, [namespace])

        def write(_s):
            if existed:
                shutil.rmtree(part_dir)
            self._drop_namespace_tombstones([namespace])

        self._commit(self._head(), change, write)
        return existed

    def clear_all(self) -> bool:
        """W7: truncate everything."""
        self._truncate()
        return True

    def _truncate(
        self, refill: DataFrame | None = None,
        dims: Mapping[str, int] | None = None,
    ) -> None:
        """Delete both tables and reset the state record — the version
        counter restarts at 0 — then append `refill` unversioned, whose
        namespaces hold `dims`.

        Serving indexes reference the WIPED content and their synced-at
        bookmarks alias post-reset version numbers (a post-reset write
        reaching the old bookmark value would read as fresh) — a
        truncate invalidates every attached index; rebuild/re-attach
        after repopulating (restore_from_backup documents the same)."""
        self._serving.clear()
        self._serving_synced_at.clear()

        def reset(s):
            s.clear()
            s.update(_empty_state())
            for ns, d in (dims or {}).items():
                _ns_entry(s, ns)["dim"] = int(d)

        def write(_s):
            for p in (self.data_path, self.tomb_path):
                if os.path.isdir(p):
                    shutil.rmtree(p)
            if refill is not None:
                refill.write.mode("append").partitionBy("namespace").parquet(
                    self.data_path
                )

        self._commit(self._head(), reset, write)

    def tombstone_ratio(self, namespace: str) -> float:
        """P6 trigger metric: deleted / total for one namespace."""
        raw = self._raw()
        if raw is None:
            return 0.0
        total = raw.filter(F.col("namespace") == namespace).count()
        if total == 0:
            return 0.0
        tomb = self._tombstones()
        dead = (
            0
            if tomb is None
            else tomb.filter(F.col("namespace") == namespace).count()
        )
        return dead / total

    def _swap_partition(self, namespace: str, live: DataFrame) -> None:
        """Replace one namespace partition with `live` (derived from it):
        executors write a temp dir, whose parquet files then move into the
        emptied partition directory — nothing is collected to the driver,
        and Spark cannot overwrite a path it is reading."""
        tmp_dir = os.path.join(self.path, f".rewrite_tmp_{namespace}")
        live.write.mode("overwrite").parquet(tmp_dir)
        part_dir = os.path.join(self.data_path, f"namespace={namespace}")
        if os.path.isdir(part_dir):
            shutil.rmtree(part_dir)
        os.makedirs(part_dir, exist_ok=True)
        for f in os.listdir(tmp_dir):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp_dir, f), os.path.join(part_dir, f))
        shutil.rmtree(tmp_dir)
        self._plan_cache_at = None

    def compact(
        self, namespace: str, exclude_ids: Sequence[str] | None = None
    ) -> None:
        """P6: rewrite ONE namespace partition without its tombstoned rows
        and with superseded upsert versions collapsed to latest-wins (the
        live view IS the deduped view), optionally minus `exclude_ids`.
        Unlike the reference's rebuild (which wipes every namespace's
        index, SURVEY.md §3.3 step 4 — a documented bug), scope is strictly
        the one namespace.

        A distributed rewrite (`_swap_partition`), then the namespace's
        tombstones are dropped, then one commit records it: the dirty
        mark clears and the history floor moves. An exact ledger entry
        carries over as rows = ids = ids - tombstones, tombstones = 0;
        with `exclude_ids` the count of rows removed is unknown and the
        entry is dropped."""
        prior = None if exclude_ids else self._ledger_get(namespace)
        live = self.df().filter(F.col("namespace") == namespace).drop("namespace")
        if exclude_ids:
            live = live.filter(
                id_in("id", [str(i) for i in exclude_ids], negate=True)
            )
        self._swap_partition(namespace, live)
        self._drop_namespace_tombstones([namespace])

        def change(s):
            e = _ns_entry(s, namespace)
            e["dirty"] = False
            if prior is None or e["ledger"] != list(prior):
                e["ledger"] = None  # a write since `prior`: delta unknown
            else:
                e["ledger"] = [prior[1] - prior[2]] * 2 + [0]
            # versions collapsed + tombstones folded: exact history now
            # starts here
            _bump_floor(s, [namespace])

        self._record(change)

    def optimize(
        self, namespace: str | None = None, target_file_bytes: int = 128 << 20
    ) -> dict[str, int]:
        """Small-file compaction (the OPTIMIZE of Delta/Iceberg): streaming
        micro-batches and single-row inserts each append a file, and at
        100 TB ingest rates a namespace accumulates thousands of KB-sized
        files — scan task count explodes and footer reads dominate. Rewrite
        every namespace whose file count exceeds what its bytes need at
        `target_file_bytes` per file, bin-packing into ceil(bytes/target)
        files via one distributed job per namespace. Returns
        {namespace: files_removed}. Tombstones are folded in while we're
        rewriting (same invariant as compact())."""
        roots = (
            [namespace]
            if namespace is not None
            else [
                d.split("=", 1)[1]
                for d in os.listdir(self.data_path)
                if d.startswith("namespace=")
            ]
            if os.path.isdir(self.data_path)
            else []
        )
        rewritten: dict[str, int] = {}
        for ns in roots:
            part_dir = os.path.join(self.data_path, f"namespace={ns}")
            if not os.path.isdir(part_dir):
                continue
            files = [
                os.path.join(part_dir, f)
                for f in os.listdir(part_dir)
                if f.endswith(".parquet")
            ]
            total = sum(os.path.getsize(f) for f in files)
            want = max(1, -(-total // target_file_bytes))  # ceil
            if len(files) <= want:
                continue
            self._swap_partition(ns, (
                self.df()
                .filter(F.col("namespace") == ns)
                .drop("namespace")
                .repartition(int(want))
            ))
            rewritten[ns] = len(files) - want
        if rewritten:
            self._drop_namespace_tombstones(list(rewritten))

            def change(s):
                for ns in rewritten:
                    _ns_entry(s, ns).update(dirty=False, ledger=None)
                # the bin-packed rewrite is a compaction: history floor moves
                _bump_floor(s, rewritten)

            self._record(change)
        return rewritten

    # -- point reads (Q5-Q8) -----------------------------------------------

    def read(self, vector_id: str, namespace: str = DEFAULT_NAMESPACE):
        """Q5: point read; None when missing."""
        rows = (
            self.df()
            .filter(
                (F.col("namespace") == namespace) & (F.col("id") == str(vector_id))
            )
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def read_vectors(
        self, ids: Sequence[str], namespace: str = DEFAULT_NAMESPACE
    ) -> list:
        """Q6: multi-get aligned to request order, None for misses
        (`storage_engine_in_memory.py:42-44`; alignment test `:76-82`).
        Explicit position column + left join + orderBy(pos) — the
        order/None-preserving idiom SURVEY.md flags as easy to get wrong."""
        if not ids:
            return []
        req = local_rows_df(self.spark, 
            [(i, str(v)) for i, v in enumerate(ids)], "pos int, req_id string"
        )
        live = self.df().filter(F.col("namespace") == namespace)
        out = (
            req.join(live, req.req_id == live.id, "left")
            .orderBy("pos")
            .select("pos", "id", "values", "metadata", "metadata_json")
            .collect()
        )
        return [None if r.id is None else r for r in out]

    def build_id_bloom(self, fpp: float = 0.01):
        """Sketch-accelerated membership: a Bloom filter over all live ids.

        At 100 TB, answering "does this id exist?" with a scan per request
        is untenable; a bloom of the id set (a few bits per id, built in one
        distributed pass) answers definite-NO instantly and sends only
        maybe-YES lookups to the scan path (Q7). Rebuild after compaction.
        """
        live = self.df()
        total = max(1, live.count())
        # pyspark 4.x dropped DataFrameStatFunctions.bloomFilter — go via
        # the JVM stat functions directly
        self._id_bloom = live._jdf.stat().bloomFilter("id", total, fpp)
        return self._id_bloom

    def maybe_exists(self, vector_id: str) -> bool:
        """Bloom pre-check: False is definitive, True means 'verify via
        exists()'. Requires build_id_bloom() first."""
        bloom = getattr(self, "_id_bloom", None)
        if bloom is None:
            raise RuntimeError("call build_id_bloom() first")
        return bool(bloom.mightContain(str(vector_id)))

    def exists(self, vector_id: str) -> bool:
        """Q7: cross-namespace existence (reference searches ALL namespaces,
        `storage_engine_in_memory.py:54-55` — no namespace predicate)."""
        return (
            self.df().filter(F.col("id") == str(vector_id)).limit(1).count() > 0
        )

    def get_namespace_vectors(self, namespace: str = DEFAULT_NAMESPACE) -> DataFrame:
        """Q8: full namespace scan (projection + partition pruning)."""
        return (
            self.df()
            .filter(F.col("namespace") == namespace)
            .select("id", "values", "metadata")
        )

    # -- aggregates (Q9-Q11) -----------------------------------------------

    def count(self, namespace: str = DEFAULT_NAMESPACE) -> int:
        """Q9."""
        return self.df().filter(F.col("namespace") == namespace).count()

    def list_namespaces(self) -> list[str]:
        """Q10: namespaces GC'd when emptied (reference
        storage_engine_in_memory.py:49-50) — distinct over live rows."""
        return sorted(
            r.namespace
            for r in self.df().select("namespace").distinct().collect()
        )

    def storage_info(self) -> dict[str, Any]:
        """Q11: the reference's get_storage_info shape
        (`storage_engine_in_memory.py:61-69`): one per-namespace aggregate;
        the total size is summed on the driver."""
        stats = (
            self.df()
            .groupBy("namespace")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.size("values") * 4 + F.length("metadata_json")).alias(
                    "bytes"
                ),
            )
            .collect()
        )
        per_ns = {r.namespace: r.n for r in stats}
        return {
            "storage_type": "parquet",
            "total_vectors": sum(per_ns.values()),
            "storage_size_bytes": sum(int(r.bytes or 0) for r in stats),
            "namespaces": sorted(per_ns),
            "vectors_per_namespace": per_ns,
            "namespace_count": len(per_ns),
        }

    # -- lifecycle extras (Q20-Q24, declared in the reference README) -------

    def iterate_vectors(self, namespace: str | None = None):
        """Q21 (declared StorageEngine.iterate_vectors, README:253): batch
        cursor over storage without materializing it on the driver —
        toLocalIterator streams partition-by-partition."""
        df = self.df()
        if namespace is not None:
            df = df.filter(F.col("namespace") == namespace)
        return df.toLocalIterator()

    def dimension(self, namespace: str = DEFAULT_NAMESPACE) -> int | None:
        """Q24 (declared Index.dimension, README:123): per-namespace dim.
        A state-record hit is metadata-only; the data scan (head of the
        pruned partition, as the reference infers from the first vector,
        implementations/index.py:54) is the fallback for data written
        without a dim (an unchecked bulk insert). A read never commits, so
        it cannot fail a concurrent writer's commit."""
        dim = self._head()[1]["ns"].get(namespace, {}).get("dim")
        if dim is not None:
            return dim
        row = (
            self.df()
            .filter(F.col("namespace") == namespace)
            .select(F.size("values").alias("d"))
            .head()
        )
        return None if row is None else int(row.d)

    def to_json_df(self, namespace: str = DEFAULT_NAMESPACE) -> DataFrame:
        """Q20 (declared Vector.to_dict/from_dict, README:181): row
        serialization as JSON strings — to_json(struct(...))."""
        return (
            self.df()
            .filter(F.col("namespace") == namespace)
            .select(
                F.to_json(
                    F.struct("id", "namespace", "values", "metadata_json")
                ).alias("json")
            )
        )

    def from_json_df(self, json_df: DataFrame, json_col: str = "json") -> int:
        """Q20 from_dict (reference README:181,203-204): ingest rows
        serialized by `to_json_df` back into the store — the deserializing
        half. Id-preserving (MERGE via upsert_df), fully executor-side:
        from_json parse, metadata map reconstruction, then the bulk upsert
        kernel."""
        parsed = json_df.select(
            F.from_json(
                F.col(json_col),
                "id string, namespace string, values array<float>, "
                "metadata_json string",
            ).alias("r")
        ).select(
            "r.id",
            "r.namespace",
            "r.values",
            F.from_json("r.metadata_json", "map<string,string>").alias(
                "metadata"
            ),
        )
        return self.upsert_df(parsed)

    def create_backup(self, backup_path: str) -> int:
        """Q22 (declared create_backup, README:277): snapshot live rows (
        tombstones applied) to a parquet directory; returns row count."""
        live = self.df()
        live.write.mode("overwrite").partitionBy("namespace").parquet(backup_path)
        # explicit schema: an empty backup dir has no footers to infer from
        return self.spark.read.schema(VECTOR_SCHEMA).parquet(backup_path).count()

    def restore_from_backup(self, backup_path: str) -> int:
        """Q22: replace current contents with a backup snapshot — a
        distributed copy (read → partitioned write), never a driver
        materialization.

        Serving indexes DETACH as part of the truncate (`_truncate`):
        restored rows land with a reset version counter and no CDC
        events, so no incremental sync could ever reconcile a pre-restore
        index with the restored state — the only honest options are
        detach (taken here; reads fall back to the exact scan) or a full
        rebuild, which the caller does with build_index/attach_index once
        the restore completes."""
        backup = (
            self.spark.read.schema(VECTOR_SCHEMA)
            .parquet(backup_path)
            .select("id", "namespace", "values", "metadata", "metadata_json")
        )
        # one pass over the backup: the row count to return, and the
        # dims the reset state records, so reads need no dim scan
        stats = backup.groupBy("namespace").agg(
            F.count("*").alias("n"), F.min(F.size("values")).alias("dim")
        ).collect()
        self._truncate(backup, {r.namespace: r.dim for r in stats})
        return sum(r.n for r in stats)

    def history(self) -> DataFrame:
        """Audit view of the event log: one row per write_version with its
        upsert/delete event counts — the DESCRIBE HISTORY of the store
        (derived from the data itself; versions below the history floor
        may be partially collapsed by compaction, which is exactly what
        the floor communicates). Metadata-scale output: |versions| rows
        from two map-side-combined aggregates."""
        wv = F.coalesce(F.col("write_version"), F.lit(0)).alias("version")
        raw = self._raw()
        parts = []
        if raw is not None:
            parts.append(
                raw.groupBy(wv)
                .agg(F.count("*").alias("n_upserts"))
                .withColumn("n_deletes", F.lit(0).cast("bigint"))
            )
        tomb = self._tombstones()
        if tomb is not None:
            parts.append(
                tomb.groupBy(wv)
                .agg(F.count("*").alias("n_deletes"))
                .withColumn("n_upserts", F.lit(0).cast("bigint"))
                .select("version", "n_upserts", "n_deletes")
            )
        if not parts:
            return local_rows_df(self.spark, 
                [], "version long, n_upserts long, n_deletes long"
            )
        out = parts[0].select("version", "n_upserts", "n_deletes")
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            out.groupBy("version")
            .agg(
                F.sum("n_upserts").cast("bigint").alias("n_upserts"),
                F.sum("n_deletes").cast("bigint").alias("n_deletes"),
            )
            .orderBy("version")
        )

    def backup_incremental(self, backup_path: str, since_version: int) -> int:
        """INCREMENTAL backup: persist the CDC feed since `since_version`
        (the events, not a full snapshot — at 100 TB a nightly full copy is
        the thing you can't afford; the delta is proportional to the day's
        churn). Raises below the history floor, like `changes_since`.
        Returns the event count. Restore side: `apply_incremental`."""
        feed = self.changes_since(since_version)
        feed.write.mode("overwrite").parquet(backup_path)
        return self.spark.read.parquet(backup_path).count()

    def apply_incremental(self, backup_path: str) -> int:
        """Apply an incremental backup (a persisted CDC feed) to THIS
        store: latest event per (id, namespace) wins — upserts replay
        through `upsert_df`, deletes through `delete_df` — so a replica
        seeded from a full snapshot converges to the primary's state after
        each delta, and re-applying a delta is idempotent (latest-wins).
        Returns the number of events applied."""
        latest = latest_per_key(
            self.spark.read.parquet(backup_path),
            ["id", "namespace"],
            F.col("write_version").desc(),
        )
        # metadata_json rides along verbatim (shape_ingest_df keeps a
        # precomputed column): re-deriving it from the flat map diverges
        # from the primary's json.dumps for nested metadata, breaking
        # JSON-path queries on the replica. `latest` is unique per
        # (id, namespace) already, so skip the in-batch collapse.
        ups = latest.filter(F.col("change_type") == "upsert").select(
            "id", "namespace", "values", "metadata", "metadata_json"
        )
        if ups.limit(1).count():
            self.upsert_df(ups, assume_unique_ids=True, keep_metadata_json=True)
        dels = latest.filter(F.col("change_type") == "delete").select(
            "id", "namespace"
        )
        if dels.limit(1).count():
            self.delete_df(dels)
        return latest.count()

    # -- serving indexes (Q1 through W8-W11's derived structures) ----------

    def attach_index(
        self,
        namespace: str,
        index: Any,
        vec_col: str = "values",
        id_col: str = "id",
        space: str = "l2",
        as_of_version: int | None = None,
    ) -> None:
        """Attach a serving index to ONE namespace: `find_similar` then
        routes that namespace's reads through `index.search_exact`
        (certified pruning — still exact) instead of a full-namespace
        scan. The reference analog is `QueryProcessor.find_similar`
        delegating to `Index.search`
        (implementations/query_processor.py:26-33); the unit of
        attachment is the namespace, the reference's unit of index
        isolation (implementations/index.py:19,32-48). At 100 TB the
        flagship read must prune, not scan — a saved IVF index partitioned
        by cluster_id turns the probe set into physical partition
        pruning.

        `space` is the index's distance space, fixed at attach like the
        reference's constructor space (`implementations/index.py:18,36`):
        "l2" serves metric="l2" queries; "cosine" means the index was
        built over UNIT-NORMALIZED vectors (hnswlib's cosine-space recipe)
        and serves metric="cosine" queries exactly — ranking by L2 over
        normalized vectors IS ranking by cosine (||q̂−x̂||² = 2−2·cos),
        and the final rank recomputes the true cosine score against the
        raw vectors. Unlike the reference, a query whose metric
        doesn't match the attached space falls back to the honest exact
        scan instead of silently mis-scoring (SURVEY.md fact #2).

        The attached index's `.indexed` plan must NOT lazily reference the
        store's own parquet files (compaction rewrites them): attach a
        SAVED/loaded index or a checkpointed one. `build_index` checkpoints
        automatically and every family's `apply_changes` detaches its feed
        (`operators/cdc.PendingTail`); only a hand-built index derived from
        `store.df()` needs the caller's care. An index whose rows carry
        the store's `metadata` (and, in cosine space, the raw vector as
        `raw_values`) — as `build_index` and every sync and resync supply
        them — answers fresh reads from its own rows; any other index is
        served through the enrichment join (`_serving_route`).

        `as_of_version` is the store version the supplied index actually
        reflects (default: the current version — right when the index was
        just built from current state). Attaching an index built from an
        OLDER snapshot with the honest version makes auto-mode detect the
        gap (and sync_indexes close it via the CDC feed) instead of
        silently serving the stale index as fresh."""
        if space not in ("l2", "cosine"):
            raise ValueError(f"unsupported index space {space!r}")
        cur = self.current_version()
        v = cur if as_of_version is None else int(as_of_version)
        if v > cur:
            raise ValueError(
                f"as_of_version {v} is ahead of the store's current "
                f"version {cur}"
            )
        self._serving[namespace] = (index, vec_col, id_col, space)
        self._serving_synced_at[namespace] = v

    def detach_index(self, namespace: str) -> None:
        self._serving.pop(namespace, None)
        self._serving_synced_at.pop(namespace, None)

    def attached_index(self, namespace: str):
        entry = self._serving.get(namespace)
        return entry[0] if entry is not None else None

    def serving_status(self) -> dict[str, dict[str, Any]]:
        """Public per-namespace serving-index status (the API layer's view
        — keeps the internal entry layout private): index object, its
        space, and the store version it was last synced at."""
        return {
            ns: {
                "index": idx,
                "vec_col": vec_col,
                "id_col": id_col,
                "space": space,
                "synced_at": self._serving_synced_at.get(ns),
            }
            for ns, (idx, vec_col, id_col, space) in self._serving.items()
        }

    @staticmethod
    def _space_vec(space: str):
        """The column expression an index in `space` holds: raw float
        values for l2, unit-normalized doubles (cast back to float) for
        cosine — applied identically at build, CDC sync, resync, and query
        time so the index always sees one consistent representation."""
        from mlvectordb_spark.functions.vector import normalize as _norm

        if space == "cosine":
            return F.transform(_norm(F.col("values")), lambda x: x.cast("float"))
        return F.col("values")

    @staticmethod
    def _payload(space: str) -> dict:
        """The columns the store hands an index next to (id, vector) at
        build, CDC sync and resync, by name: `metadata`, plus the raw
        vector in cosine space (the index vector is normalized there).
        With them the index rows of a fresh index are the namespace's live
        rows, and a read can be answered from the index alone
        (`_serving_route`)."""
        cols = {"metadata": F.col("metadata")}
        if space == "cosine":
            cols[RAW_VALUES] = F.col("values").alias(RAW_VALUES)
        return cols

    def build_index(self, namespace: str, factory=None, space: str = "l2") -> Any:
        """Build an index over the namespace's CURRENT live rows and attach
        it (W8/W10 + attach in one step). Default family: IVF sized at
        ~sqrt(n) clusters, the standard IVF heuristic. `space="cosine"`
        builds over unit-normalized vectors (see attach_index)."""
        from mlvectordb_spark.operators.ann import IVFIndex

        if space not in ("l2", "cosine"):
            raise ValueError(f"unsupported index space {space!r}")
        slice_df = (
            self.df()
            .filter(F.col("namespace") == namespace)
            .select(
                "id", self._space_vec(space).alias("values"),
                *self._payload(space).values(),
            )
        )
        if factory is None:
            n = slice_df.count()
            k = max(1, min(256, int(n ** 0.5)))
            idx = IVFIndex(n_clusters=k)
        else:
            idx = factory()
        idx.build(slice_df, vec_col="values", id_col="id")
        # materialize: the built plan lazily scans the store's parquet
        # files, which the next compaction physically deletes — a served
        # index must not reference store files
        idx.indexed = idx.indexed.localCheckpoint()
        self.attach_index(
            namespace, idx, vec_col="values", id_col="id", space=space
        )
        return idx

    def sync_indexes(self) -> None:
        """Roll every attached index forward from the store's CDC feed, per
        namespace (`catch_up_index`). If the floor moved past a
        namespace's last synced version (compaction erased the events),
        that namespace falls back to a full resync from current state —
        same snapshot-then-delta contract as a CDC replica across
        VACUUM."""
        for ns in list(self._serving):
            self._sync_namespace(ns)

    def _sync_namespace(self, ns: str) -> None:
        """Roll ONE namespace's attached index forward (the unit
        `sync_indexes` loops; `find_similar(sync=True)` calls it for just
        the queried namespace so a serving probe never pays the other
        namespaces' feed checks)."""
        entry = self._serving.get(ns)
        if entry is None:
            return
        index, vec_col, id_col, space = entry
        v0 = self._serving_synced_at.get(ns, 0)
        state = self._head()[1]
        if _ns_value(state, ns, "written") <= v0 <= state["version"]:
            # no write to this namespace, by any writer, since the sync
            self._serving_synced_at[ns] = state["version"]
            return
        self._serving_synced_at[ns] = self.catch_up_index(
            index, v0, vec_col, id_col, namespace=ns, space=space
        )

    def catch_up_index(
        self, index, since: int, vec_col: str, id_col: str,
        namespace: str | None = None, space: str = "l2",
    ) -> int:
        """Roll `index` forward from version `since` to the store's current
        version and return that version, the index's new bookmark. The one
        catch-up protocol behind `sync_indexes` and
        `streaming.ingest.start_indexed_ingest`:

        1. the ceiling `v1` is read before the feed, so an event that
           lands later is above the bookmark and the next catch-up
           applies it (`changes_since` is exclusive of the bookmark);
        2. the feed of `namespace` (every namespace when None) up to `v1`
           goes into `index.apply_changes`;
        3. if the history floor moved past `since` (compaction erased the
           events), the index resyncs from a live snapshot stamped `v1`;
        4. either way the bookmark is `v1`. A snapshot read after `v1` may
           already hold later writes; re-applying them from `v1` is
           idempotent.

        `space` is the index's representation (see `attach_index`)."""
        v1 = self.current_version()
        try:
            feed = self.changes_since(since, namespace)
        except ValueError:
            self._resync_index(namespace, index, vec_col, id_col, space, v1)
            return v1
        index.apply_changes(
            self._index_rows(
                index, feed.filter(F.col("write_version") <= v1),
                vec_col, id_col, space,
            ),
            vec_col=vec_col, id_col=id_col,
        )
        return v1

    def _index_rows(
        self, index, events: DataFrame, vec_col: str, id_col: str,
        space: str,
    ) -> DataFrame:
        """Store events (`changes_since` shape) as the feed of an index
        in `space`, under the index's column names, with the payload
        columns the index holds."""
        held = set(index.indexed.columns)
        return events.select(
            F.col("id").alias(id_col),
            F.when(
                F.col("values").isNotNull(), self._space_vec(space)
            ).alias(vec_col),
            *(c for name, c in self._payload(space).items() if name in held),
            "change_type",
            "write_version",
        )

    def _resync_index(
        self, namespace: str | None, index, vec_col: str, id_col: str,
        space: str, version: int,
    ) -> None:
        """Full resync of `index` from the live rows of `namespace` (every
        namespace when None), every row an upsert stamped `version`,
        through the shared snapshot kernel
        (`ann.resync_index_from_snapshot`)."""
        from mlvectordb_spark.operators.ann import resync_index_from_snapshot

        live = self.df()
        if namespace is not None:
            live = live.filter(F.col("namespace") == namespace)
        snap = self._index_rows(
            index,
            live.select(
                "id", "values", "metadata",
                F.lit("upsert").alias("change_type"),
                F.lit(version).cast("long").alias("write_version"),
            ),
            vec_col, id_col, space,
        )
        resync_index_from_snapshot(index, snap, vec_col, id_col, version)

    # -- search (Q1, Q3, Q4) -----------------------------------------------

    def find_similar(
        self,
        query_values: Sequence[float],
        top_k: int,
        namespace: str = DEFAULT_NAMESPACE,
        metric: str = "cosine",
        metadata_filter: Mapping[str, str] | None = None,
        mode: str = "auto",
        nprobe: int = 4,
        target_recall: float | None = None,
        sync: bool = False,
    ) -> list[dict[str, Any]]:
        """Q1: exact KNN + enrichment. Unlike the reference (which ignores
        the per-query metric — SURVEY.md fact #2), the metric genuinely
        selects the kernel. `metadata_filter` gives the declared hybrid
        query (Q15). top_k clamps naturally via limit (Q3).

        `mode="approx"` is the reference's ACTUAL serving behavior (HNSW
        with ef=50 — recall < 1.0): probe only the `nprobe` nearest
        clusters of the attached index, trading recall for latency.
        Requires an attached index whose space matches the metric; recall
        is measured against the exact path by `recall_at_k`
        (tests/test_ann.py) and the bench recall tail. `target_recall`
        (approx mode only) replaces the raw `nprobe` dial with a quality
        contract: the smallest nprobe whose measured recall@k meets the
        target, from the index's calibration curve — measured lazily on
        first use, persisted with the index (`IVFIndex.save`).

        `mode`: "auto" routes through the namespace's attached index when
        one exists and can serve the query exactly (query metric matches
        the attached space — l2 or cosine — and no metadata filter: the
        index is searched unfiltered), else brute force; "indexed"
        requires the index and raises when it can't serve; "exact"
        always scans. A fresh index answers from its own rows in one
        Spark job; a stale one (explicit modes only) goes through the
        store's enrichment join (`_serving_route`). Indexed serving is still EXACT (certified
        pruning; cosine space ranks by L2 over normalized vectors, an
        exact monotone equivalent), scores rounded to the index's
        4-decimal granularity.

        `sync=True` folds the index maintenance into the read: the
        QUERIED namespace's attached index is rolled forward
        (`_sync_namespace`) before the probe — a state-record check or one
        bounded apply for one namespace, instead of a separate
        `sync_indexes()` call over every attached namespace. Exact-path
        reads always see current data and ignore it."""
        self._check_query_dims(namespace, [("query", query_values)])
        if sync:
            # before routing: the roll-forward can only make the index
            # fresher, and routing does not depend on sync state
            self._sync_namespace(namespace)
        route = self._serving_route(
            namespace, metric, metadata_filter, mode, target_recall
        )
        entry = self._serving.get(namespace)
        if route != "exact":
            dial = None
            if mode == "approx" and target_recall is not None:
                if hasattr(entry[0], "ef_for_recall"):
                    # graph member: its quality dial is ef — same policy
                    # helper as the batch path (_resolve_graph_dial)
                    dial = self._resolve_graph_dial(
                        namespace, top_k, target_recall
                    )
                else:
                    nprobe = self._resolve_nprobe(
                        namespace, top_k, target_recall
                    )
            df = self._indexed_search_df(
                namespace, query_values, top_k,
                nprobe=(
                    nprobe if mode == "approx" and dial is None else None
                ),
                dial=dial,
                cover=route == "cover",
            )
            return _matches(df)
        df = self.df().filter(F.col("namespace") == namespace)
        return self._search_frame(
            df, query_values, top_k, metric, metadata_filter
        )

    def _resolve_graph_dial(
        self, namespace: str, top_k: int, target_recall: float
    ) -> dict:
        """Graph-member counterpart of `_resolve_nprobe`: make sure the
        member's ef→recall calibration curve exists (measured lazily
        once, persisted by save()), then return the knn_join kwargs that
        honor the target — `{'target_recall': t}` when a curve exists
        (knn_join resolves the smallest qualifying ef from it), or the
        exhaustive dials for an EMPTY index (measuring yields no curve;
        exhaustive trivially meets any target). Shared by the
        single-query (`find_similar`) and batch (`find_similar_batch`)
        approx paths, so the calibration contract (k choice,
        empty-index semantics) cannot drift between them."""
        index, vec_col, id_col, _space = self._serving[namespace]
        if getattr(index, "_recall_curve", None) is None:
            index.measure_recall_curve(
                k=max(10, top_k), vec_col=vec_col, id_col=id_col
            )
        if getattr(index, "_recall_curve", None) is None:
            return {"ef": None, "nprobe": None}
        return {"target_recall": target_recall}

    def _resolve_nprobe(
        self, namespace: str, top_k: int, target_recall: float
    ) -> int:
        """Recall-targeted probing (the reference's serving quality class
        — HNSW ef=50 lands ≥0.9 recall@10, implementations/index.py:18,38):
        pick the smallest nprobe whose MEASURED recall@k meets the
        target, from the attached index's calibration curve (measured
        lazily once and persisted by save()). Without this, dialing
        auto→approx for latency silently eats whatever recall the raw
        nprobe happens to give. Shared by the single-query and batch
        approx paths."""
        index, vec_col, id_col, _space = self._serving[namespace]
        curve_fn = getattr(index, "nprobe_for_recall", None)
        if curve_fn is None:
            # graph members never reach here — both serving paths route
            # ef-dialed indexes through _resolve_graph_dial first
            raise ValueError(
                "target_recall through the store requires an index with "
                f"an nprobe recall curve; {type(index).__name__} has none"
            )
        if getattr(index, "_recall_curve", None) is None:
            index.measure_recall_curve(
                k=max(10, top_k), vec_col=vec_col, id_col=id_col
            )
        if getattr(index, "_recall_curve", None) is None:
            # measuring an EMPTY index yields no curve: probe everything
            # (trivially meets any target on nothing)
            return index.n_clusters
        return curve_fn(target_recall)

    def find_similar_batch(
        self,
        queries: Mapping[str, Sequence[float]] | DataFrame,
        top_k: int,
        namespace: str = DEFAULT_NAMESPACE,
        metric: str = "cosine",
        metadata_filter: Mapping[str, str] | None = None,
        mode: str = "auto",
        nprobe: int = 4,
        target_recall: float | None = None,
        sync: bool = False,
    ) -> DataFrame:
        """Q2 through the STORE: per-query exact top-k over one
        namespace, returned as a DataFrame (query_id, id, score, values,
        metadata) — batch results never cross the driver, unlike the
        per-query `find_similar` list (the reference's batch surface is a
        REST loop over single queries, rest_api.py; this is its 100 TB
        shape).

        `queries`: a mapping {query_id: vector} or a DataFrame with
        (query_id, values) columns — bounded by the serving contract
        (query VECTORS drive driver-side probe math, like every batch-KNN
        path here; the reference caps request sizes the same way).

        Routing follows `find_similar` exactly (same freshness rules,
        same mode semantics): when the namespace's attached index can
        serve, the corpus side reads ONLY the union of certified probe
        clusters (`knn_join_exact` — one pruned scan for the whole
        batch) instead of paying |queries| full scans. A fresh index
        answers with its own rows; a stale one (explicit modes) has its
        hits rescored against the STORE's vectors
        (`_indexed_batch_df`). Cosine space selects in normalized-L2
        with the single-path's +32 over-fetch, then final-ranks by true
        cosine. `sync=True` rolls the queried namespace's index forward
        first (see `find_similar`)."""
        if sync:
            self._sync_namespace(namespace)
        if isinstance(queries, DataFrame):
            qrows = [
                (str(r[0]), [float(x) for x in r[1]])
                for r in queries.select("query_id", "values").collect()
            ]
        else:
            qrows = [
                (str(qid), [float(x) for x in vec])
                for qid, vec in queries.items()
            ]
        if not qrows:
            return local_rows_df(self.spark, 
                [], "query_id string, id string, score double, "
                "values array<float>, metadata map<string,string>"
            )
        if len({qid for qid, _ in qrows}) != len(qrows):
            raise ValueError("duplicate query_id in batch")
        self._check_query_dims(
            namespace, [(f"query {qid!r}", vec) for qid, vec in qrows]
        )
        # a metadata filter forces the exact path — the same rule as
        # single-query serving
        route = self._serving_route(
            namespace, metric, metadata_filter, mode, target_recall
        )
        if route != "exact":
            index, vec_col, id_col, space = self._serving[namespace]
            if mode == "approx":
                # approximate BATCH serving: one pruned scan over the
                # union of each query's fixed-nprobe probe sets
                # (IVFIndex/IVFPQIndex.knn_join); target_recall picks the
                # dial from the same persisted calibration curve as the
                # single-query path, so the quality contract holds for
                # the whole batch
                approx_join = getattr(index, "knn_join", None)
                if approx_join is None:
                    raise ValueError(
                        "mode='approx' batch serving requires an index "
                        "with an approximate batch join; "
                        f"{type(index).__name__} has none"
                    )
                import functools

                if target_recall is not None and hasattr(
                    index, "ef_for_recall"
                ):
                    # graph member: its quality dial is ef — one shared
                    # policy with the single-query path
                    batch_join = functools.partial(
                        approx_join,
                        **self._resolve_graph_dial(
                            namespace, top_k, target_recall
                        ),
                    )
                else:
                    if target_recall is not None:
                        nprobe = self._resolve_nprobe(
                            namespace, top_k, target_recall
                        )
                    batch_join = functools.partial(
                        approx_join, nprobe=nprobe
                    )
            else:
                batch_join = getattr(index, "knn_join_exact", None)
            if batch_join is not None:
                return self._indexed_batch_df(
                    batch_join, namespace, qrows, top_k, metric,
                    route == "enrich",
                )
        ns_df = self.df().filter(F.col("namespace") == namespace)
        for mk, mv in (metadata_filter or {}).items():
            ns_df = ns_df.filter(F.col("metadata")[mk] == str(mv))
        # brute-force fallback: ONE broadcast of the bounded query set
        # against the namespace scan (operators/knn.knn_join), then one
        # id-join to re-attach values/metadata
        qdf_raw = local_rows_df(self.spark, 
            qrows, "query_id string, __qvec array<double>"
        )
        hits = knn_join(
            ns_df, qdf_raw, top_k,
            data_vec="values", query_vec="__qvec",
            data_id="id", query_id="query_id", metric=metric,
        )
        return (
            hits.join(ns_df.select("id", "values", "metadata"), "id")
            .select("query_id", "id", "score", "values", "metadata")
        )

    def _indexed_batch_df(
        self, batch_join, namespace: str, qrows: list, top_k: int,
        metric: str, enrich: bool,
    ) -> DataFrame:
        """The indexed batch plan: the index's batch join selects each
        query's top-k with the float64 query — the precision the single
        path selects with. Covering route (`enrich` False): the join's
        rows carry values and metadata, and in l2 space its ranking and
        scores are the answer; cosine space re-ranks the over-fetched
        rows by true cosine on the raw vectors. `enrich` (a stale index):
        the hit ids join back into the store scan, which rescores them
        and drops ids deleted since the sync."""
        _index, vec_col, id_col, space = self._serving[namespace]
        fetch_k = top_k
        qprep = [v for _, v in qrows]
        if space == "cosine":
            import math

            fetch_k = top_k + 32  # see _indexed_search_df
            norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for v in qprep]
            qprep = [[x / n for x in v] for v, n in zip(qprep, norms)]
        qdf = local_rows_df(
            self.spark, list(enumerate(qprep)),
            "__qid long, __qvec array<double>",
        )
        hits = batch_join(
            qdf, fetch_k, query_vec="__qvec", query_id="__qid",
            vec_col=vec_col, id_col=id_col,
        )
        if not enrich and space == "l2":
            # the literal array maps the position back to the caller's
            # query id without a join
            qids = ", ".join(id_lit(qid) for qid, _ in qrows)
            return hits.select(
                F.expr(f"element_at(array({qids}), CAST(__qid AS INT) + 1)")
                .alias("query_id"),
                F.col(id_col).alias("id"), "score",
                F.col(vec_col).alias("values"), "metadata",
            )
        if not enrich:
            cand = hits.select(
                "__qid", F.col(id_col).alias("id"),
                F.col(RAW_VALUES).alias("values"), "metadata",
            )
        else:
            # enrichment: the hit set is ≤ |queries|×fetch_k rows —
            # broadcast it into the namespace scan (the batch analog of
            # the single-path IN-list)
            cand = self.df().filter(F.col("namespace") == namespace).join(
                F.broadcast(hits.select(
                    "__qid", F.col(id_col).cast("string").alias("id")
                )),
                "id",
            )
        qmap = local_rows_df(
            self.spark,
            [(i, qid, v) for i, (qid, v) in enumerate(qrows)],
            "__qid long, query_id string, __qraw array<double>",
        )
        scored = cand.join(F.broadcast(qmap), "__qid").withColumn(
            "score", F.round(metric_expr("values", "__qraw", metric), 4)
        )
        return top_per_key(scored, "query_id", top_k, "id", metric).select(
            "query_id", "id", "score", "values", "metadata"
        )

    def _serving_route(
        self,
        namespace: str,
        metric: str,
        metadata_filter: Mapping[str, str] | None,
        mode: str,
        target_recall: float | None = None,
    ) -> str:
        """The shared serving router of `find_similar` and
        `find_similar_batch`: validate mode/target_recall, then pick the
        read's route.

        - "exact": scan the namespace. Taken by mode="exact", by any read
          the attached index cannot serve (no index, a metric other than
          its space, a metadata filter), and by auto over a stale index.
        - "cover": the index is fresh and carries the store's payload
          (`_payload`), so its rows are the namespace's live rows: the
          index plan ranks, scores and returns whole rows in one collect.
        - "enrich": explicit mode="indexed"/"approx" over a stale index
          (or one without payload) — the index selects, then the
          reference's enrichment join re-reads and rescores the hits from
          the store, dropping ids deleted since the sync.

        Read-your-writes: auto NEVER serves a stale index (call
        sync_indexes() to restore routed serving). Explicit
        mode="indexed"/"approx" serves the index as-synced, raising when
        it cannot serve at all."""
        if mode not in ("auto", "exact", "indexed", "approx"):
            raise ValueError(f"unknown mode {mode!r}")
        if target_recall is not None:
            # a quality contract only the approx dial can honor: every
            # other mode is already exact — silently ignoring the option
            # there would let a caller believe it did something
            if mode != "approx":
                raise ValueError(
                    "target_recall applies only to mode='approx' "
                    f"(got mode={mode!r}; the other modes are exact)"
                )
            if not (0.0 < target_recall <= 1.0):
                raise ValueError(
                    f"target_recall must be in (0, 1], got {target_recall}"
                )
        entry = self._serving.get(namespace)
        indexable = (
            entry is not None
            and metric == entry[3]
            and not metadata_filter
        )
        if mode in ("indexed", "approx"):
            if entry is None:
                raise ValueError(
                    f"no index attached to namespace {namespace!r}"
                )
            if not indexable:
                raise ValueError(
                    f"indexed serving requires metric={entry[3]!r} (the "
                    "attached space) and no metadata_filter"
                )
        if not indexable or mode == "exact":
            return "exact"
        if not self._index_fresh(namespace):
            return "exact" if mode == "auto" else "enrich"
        rows = getattr(entry[0], "indexed", None)
        need = {"metadata"} | ({RAW_VALUES} if entry[3] == "cosine" else set())
        if rows is not None and need <= set(rows.columns):
            return "cover"
        return "enrich"

    def _index_fresh(self, namespace: str) -> bool:
        """Whether the namespace's index reflects every write to it: the
        state record's last write to the namespace, by any writer, is at
        or below the sync, and the sync is not ahead of the store (which
        means the index predates a clear_all/restore). A write to another
        namespace does not knock this one off its index."""
        synced = self._serving_synced_at.get(namespace, -1)
        state = self._head()[1]
        return _ns_value(state, namespace, "written") <= synced <= state["version"]

    def _indexed_search_df(
        self,
        namespace: str,
        query_values: Sequence[float],
        top_k: int,
        nprobe: int | None = None,
        dial: dict | None = None,
        cover: bool = False,
    ) -> DataFrame:
        """The indexed serving plan: certified pruned top-k from the
        attached index, then the final rank and score with the same
        `knn()` kernel as the brute path.

        `cover` (a fresh index carrying the store's payload, see
        `_serving_route`): the index's own hit rows carry values and
        metadata, so the final rank runs on top of the index plan and the
        whole read is one collect. Otherwise the reference's two-step
        enrichment (query_processor.py:37-49): the ≤k hit ids push into
        the store scan as an IN-list predicate (parquet row-group
        skipping) to re-attach values/metadata, silently dropping ids
        missing from storage, and the store rescores them.

        Cosine space: the query normalizes like the indexed vectors, the
        index ranks by L2 over the normalized pair (monotone-equivalent
        to cosine: ||q̂−x̂||² = 2−2·cos), and the final rank recomputes
        the TRUE cosine against the raw vectors with the same kernel as
        the brute path — so the reported score is identical to
        metric="cosine" brute force, ordered descending."""
        index, vec_col, id_col, space = self._serving[namespace]
        q = [float(x) for x in query_values]
        fetch_k = top_k
        if space == "cosine":
            import math

            qn = math.sqrt(sum(x * x for x in q)) or 1.0
            q = [x / qn for x in q]
            # selection runs in rounded normalized-L2 while the FINAL rank
            # below is by rounded true cosine against the raw stored
            # vectors — two roundings whose tie groups straddle different
            # boundaries. Over-fetching pads the candidate set so a row
            # that final-ranks into the top-k cannot be cut by a
            # selection-side rounding tie at the k boundary (it would take
            # 32+ rows inside one 1e-4 rounding band to defeat this); the
            # l2 space needs none — selection and final rank share one
            # metric there, so parity is exact by construction.
            fetch_k = top_k + 32
        if dial is not None:
            # graph-member recall-targeted serving: the dial kwargs come
            # from _resolve_graph_dial ({'target_recall': t} when a
            # calibration curve exists, exhaustive ef=None/nprobe=None
            # for an empty index) and GraphANNIndex.search resolves the
            # ef/nprobe pair from its persisted curve
            hits = index.search(
                q, fetch_k, vec_col=vec_col, id_col=id_col, metric="l2",
                **dial,
            )
        elif nprobe is not None:
            # approximate probe (mode="approx"): the reference's HNSW-like
            # recall/latency dial — nprobe plays ef's role. Requires an
            # IVF-family member (cluster probes); certified-exact-only
            # families (LSH) have no meaningful nprobe.
            import inspect

            probe = getattr(index, "search", None)
            if probe is None or "nprobe" not in inspect.signature(
                probe
            ).parameters:
                raise ValueError(
                    "mode='approx' requires an IVF-family index (nprobe "
                    "probing); use mode='indexed' for certified-exact "
                    f"search through {type(index).__name__}"
                )
            hits = probe(
                q, fetch_k, nprobe=nprobe, vec_col=vec_col, id_col=id_col,
                metric="l2",
            )
        else:
            hits = index.search_exact(
                q, fetch_k, vec_col=vec_col, id_col=id_col
            )
        out_metric = "cosine" if space == "cosine" else "l2"
        if cover:
            # no job before this one: the final knn stacks on the index's
            # own top-k, a second bounded sort inside the same collect
            vals = RAW_VALUES if space == "cosine" else vec_col
            return knn(
                hits, query_values, top_k, vec_col=vals, id_col=id_col,
                metric=out_metric,
            ).select(
                F.col(id_col).alias("id"), F.col(vals).alias("values"),
                "metadata", "score",
            )
        # the hit list is bounded (≤k rows): for serving-scale k, collect
        # the ids and push an IN-list predicate into the store scan so
        # parquet row-group stats skip everything but the hit rows —
        # without it the enrichment re-scans the full namespace per query,
        # the one non-pruned read on the serving hot path. The
        # broadcast-join form survives as the fallback for
        # batch-export-sized k, where inlining tens of thousands of ids
        # into one In() expression would bloat the plan instead of
        # helping the scan.
        hit_ids = [
            str(r[0]) for r in hits.select(F.col(id_col)).collect()
        ]
        if not hit_ids:
            return local_rows_df(self.spark, 
                [], "id string, values array<float>, "
                "metadata map<string,string>, score double"
            )
        ns_df = self.df().filter(F.col("namespace") == namespace)
        if len(hit_ids) <= 1024:
            joined = ns_df.filter(id_in("id", hit_ids))
        else:
            id_frame = local_rows_df(self.spark, 
                [(i,) for i in hit_ids], "id string"
            )
            joined = ns_df.join(F.broadcast(id_frame), "id")
        # the reported score is always recomputed against the STORE's
        # vectors (the index selected; the store scores) — so even a
        # deliberately as-synced indexed read never pairs a row with a
        # score computed from a superseded vector version
        return knn(
            joined, query_values, top_k, vec_col="values", id_col="id",
            metric=out_metric,
        ).select("id", "values", "metadata", "score")

    def find_similar_as_of(
        self,
        query_values: Sequence[float],
        top_k: int,
        version: int,
        namespace: str = DEFAULT_NAMESPACE,
        metric: str = "cosine",
        metadata_filter: Mapping[str, str] | None = None,
    ) -> list[dict[str, Any]]:
        """Q1 against a HISTORICAL state: the same exact-KNN serving path
        run over `df_as_of(version)` — "what would this query have
        returned before yesterday's ingest" for audit and incident repro.
        Same floor contract as every time-travel read; the as-of window
        makes this an audit path, not the hot serving path."""
        # a namespace's dimension is immutable, so the current value
        # applies to historical states too
        self._check_query_dims(namespace, [("query", query_values)])
        df = self.df_as_of(version, namespace)
        return self._search_frame(
            df, query_values, top_k, metric, metadata_filter
        )

    def _check_query_dims(
        self, namespace: str, queries: Sequence[tuple[str, Sequence[float]]]
    ) -> None:
        """A wrong-dimension query raises the documented ValueError, not
        an opaque executor arithmetic error."""
        ns_dim = self.dimension(namespace)
        for qid, vec in queries:
            if ns_dim is not None and len(vec) != ns_dim:
                raise ValueError(
                    f"{qid} dimension {len(vec)} != namespace "
                    f"{namespace!r} dimension {ns_dim}"
                )

    def _search_frame(
        self,
        df: DataFrame,
        query_values: Sequence[float],
        top_k: int,
        metric: str,
        metadata_filter: Mapping[str, str] | None,
    ) -> list[dict[str, Any]]:
        if metadata_filter:
            for k, v in metadata_filter.items():
                df = df.filter(F.col("metadata")[k] == str(v))
        # mode parity: the indexed path ranks through the same knn() —
        # 4-decimal rounded score, id-ascending tie-break — so auto-mode
        # returns bit-identical results whether or not it routed through
        # an index (also the precision the DuckDB oracles assume)
        return _matches(knn(
            df, query_values, top_k, vec_col="values", id_col="id",
            metric=metric,
        ))
