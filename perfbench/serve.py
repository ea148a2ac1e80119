"""`serve_mixed`: one closed-loop client (the next request starts only
after the previous one returned) against `EngineService` -> `VectorStore`
-> the attached index of each namespace, over a corpus generated from the
seed.

Corpus: N_PER_NS float32 vectors of dimension DIM in each of three
namespaces, drawn from a seeded Gaussian mixture; each namespace carries
one attached index family (IVF, IVF+PQ, graph). A round is:

    in the IVF and graph namespaces: upsert (by-id overwrites + new ids),
    then delete -> one sync_indexes
    -> per namespace: 2 x search (l2, auto route: served by the attached
       index)
    -> in the IVF and graph namespaces: 1 x search_batch of BATCH queries
    -> 1 x search (cosine: no cosine index, so the exact scan)
    -> 1 x approx search (target_recall=0.9) in the IVF namespace
    -> 1 x delete in the IVF namespace, which crosses the compaction
       threshold: the store compacts that namespace inside the request

The IVF+PQ namespace is read-only. The writes invalidate the store's
reader-plan cache, so the first read of each round rebuilds it; the sync
rolls the IVF and graph indexes forward from the CDC feed (apply_changes).
The closing delete comes after the sync, so the roll-forward is measured
before compaction moves the store's history floor; a later round's sync
then resyncs from a snapshot. Every result is checked against a numpy
mirror of the corpus and of every write applied, outside the timed region.

Upserts and approx requests go to `VectorStore` directly: `EngineService`
assigns fresh ids on upsert (no by-id overwrite) and has no
`target_recall`. Every other request goes through `EngineService`.
"""

from __future__ import annotations

import time

import numpy as np

from common import (
    another_round,
    dir_bytes,
    median,
    percentile,
    rss_peak_mb,
    tree_cpu_s,
)

NAMESPACES = ("ivf", "ivfpq", "graph")
N_PER_NS = 6000
DIM = 64
N_CENTERS = 64
TOP_K = 10
BATCH = 32
OVERWRITES = 32
NEW_IDS = 16
DELETES = 16
L2_SEARCHES = 2
# namespaces that take writes and batches: one per apply_changes/knn_join
# family (IVF+PQ shares the IVF kernels); the round's Spark job count, not
# the data size, sets its time, so this keeps a run in the time budget
WRITE_NS = ("ivf", "graph")
TARGET_RECALL = 0.9
# store compaction trigger: garbage (superseded versions + tombstones)
# over a namespace's rows. A round's writes leave 48/6048 (0.008) in each
# write namespace; the closing delete lifts the IVF one to 64/6048 (0.0106),
# so every round compacts exactly one namespace, after its sync.
COMPACT_THRESHOLD = 0.01
# approx requests go to the IVF namespace only: its recall curve is
# measured once at set-up (public measure_recall_curve knobs, a small
# sample) and the store reuses it for target_recall. Calibrating every
# family costs ~7 s each at this scale on a 4-core host.
APPROX_NS = "ivf"
CALIBRATION_QUERIES = 2
CALIBRATION_NPROBES = (2, 4, 8, 16)
# score tolerance: the serving paths round scores to 4 decimals
SCORE_TOL = 1e-4


class Mirror:
    """numpy copy of one namespace: ids, float32 vectors, live flags."""

    def __init__(self, ids: list[str], vecs: np.ndarray) -> None:
        self.ids = list(ids)
        self.pos = {v: i for i, v in enumerate(self.ids)}
        self.vecs = vecs.astype(np.float32)
        self.live = np.ones(len(ids), dtype=bool)

    def upsert(self, ids: list[str], vecs: np.ndarray) -> None:
        fresh = []
        for vid, v in zip(ids, vecs):
            i = self.pos.get(vid)
            if i is None:
                fresh.append((vid, v))
            else:
                self.vecs[i] = v
                self.live[i] = True
        if fresh:
            base = len(self.ids)
            for j, (vid, _v) in enumerate(fresh):
                self.ids.append(vid)
                self.pos[vid] = base + j
            self.vecs = np.vstack([self.vecs, np.stack([v for _, v in fresh])])
            self.live = np.concatenate([self.live, np.ones(len(fresh), bool)])

    def delete(self, ids: list[str]) -> None:
        for vid in ids:
            self.live[self.pos[vid]] = False

    def live_ids(self) -> list[str]:
        return [self.ids[i] for i in np.flatnonzero(self.live)]

    def scores(self, q: np.ndarray, metric: str) -> tuple[np.ndarray, np.ndarray]:
        """(live positions, exact scores) in float64."""
        idx = np.flatnonzero(self.live)
        x = self.vecs[idx].astype(np.float64)
        q = q.astype(np.float64)
        if metric == "l2":
            return idx, ((x - q) ** 2).sum(axis=1)
        sim = (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
        return idx, sim

    def top_ids(self, q: np.ndarray, metric: str, k: int) -> list[str]:
        idx, s = self.scores(q, metric)
        key = np.round(s, 4) if metric == "l2" else -np.round(s, 4)
        order = sorted(range(len(idx)), key=lambda j: (key[j], self.ids[idx[j]]))
        return [self.ids[idx[j]] for j in order[:k]]

    def check(self, q: np.ndarray, metric: str, got: list[tuple[str, float]],
              k: int) -> bool:
        """Exact answer check: k results, each a live id whose score matches
        its true score, and the returned set equals the true top-k up to
        ties within the 4-decimal score rounding."""
        if len(got) != k:
            return False
        idx, s = self.scores(q, metric)
        true = {self.ids[i]: float(v) for i, v in zip(idx, s)}
        sign = 1.0 if metric == "l2" else -1.0
        kth = sorted(sign * v for v in true.values())[k - 1]
        for vid, score in got:
            if vid not in true or abs(true[vid] - score) > SCORE_TOL:
                return False
            if sign * true[vid] > kth + SCORE_TOL:
                return False
        return len({vid for vid, _ in got}) == k


def _mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    lab = rng.integers(0, len(centers), n)
    return (centers[lab] + rng.normal(0.0, 1.0, (n, centers.shape[1]))).astype(
        np.float32
    )


def _index_factories():
    from mlvectordb_spark.operators.ann import IVFIndex, IVFPQIndex
    from mlvectordb_spark.operators.graph_ann import GraphANNIndex

    k = int(N_PER_NS ** 0.5)
    return {
        "ivf": lambda: IVFIndex(n_clusters=k, seed=42),
        "ivfpq": lambda: IVFPQIndex(n_clusters=k, m=8, k_sub=16, seed=42),
        "graph": lambda: GraphANNIndex(n_blocks=4, m=8, ef_construction=64,
                                       seed=42),
    }


class ServeMixed:
    name = "serve_mixed"

    def __init__(self, spark, tracer, seed: int, work_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self.setup_s: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mlvectordb_spark.api import EngineService
        from mlvectordb_spark.operators.store import VectorStore

        t0 = time.perf_counter()
        self.centers = self.rng.normal(0.0, 4.0, (N_CENTERS, DIM))
        self.mirrors: dict[str, Mirror] = {}
        tables = []
        for ns in NAMESPACES:
            vecs = _mixture(self.rng, self.centers, N_PER_NS)
            ids = [f"{ns}-{i}" for i in range(N_PER_NS)]
            self.mirrors[ns] = Mirror(ids, vecs)
            tables.append(pa.table({
                "id": ids,
                "namespace": [ns] * N_PER_NS,
                "values": pa.FixedSizeListArray.from_arrays(
                    vecs.reshape(-1), DIM).cast(pa.list_(pa.float32())),
            }))
        corpus_path = f"{self.work_dir}/corpus.parquet"
        pq.write_table(pa.concat_tables(tables), corpus_path)
        corpus = self.spark.read.parquet(corpus_path)
        self.store = VectorStore(self.spark, f"{self.work_dir}/store",
                                 rebuild_threshold=COMPACT_THRESHOLD)
        self.store.upsert_df(corpus, assume_unique_ids=True)
        t1 = time.perf_counter()
        factories = _index_factories()
        for ns in NAMESPACES:
            self.store.build_index(ns, factory=factories[ns])
        t2 = time.perf_counter()
        self.store.attached_index(APPROX_NS).measure_recall_curve(
            k=TOP_K, n_queries=CALIBRATION_QUERIES,
            nprobes=list(CALIBRATION_NPROBES), vec_col="values", id_col="id")
        t3 = time.perf_counter()
        self.service = EngineService(self.store)
        self._wrap_layers()
        self.setup_s.update(load_s=t1 - t0, index_build_s=t2 - t1,
                            calibration_s=t3 - t2)

    def _wrap_layers(self) -> None:
        tr = self.tracer
        tr.wrap(self.service, "api", ("search", "search_batch",
                                      "delete_vectors", "sync_indexes"))
        tr.wrap(self.store, "store", (
            "find_similar", "find_similar_batch", "upsert_by_id", "delete",
            "sync_indexes", "compact", "changes_since",
        ))
        # the exact-scan route: the store's scan-and-rank over the namespace
        tr.wrap(self.store, "knn", ("_search_frame",))
        for ns in NAMESPACES:
            layer = "graph_ann" if ns == "graph" else "ann"
            tr.wrap(self.store.attached_index(ns), layer, (
                "search", "search_exact", "knn_join", "knn_join_exact",
                "apply_changes", "measure_recall_curve",
            ))

    # -- the request round -------------------------------------------------------

    def run(self, seconds: float) -> None:
        """Whole rounds until `seconds` of request time, at least one."""
        self.lat: dict[str, list[float]] = {k: [] for k in (
            "search", "approx", "batch", "write", "sync")}
        self.round_s: list[float] = []
        self.round_cpu_s: list[float] = []
        self.recalls: list[float] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.search_routes: list[bool] = []
        while another_round(self.round_s, seconds):
            self.round(len(self.round_s))
            self.round_s.append(self.spent)
            self.round_cpu_s.append(self.spent_cpu)
        self.busy_s = sum(self.round_s)

    def _query(self) -> np.ndarray:
        return _mixture(self.rng, self.centers, 1)[0]

    def _call(self, rid: int, kind: str, fn):
        cpu0 = tree_cpu_s()
        with self.tracer.request(rid, kind):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.spent_cpu += tree_cpu_s() - cpu0
        self.lat[kind].append(dt)
        self.attempted += 1
        self.tracer.record(rid, kind, dt)
        self.spent += dt
        return out

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def round(self, r: int) -> None:
        self.spent = self.spent_cpu = 0.0
        rid = iter(range(r * 100, (r + 1) * 100))
        for ns in WRITE_NS:
            self._write(next(rid), next(rid), ns, r)
        if self._call(next(rid), "sync",
                      self.service.sync_indexes)["status"] != "success":
            self._fail(f"sync r{r}")
        for ns in NAMESPACES:
            for _ in range(L2_SEARCHES):
                self._search(next(rid), ns, "l2", r)
        for ns in WRITE_NS:
            self._batch(next(rid), ns, r)
        self._search(next(rid), APPROX_NS, "cosine", r)
        self._approx(next(rid), r)
        self._delete(next(rid), APPROX_NS, r)

    def _write(self, rid_upsert: int, rid_delete: int, ns: str, r: int) -> None:
        """By-id overwrites of live ids plus fresh ids, then deletes."""
        m = self.mirrors[ns]
        live = m.live_ids()
        pick = self.rng.choice(len(live), OVERWRITES + DELETES,
                               replace=False)
        gone = [live[i] for i in pick[OVERWRITES:]]
        ids = [live[i] for i in pick[:OVERWRITES]] + [
            f"{ns}-r{r}-{j}" for j in range(NEW_IDS)]
        vecs = _mixture(self.rng, self.centers, len(ids))
        recs = [{"id": vid, "values": v.tolist()} for vid, v in zip(ids, vecs)]
        got = self._call(rid_upsert, "write",
                         lambda: self.store.upsert_by_id(recs, ns))
        m.upsert(ids, vecs)
        if sorted(got) != sorted(ids):
            self._fail(f"upsert {ns} r{r}")
        self._delete(rid_delete, ns, r, gone)

    def _delete(self, rid: int, ns: str, r: int,
                gone: list[str] | None = None) -> None:
        m = self.mirrors[ns]
        if gone is None:
            live = m.live_ids()
            gone = [live[i] for i in self.rng.choice(len(live), DELETES,
                                                     replace=False)]
        got = self._call(rid, "write",
                         lambda: self.service.delete_vectors(gone, ns))
        m.delete(gone)
        if sorted(got["deleted_ids"]) != sorted(gone):
            self._fail(f"delete {ns} r{r}")

    def _search(self, rid: int, ns: str, metric: str, r: int) -> None:
        q = self._query()
        hits = self._call(rid, "search", lambda: self.service.search(
            q.tolist(), TOP_K, ns, metric))
        if not self.mirrors[ns].check(
                q, metric, [(h["id"], h["score"]) for h in hits], TOP_K):
            self._fail(f"search {ns} {metric} r{r}")
        if metric == "l2" and self.tracer.enabled:
            kids = self.tracer.children_of_request(rid)
            self.search_routes.append(
                any(k.startswith(("ann.", "graph_ann.")) for k in kids))

    def _batch(self, rid: int, ns: str, r: int) -> None:
        qs = {f"q{j}": self._query() for j in range(BATCH)}
        out = self._call(rid, "batch", lambda: self.service.search_batch(
            {k: v.tolist() for k, v in qs.items()}, TOP_K, ns, "l2"))
        by_q = {row["query_id"]: row["matches"] for row in out}
        for qid, q in qs.items():
            got = [(h["id"], h["score"]) for h in by_q.get(qid, [])]
            if not self.mirrors[ns].check(q, "l2", got, TOP_K):
                self._fail(f"batch {ns} {qid} r{r}")

    def _approx(self, rid: int, r: int) -> None:
        """Approx search at the recall target: scores must be exact for the
        ids returned; the overlap with the exact top-k is the recall."""
        m = self.mirrors[APPROX_NS]
        q = self._query()
        hits = self._call(rid, "approx", lambda: self.store.find_similar(
            q.tolist(), TOP_K, APPROX_NS, "l2", mode="approx",
            target_recall=TARGET_RECALL))
        true = m.top_ids(q, "l2", TOP_K)
        self.recalls.append(len({h["id"] for h in hits} & set(true)) / TOP_K)
        idx, s = m.scores(q, "l2")
        exact = {m.ids[i]: float(v) for i, v in zip(idx, s)}
        if any(h["id"] not in exact
               or abs(exact[h["id"]] - h["score"]) > SCORE_TOL for h in hits):
            self._fail(f"approx r{r}")

    # -- results -----------------------------------------------------------------

    def space_amp(self) -> float:
        """Store bytes on disk per live user byte (id + float32 vector)."""
        live = 0
        for m in self.mirrors.values():
            for vid in m.live_ids():
                live += len(vid.encode()) + 4 * DIM
        return dir_bytes(self.store.path) / live

    def results(self) -> dict:
        lat = {k: [v * 1000.0 for v in vals] for k, vals in self.lat.items()}
        n_req = sum(len(v) for v in lat.values())
        writes = lat["write"]
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
            "end_to_end": {
                "pass_cpu_s": median(self.round_cpu_s),
            },
            "figures": {
                # one round's request time with each request kind at its
                # median latency, so a single stalled request does not
                # move it
                "pass_s": (sum(len(v) * median(v) for v in self.lat.values())
                           / len(self.round_s), "s"),
                "search_p50_ms": (percentile(lat["search"], 50), "ms"),
                "search_p90_ms": (percentile(lat["search"], 90), "ms"),
                "batch_p50_ms": (percentile(lat["batch"], 50), "ms"),
                "batch_p90_ms": (percentile(lat["batch"], 90), "ms"),
                "write_p50_ms": (percentile(writes, 50), "ms"),
                "write_p90_ms": (percentile(writes, 90), "ms"),
                "sync_p50_ms": (percentile(lat["sync"], 50), "ms"),
                "sync_p90_ms": (percentile(lat["sync"], 90), "ms"),
                "requests_per_s": (n_req / self.busy_s, "1/s"),
                "error_rate": (self.failed / max(1, self.attempted), "ratio"),
                "recall_at_10": (float(np.mean(self.recalls)), "ratio"),
                "space_amp": (self.space_amp(), "ratio"),
                "rss_peak_mb": (rss_peak_mb(self.spark), "MB"),
            },
            "samples": {k: len(v) for k, v in lat.items()},
            "rounds": len(self.round_s),
        }

    def per_layer(self, results: dict) -> dict[str, float]:
        tr = self.tracer
        reqs = tr.requests

        def per(kind: str, field: str) -> float:
            vals = [r[field] for r in reqs if r["kind"] == kind]
            return float(np.mean(vals)) if vals else 0.0

        def busy(*names: str) -> float:
            """Mean ms per call over the spans with these names."""
            stats = [tr.span_stats(n) for n in names]
            calls = sum(c for c, _ in stats)
            return sum(t for _, t in stats) / calls if calls else 0.0

        served = {"search": TOP_K, "batch": BATCH * TOP_K}
        rows = sum(r["input_rows"] for r in reqs if r["kind"] in served)
        returned = sum(served.get(r["kind"], 0) for r in reqs)
        out = {
            "spark.jobs_per_search": per("search", "jobs"),
            "spark.driver_gap_ms_per_search": per("search", "driver_gap_ms"),
            "spark.jobs_per_batch": per("batch", "jobs"),
            "spark.task_run_ms_per_batch": per("batch", "task_run_ms"),
            "spark.task_cpu_ms_per_batch": per("batch", "task_cpu_ms"),
            "spark.shuffle_read_bytes_per_batch": per(
                "batch", "shuffle_read_bytes"),
            "spark.shuffle_write_bytes_per_batch": per(
                "batch", "shuffle_write_bytes"),
            "spark.input_rows_per_result": rows / returned if returned else 0.0,
            "spark.jobs_per_write": per("write", "jobs"),
            "spark.jobs_per_sync": per("sync", "jobs"),
            "spark.spill_bytes": float(sum(r["spill_bytes"] for r in reqs)),
            "ann.knn_join.busy_ms": busy("ann.knn_join", "ann.knn_join_exact"),
            "graph_ann.knn_join.busy_ms": busy("graph_ann.knn_join",
                                               "graph_ann.knn_join_exact"),
            "ann.apply_changes.busy_ms": busy("ann.apply_changes"),
            "graph_ann.apply_changes.busy_ms": busy("graph_ann.apply_changes"),
            "store.route_index_share": (
                float(np.mean(self.search_routes)) if self.search_routes else 0.0),
            "store.upsert.busy_ms": busy("store.upsert_by_id"),
            "store.delete.busy_ms": busy("store.delete"),
            "store.sync_indexes.busy_ms": busy("store.sync_indexes"),
            "store.compact.calls": float(tr.span_stats("store.compact")[0]),
            "store.compact.busy_ms": busy("store.compact"),
        }
        n_batch = sum(1 for r in reqs if r["kind"] == "batch")
        out["api.batch.self_ms"] = (
            tr.self_ms_of("api.search_batch") / n_batch if n_batch else 0.0)
        for key, (value, _unit) in results["figures"].items():
            layer = {"space_amp": "store", "rss_peak_mb": "process"}.get(
                key, "api")
            out[f"{layer}.{key}"] = value
        return out
