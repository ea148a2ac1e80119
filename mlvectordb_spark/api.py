"""REST serving layer: the reference's FastAPI surface
(`/root/reference/src/mlvectordb/api/rest_api.py:96-311`) over the Spark
engine — same routes, honest semantics.

Routes reproduced: POST /vectors, PUT /vectors/batch, POST /search,
DELETE /vectors, GET /namespaces, GET /namespaces/vectors,
GET /storage/info, GET /health, POST /log/level — plus the
declared-but-never-implemented ones the README promises: POST /query/range,
POST /query/similarity, POST /query/metadata, POST /query/hybrid,
POST /query/explain, GET /statistics.

fastapi is not installed in this container, so `create_app` import-gates it;
everything else in this module is framework-free and fully testable. Online
point-serving latency on Spark is batch-class (documented impedance
mismatch, SURVEY.md §7 risk register): serve from cached DataFrames.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import functions as F

from mlvectordb_spark.operators.knn import knn
from mlvectordb_spark.operators.store import VectorStore
from mlvectordb_spark.plans.explain import explain_query
from mlvectordb_spark.plans.stats import QueryStatistics


class EngineService:
    """Framework-free service facade: every REST route body lives here so
    the API layer is a thin adapter (and testable without fastapi)."""

    def __init__(self, store: VectorStore) -> None:
        self.store = store
        self.stats = QueryStatistics()

    # -- write surface ------------------------------------------------------

    def insert_vector(
        self,
        values: Sequence[float],
        metadata: Mapping[str, Any] | None,
        namespace: str,
    ) -> dict[str, Any]:
        with self.stats.track("insert"):
            vid = self.store.insert(values, metadata, namespace)
        return {"status": "success", "id": vid}

    def upsert_batch(
        self, vectors: list[Mapping[str, Any]], namespace: str
    ) -> dict[str, Any]:
        with self.stats.track("upsert"):
            ids = self.store.upsert_many(vectors, namespace)
        return {"status": "success", "count": len(ids), "ids": ids}

    def delete_vectors(self, ids: Sequence[str], namespace: str) -> dict[str, Any]:
        if not ids:
            raise ValueError("ids must be non-empty")  # ref 400, rest_api.py:216-221
        with self.stats.track("delete"):
            deleted = self.store.delete(ids, namespace)
        # reference reports "error" status when nothing deleted (:231-234)
        return {
            "status": "success" if deleted else "error",
            "deleted_count": len(deleted),
            "deleted_ids": deleted,
        }

    # -- query surface ------------------------------------------------------

    MAX_TOP_K = 1000  # reference Pydantic le=1000, rest_api.py:24

    def search(
        self,
        query: Sequence[float],
        top_k: int,
        namespace: str,
        metric: str = "cosine",
        metadata_filter: Mapping[str, str] | None = None,
        mode: str = "auto",
    ) -> list[dict[str, Any]]:
        """The flagship read. `mode="auto"` (default) routes through the
        namespace's attached serving index when it can answer exactly
        (query metric matches the attached space, no metadata filter) —
        the reference's QueryProcessor →
        Index.search delegation (query_processor.py:26-33); at 100 TB the
        read prunes instead of scanning the namespace. "exact" forces the
        scan, "indexed" requires the index."""
        if not 1 <= top_k <= self.MAX_TOP_K:
            raise ValueError(f"top_k must be in [1, {self.MAX_TOP_K}]")
        with self.stats.track("knn"):
            return self.store.find_similar(
                query, top_k, namespace, metric, metadata_filter, mode=mode
            )

    def search_batch(
        self,
        queries: Mapping[str, Sequence[float]],
        top_k: int,
        namespace: str,
        metric: str = "cosine",
        metadata_filter: Mapping[str, str] | None = None,
        mode: str = "auto",
    ) -> list[dict[str, Any]]:
        """Q2 batch serving: per-query top-k in ONE request — the
        reference's batch surface is a REST loop of single searches; this
        funnels the whole batch through one certified pruned scan
        (`VectorStore.find_similar_batch`). Response: one entry per
        query, matches rank-ordered."""
        if not 1 <= top_k <= self.MAX_TOP_K:
            raise ValueError(f"top_k must be in [1, {self.MAX_TOP_K}]")
        if len(queries) > self.MAX_TOP_K:
            raise ValueError(
                f"batch larger than {self.MAX_TOP_K} queries"
            )
        with self.stats.track("knn_batch"):
            df = self.store.find_similar_batch(
                queries, top_k, namespace, metric, metadata_filter,
                mode=mode,
            )
            rows = df.collect()
        from mlvectordb_spark.functions.vector import metric_ascending

        out: dict[str, list[dict[str, Any]]] = {q: [] for q in queries}
        for r in rows:
            out[r.query_id].append(
                {
                    "id": r.id,
                    "score": float(r.score),
                    "values": list(r.values),
                    "metadata": dict(r.metadata or {}),
                }
            )
        asc = metric_ascending(metric)
        for matches in out.values():
            matches.sort(key=lambda m: (m["score"] if asc else -m["score"], m["id"]))
        return [
            {"query_id": qid, "matches": out[qid]} for qid in queries
        ]

    # -- serving-index lifecycle (W8-W11 + Q23 through the REST surface) ----

    def build_index(
        self,
        namespace: str,
        space: str = "l2",
        family: str = "ivf",
        m: int | None = None,
        ef_construction: int | None = None,
    ) -> dict[str, Any]:
        """Build + attach a serving index over the namespace's current
        rows (reference `build_index`, README.md:239-241). `space` fixes
        the index's distance space at construction like the reference
        ctor (implementations/index.py:18): l2 or cosine (normalized).
        `family="graph"` builds the partitioned small-world graph instead
        of the default IVF, honoring the reference ctor's other two knobs
        (`M`, `ef_construction` — defaults 16/200, index.py:18) — the
        full hnswlib constructor surface, served Spark-side."""
        factory = None
        if family == "graph":
            from mlvectordb_spark.operators.graph_ann import GraphANNIndex

            # the store's cosine space pre-normalizes the stored vectors
            # and serves by l2-over-normalized (attach_index docstring) —
            # the member index always ranks l2, for any space
            factory = lambda: GraphANNIndex(  # noqa: E731
                m=m if m is not None else 16,
                ef_construction=(
                    ef_construction if ef_construction is not None else 200
                ),
                metric="l2",
            )
        elif family != "ivf":
            raise ValueError(f"unknown index family {family!r}")
        elif m is not None or ef_construction is not None:
            raise ValueError(
                "m/ef_construction are graph-family knobs; pass "
                'family="graph"'
            )
        with self.stats.track("index_build"):
            idx = self.store.build_index(namespace, factory=factory, space=space)
        st = self.store.serving_status()[namespace]
        return {
            "status": "success",
            "namespace": namespace,
            "index": type(idx).__name__,
            "space": space,
            "synced_at": st["synced_at"],
        }

    def sync_indexes(self) -> dict[str, Any]:
        """Roll every attached index forward from the store's CDC feed."""
        with self.stats.track("index_sync"):
            self.store.sync_indexes()
        return {
            "status": "success",
            "synced_at": {
                ns: st["synced_at"]
                for ns, st in self.store.serving_status().items()
            },
        }

    def index_info(self) -> dict[str, Any]:
        """Per-namespace serving-index status: family, last synced store
        version, and the W11 drift flag."""
        out = {}
        for ns, st in self.store.serving_status().items():
            idx = st["index"]
            out[ns] = {
                "index": type(idx).__name__,
                "space": st["space"],
                "synced_at": st["synced_at"],
                "rebuild_required": bool(
                    getattr(idx, "is_rebuild_required", lambda: False)()
                ),
            }
        return {"indexes": out, "store_version": self.store.current_version()}

    def range_query(
        self, query: Sequence[float], radius: float, namespace: str
    ) -> list[dict[str, Any]]:
        """Declared Q12 (README:67-75): all vectors within squared-L2 radius."""
        from mlvectordb_spark.operators.knn import range_query as _range

        with self.stats.track("range"):
            df = self.store.df().filter(F.col("namespace") == namespace)
            rows = _range(df, query, radius, vec_col="values", metric="l2").collect()
        return [
            {"id": r.id, "score": float(r.score), "metadata": dict(r.metadata or {})}
            for r in rows
        ]

    def similarity_query(
        self, query: Sequence[float], threshold: float, namespace: str
    ) -> list[dict[str, Any]]:
        """Declared Q13: all vectors with cosine similarity >= threshold."""
        from mlvectordb_spark.operators.knn import threshold_query as _thr

        with self.stats.track("similarity"):
            df = self.store.df().filter(F.col("namespace") == namespace)
            rows = _thr(
                df, query, threshold, vec_col="values", metric="cosine"
            ).collect()
        return [
            {"id": r.id, "score": float(r.score), "metadata": dict(r.metadata or {})}
            for r in rows
        ]

    def metadata_query(
        self, flt: Mapping[str, str], namespace: str
    ) -> list[dict[str, Any]]:
        """Declared Q14: equality-AND metadata filter."""
        from mlvectordb_spark.operators.store import metadata_filter

        with self.stats.track("metadata"):
            df = self.store.df().filter(F.col("namespace") == namespace)
            rows = metadata_filter(df, equals=flt).select("id", "metadata").collect()
        return [{"id": r.id, "metadata": dict(r.metadata or {})} for r in rows]

    def hybrid_query(
        self,
        query: Sequence[float],
        top_k: int,
        flt: Mapping[str, str],
        namespace: str,
        metric: str = "cosine",
    ) -> list[dict[str, Any]]:
        """Declared Q15: metadata predicate ∧ KNN."""
        with self.stats.track("hybrid"):
            return self.store.find_similar(query, top_k, namespace, metric, flt)

    def explain(
        self, query: Sequence[float], top_k: int, namespace: str, metric: str
    ) -> dict[str, Any]:
        """Declared Q16: real Catalyst plan in the declared response shape —
        the plan of the exact scan `search` runs."""
        df = self.store.df().filter(F.col("namespace") == namespace)
        plan_df = knn(
            df, query, top_k, vec_col="values", id_col="id", metric=metric
        )
        out = explain_query(plan_df)
        out.pop("raw", None)
        return out

    # -- introspection ------------------------------------------------------

    def search_as_of(
        self,
        query: Sequence[float],
        top_k: int,
        version: int,
        namespace: str,
        metric: str = "cosine",
    ) -> list[dict[str, Any]]:
        """Time-travel search: the same serving contract as `search`,
        answered against the store state at `version` (audit/repro path;
        raises below the history floor like every time-travel read)."""
        if not 1 <= top_k <= self.MAX_TOP_K:
            raise ValueError(f"top_k must be in [1, {self.MAX_TOP_K}]")
        with self.stats.track("knn_as_of"):
            return self.store.find_similar_as_of(
                query, top_k, version, namespace, metric
            )

    def history(self) -> dict[str, Any]:
        """Event-log audit: per write_version upsert/delete counts plus
        the current version and history floor (the exact-replay bound)."""
        rows = self.store.history().collect()
        return {
            "current_version": self.store.current_version(),
            "history_floor": self.store.history_floor(),
            "versions": [
                {
                    "version": int(r.version),
                    "n_upserts": int(r.n_upserts),
                    "n_deletes": int(r.n_deletes),
                }
                for r in rows
            ],
        }

    def namespaces(self) -> list[str]:
        return self.store.list_namespaces()

    def namespace_vectors(self, namespace: str) -> list[dict[str, Any]]:
        rows = self.store.get_namespace_vectors(namespace).collect()
        return [
            {"id": r.id, "values": list(r.values), "metadata": dict(r.metadata or {})}
            for r in rows
        ]

    def storage_info(self) -> dict[str, Any]:
        return self.store.storage_info()

    def statistics(self) -> dict[str, Any]:
        """Declared Q17."""
        return self.stats.snapshot()

    def health(self) -> dict[str, str]:
        """Q25 (rest_api.py:292-296) — plus a real liveness probe of the
        SparkContext."""
        alive = not self.store.spark.sparkContext._jsc.sc().isStopped()
        return {"status": "healthy" if alive else "unhealthy"}

    def set_log_level(self, level: str) -> dict[str, str]:
        """Q26 (rest_api.py:298-311)."""
        valid = {"ALL", "DEBUG", "ERROR", "FATAL", "INFO", "OFF", "TRACE", "WARN"}
        lvl = level.upper()
        if lvl not in valid:
            raise ValueError(f"invalid log level {level!r}")
        self.store.spark.sparkContext.setLogLevel(lvl)
        return {"status": "success", "level": lvl}


def create_app(service: EngineService):
    """FastAPI adapter over EngineService — import-gated (fastapi is not in
    this container). Route paths/methods mirror the reference exactly."""
    try:
        from fastapi import FastAPI, HTTPException
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "fastapi is not installed; EngineService is fully usable directly"
        ) from e

    app = FastAPI(title="mlvectordb-spark")

    def guard(fn, *a, **kw):
        try:
            return fn(*a, **kw)
        except ValueError as ve:
            raise HTTPException(status_code=400, detail=str(ve)) from ve
        except Exception as ex:  # pragma: no cover
            raise HTTPException(status_code=500, detail=str(ex)) from ex

    @app.post("/vectors")
    def insert(body: dict, namespace: str = "default"):
        return guard(
            service.insert_vector, body["values"], body.get("metadata"), namespace
        )

    @app.put("/vectors/batch")
    def batch(body: dict, namespace: str = "default"):
        return guard(service.upsert_batch, body["vectors"], namespace)

    @app.post("/search")
    def search(body: dict, namespace: str = "default"):
        return guard(
            service.search,
            body["query"],
            body.get("top_k", 10),
            namespace,
            body.get("metric", "cosine"),
            body.get("filter"),
            body.get("mode", "auto"),
        )

    @app.post("/index/build")
    def index_build(
        namespace: str = "default",
        space: str = "l2",
        family: str = "ivf",
        m: int | None = None,
        ef_construction: int | None = None,
    ):
        return guard(
            service.build_index, namespace, space, family, m, ef_construction
        )

    @app.post("/index/sync")
    def index_sync():
        return guard(service.sync_indexes)

    @app.get("/index/info")
    def index_info():
        return guard(service.index_info)

    @app.delete("/vectors")
    def delete(body: dict, namespace: str = "default"):
        return guard(service.delete_vectors, body["ids"], namespace)

    @app.post("/query/range")
    def rangeq(body: dict, namespace: str = "default"):
        return guard(service.range_query, body["query"], body["radius"], namespace)

    @app.post("/query/similarity")
    def simq(body: dict, namespace: str = "default"):
        return guard(
            service.similarity_query, body["query"], body["threshold"], namespace
        )

    @app.post("/query/metadata")
    def metaq(body: dict, namespace: str = "default"):
        return guard(service.metadata_query, body["filter"], namespace)

    @app.post("/query/hybrid")
    def hybridq(body: dict, namespace: str = "default"):
        return guard(
            service.hybrid_query,
            body["query"],
            body.get("top_k", 10),
            body["filter"],
            namespace,
            body.get("metric", "cosine"),
        )

    @app.post("/query/explain")
    def explainq(body: dict, namespace: str = "default"):
        return guard(
            service.explain,
            body["query"],
            body.get("top_k", 10),
            namespace,
            body.get("metric", "cosine"),
        )

    @app.get("/namespaces")
    def namespaces():
        return guard(service.namespaces)

    @app.get("/namespaces/vectors")
    def ns_vectors(namespace: str = "default"):
        return guard(service.namespace_vectors, namespace)

    @app.get("/storage/info")
    def storage_info():
        return guard(service.storage_info)

    @app.get("/statistics")
    def statistics():
        return guard(service.statistics)

    @app.post("/search/asof")
    def search_asof(body: dict, namespace: str = "default"):
        return guard(
            service.search_as_of,
            body["query"],
            body.get("top_k", 10),
            body["version"],
            namespace,
            body.get("metric", "cosine"),
        )

    @app.get("/history")
    def history():
        return guard(service.history)

    @app.get("/health")
    def health():
        return guard(service.health)

    @app.post("/log/level")
    def log_level(body: dict):
        return guard(service.set_log_level, body["level"])

    return app
