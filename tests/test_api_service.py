"""EngineService tests: the REST surface semantics (framework-free — the
reference's routes map 1:1 onto these methods) + explain/statistics."""

from __future__ import annotations

import re

import pytest

from mlvectordb_spark.api import EngineService, create_app
from mlvectordb_spark.operators.store import VectorStore
from mlvectordb_spark.plans.explain import explain_query


@pytest.fixture()
def svc(spark, tmp_path):
    return EngineService(VectorStore(spark, str(tmp_path / "store")))


def test_insert_search_roundtrip(svc):
    svc.insert_vector([1.0, 0.0], {"label": "A"}, "default")
    svc.insert_vector([0.0, 1.0], {"label": "B"}, "default")
    res = svc.search([1.0, 0.1], top_k=2, namespace="default", metric="cosine")
    assert [r["metadata"]["label"] for r in res] == ["A", "B"]


def test_search_validates_top_k(svc):
    with pytest.raises(ValueError):
        svc.search([1.0], top_k=0, namespace="default")
    with pytest.raises(ValueError):
        svc.search([1.0], top_k=1001, namespace="default")


def test_delete_empty_ids_rejected(svc):
    """Reference returns 400 on empty ids (rest_api.py:216-221)."""
    with pytest.raises(ValueError):
        svc.delete_vectors([], "default")


def test_delete_missing_reports_error_status(svc):
    """Reference reports status=error when nothing deleted (:231-234)."""
    out = svc.delete_vectors(["nope"], "default")
    assert out["status"] == "error" and out["deleted_count"] == 0


def test_declared_query_routes(svc):
    svc.upsert_batch(
        [
            {"values": [1.0, 0.0], "metadata": {"cat": "doc"}},
            {"values": [0.0, 1.0], "metadata": {"cat": "img"}},
        ],
        "default",
    )
    assert len(svc.range_query([1.0, 0.0], radius=0.5, namespace="default")) == 1
    assert len(svc.similarity_query([1.0, 0.0], threshold=0.9, namespace="default")) == 1
    out = svc.metadata_query({"cat": "doc"}, "default")
    assert len(out) == 1 and out[0]["metadata"]["cat"] == "doc"
    hyb = svc.hybrid_query([1.0, 0.0], 5, {"cat": "img"}, "default")
    assert len(hyb) == 1 and hyb[0]["metadata"]["cat"] == "img"


def test_explain_shape(svc, monkeypatch):
    from mlvectordb_spark import api

    raw = []

    def capture(df):
        out = explain_query(df)
        raw.append(out["raw"])
        return out

    monkeypatch.setattr(api, "explain_query", capture)
    svc.insert_vector([1.0, 0.0], None, "default")
    plan = svc.explain([1.0, 0.0], 5, "default", "cosine")
    steps = plan["execution_plan"]["steps"]
    assert steps, "plan must contain steps"
    ops = " ".join(s["operator"] for s in steps)
    assert "TakeOrderedAndProject" in ops  # top-k without global sort
    assert "Scan" in ops
    # the plan search runs: 4-decimal rounded score, id tie-break after it
    assert "round(" in raw[0]
    assert re.search(
        r"TakeOrderedAndProject\n.*?Arguments: 5, "
        r"\[score#\d+ DESC NULLS LAST, id#\d+ ASC",
        raw[0],
        re.S,
    ), raw[0]


def test_statistics_counters(svc):
    svc.insert_vector([1.0], None, "default")
    svc.search([1.0], 1, "default")
    svc.search([1.0], 1, "default")
    snap = svc.statistics()
    assert snap["total_queries"] == 3
    assert snap["knn_queries"] == 2
    assert snap["insert_queries"] == 1
    assert "knn" in snap["avg_latency_ms"]


def test_health_and_log_level(svc):
    assert svc.health() == {"status": "healthy"}
    assert svc.set_log_level("warn")["level"] == "WARN"
    with pytest.raises(ValueError):
        svc.set_log_level("verbose")
    svc.set_log_level("error")


def test_create_app_gated_without_fastapi(svc):
    try:
        import fastapi  # noqa: F401

        pytest.skip("fastapi installed; gating not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        create_app(svc)


# Reference route table (api/server.py): method, path — the adapter must
# register every one of these.
EXPECTED_ROUTES = {
    ("POST", "/vectors"),
    ("PUT", "/vectors/batch"),
    ("POST", "/search"),
    ("DELETE", "/vectors"),
    ("POST", "/query/range"),
    ("POST", "/query/similarity"),
    ("POST", "/query/metadata"),
    ("POST", "/query/hybrid"),
    ("POST", "/query/explain"),
    ("GET", "/namespaces"),
    ("GET", "/namespaces/vectors"),
    ("GET", "/storage/info"),
    ("GET", "/statistics"),
    ("GET", "/health"),
    ("POST", "/log/level"),
    # beyond-reference time-travel surface (round 5)
    ("POST", "/search/asof"),
    ("GET", "/history"),
    # serving-index lifecycle (round 6): build/attach, CDC sync, status
    ("POST", "/index/build"),
    ("POST", "/index/sync"),
    ("GET", "/index/info"),
}


@pytest.fixture()
def fake_fastapi(monkeypatch):
    """A recording stand-in for fastapi so the route adapter is exercised
    even though the real package is absent from this container."""
    import sys
    import types

    class HTTPException(Exception):
        def __init__(self, status_code, detail):
            super().__init__(detail)
            self.status_code = status_code
            self.detail = detail

    class FakeApp:
        def __init__(self, title=None):
            self.title = title
            self.routes = {}

        def _register(self, method, path):
            def deco(fn):
                self.routes[(method, path)] = fn
                return fn

            return deco

        def get(self, path):
            return self._register("GET", path)

        def post(self, path):
            return self._register("POST", path)

        def put(self, path):
            return self._register("PUT", path)

        def delete(self, path):
            return self._register("DELETE", path)

    mod = types.ModuleType("fastapi")
    mod.FastAPI = FakeApp
    mod.HTTPException = HTTPException
    monkeypatch.setitem(sys.modules, "fastapi", mod)
    return mod


def test_adapter_registers_reference_route_table(svc, fake_fastapi):
    app = create_app(svc)
    assert set(app.routes) == EXPECTED_ROUTES


def test_adapter_routes_drive_service_end_to_end(svc, fake_fastapi):
    app = create_app(svc)
    ins = app.routes[("POST", "/vectors")]
    out = ins({"values": [1.0, 0.0], "metadata": {"label": "A"}})
    assert "id" in out
    ins({"values": [0.0, 1.0], "metadata": {"label": "B"}})
    res = app.routes[("POST", "/search")]({"query": [1.0, 0.1], "top_k": 1})
    assert res[0]["metadata"]["label"] == "A"
    assert app.routes[("GET", "/health")]()["status"] == "healthy"
    # error mapping: a service ValueError becomes a 400 HTTPException
    with pytest.raises(fake_fastapi.HTTPException) as ei:
        app.routes[("POST", "/search")]({"query": [1.0, 0.1], "top_k": 0})
    assert ei.value.status_code == 400


def test_search_as_of_and_history_surface(spark, tmp_path):
    """The service exposes the time-travel serving path and the event-log
    audit with version/floor framing."""
    from mlvectordb_spark.operators.store import VectorStore

    store = VectorStore(spark, str(tmp_path / "svc_tt"), rebuild_threshold=0.95)
    svc = EngineService(store)
    store.upsert_by_id([{"id": "a", "values": [1.0, 0.0]}])
    v1 = store.current_version()
    store.upsert_by_id([{"id": "a", "values": [0.0, 1.0]}])

    then = svc.search_as_of([1.0, 0.0], 1, v1, "default", metric="l2")
    assert then[0]["values"] == [1.0, 0.0]
    now = svc.search([1.0, 0.0], 1, "default", metric="l2")
    assert now[0]["values"] == [0.0, 1.0]

    h = svc.history()
    assert h["current_version"] == 2 and h["history_floor"] == 0
    assert [v["n_upserts"] for v in h["versions"]] == [1, 1]
    # serving guardrails apply to the time-travel path too
    import pytest as _pytest

    with _pytest.raises(ValueError):
        svc.search_as_of([1.0, 0.0], 0, v1, "default")


def test_indexed_serving_through_service(spark, tmp_path):
    """Round-6: POST /index/build attaches a serving index, the default
    /search mode then routes through it (still exact), /index/sync rolls
    it forward after writes, /index/info reports status."""
    import math

    store = VectorStore(spark, str(tmp_path / "svc_idx"), rebuild_threshold=0.95)
    svc = EngineService(store)
    store.upsert_by_id(
        [
            {"id": f"k{i}", "values": [math.cos(0.4 * i), math.sin(0.4 * i)]}
            for i in range(30)
        ]
    )
    built = svc.build_index("default")
    assert built["status"] == "success" and built["index"] == "IVFIndex"
    info = svc.index_info()
    assert info["indexes"]["default"]["synced_at"] == store.current_version()

    q = [math.cos(0.4 * 3), math.sin(0.4 * 3)]
    got = svc.search(q, 3, "default", metric="l2")  # auto → indexed
    assert got[0]["id"] == "k3"
    # exact mode agrees on the membership
    exact = svc.search(q, 3, "default", metric="l2", mode="exact")
    assert {h["id"] for h in got} == {h["id"] for h in exact}

    # write + sync keeps the routed read fresh
    store.upsert_by_id([{"id": "knew", "values": q}])
    svc.sync_indexes()
    got2 = svc.search(q, 2, "default", metric="l2", mode="indexed")
    assert {h["id"] for h in got2} == {"k3", "knew"}
    # stats counters recorded the index ops
    snap = svc.statistics()
    assert snap["index_build_queries"] == 1
    assert snap["index_sync_queries"] == 1


def test_graph_family_through_service(spark, tmp_path):
    """POST /index/build?family=graph honors the reference ctor's full
    knob set (space, M, ef_construction — implementations/index.py:18):
    the namespace serves through a partitioned small-world graph, still
    exact in mode='indexed', and CDC sync keeps it fresh."""
    import math

    import pytest as _pytest

    store = VectorStore(
        spark, str(tmp_path / "svc_gidx"), rebuild_threshold=0.95
    )
    svc = EngineService(store)
    store.upsert_by_id(
        [
            {"id": f"k{i}", "values": [math.cos(0.4 * i), math.sin(0.4 * i)]}
            for i in range(30)
        ]
    )
    built = svc.build_index(
        "default", family="graph", m=4, ef_construction=32
    )
    assert built["status"] == "success" and built["index"] == "GraphANNIndex"

    q = [math.cos(0.4 * 3), math.sin(0.4 * 3)]
    got = svc.search(q, 3, "default", metric="l2", mode="indexed")
    assert got[0]["id"] == "k3"
    exact = svc.search(q, 3, "default", metric="l2", mode="exact")
    assert {h["id"] for h in got} == {h["id"] for h in exact}

    # write + sync: the new vector serves from the graph's pending tail
    store.upsert_by_id([{"id": "knew", "values": q}])
    svc.sync_indexes()
    got2 = svc.search(q, 2, "default", metric="l2", mode="indexed")
    assert {h["id"] for h in got2} == {"k3", "knew"}

    # the knobs are family-scoped: passing them without family=graph raises
    with _pytest.raises(ValueError):
        svc.build_index("default", m=8)
    with _pytest.raises(ValueError):
        svc.build_index("default", family="hnswlib")
