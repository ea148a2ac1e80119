"""VectorStore CRUD semantics — ports of the reference suite
(tests/test_storage_engine_in_memory.py, tests/test_query_processor.py):
insert/search integrity, namespace isolation + GC, delete removes from
search, order/None-aligned multi-get, equal-values-distinct-ids, nested
metadata round-trip, storage_info aggregates, true-upsert overwrite (the
test the reference left commented out)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from mlvectordb_spark.operators.store import VectorStore

np.random.seed(42)


@pytest.fixture()
def store(spark, tmp_path):
    return VectorStore(spark, str(tmp_path / "store"))


def test_insert_and_read(store):
    vid = store.insert([1.0, 2.0], {"category": "A"})
    row = store.read(vid)
    assert row is not None
    assert row.values == [1.0, 2.0]
    assert row.metadata["category"] == "A"
    assert store.count() == 1


def test_upsert_many_always_inserts(store):
    """Reference semantics: every DTO gets a fresh uuid — 'upsert' inserts
    (implementations/vector.py:13, query_processor.py:22)."""
    ids1 = store.upsert_many([{"values": [1.0, 2.0]}, {"values": [3.0, 4.0]}])
    ids2 = store.upsert_many([{"values": [1.0, 2.0]}])  # same values again
    assert len(set(ids1) | set(ids2)) == 3
    assert store.count() == 3


def test_equal_values_distinct_ids(store):
    """test_storage_engine_in_memory.py:192-199."""
    a = store.insert([1.0, 2.0])
    b = store.insert([1.0, 2.0])
    assert a != b
    assert store.count() == 2


def test_true_upsert_overwrites(store):
    """The reference's commented-out overwrite test
    (test_storage_engine_in_memory.py:46-57) — implemented here for real."""
    store.upsert_by_id([{"id": "k1", "values": [1.0, 0.0], "metadata": {"v": "1"}}])
    store.upsert_by_id([{"id": "k1", "values": [9.0, 9.0], "metadata": {"v": "2"}}])
    row = store.read("k1")
    assert row.values == [9.0, 9.0]
    assert row.metadata["v"] == "2"
    assert store.count() == 1


def test_upsert_small_fraction_of_namespace(store):
    """Regression (round-2 verdict, high severity): upserting a SMALL
    fraction of a populated namespace must not lose the new version. The
    old tombstone-based implementation anti-joined on (id, namespace), so
    unless the delete pushed the namespace past the 20% compaction
    threshold the freshly-appended row was filtered out of df() too."""
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(10)]
    )
    store.upsert_by_id([{"id": "k3", "values": [99.0, 99.0]}])
    assert store.count() == 10  # nothing lost, nothing duplicated
    row = store.read("k3")
    assert row is not None and row.values == [99.0, 99.0]
    # untouched neighbours still intact
    assert store.read("k4").values == [4.0, 0.0]


def _ns_files(store, ns="default"):
    import os

    d = os.path.join(store.data_path, f"namespace={ns}")
    if not os.path.isdir(d):
        return set()
    return {f for f in os.listdir(d) if f.endswith(".parquet")}


def test_upsert_by_id_is_append_only(store):
    """Merge-on-read (round-3 verdict #7): a point upsert must APPEND a new
    version, not rewrite the namespace partition — the existing data files
    stay byte-identical on disk and the read path takes latest-wins."""
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(50)]
    )
    before = _ns_files(store)
    store.upsert_by_id([{"id": "k3", "values": [99.0, 99.0]}])
    after = _ns_files(store)
    assert before <= after, "existing files must survive a point upsert"
    assert len(after) > len(before), "the new version is a new file"
    assert store.read("k3").values == [99.0, 99.0]
    assert store.count() == 50


def test_upsert_resurrects_deleted_id(store):
    """Upserting a previously-deleted id retires its tombstone — the new
    version must be visible (tombstones match every version of the key)."""
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(10)]
    )
    store.delete(["k2"])
    assert store.read("k2") is None
    store.upsert_by_id([{"id": "k2", "values": [42.0, 42.0]}])
    assert store.read("k2").values == [42.0, 42.0]
    assert store.count() == 10


def test_compaction_collapses_superseded_versions(store):
    """compact() physically collapses multi-version rows to latest-wins and
    clears the dirty mark, leaving raw == live."""
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(10)]
    )
    store.upsert_by_id([{"id": "k1", "values": [11.0, 0.0]}])
    store.upsert_by_id([{"id": "k1", "values": [12.0, 0.0]}])
    assert store._raw().count() > store.df().count()
    store.compact("default")
    assert store._raw().count() == store.df().count() == 10
    assert store.read("k1").values == [12.0, 0.0]
    assert "default" not in store._dirty_namespaces()


def test_insert_df_bulk(store, spark):
    """DataFrame-native bulk insert: executor-side shaping, no driver loop."""
    src = spark.createDataFrame(
        [([float(i), 1.0], {"k": str(i)}, "nsA" if i < 3 else "nsB")
         for i in range(5)],
        "values array<double>, metadata map<string,string>, namespace string",
    )
    n = store.insert_df(src)
    assert n == 5
    assert store.count("nsA") == 3 and store.count("nsB") == 2
    row = store.get_namespace_vectors("nsA").filter("metadata['k'] = '1'").head()
    assert row.values == [1.0, 1.0]


def test_upsert_df_merge(store, spark):
    """Bulk MERGE: only incoming keys replaced, others untouched, no dupes."""
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(6)]
    )
    batch = spark.createDataFrame(
        [("k2", [20.0, 20.0]), ("k9", [90.0, 90.0])],
        "id string, values array<double>",
    )
    n = store.upsert_df(batch)
    assert n == 2
    assert store.count() == 7  # 6 - 1 replaced + 2 incoming (one new)
    assert store.read("k2").values == [20.0, 20.0]
    assert store.read("k9").values == [90.0, 90.0]
    assert store.read("k4").values == [4.0, 0.0]


def test_delete_df_bulk(store, spark):
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(8)]
    )
    keys = spark.createDataFrame(
        [("k1", "default"), ("k5", "default"), ("nope", "default")],
        "id string, namespace string",
    )
    assert store.delete_df(keys) == 2
    assert store.count() == 6
    assert store.read("k1") is None


def test_multi_get_alignment(store):
    """Order- and None-preserving multi-get
    (test_storage_engine_in_memory.py:72-82)."""
    a = store.insert([1.0, 2.0])
    b = store.insert([3.0, 4.0])
    out = store.read_vectors([b, "missing-id", a])
    assert out[0].id == b
    assert out[1] is None
    assert out[2].id == a


def test_delete_returns_existing_only(store):
    a = store.insert([1.0, 2.0])
    deleted = store.delete([a, "nope"])
    assert deleted == [a]
    assert store.read(a) is None
    assert store.delete(["nope"]) == []


def test_deleted_not_searchable(store):
    """Deleted ⇒ unsearchable (test_index.py:52-54,
    test_query_processor.py:103-105)."""
    ids = store.upsert_many([{"values": [float(i), 0.0]} for i in range(5)])
    store.delete(ids[:2])
    res = store.find_similar([0.0, 0.0], top_k=10, metric="l2")
    assert {r["id"] for r in res}.isdisjoint(set(ids[:2]))
    assert len(res) == 3


def test_namespace_isolation(store):
    """Hard isolation incl. per-namespace dimensionality
    (test_query_processor.py:70-85, test_storage_engine_in_memory.py:171-190)."""
    store.upsert_many([{"values": [1.0, 0.0]}], namespace="ns1")
    store.upsert_many([{"values": [0.0, 1.0, 0.0]}], namespace="ns2")  # dim 3!
    r1 = store.find_similar([1.0, 0.0], 5, namespace="ns1", metric="cosine")
    r2 = store.find_similar([0.0, 1.0, 0.0], 5, namespace="ns2", metric="cosine")
    assert len(r1) == 1 and len(r2) == 1
    assert store.count("ns1") == 1 and store.count("ns2") == 1


def test_namespace_gc_on_delete(store):
    """Empty namespaces disappear (storage_engine_in_memory.py:49-50,
    test :99-106)."""
    vid = store.insert([1.0], namespace="temp")
    assert "temp" in store.list_namespaces()
    store.delete([vid], namespace="temp")
    assert "temp" not in store.list_namespaces()


def test_delete_namespace_and_clear_all(store):
    store.insert([1.0], namespace="a")
    store.insert([2.0], namespace="b")
    assert store.delete_namespace("a") is True
    assert store.list_namespaces() == ["b"]
    assert store.delete_namespace("a") is False
    assert store.clear_all() is True
    assert store.count("b") == 0


def test_exists_cross_namespace(store):
    """exists() searches ALL namespaces (storage_engine_in_memory.py:54-55)."""
    vid = store.insert([1.0], namespace="hidden")
    assert store.exists(vid)
    assert not store.exists("missing")


def test_storage_info_shape(store):
    """get_storage_info aggregates (storage_engine_in_memory.py:61-69,
    test :150-161)."""
    store.upsert_many([{"values": [1.0, 2.0]}] * 3, namespace="x")
    store.upsert_many([{"values": [1.0]}] * 2, namespace="y")
    info = store.storage_info()
    assert info["total_vectors"] == 5
    assert info["vectors_per_namespace"] == {"x": 3, "y": 2}
    assert info["namespace_count"] == 2
    assert info["storage_size_bytes"] > 0


def test_nested_metadata_roundtrip(store):
    """Nested metadata survives via metadata_json
    (test_storage_engine_in_memory.py:202-218)."""
    meta = {
        "string": "s",
        "number": 42,
        "list": [1, 2, 3],
        "dict": {"a": {"b": 1}},
        "none": None,
    }
    vid = store.insert([1.0], metadata=meta)
    row = store.read(vid)
    assert json.loads(row.metadata_json) == json.loads(
        json.dumps(meta, sort_keys=True)
    )


def test_find_similar_ranking_and_metric(store):
    """Ranking matches exact cosine oracle (test_query_processor.py:52-67);
    per-query metric is honest (unlike the reference — SURVEY fact #2)."""
    store.upsert_many(
        [
            {"values": [1.0, 0.0, 0.0], "metadata": {"label": "A"}},
            {"values": [0.0, 1.0, 0.0], "metadata": {"label": "B"}},
            {"values": [0.8, 0.2, 0.0], "metadata": {"label": "C"}},
        ]
    )
    res = store.find_similar([0.9, 0.1, 0.0], 3, metric="cosine")
    # exact cosine: A=0.9939, C=0.9911, B=0.1104
    assert [r["metadata"]["label"] for r in res] == ["A", "C", "B"]
    res_l2 = store.find_similar([0.9, 0.1, 0.0], 3, metric="l2")
    # squared L2: A and C tie at 0.02 (uuid tie-break), B at 1.62
    assert res_l2[0]["metadata"]["label"] in ("A", "C")
    assert res_l2[2]["metadata"]["label"] == "B"
    assert res_l2[0]["score"] <= res_l2[1]["score"] <= res_l2[2]["score"]


def test_hybrid_metadata_filter(store):
    """Declared hybrid query (Q15): KNN ∧ metadata equality."""
    store.upsert_many(
        [
            {"values": [1.0, 0.0], "metadata": {"cat": "doc"}},
            {"values": [0.9, 0.1], "metadata": {"cat": "img"}},
        ]
    )
    res = store.find_similar([1.0, 0.0], 5, metric="cosine", metadata_filter={"cat": "doc"})
    assert len(res) == 1
    assert res[0]["metadata"]["cat"] == "doc"


def test_dimension_mismatch_rejected(store):
    """Per-namespace dim enforcement — the reference's implicit hnswlib
    constraint (implementations/index.py:32-48) made explicit; the gap
    SURVEY.md §5.2 notes the reference never tests."""
    store.insert([1.0, 2.0], namespace="dims")
    with pytest.raises(ValueError, match="dimension mismatch"):
        store.insert([1.0, 2.0, 3.0], namespace="dims")
    with pytest.raises(ValueError, match="dimension mismatch"):
        store.upsert_many(
            [{"values": [1.0, 2.0]}, {"values": [1.0]}], namespace="fresh"
        )
    with pytest.raises(ValueError, match="query dimension"):
        store.find_similar([1.0, 2.0, 3.0], 1, namespace="dims")
    # other namespaces are unaffected (dims are per-namespace)
    store.insert([1.0, 2.0, 3.0], namespace="dims3")
    assert store.dimension("dims") == 2 and store.dimension("dims3") == 3


def test_compaction_triggers_at_threshold(store):
    """P5/P6: tombstones accumulate, compaction clears them at >= 20%."""
    ids = store.upsert_many([{"values": [float(i)]} for i in range(10)])
    store.delete(ids[:1])  # 10% — below threshold
    assert store.tombstone_ratio("default") > 0.0
    store.delete(ids[1:3])  # cumulative 30% — triggers compaction
    assert store.tombstone_ratio("default") == 0.0
    assert store.count() == 7
    assert {r["id"] for r in store.find_similar([0.0], 20, metric="l2")} == set(
        ids[3:]
    )


def test_optimize_bin_packs_small_files(spark, tmp_path):
    """Many tiny appends -> many files; optimize() folds them into the
    handful the data size warrants, preserving contents and tombstones."""
    import os

    from pyspark.sql import functions as F

    store = VectorStore(spark, str(tmp_path / "opt"))
    for i in range(12):
        store.upsert_many(
            [{"values": [float(i), 0.0], "metadata": {"i": str(i)}}],
            namespace="ns",
        )
    store.delete(
        [store.df().filter(F.col("metadata")["i"] == "3").head().id],
        namespace="ns",
    )
    part = os.path.join(store.data_path, "namespace=ns")
    before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert before >= 12
    live_before = sorted(r.metadata["i"] for r in store.df().collect())
    removed = store.optimize()
    after = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert removed["ns"] == before - after and after < before
    assert sorted(r.metadata["i"] for r in store.df().collect()) == live_before
    # tombstones folded into the rewrite
    assert store._tombstones() is None or store._tombstones().count() == 0


def test_upsert_df_collapses_in_batch_duplicate_ids(spark, tmp_path):
    """Round-4 advice: duplicate ids in ONE upsert_df batch share a single
    write_version — they must be collapsed before the append, including on
    the very first batch into an empty store (where no latest-wins window
    runs because the namespace is never dirty)."""
    from pyspark.sql import functions as F

    store = VectorStore(spark, str(tmp_path / "updup"))
    batch = spark.createDataFrame(
        [
            ("k1", [1.0, 0.0], "first"),
            ("k1", [2.0, 0.0], "second"),
            ("k2", [3.0, 0.0], "only"),
        ],
        "id string, values array<double>, note string",
    )
    n = store.upsert_df(batch, namespace="ns")
    assert n == 2  # k1 collapsed
    assert store.count("ns") == 2
    got = {
        r["id"]
        for r in store.df().filter(F.col("namespace") == "ns").select("id").collect()
    }
    assert got == {"k1", "k2"}
    # a second batch re-upserting k1 still converges to one visible row
    store.upsert_df(
        spark.createDataFrame(
            [("k1", [9.0, 0.0], "third")],
            "id string, values array<double>, note string",
        ),
        namespace="ns",
    )
    assert store.count("ns") == 2


def test_upsert_df_order_col_is_layout_independent(spark, tmp_path):
    """With `order_col`, the in-batch duplicate winner is decided by the
    column value (highest wins), not by physical row order — the same
    logical batch resolves identically however it is repartitioned
    (round-5 verdict: the monotonically_increasing_id fallback is
    layout-dependent)."""
    from pyspark.sql import functions as F

    rows = [
        ("k1", [1.0, 0.0], 1),
        ("k1", [2.0, 0.0], 3),  # highest seq → must win everywhere
        ("k1", [4.0, 0.0], 2),
        ("k2", [9.0, 0.0], 1),
    ]
    schema = "id string, values array<double>, seq int"
    winners = []
    for layout, nparts in [("as-is", None), ("repart", 7), ("byid", 2)]:
        store = VectorStore(spark, str(tmp_path / f"ord_{layout}"))
        batch = spark.createDataFrame(rows, schema)
        if layout == "repart":
            batch = batch.repartition(nparts)
        elif layout == "byid":
            batch = batch.repartition(nparts, F.col("seq"))
        n = store.upsert_df(batch, namespace="ns", order_col="seq")
        assert n == 2
        row = (
            store.df()
            .filter((F.col("namespace") == "ns") & (F.col("id") == "k1"))
            .first()
        )
        winners.append(list(row.values))
    assert winners == [[2.0, 0.0]] * 3, winners


def test_find_similar_as_of_checks_dimension(spark, tmp_path):
    """Round-5 advice: the as-of search applies the same query-dimension
    guard as the live path — a wrong-dimension query raises the documented
    ValueError instead of an executor arithmetic error."""
    store = VectorStore(spark, str(tmp_path / "asofdim"))
    store.upsert_by_id([{"id": "a", "values": [1.0, 2.0]}])
    v = store.current_version()
    with pytest.raises(ValueError, match="dimension"):
        store.find_similar_as_of([1.0, 2.0, 3.0], 1, version=v)
    # correct dimension still serves
    assert store.find_similar_as_of([1.0, 2.0], 1, version=v)[0]["id"] == "a"


def test_upsert_df_assume_unique_ids_skips_collapse(spark, tmp_path):
    """The unique-id contract path writes without the dedup window and
    behaves identically to the default path on a duplicate-free batch."""
    from pyspark.sql import functions as F

    store = VectorStore(spark, str(tmp_path / "upuniq"))
    batch = spark.createDataFrame(
        [("a", [1.0]), ("b", [2.0])], "id string, values array<double>"
    )
    n = store.upsert_df(batch, namespace="ns", assume_unique_ids=True)
    assert n == 2 and store.count("ns") == 2
    ids = {r["id"] for r in store.df().filter(F.col("namespace") == "ns").select("id").collect()}
    assert ids == {"a", "b"}


def test_time_travel_reconstructs_each_version(spark, tmp_path):
    """df_as_of(v) replays the event log: insert → upsert → delete, each
    version boundary reconstructed exactly; changes_since(v) carries the
    events (version-ordered upserts + deletes) to roll a replica forward."""
    # threshold 0.95: keep auto-compaction (which legitimately moves the
    # history floor) out of this test's way
    store = VectorStore(spark, str(tmp_path / "tt"), rebuild_threshold=0.95)
    store.upsert_by_id([{"id": "a", "values": [1.0, 0.0], "metadata": {"v": "1"}}])
    v1 = store.current_version()
    store.upsert_by_id([{"id": "a", "values": [2.0, 0.0], "metadata": {"v": "2"}}])
    v2 = store.current_version()
    store.upsert_by_id([{"id": "b", "values": [3.0, 0.0]}])
    v3 = store.current_version()
    store.delete(["a"])
    v4 = store.current_version()
    assert v1 < v2 < v3 < v4

    at = lambda v: {
        r.id: r.values for r in store.df_as_of(v).select("id", "values").collect()
    }
    assert at(v1) == {"a": [1.0, 0.0]}
    assert at(v2) == {"a": [2.0, 0.0]}
    assert at(v3) == {"a": [2.0, 0.0], "b": [3.0, 0.0]}
    assert at(v4) == {"b": [3.0, 0.0]}
    # current read agrees with as-of(current)
    assert {r.id for r in store.df().collect()} == {"b"}

    # CDC: from v2 the replica needs b's insert and a's delete, in order
    ch = store.changes_since(v2).orderBy("write_version").collect()
    assert [(r.id, r.change_type) for r in ch] == [("b", "upsert"), ("a", "delete")]
    # a full feed from v0 replays everything
    assert store.changes_since(0).count() == 4


def test_history_floor_enforced_after_compaction(spark, tmp_path):
    """Compaction erases event history: df_as_of/changes_since below the
    floor must raise instead of answering wrong; at/above the floor they
    still answer."""
    import pytest as _pytest

    store = VectorStore(spark, str(tmp_path / "ttf"))
    store.upsert_by_id([{"id": str(i), "values": [float(i), 0.0]} for i in range(10)])
    v1 = store.current_version()
    store.delete([str(i) for i in range(5)])  # 50% garbage -> compaction fires
    assert store.history_floor() > 0
    floor = store.history_floor()
    with _pytest.raises(ValueError):
        store.df_as_of(floor - 1)
    with _pytest.raises(ValueError):
        store.changes_since(v1 - 1)
    # the floor version itself is answerable and equals the current state
    assert {r.id for r in store.df_as_of(store.current_version()).collect()} == {
        str(i) for i in range(5, 10)
    }


def test_tombstone_retirement_bumps_floor(spark, tmp_path):
    """An upsert over a deleted id physically retires the delete event —
    the floor must advance so as-of can't silently mis-answer the window
    between delete and resurrection."""
    store = VectorStore(spark, str(tmp_path / "ttr"), rebuild_threshold=0.95)
    store.upsert_by_id([{"id": "a", "values": [1.0, 0.0]},
                        {"id": "b", "values": [2.0, 0.0]}])
    store.delete(["a"])
    assert store.history_floor() == 0  # delete alone keeps history intact
    store.upsert_by_id([{"id": "a", "values": [9.0, 0.0]}])  # resurrect
    assert store.history_floor() == store.current_version() - 1 or (
        store.history_floor() > 0
    )
    assert {r.id for r in store.df().collect()} == {"a", "b"}


def test_history_counts_events_per_version(spark, tmp_path):
    """history() is DESCRIBE HISTORY for the store: upsert/delete event
    counts keyed by write_version."""
    store = VectorStore(spark, str(tmp_path / "hist"), rebuild_threshold=0.95)
    store.upsert_by_id([{"id": "a", "values": [1.0]}, {"id": "b", "values": [2.0]}])
    store.upsert_by_id([{"id": "a", "values": [3.0]}])
    store.delete(["b"])
    h = {r.version: (r.n_upserts, r.n_deletes) for r in store.history().collect()}
    assert h[1] == (2, 0)
    assert h[2] == (1, 0)
    assert h[3] == (0, 1)


def test_find_similar_as_of_serves_historical_state(spark, tmp_path):
    """Time-travel serving: the same query answered against version v
    returns the PRE-overwrite neighbor, against current state the new one."""
    store = VectorStore(spark, str(tmp_path / "ttq"), rebuild_threshold=0.95)
    store.upsert_by_id(
        [
            {"id": "near", "values": [1.0, 0.0]},
            {"id": "far", "values": [0.0, 5.0]},
        ]
    )
    v1 = store.current_version()
    # overwrite: 'near' moves away, 'far' moves next to the query
    store.upsert_by_id(
        [
            {"id": "near", "values": [0.0, 9.0]},
            {"id": "far", "values": [1.0, 0.1]},
        ]
    )
    q = [1.0, 0.0]
    now = store.find_similar(q, 1, metric="l2")
    then = store.find_similar_as_of(q, 1, version=v1, metric="l2")
    assert now[0]["id"] == "far"
    assert then[0]["id"] == "near"
    assert then[0]["values"] == [1.0, 0.0]


def test_indexed_serving_matches_exact_and_isolates_namespaces(spark, tmp_path):
    """Round-5 verdict tasks 4+5: find_similar(mode="indexed") through a
    per-namespace attached index equals the brute-force path on the same
    state; the other namespace's member never contributes rows; and a
    CDC cycle (overwrite + delete + sync_indexes) keeps the routed read
    exact. Mirrors reference tests/test_query_processor.py:70-85
    (isolation) and :52-67 (ranking vs independent oracle)."""
    import math

    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    def vec(i):
        return [math.cos(0.3 * i), math.sin(0.3 * i), float(i % 5)]

    store = VectorStore(spark, str(tmp_path / "serve"), rebuild_threshold=0.95)
    rows = [
        {"id": f"a{i}", "values": vec(i), "namespace": "nsA"} for i in range(40)
    ] + [
        {"id": f"b{i}", "values": vec(i), "namespace": "nsB"} for i in range(40)
    ]
    df = spark.createDataFrame(
        [(r["id"], r["values"], r["namespace"]) for r in rows],
        "id string, values array<float>, namespace string",
    )
    store.upsert_df(df)

    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=3, seed=7))
    fam.build(
        store.df().select("id", "values", "namespace"),
        vec_col="values", id_col="id",
    )
    assert fam.namespaces() == ["nsA", "nsB"]
    for ns in fam.namespaces():
        store.attach_index(ns, fam.member(ns), vec_col="values", id_col="id")

    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.knn import knn

    def brute(k):
        # same rounded-score + id ordering convention as the indexed path
        ns_df = store.df().filter(F.col("namespace") == "nsA").select(
            "id", "values"
        )
        return [
            (r.id, round(r.score, 4))
            for r in knn(
                ns_df, q, k, vec_col="values", id_col="id", metric="l2"
            ).collect()
        ]

    q = vec(3)
    got = store.find_similar(q, 5, namespace="nsA", metric="l2", mode="indexed")
    assert [(h["id"], round(h["score"], 4)) for h in got] == brute(5)
    # isolation: every hit comes from nsA's member, never nsB's
    assert all(h["id"].startswith("a") for h in got)
    # nsB's member is untouched by nsA's maintenance below (reference bug
    # query_processor.py:58-61 — rebuild wiping other namespaces — must
    # NOT be replicated)
    b_ids_before = sorted(
        r.id for r in fam.member("nsB").indexed.select("id").collect()
    )

    # CDC cycle: overwrite a3, delete a1, sync only rolls members forward
    store.upsert_df(
        spark.createDataFrame(
            [("a3", [9.0, 9.0, 9.0], "nsA")],
            "id string, values array<float>, namespace string",
        )
    )
    store.delete_df(
        spark.createDataFrame([("a1", "nsA")], "id string, namespace string")
    )
    store.sync_indexes()
    got2 = store.find_similar(q, 5, namespace="nsA", metric="l2", mode="indexed")
    assert [(h["id"], round(h["score"], 4)) for h in got2] == brute(5)
    assert all(h["id"] != "a1" for h in got2)
    b_ids_after = sorted(
        r.id for r in fam.member("nsB").indexed.select("id").collect()
    )
    assert b_ids_after == b_ids_before

    # mode contract: auto falls back to exact for unsupported metrics /
    # filters; indexed raises
    cos = store.find_similar(q, 3, namespace="nsA", metric="cosine")
    assert len(cos) == 3
    with pytest.raises(ValueError, match="indexed serving"):
        store.find_similar(q, 3, namespace="nsA", metric="cosine", mode="indexed")
    with pytest.raises(ValueError, match="no index attached"):
        store.find_similar(q, 3, namespace="nsC", metric="l2", mode="indexed")


def test_index_family_lazy_namespace_from_feed(spark, tmp_path):
    """A namespace first seen in a CDC feed creates its member lazily from
    the feed's upserts (reference _get_or_create_index, index.py:32-48)."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=2, seed=1))
    feed = spark.createDataFrame(
        [
            ("x1", [1.0, 0.0], "fresh", "upsert", 1),
            ("x2", [0.0, 1.0], "fresh", "upsert", 1),
            ("x3", [0.5, 0.5], "fresh", "upsert", 2),
        ],
        "id string, values array<float>, namespace string, "
        "change_type string, write_version long",
    )
    fam.apply_changes(feed, vec_col="values", id_col="id")
    assert fam.namespaces() == ["fresh"]
    got = fam.search_exact("fresh", [1.0, 0.0], 2, vec_col="values", id_col="id")
    assert [r.id for r in got.select("id").collect()] == ["x1", "x3"]


def test_compaction_mid_df_as_of_raises_not_mixed_state(spark, tmp_path):
    """Round-5 verdict #10: a df_as_of plan captured BEFORE a compaction
    must not silently return a mixed state once the compaction rewrites
    the partition under it — consuming it raises (the physical files it
    referenced are gone), and re-requesting the version raises the
    documented floor ValueError."""
    store = VectorStore(spark, str(tmp_path / "midc"), rebuild_threshold=0.95)
    store.upsert_by_id(
        [{"id": f"k{i}", "values": [float(i), 0.0]} for i in range(10)]
    )
    v1 = store.current_version()
    store.upsert_by_id([{"id": "k1", "values": [99.0, 0.0]}])
    hist = store.df_as_of(v1)  # plan pinned to pre-compaction files
    store.compact("default")   # physically rewrites; floor moves past v1
    with pytest.raises(Exception):
        # a mixed/partial state would surface here as wrong rows — the
        # contract is an error instead (missing input files)
        hist.collect()
    with pytest.raises(ValueError, match="history below"):
        store.df_as_of(v1)


def test_indexed_cosine_space_matches_brute_force(spark, tmp_path):
    """An index attached with space="cosine" (built over unit-normalized
    vectors — the hnswlib cosine-space recipe, implementations/index.py:18,
    36) serves metric="cosine" queries exactly: same members and same true
    cosine scores as the brute-force path, kept fresh through a CDC sync."""
    import math

    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex
    from mlvectordb_spark.operators.knn import knn

    def vec(i):
        # varied magnitudes so cosine and l2 rankings genuinely differ
        m = 0.5 + (i % 5)
        return [m * math.cos(0.37 * i), m * math.sin(0.37 * i), m * 0.2 * (i % 3)]

    store = VectorStore(spark, str(tmp_path / "cosserve"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"c{i}", vec(i), "default") for i in range(50)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index(
        "default",
        factory=lambda: IVFIndex(n_clusters=3, seed=3),
        space="cosine",
    )
    q = vec(11)

    def brute(k):
        ns_df = store.df().select("id", "values")
        return [
            (r.id, round(r.score, 4))
            for r in knn(
                ns_df, q, k, vec_col="values", id_col="id", metric="cosine"
            ).collect()
        ]

    got = store.find_similar(q, 5, metric="cosine", mode="indexed")
    assert [(h["id"], round(h["score"], 4)) for h in got] == brute(5)
    # l2 queries against a cosine-space index fall back (auto) / raise (indexed)
    assert store.find_similar(q, 2, metric="l2")  # auto → brute, still serves
    with pytest.raises(ValueError, match="indexed serving"):
        store.find_similar(q, 2, metric="l2", mode="indexed")

    # CDC cycle: overwrite + delete, sync, still exact in cosine space
    store.upsert_df(
        spark.createDataFrame(
            [("c3", [x * 3.0 for x in vec(40)], "default")],
            "id string, values array<float>, namespace string",
        )
    )
    store.delete_df(
        spark.createDataFrame([("c7", "default")], "id string, namespace string")
    )
    store.sync_indexes()
    got2 = store.find_similar(q, 5, metric="cosine", mode="indexed")
    assert [(h["id"], round(h["score"], 4)) for h in got2] == brute(5)
    assert all(h["id"] != "c7" for h in got2)


def test_any_index_family_serves_through_store(spark, tmp_path):
    """The attach protocol is family-agnostic: IVF+PQ and LSH members both
    serve find_similar(mode="indexed") exactly (every family exposes
    build/apply_changes/search_exact/.indexed)."""
    import math

    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFPQIndex, LSHIndex
    from mlvectordb_spark.operators.knn import knn

    def vec(i):
        return [
            math.cos(0.21 * i), math.sin(0.21 * i),
            math.cos(0.11 * i + 1.0), float(i % 6),
        ]

    store = VectorStore(spark, str(tmp_path / "famserve"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", vec(i), "default") for i in range(64)],
            "id string, values array<float>, namespace string",
        )
    )
    q = vec(9)

    def brute(k):
        ns_df = store.df().select("id", "values")
        return [
            (r.id, round(r.score, 4))
            for r in knn(
                ns_df, q, k, vec_col="values", id_col="id", metric="l2"
            ).collect()
        ]

    want = brute(5)
    for factory in (
        lambda: IVFPQIndex(n_clusters=4, m=4, k_sub=8, seed=2),
        lambda: LSHIndex(bucket_length=0.7, num_hash_tables=3, seed=2),
    ):
        store.build_index("default", factory=factory)
        got = store.find_similar(q, 5, metric="l2", mode="indexed")
        assert [(h["id"], round(h["score"], 4)) for h in got] == want, factory


def test_approx_mode_probes_subset(spark, tmp_path):
    """mode="approx" (the reference's real HNSW behavior — recall < 1.0):
    nprobe clusters probed, result members always a subset of the corpus
    with exact scores, and nprobe=all-clusters converges to exact."""
    import math

    from mlvectordb_spark.operators.ann import IVFIndex

    def vec(i):
        return [math.cos(0.3 * i), math.sin(0.3 * i), float(i % 5)]

    store = VectorStore(spark, str(tmp_path / "approx"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", vec(i), "default") for i in range(60)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index(
        "default", factory=lambda: IVFIndex(n_clusters=6, seed=4)
    )
    q = vec(3)
    exact = store.find_similar(q, 5, metric="l2", mode="indexed")
    # probing every cluster is exact by construction
    full = store.find_similar(q, 5, metric="l2", mode="approx", nprobe=6)
    assert [h["id"] for h in full] == [h["id"] for h in exact]
    # a 1-probe search returns k results from the nearest cluster only —
    # possibly lower recall, never an error, scores still true distances
    one = store.find_similar(q, 5, metric="l2", mode="approx", nprobe=1)
    assert len(one) == 5
    exact_ids = {h["id"] for h in exact}
    assert len({h["id"] for h in one} & exact_ids) >= 1


def test_auto_mode_never_serves_stale_index(spark, tmp_path):
    """Review r6: mode="auto" (the REST default) must preserve
    read-your-writes — after a write that the index has not synced, auto
    falls back to the exact scan; explicit mode="indexed" serves the
    index as-synced; sync_indexes restores routed serving."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "stale"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "default") for i in range(20)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("default", factory=lambda: IVFIndex(n_clusters=2, seed=1))
    # unsynced write: a brand-new nearest neighbour
    store.upsert_df(
        spark.createDataFrame(
            [("fresh", [100.0, 0.0], "default")],
            "id string, values array<float>, namespace string",
        )
    )
    q = [100.0, 0.0]
    auto = store.find_similar(q, 1, metric="l2")  # auto → exact fallback
    assert auto[0]["id"] == "fresh", "auto must see the unsynced write"
    stale = store.find_similar(q, 1, metric="l2", mode="indexed")
    assert stale[0]["id"] != "fresh", "indexed serves as-synced"
    store.sync_indexes()
    routed = store.find_similar(q, 1, metric="l2", mode="indexed")
    assert routed[0]["id"] == "fresh"
    # and auto routes through the index again once synced
    assert store.find_similar(q, 1, metric="l2")[0]["id"] == "fresh"


def _serving_families():
    from mlvectordb_spark.operators.ann import IVFIndex, IVFPQIndex, LSHIndex
    from mlvectordb_spark.operators.graph_ann import GraphANNIndex

    return {
        "ivf": lambda: IVFIndex(n_clusters=2, seed=1),
        "ivfpq": lambda: IVFPQIndex(n_clusters=2, m=2, k_sub=4, seed=1),
        "lsh": lambda: LSHIndex(bucket_length=2.0, num_hash_tables=3, seed=1),
        "graph": lambda: GraphANNIndex(n_blocks=2, m=4, ef_construction=16, seed=1),
    }


def _compaction_store(spark, path, factory):
    store = VectorStore(spark, path)  # default 0.2 compaction trigger
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 1.0], "default") for i in range(30)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("default", factory=factory)
    return store


def _assert_no_store_files(store, idx):
    """The served plans must not read the store's own files."""
    for df in (idx.indexed, getattr(idx, "pending", None)):
        if df is not None:
            assert not [f for f in df.inputFiles() if store.path in f]


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "lsh", "graph"])
def test_indexed_serving_survives_compaction(spark, tmp_path, family):
    """The attached index must not reference the store's parquet files — a
    routine auto-compaction (default 20% trigger) physically rewrites the
    partition; the serving read must keep working through build → churn →
    compaction → sync (floor moved: full resync) → search."""
    store = _compaction_store(
        spark, str(tmp_path / "compserve"), _serving_families()[family]
    )
    # an id that enters through a CDC sync (graph: its pending tail) and
    # is deleted again before the compaction erases the delete event
    store.upsert_by_id([{"id": "tmp", "values": [50.0, 50.0]}])
    store.sync_indexes()
    store.delete(["tmp"])
    # churn >20% of the namespace: overwrites + deletes fire compaction
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 9.0], "default") for i in range(10)],
            "id string, values array<float>, namespace string",
        )
    )
    store.delete_df(
        spark.createDataFrame(
            [(f"k{i}", "default") for i in range(20, 28)],
            "id string, namespace string",
        )
    )
    assert store.history_floor() > 0, "compaction should have fired"
    store.sync_indexes()  # floor moved → full resync path
    idx = store.attached_index("default")
    _assert_no_store_files(store, idx)
    got = store.find_similar([3.0, 9.0], 3, metric="l2", mode="indexed")
    assert got[0]["id"] == "k3" and round(got[0]["values"][1]) == 9
    assert all(not h["id"].startswith("k2") or h["id"] == "k2" for h in got)
    far = store.find_similar([50.0, 50.0], 1, metric="l2", mode="indexed")
    assert far[0]["id"] == "k29", "a deleted tail row must not survive a resync"
    if family == "graph":
        # the resync re-entry is a rebuild: it must end materialized, with
        # no lazy graph-build stage left in the plan
        assert idx.pending is None
        plan = idx.indexed._jdf.queryExecution().optimizedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, plan
    if family != "lsh":  # LSH cannot drift
        # resync is a fresh baseline, not drift
        assert not idx.is_rebuild_required()


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "lsh", "graph"])
def test_incremental_sync_survives_compaction(spark, tmp_path, family):
    """Incremental case: a CDC sync below the compaction trigger, then an
    explicit `compact` rewrites the partition the feed was read from, then
    the served index answers from its own materialized state."""
    store = _compaction_store(
        spark, str(tmp_path / "compinc"), _serving_families()[family]
    )
    store.upsert_by_id(
        [{"id": "k3", "values": [3.0, 9.0]}, {"id": "fresh", "values": [3.5, 9.0]}]
    )
    store.delete_df(
        spark.createDataFrame([("k4", "default")], "id string, namespace string")
    )
    floor = store.history_floor()
    store.sync_indexes()
    assert store.history_floor() == floor, "the sync must be incremental"
    _assert_no_store_files(store, store.attached_index("default"))
    store.compact("default")
    got = store.find_similar([3.0, 9.0], 3, metric="l2", mode="indexed")
    assert [h["id"] for h in got] == ["k3", "fresh", "k2"]
    assert round(got[0]["values"][1]) == 9
    assert "k4" not in {h["id"] for h in store.find_similar(
        [4.0, 1.0], 3, metric="l2", mode="indexed")}


# Spark jobs per `_sync_namespace` over 9 sync cycles. Each family rolls
# forward through the shared PendingTail: 3 jobs per sync (the feed window's
# shuffle, then the shuffle and result of the one stats aggregate that
# materializes the feed and returns its ids); the 8th sync folds the chain:
# one checkpoint per folded table (graph: its graph table and its pending
# tail), and for IVF and IVF+PQ the 2-job exact count refresh. Small feeds
# retire through NOT IN lists, so the chain holds no broadcast to re-run.
_FOLD = {"ivf": 6, "ivfpq": 6, "lsh": 4, "graph": 5}


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "lsh", "graph"])
def test_jobs_per_sync_pinned(spark, tmp_path, family, spark_jobs):
    rng = np.random.default_rng(0)
    X = rng.normal(size=(2000, 16))
    store = VectorStore(spark, str(tmp_path / "jobs"))
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(x) for x in X[i]], "default") for i in range(2000)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    store.build_index("default", factory=_serving_families()[family])
    counts = []
    for _cycle in range(9):
        store.upsert_by_id(
            [
                {"id": f"k{i}", "values": [float(x) for x in rng.normal(size=16)]}
                for i in rng.choice(2000, 8, replace=False)
            ]
        )
        counts.append(spark_jobs(lambda: store._sync_namespace("default"))[0])
    assert counts == [3] * 7 + [_FOLD[family], 3], counts


def _metadata_store(spark, path, factories, space="l2", n=400, dim=16):
    """One namespace per factory, rows carrying metadata (with a quote and
    a backslash), each namespace with a built index in `space`."""
    rng = np.random.default_rng(5)
    centers = rng.normal(0.0, 4.0, (8, dim))
    rows = []
    for ns in factories:
        X = centers[rng.integers(0, 8, n)] + rng.normal(0.0, 1.0, (n, dim))
        rows += [
            (f"{ns}-{i}", [float(x) for x in X[i]], ns,
             {"i": str(i), "tag": "it's \\ ok"})
            for i in range(n)
        ]
    store = VectorStore(spark, path, rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            rows,
            "id string, values array<float>, namespace string, "
            "metadata map<string,string>",
        ),
        assume_unique_ids=True,
    )
    for ns, factory in factories.items():
        store.build_index(ns, factory=factory, space=space)
    return store, centers, rng


def _read_families():
    from mlvectordb_spark.operators.ann import IVFIndex, IVFPQIndex, LSHIndex
    from mlvectordb_spark.operators.graph_ann import GraphANNIndex

    return {
        "ivf": lambda: IVFIndex(n_clusters=8, seed=1),
        "ivfpq": lambda: IVFPQIndex(n_clusters=8, m=4, k_sub=8, seed=1),
        "lsh": lambda: LSHIndex(bucket_length=4.0, num_hash_tables=3, seed=1),
        "graph": lambda: GraphANNIndex(
            n_blocks=2, m=4, ef_construction=16, seed=1
        ),
    }


# Spark jobs per fresh indexed read: IVF and graph answer in the index's
# one collect; IVF+PQ's tau collect precedes its pool rescore
# (`quantize.certified_pool`), and LSH's probe collect precedes its
# certified bucket window (`LSHIndex.search_exact`).
_READ_JOBS = {"ivf": 1, "ivfpq": 2, "lsh": 2, "graph": 1}


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "lsh", "graph"])
def test_fresh_indexed_read_jobs_pinned(spark, tmp_path, family, spark_jobs):
    """A fresh index answers from its own rows: a warm search is one job
    (IVF+PQ and LSH: two), and so is the first search right after a CDC
    sync — no retire broadcast, no count refresh, no store scan."""
    store, centers, rng = _metadata_store(
        spark, str(tmp_path / "jobs"), {family: _read_families()[family]}
    )
    q = (centers[0] + rng.normal(0.0, 1.0, 16)).tolist()

    def search():
        out = store.find_similar(q, 5, family, metric="l2")
        assert len(out) == 5 and all(h["metadata"] for h in out)
        return out

    search()  # warm
    assert spark_jobs(search)[0] == _READ_JOBS[family]
    store.upsert_by_id(
        [{"id": f"{family}-{i}", "values": rng.normal(size=16).tolist(),
          "metadata": {"i": "new"}} for i in range(6)],
        family,
    )
    store.delete([f"{family}-{i}" for i in range(10, 14)], family)
    store.sync_indexes()
    jobs, got = spark_jobs(search)
    assert jobs == _READ_JOBS[family]
    assert got == store.find_similar(q, 5, family, metric="l2", mode="exact")


@pytest.mark.parametrize(
    "family,space",
    [("ivf", "l2"), ("ivfpq", "l2"), ("graph", "l2"), ("ivf", "cosine"),
     ("graph", "cosine")],
)
def test_covering_reads_match_exact_scan(spark, tmp_path, family, space):
    """Single and batch reads in every mode over a fresh index equal the
    exact scan — ids, scores, values and metadata — before and after a
    sync that leaves a pending tail. A batch selects and ranks with the
    float64 query, so each of its queries equals the single exact read."""
    store, centers, rng = _metadata_store(
        spark, str(tmp_path / "cover"), {family: _read_families()[family]},
        space=space,
    )

    def check():
        qs = {
            f"q{j}": (centers[j % 8] + rng.normal(0.0, 1.0, 16)).tolist()
            for j in range(4)
        }
        truth = {
            qid: store.find_similar(q, 5, family, metric=space, mode="exact")
            for qid, q in qs.items()
        }
        # graph's approx dial is a bounded beam: not exact by contract
        modes = ("auto", "indexed") + (("approx",) if family != "graph" else ())
        for mode in modes:
            kw = {"nprobe": 8} if mode == "approx" else {}
            for qid, q in qs.items():
                got = store.find_similar(
                    q, 5, family, metric=space, mode=mode, **kw
                )
                assert got == truth[qid], (mode, qid)
            rows = store.find_similar_batch(
                qs, 5, family, metric=space, mode=mode, **kw
            ).collect()
            for qid in qs:
                got = sorted(
                    (r for r in rows if r.query_id == qid),
                    key=lambda r: [h["id"] for h in truth[qid]].index(r.id),
                )
                assert [
                    {"id": r.id, "values": list(r.values),
                     "metadata": dict(r.metadata), "score": r.score}
                    for r in got
                ] == truth[qid], (mode, qid)

    check()
    store.upsert_by_id(
        [{"id": f"{family}-{i}", "values": rng.normal(size=16).tolist(),
          "metadata": {"i": "moved"}} for i in range(0, 40, 4)],
        family,
    )
    store.delete([f"{family}-{i}" for i in range(1, 40, 4)], family)
    store.sync_indexes()
    check()


@pytest.mark.parametrize("family", ["ivf", "graph"])
def test_payload_survives_save_load(spark, tmp_path, family):
    """The metadata payload is part of the saved layout: a reloaded index
    attached to the store still answers fresh reads from its own rows."""
    store, centers, rng = _metadata_store(
        spark, str(tmp_path / "persist"), {family: _read_families()[family]}
    )
    idx = store.attached_index(family)
    idx.save(str(tmp_path / "idx"))
    loaded = type(idx).load(spark, str(tmp_path / "idx"))
    assert "metadata" in loaded.indexed.columns
    store.attach_index(family, loaded, vec_col="values", id_col="id")
    assert store._serving_route(family, "l2", None, "auto") == "cover"
    q = (centers[3] + rng.normal(0.0, 1.0, 16)).tolist()
    assert store.find_similar(q, 5, family, metric="l2") == store.find_similar(
        q, 5, family, metric="l2", mode="exact"
    )


def test_stale_explicit_reads_keep_two_step(spark, tmp_path):
    """An explicit indexed/approx read of a STALE index still goes through
    the store: ids deleted since the sync drop out, and a row upserted
    since the sync is reported with its current vector and metadata."""
    store, centers, rng = _metadata_store(
        spark, str(tmp_path / "stale2"), {"ivf": _read_families()["ivf"]}
    )
    q = (centers[2] + rng.normal(0.0, 1.0, 16)).tolist()
    top = store.find_similar(q, 5, "ivf", metric="l2", mode="indexed")
    gone, moved = top[0]["id"], top[1]["id"]
    store.delete([gone], "ivf")
    new_vec = [float(x) + 0.01 for x in top[1]["values"]]
    store.upsert_by_id(
        [{"id": moved, "values": new_vec, "metadata": {"i": "moved"}}], "ivf"
    )
    for mode in ("indexed", "approx"):
        got = store.find_similar(q, 5, "ivf", metric="l2", mode=mode)
        assert gone not in {h["id"] for h in got}
        hit = {h["id"]: h for h in got}[moved]
        assert hit["metadata"] == {"i": "moved"}
        assert hit["values"] == [float(np.float32(x)) for x in new_vec]
        rows = store.find_similar_batch(
            {"a": q}, 5, "ivf", metric="l2", mode=mode
        ).collect()
        assert gone not in {r.id for r in rows}
        assert {r.id: dict(r.metadata) for r in rows}[moved] == {"i": "moved"}


def test_retire_inline_ids_then_join_above_bound(spark, tmp_path):
    """A small feed retires through a driver-side NOT IN list (no join in
    the served plan, so a read launches no broadcast job); a feed above
    `PendingTail.INLINE_IDS` events keeps the anti-join."""
    from mlvectordb_spark.operators.ann import IVFIndex
    from mlvectordb_spark.operators.cdc import PendingTail

    store = VectorStore(spark, str(tmp_path / "inline"), rebuild_threshold=0.95)
    n = 1500
    store.upsert_df(
        spark.createDataFrame(
            [(f"k'{i}", [float(i % 37), float(i % 11)], "A") for i in range(n)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    idx = store.build_index("A", factory=lambda: IVFIndex(n_clusters=4, seed=1))

    def plan():
        return idx.indexed._jdf.queryExecution().optimizedPlan().toString()

    store.delete(["k'3", "k'4"], "A")
    store.sync_indexes()
    assert idx.cdc.retired_ids is not None and sorted(idx.cdc.retired_ids) == [
        "k'3", "k'4"
    ]
    assert "Join" not in plan(), plan()
    assert {r.id for r in idx.indexed.collect()} == {
        f"k'{i}" for i in range(n)
    } - {"k'3", "k'4"}
    big = PendingTail.INLINE_IDS + 10
    store.upsert_df(
        spark.createDataFrame(
            [(f"k'{i}", [1.0, float(i % 5)], "A") for i in range(big)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    idx.cdc.FOLD_SYNCS = 100  # keep the chain unfolded to see the join
    idx.cdc.FOLD_SHARE = 10.0
    store.sync_indexes()
    assert idx.cdc.retired_ids is None
    assert "LeftAnti" in plan(), plan()
    got = store.find_similar([1.0, 2.0], 3, "A", metric="l2")
    assert got == store.find_similar([1.0, 2.0], 3, "A", metric="l2",
                                     mode="exact")


def test_ivf_counts_stay_lower_bounds_until_fold(spark, tmp_path):
    """After apply_changes the cached per-cluster counts are certified
    lower bounds (count − retired + entered): no count job on the next
    search, never above the true counts; the fold restores exact ones."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store, centers, rng = _metadata_store(
        spark, str(tmp_path / "counts"),
        {"ivf": lambda: IVFIndex(n_clusters=8, seed=1)},
    )
    idx = store.attached_index("ivf")

    def exact():
        counts = np.zeros(8, dtype=np.int64)
        for r in idx.indexed.groupBy("cluster_id").count().collect():
            counts[int(r.cluster_id)] = int(r["count"])
        return counts

    for cycle in range(idx.cdc.FOLD_SYNCS):
        store.upsert_by_id(
            [{"id": f"ivf-{(cycle * 7 + i) % 400}",
              "values": rng.normal(size=16).tolist()} for i in range(5)],
            "ivf",
        )
        store.sync_indexes()
        assert idx._counts is not None
        if idx.cdc.syncs:
            assert (idx._counts <= exact()).all()
            assert (idx._counts < exact()).any()
    assert idx.cdc.syncs == 0, "the last sync folds"
    assert (idx._counts == exact()).all()


def test_floor_is_per_namespace(spark, tmp_path):
    """Compacting namespace A erases only A's history: B's index keeps
    rolling forward incrementally while A's index resyncs."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store, _centers, rng = _metadata_store(
        spark, str(tmp_path / "floor"),
        {ns: (lambda: IVFIndex(n_clusters=4, seed=1)) for ns in "AB"},
        n=60,
    )
    v0 = store.current_version()
    for ns in "AB":
        store.upsert_by_id(
            [{"id": f"{ns}-1", "values": rng.normal(size=16).tolist()}], ns
        )
    store.compact("A")
    assert store.history_floor("A") > v0 >= store.history_floor("B")
    assert store.history_floor() == store.history_floor("A")
    with pytest.raises(ValueError):
        store.changes_since(v0, "A")
    assert store.changes_since(v0, "B").count() == 1
    store.upsert_by_id(
        [{"id": "B-2", "values": rng.normal(size=16).tolist()}], "B"
    )
    resynced = []
    resync = store._resync_index

    def spy(ns, *args, **kwargs):
        resynced.append(ns)
        return resync(ns, *args, **kwargs)

    store._resync_index = spy
    store.sync_indexes()
    assert resynced == ["A"]
    for ns in "AB":
        q = rng.normal(size=16).tolist()
        assert store.find_similar(q, 3, ns, metric="l2") == store.find_similar(
            q, 3, ns, metric="l2", mode="exact"
        )


def test_resync_bookmark_keeps_concurrent_write(spark, tmp_path):
    """A write by another store object that lands while a floor-forced
    resync runs is above the bookmark the resync leaves: auto mode routes
    to the exact scan until the next sync, which applies the write."""
    from mlvectordb_spark.operators.ann import IVFIndex

    path = str(tmp_path / "race")
    store, _centers, rng = _metadata_store(
        spark, path, {"A": lambda: IVFIndex(n_clusters=4, seed=1)}, n=60
    )
    store.upsert_by_id(
        [{"id": "A-1", "values": rng.normal(size=16).tolist()}], "A"
    )
    store.compact("A")
    q = rng.normal(size=16)
    other = VectorStore(spark, path, rebuild_threshold=0.95)
    resync = store._resync_index

    def racing(*args, **kwargs):
        out = resync(*args, **kwargs)
        other.upsert_by_id(
            [{"id": "A-late", "values": (q + 1e-3).tolist()}], "A"
        )
        return out

    store._resync_index = racing
    store.sync_indexes()
    store._resync_index = resync
    exact = store.find_similar(q.tolist(), 3, "A", metric="l2", mode="exact")
    assert exact[0]["id"] == "A-late"
    assert not store._index_fresh("A")
    assert store.find_similar(q.tolist(), 3, "A", metric="l2") == exact
    store.sync_indexes()
    assert store._index_fresh("A")
    served = store.attached_index("A").indexed
    assert served.filter("id = 'A-late'").count() == 1
    assert store.find_similar(
        q.tolist(), 3, "A", metric="l2", mode="indexed"
    ) == exact


# Spark jobs per point write with an exact garbage ledger. Both point
# writes start with the id probe (stored ids + tombstone hits, one
# collect). upsert_by_id then appends; a resurrecting upsert adds the
# tombstone retirement rewrite. delete appends its tombstones; a
# compacting delete adds the partition rewrite (tombstone broadcast,
# latest-wins stage, write) and the tombstone drop. No write runs the
# stats aggregate.
_UPSERT_BY_ID_JOBS = 2
_WRITE_JOBS = {
    "upsert": _UPSERT_BY_ID_JOBS,
    "upsert_with_tombstones": _UPSERT_BY_ID_JOBS,
    "upsert_resurrect": 4,
    "delete": 2,
    "delete_compacting": 6,
}


def _keyed_store(spark, path, n=40, threshold=0.95):
    store = VectorStore(spark, path, rebuild_threshold=threshold)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 1.0], "A") for i in range(n)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    return store


def test_upsert_by_id_bookkeeping_jobs_pinned(spark, tmp_path, spark_jobs):
    """Jobs per point write: upsert_by_id without and with tombstones, a
    resurrecting upsert, a delete below the compaction threshold and a
    compacting one — none pays the per-namespace stats aggregate, and the
    resurrected id is visible."""
    store = _keyed_store(spark, str(tmp_path / "pw"), threshold=0.2)
    compacted = []
    compact = store.compact
    store.compact = lambda ns, **kw: (compacted.append(ns), compact(ns, **kw))
    store.upsert_by_id([{"id": "k0", "values": [0.0, 2.0]}], "A")  # warm
    got = {
        "upsert": spark_jobs(lambda: store.upsert_by_id(
            [{"id": "k4", "values": [4.0, 2.0]},
             {"id": "new", "values": [4.0, 3.0]}], "A"))[0],
        "delete": spark_jobs(lambda: store.delete(["k1", "k2"], "A"))[0],
    }
    store.upsert_by_id([{"id": "k3", "values": [3.0, 2.0]}], "A")
    got["upsert_with_tombstones"] = spark_jobs(
        lambda: store.upsert_by_id([{"id": "k5", "values": [5.0, 2.0]}], "A")
    )[0]
    got["upsert_resurrect"] = spark_jobs(
        lambda: store.upsert_by_id([{"id": "k1", "values": [1.0, 5.0]}], "A")
    )[0]
    assert compacted == []
    # garbage: 5 superseded versions + 1 tombstone of 46 rows; four more
    # tombstones lift it to 10/46 >= 0.2
    got["delete_compacting"] = spark_jobs(
        lambda: store.delete(["k6", "k7", "k8", "k9"], "A")
    )[0]
    assert compacted == ["A"]
    assert got == _WRITE_JOBS, got
    assert store._raw().count() == store.count("A") == 36
    assert store.read("k1", "A").values == [1.0, 5.0]


# one per-namespace aggregate over the live view (count + bytes)
_STORAGE_INFO_JOBS = 5


def test_storage_info_one_aggregate(spark, tmp_path, spark_jobs):
    store = _keyed_store(spark, str(tmp_path / "si"), n=12)
    store.upsert_by_id([{"id": "b0", "values": [1.0], "metadata": {"m": "x"}}],
                       "B")
    store.delete(["k0"], "A")
    jobs, info = spark_jobs(store.storage_info)
    assert jobs == _STORAGE_INFO_JOBS, jobs
    assert info["vectors_per_namespace"] == {"A": 11, "B": 1}
    # 11 rows of 2 floats + '{}', 1 row of 1 float + '{"m": "x"}'
    assert info["storage_size_bytes"] == 11 * (8 + 2) + (4 + 10)


def test_insert_df_mints_a_write_version(spark, tmp_path):
    """insert_df stamps its rows with a fresh write version, so a synced
    index sees them in the CDC feed and auto reads serve them."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "idf"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(40)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=4, seed=1))
    v = store.current_version()
    store.insert_df(
        spark.createDataFrame([([100.0, 0.0],)], "values array<float>"),
        namespace="A",
    )
    assert store.current_version() == v + 1
    store.sync_indexes()
    got = store.find_similar([100.0, 0.0], 2, "A", metric="l2")
    assert got[0]["values"] == [100.0, 0.0]
    assert got == store.find_similar(
        [100.0, 0.0], 2, "A", metric="l2", mode="exact"
    )


def test_exact_batch_scores_equal_single_exact_reads(spark, tmp_path):
    """The exact batch route selects and scores with float64 queries, like
    the single exact read: the same ids and scores for every query."""
    rng = np.random.default_rng(3)
    store = VectorStore(spark, str(tmp_path / "b64"))
    X = rng.normal(size=(300, 64))
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(x) for x in X[i]], "A") for i in range(300)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    queries = {f"q{j}": rng.normal(size=64).tolist() for j in range(60)}
    batch: dict[str, list] = {}
    for r in store.find_similar_batch(queries, 5, "A", metric="l2").collect():
        batch.setdefault(r.query_id, []).append((r.score, r.id))
    for qid, q in queries.items():
        single = store.find_similar(q, 5, "A", metric="l2", mode="exact")
        assert sorted(batch[qid]) == sorted(
            (h["score"], h["id"]) for h in single
        ), qid


def _fresh_garbage(store, ns):
    """(rows, distinct ids, tombstones) of `ns` straight from the data —
    the stats aggregate's answer, computed without touching the ledger."""
    from pyspark.sql import functions as F

    raw, tomb = store._raw(), store._tombstones()
    if raw is None:
        return 0, 0, 0
    r = raw.filter(F.col("namespace") == ns).agg(
        F.count("*").alias("n"), F.count_distinct("id").alias("d")
    ).first()
    dead = 0 if tomb is None else tomb.filter(F.col("namespace") == ns).count()
    return int(r.n), int(r.d), int(dead)


class _AggregateOnlyStore(VectorStore):
    """Decides every compaction from the stats aggregate, as before the
    ledger existed: the differential reference."""

    def _ledger_get(self, namespace, state=None):
        return None


def _live_state(store):
    """df() as comparable data: rows keyed by caller ids, and the multiset
    of (namespace, values) of rows with store-minted uuids."""
    keyed, minted = {}, []
    for r in store.df().collect():
        if r.id.startswith("k"):
            keyed[(r.namespace, r.id)] = (list(r.values), dict(r.metadata))
        else:
            minted.append((r.namespace, tuple(r.values)))
    return keyed, sorted(minted)


def test_garbage_ledger_differential(spark, tmp_path):
    """A seeded random write sequence over two namespaces — by-id
    overwrites, new and resurrecting ids, deletes, bulk upsert/delete,
    insert_df with and without check_dims, compact, optimize, and a second
    store object writing the same path. After every write the ledger entry
    the next decision would use equals the data's own counts, and the
    compactions and the live view equal those of a store that decides
    every compaction from the stats aggregate. The two objects share one
    state record, so the other object's point writes leave an exact entry
    that both read."""
    import random

    rnd = random.Random(11)
    spaces = ("A", "B")

    def build(cls, name):
        path = str(tmp_path / name)
        main, other = cls(spark, path, 0.2), cls(spark, path, 0.2)
        log = []
        for who, st in (("main", main), ("other", other)):
            compact = st.compact

            def spy(ns, _who=who, _compact=compact, **kw):
                log.append((_who, ns))
                return _compact(ns, **kw)

            st.compact = spy
        return main, other, log

    ledger = build(VectorStore, "ledger")
    reference = build(_AggregateOnlyStore, "reference")
    live = {ns: set() for ns in spaces}
    dead = {ns: set() for ns in spaces}
    serial = iter(range(10_000))

    def vec():
        return [round(rnd.uniform(-5, 5), 3) for _ in range(3)]

    def frame(rows, schema):
        return spark.createDataFrame(rows, schema)

    seed_rows = [
        (f"k{ns}{next(serial)}", vec(), ns) for ns in spaces for _ in range(24)
    ]
    steps = [("upsert_df", lambda st, _o, rows=seed_rows: st.upsert_df(
        frame(rows, "id string, values array<float>, namespace string"),
        assume_unique_ids=True), None)]
    for _id, _v, ns in seed_rows:
        live[ns].add(_id)
    kinds = (
        ["upsert_by_id"] * 6 + ["delete"] * 5 + ["upsert_df", "delete_df",
         "insert_df", "insert_df_unchecked", "compact", "optimize",
         "other_upsert", "other_delete"]
    )
    rnd.shuffle(kinds)
    for kind in kinds:
        ns = rnd.choice(spaces)
        if kind in ("upsert_by_id", "other_upsert", "upsert_df"):
            ids = rnd.sample(sorted(live[ns]), 2) + [
                f"k{ns}{next(serial)}" for _ in range(rnd.randint(0, 2))
            ]
            if dead[ns]:
                ids.append(rnd.choice(sorted(dead[ns])))
            recs = [{"id": i, "values": vec(), "metadata": {"s": str(len(steps))}}
                    for i in ids]
            live[ns] |= set(ids)
            dead[ns] -= set(ids)
            if kind == "upsert_df":
                rows = [(r["id"], r["values"], ns, r["metadata"]) for r in recs]
                step = lambda st, _o, rows=rows: st.upsert_df(frame(
                    rows, "id string, values array<float>, namespace string, "
                    "metadata map<string,string>"))
            elif kind == "other_upsert":
                step = lambda _s, o, recs=recs, ns=ns: o.upsert_by_id(recs, ns)
            else:
                step = lambda st, _o, recs=recs, ns=ns: st.upsert_by_id(recs, ns)
        elif kind in ("delete", "other_delete", "delete_df"):
            ids = rnd.sample(sorted(live[ns]), rnd.randint(1, 3)) + ["kmissing"]
            live[ns] -= set(ids)
            dead[ns] |= set(ids) - {"kmissing"}
            if kind == "delete_df":
                rows = [(i, ns) for i in ids]
                step = lambda st, _o, rows=rows: st.delete_df(
                    frame(rows, "id string, namespace string"))
            elif kind == "other_delete":
                step = lambda _s, o, ids=ids, ns=ns: o.delete(ids, ns)
            else:
                step = lambda st, _o, ids=ids, ns=ns: st.delete(ids, ns)
        elif kind.startswith("insert_df"):
            rows = [(vec(), ns) for _ in range(2)]
            check = kind == "insert_df"
            step = lambda st, _o, rows=rows, check=check: st.insert_df(
                frame(rows, "values array<float>, namespace string"),
                check_dims=check)
        elif kind == "compact":
            step = lambda st, _o, ns=ns: st.compact(ns)
        else:
            step = lambda st, _o, ns=ns: st.optimize(ns)
        steps.append((kind, step, ns))

    kept = 0
    for i, (kind, step, ns) in enumerate(steps):
        for main, other, log in (ledger, reference):
            log.append(("step", i))
            step(main, other)
        if kind.startswith("other_"):
            # the other object's point write carried the ledger forward
            # in the shared state record: both objects hold it exact
            assert ledger[0]._ledger_get(ns) is not None, (i, kind)
        for st in ledger[:2]:
            for ns in spaces:
                got = st._ledger_get(ns)
                if got is not None:
                    kept += 1
                    assert got == _fresh_garbage(st, ns), (i, kind, ns)
        assert _live_state(ledger[0]) == _live_state(reference[0]), (i, kind)
    assert ledger[2] == reference[2]
    assert any(who != "step" for who, _ns in ledger[2]), "no compaction ran"
    assert kept >= len(steps), kept


def _commits(store):
    return store._head_number()[0]


@pytest.mark.parametrize("damage", ["empty", "stale"])
def test_damaged_hint_keeps_versions_monotone(spark, tmp_path, damage):
    """An empty or stale `_LATEST` hint (a crash mid-write, a truncated
    copy) is repaired by probing forward: the next upsert mints a fresh
    version and every reader sees the latest vector."""
    path = str(tmp_path / "hint")
    store = VectorStore(spark, path, rebuild_threshold=1.0)
    store.upsert_by_id([{"id": "a", "values": [1.0, 0.0]}])
    store.upsert_by_id([{"id": "a", "values": [2.0, 0.0]}])
    with open(os.path.join(store.state_path, "_LATEST"), "w") as fh:
        fh.write("" if damage == "empty" else "1")
    store.upsert_by_id([{"id": "a", "values": [3.0, 0.0]}])
    assert store.current_version() == 3
    assert store.read("a").values == [3.0, 0.0]
    assert VectorStore(spark, path).read("a").values == [3.0, 0.0]


def test_new_store_keeps_one_state_log(spark, tmp_path):
    """A new store writes no JSON manifest: every mutating call makes
    one commit, and a compaction triggered inside a write makes its own.
    Bulk writes into existing data add one commit recording their
    post-write stats aggregate."""
    store = VectorStore(spark, str(tmp_path / "log"), rebuild_threshold=0.3)
    ids = [f"k{i}" for i in range(6)]
    calls = [
        ("insert", lambda: store.insert([1.0, 0.0], namespace="A"), 1),
        ("upsert_many", lambda: store.upsert_many(
            [{"values": [1.0, 1.0]}], "A"), 1),
        ("upsert_by_id", lambda: store.upsert_by_id(
            [{"id": i, "values": [2.0, 0.0]} for i in ids], "A"), 1),
        ("delete", lambda: store.delete(["k0"], "A"), 1),
        ("upsert_resurrect", lambda: store.upsert_by_id(
            [{"id": "k0", "values": [3.0, 0.0]}], "A"), 1),
        ("insert_df", lambda: store.insert_df(spark.createDataFrame(
            [([1.0, 2.0],)], "values array<float>"), "A"), 1),
        ("upsert_df", lambda: store.upsert_df(spark.createDataFrame(
            [("k1", [4.0, 0.0])], "id string, values array<float>"), "A"), 2),
        ("delete_df", lambda: store.delete_df(spark.createDataFrame(
            [("k2", "A")], "id string, namespace string")), 2),
        ("delete_compacting", lambda: store.delete(["k3", "k4"], "A"), 2),
        ("delete_namespace", lambda: store.delete_namespace("A"), 1),
        ("clear_all", store.clear_all, 1),
    ]
    got = {}
    for name, call, _want in calls:
        before = _commits(store)
        call()
        got[name] = _commits(store) - before
    assert got == {name: want for name, _c, want in calls}, got
    assert sorted(os.listdir(store.path)) == ["_state"]


def test_second_writer_raises_before_writing(spark, tmp_path):
    """Two store objects on one path: a writer that read the head before
    the other's commit raises ConcurrentWriteError and leaves no rows
    behind; sequential writes from both objects all land."""
    from mlvectordb_spark.commit import ConcurrentWriteError

    path = str(tmp_path / "two")
    a = VectorStore(spark, path, rebuild_threshold=0.95)
    b = VectorStore(spark, path, rebuild_threshold=0.95)
    a.upsert_by_id([{"id": f"k{i}", "values": [float(i), 0.0]}
                    for i in range(5)], "A")
    for lose in (
        lambda: b.upsert_by_id([{"id": "k2", "values": [20.0, 0.0]},
                                {"id": "new", "values": [9.0, 9.0]}], "A"),
        lambda: b.delete(["k3"], "A"),
    ):
        probe = b._id_probe

        def interleaved(ns, ids, _probe=probe):
            # b already read the head: a commits in between
            a.upsert_by_id([{"id": "k1", "values": [10.0, 0.0]}], "A")
            return _probe(ns, ids)

        b._id_probe = interleaved
        with pytest.raises(ConcurrentWriteError):
            lose()
        del b._id_probe
    assert a.current_version() == 3
    assert a._raw().count() == 7  # 5 rows + two k1 versions, none of b's
    assert a._tombstones() is None  # b's delete wrote no tombstone
    assert b.read("k2", "A").values == [2.0, 0.0]
    assert b.read("new", "A") is None
    b.upsert_by_id([{"id": "k2", "values": [22.0, 0.0]}], "A")
    a.delete(["k3"], "A")
    b.insert([7.0, 7.0], namespace="A")
    a.upsert_by_id([{"id": "k4", "values": [44.0, 0.0]}], "A")
    for st in (a, b):
        assert st.current_version() == 7
        got = {r.id: list(r.values) for r in st.df().collect()}
        assert len(got) == 5 and "k3" not in got
        assert [got[k] for k in ("k1", "k2", "k4")] == [
            [10.0, 0.0], [22.0, 0.0], [44.0, 0.0]
        ]
        assert st._ledger_get("A") == _fresh_garbage(st, "A")


def test_concurrent_commits_lose_no_update(spark, tmp_path):
    """Threads committing through separate store objects on one path:
    the exclusive publish lets exactly one writer take each commit
    number, so every read-modify-write lands once."""
    import sys
    import threading

    path = str(tmp_path / "race")
    stores = [VectorStore(spark, path) for _ in range(8)]

    def bump(st):
        for _ in range(25):
            st._record(lambda s: s.update(version=s["version"] + 1))

    threads = [threading.Thread(target=bump, args=(st,)) for st in stores]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert stores[0]._head_number()[0] == 200
    assert VectorStore(spark, path).current_version() == 200


def test_ledger_exact_across_objects_jobs_pinned(spark, tmp_path, spark_jobs):
    """Object B's point writes after object A's run the pinned point-write
    jobs: the ledger A carried forward is in the state record, so B runs
    no stats aggregate."""
    path = str(tmp_path / "xo")
    a = _keyed_store(spark, path)
    a.upsert_by_id([{"id": "k0", "values": [0.0, 2.0]}], "A")
    a.delete(["k9"], "A")
    b = VectorStore(spark, path, rebuild_threshold=0.95)
    b.upsert_by_id([{"id": "k8", "values": [8.0, 2.0]}], "A")  # warm
    aggregates = []
    collect = b._collect_compact_stats
    b._collect_compact_stats = lambda *a_, **k: (
        aggregates.append(a_), collect(*a_, **k)
    )[1]
    got = {
        "upsert_with_tombstones": spark_jobs(lambda: b.upsert_by_id(
            [{"id": "k4", "values": [4.0, 2.0]},
             {"id": "new", "values": [4.0, 3.0]}], "A"))[0],
        "delete": spark_jobs(lambda: b.delete(["k1", "k2"], "A"))[0],
    }
    assert got == {k: _WRITE_JOBS[k] for k in got}, got
    assert aggregates == []
    assert a._ledger_get("A") == b._ledger_get("A") == _fresh_garbage(a, "A")


def test_plan_cache_invalidated_with_frozen_mtimes(spark, tmp_path):
    """The reader-plan cache keys on the head commit, not on directory
    mtimes (object stores have none): another object's truncate and
    rewrite back to the same version still invalidates it, with every
    data mtime restored."""
    path = str(tmp_path / "pc")
    a = VectorStore(spark, path)
    a.upsert_by_id([{"id": f"k{i}", "values": [float(i), 0.0]}
                    for i in range(4)], "A")
    assert a.count("A") == 4  # caches the plans
    watched = [a.data_path, os.path.join(a.data_path, "_SUCCESS"),
               os.path.join(a.data_path, "namespace=A")]
    frozen = {p: os.stat(p) for p in watched}
    b = VectorStore(spark, path)
    b.clear_all()
    b.upsert_by_id([{"id": "z", "values": [9.0, 0.0]}], "A")
    for p, st in frozen.items():
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert a.current_version() == 1
    assert a.count("A") == 1
    assert a.read("z", "A").values == [9.0, 0.0]


_LEGACY = {
    "write_version.json": {"v": 7},
    "history_floor.json": {"floor": 5, "base": 2, "ns": {"A": 5}},
    "dirty_namespaces.json": ["A"],
    "dims.json": {"A": 2, "B": 3},
}


def test_legacy_manifests_migrate_once(spark, tmp_path):
    """A store directory holding the four JSON manifests older stores
    kept opens with the same version, per-namespace floors, dims and
    dirty set; the migration is one commit and runs once."""
    path = str(tmp_path / "legacy")
    os.makedirs(path)
    for name, body in _LEGACY.items():
        with open(os.path.join(path, name), "w") as fh:
            json.dump(body, fh)
    store = VectorStore(spark, path)
    assert store.current_version() == 7
    assert (store.history_floor(), store.history_floor("A"),
            store.history_floor("B")) == (5, 5, 2)
    assert store._dirty_namespaces() == {"A"}
    assert (store.dimension("A"), store.dimension("B")) == (2, 3)
    assert sorted(os.listdir(path)) == ["_state"]
    assert _commits(store) == 1
    assert _commits(VectorStore(spark, path)) == 1
    store.upsert_by_id([{"id": "x", "values": [1.0, 1.0]}], "A")
    assert store.current_version() == 8
    # a floor manifest from before per-namespace floors bounds every one
    old = str(tmp_path / "older")
    os.makedirs(old)
    with open(os.path.join(old, "history_floor.json"), "w") as fh:
        json.dump({"floor": 4}, fh)
    assert VectorStore(spark, old).history_floor("any") == 4


def test_store_state_writes_only_through_commits():
    """No persisted-state write can bypass `commit.py`: operators/store.py
    and the index modules (ann.py, graph_ann.py, quantize.py) open no
    file for writing and never call json.dump, and the index modules
    neither rename nor remove directories — their saves go through
    `commit.commit_generation`."""
    import ast

    import mlvectordb_spark.operators.ann as ann_mod
    import mlvectordb_spark.operators.graph_ann as graph_mod
    import mlvectordb_spark.operators.quantize as quantize_mod
    import mlvectordb_spark.operators.store as store_mod

    index_only = {"os.rename", "os.replace", "shutil.rmtree"}
    for mod, banned in (
        (store_mod, {"json.dump"}),
        (ann_mod, {"json.dump"} | index_only),
        (graph_mod, {"json.dump"} | index_only),
        (quantize_mod, {"json.dump"} | index_only),
    ):
        with open(mod.__file__, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        where = os.path.basename(mod.__file__)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = ast.unparse(node.func)
            assert name not in banned, (where, name, node.lineno)
            if name in ("open", "os.fdopen", "io.open"):
                mode = node.args[1] if len(node.args) > 1 else next(
                    (k.value for k in node.keywords if k.arg == "mode"), None
                )
                assert mode is None or (
                    isinstance(mode, ast.Constant)
                    and not set(mode.value) & set("wax+")
                ), f"write-mode open at {where}:{node.lineno}"


def test_family_lazy_create_collapses_feed(spark, tmp_path):
    """Review r6: a namespace first seen in a CDC feed builds from the
    feed's LIVE state — latest event per id wins and ids whose latest
    event is a delete never enter."""
    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=2, seed=1))
    feed = spark.createDataFrame(
        [
            ("x1", [1.0, 0.0], "fresh", "upsert", 1),
            ("x1", [0.0, 2.0], "fresh", "upsert", 2),   # supersedes
            ("x2", [5.0, 5.0], "fresh", "upsert", 1),
            ("x2", None, "fresh", "delete", 3),          # latest = delete
            ("x3", [0.5, 0.5], "fresh", "upsert", 2),
        ],
        "id string, values array<float>, namespace string, "
        "change_type string, write_version long",
    )
    fam.apply_changes(feed, vec_col="values", id_col="id")
    idx = fam.member("fresh")
    rows = {r.id: list(r.values) for r in idx.indexed.collect()}
    assert set(rows) == {"x1", "x3"}, rows
    assert rows["x1"] == [0.0, 2.0], "superseded version must not win"


def test_family_lsh_member_serves_unfiltered(spark, tmp_path):
    """Review r6: NamespaceIndexFamily with LSH members works for
    unfiltered search (pre_filter forwards only when given)."""
    from mlvectordb_spark.operators.ann import LSHIndex, NamespaceIndexFamily

    fam = NamespaceIndexFamily(
        factory=lambda: LSHIndex(bucket_length=0.7, num_hash_tables=3, seed=9)
    )
    df = spark.createDataFrame(
        [(f"v{i}", [float(i), float(i % 3)], "only") for i in range(20)],
        "id string, values array<float>, namespace string",
    )
    fam.build(df, vec_col="values", id_col="id")
    got = fam.search_exact("only", [4.0, 1.0], 3, vec_col="values", id_col="id")
    ids = [r.id for r in got.select("id").collect()]
    assert ids[0] == "v4" and len(ids) == 3


def test_family_lazy_create_skips_all_deleted_feed(spark, tmp_path):
    """Review r6 #2: a first-seen namespace whose feed collapses to zero
    live rows (latest event per id is a delete) must not attempt an empty
    k-means build — no member is created until live rows arrive."""
    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=2, seed=1))
    dead = spark.createDataFrame(
        [
            ("y1", [1.0, 0.0], "ghost", "upsert", 1),
            ("y1", None, "ghost", "delete", 2),
        ],
        "id string, values array<float>, namespace string, "
        "change_type string, write_version long",
    )
    fam.apply_changes(dead, vec_col="values", id_col="id")
    assert fam.namespaces() == []
    live = spark.createDataFrame(
        [("y2", [1.0, 1.0], "ghost", "upsert", 3),
         ("y3", [2.0, 0.0], "ghost", "upsert", 3)],
        "id string, values array<float>, namespace string, "
        "change_type string, write_version long",
    )
    fam.apply_changes(live, vec_col="values", id_col="id")
    assert fam.namespaces() == ["ghost"]
    assert {r.id for r in fam.member("ghost").indexed.collect()} == {"y2", "y3"}


def test_auto_staleness_is_per_namespace(spark, tmp_path):
    """Review r6 #3: a write to namespace B must not knock namespace A's
    auto-mode queries off A's fresh index; and a no-op sync_indexes must
    not re-apply/checkpoint untouched namespaces."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "perns"), rebuild_threshold=0.95)
    for ns in ("A", "B"):
        store.upsert_df(
            spark.createDataFrame(
                [(f"{ns}{i}", [float(i), 0.0], ns) for i in range(12)],
                "id string, values array<float>, namespace string",
            )
        )
    for ns in ("A", "B"):
        store.build_index(ns, factory=lambda: IVFIndex(n_clusters=2, seed=1))
    # poison A's index by dropping its best match for the probe below: if
    # auto still ROUTES through the index (as it must — A is fresh), the
    # dropped row is invisible; a fallback to exact would see it
    idxA = store.attached_index("A")
    from pyspark.sql import functions as F

    idxA.indexed = idxA.indexed.filter(F.col("id") != "A5").localCheckpoint()
    store.upsert_df(  # write ONLY to B
        spark.createDataFrame(
            [("Bnew", [50.0, 0.0], "B")],
            "id string, values array<float>, namespace string",
        )
    )
    got = store.find_similar([5.0, 0.0], 1, namespace="A", metric="l2")
    assert got[0]["id"] != "A5", "A must still route through its fresh index"
    # a write to A flips it to the exact fallback
    store.upsert_df(
        spark.createDataFrame(
            [("A99", [99.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    got2 = store.find_similar([5.0, 0.0], 1, namespace="A", metric="l2")
    assert got2[0]["id"] == "A5", "stale A must fall back to the exact scan"

    # no-op sync: only touched namespaces pay an apply — A's member
    # apply_changes fires (A was written), B's must not (B unchanged since
    # its member synced at the Bnew write? B WAS written after attach, so
    # first sync applies; after that a second sync is a pure no-op for both)
    store.sync_indexes()
    calls = []
    for ns in ("A", "B"):
        m = store.attached_index(ns)
        orig = m.apply_changes
        m.apply_changes = lambda *a, _ns=ns, **k: calls.append(_ns)
    store.sync_indexes()  # nothing written since → zero applies
    assert calls == [], calls


def test_family_load_takes_factory_for_lazy_creation(spark, tmp_path):
    """A reloaded family uses the caller-resupplied factory
    for namespaces first seen after the reload."""
    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=3, seed=7))
    df = spark.createDataFrame(
        [(f"k{i}", [float(i), 1.0], "first") for i in range(10)],
        "id string, values array<float>, namespace string",
    )
    fam.build(df, vec_col="values", id_col="id")
    fam.save(str(tmp_path / "famf"))
    fam2 = NamespaceIndexFamily.load(
        spark, str(tmp_path / "famf"),
        factory=lambda: IVFIndex(n_clusters=3, seed=7),
    )
    feed = spark.createDataFrame(
        [("n1", [0.0, 1.0], "later", "upsert", 1),
         ("n2", [1.0, 1.0], "later", "upsert", 1)],
        "id string, values array<float>, namespace string, "
        "change_type string, write_version long",
    )
    fam2.apply_changes(feed, vec_col="values", id_col="id")
    assert fam2.member("later").n_clusters == 3
    assert fam2.member("later").seed == 7


def test_external_writer_detected_by_auto_and_sync(spark, tmp_path):
    """A write by ANOTHER store object into a namespace this object
    already wrote is in the state record's per-namespace last write, so
    it must still (a) knock auto-mode back to the exact scan and (b) be
    applied (not skipped) by sync_indexes."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex

    path = str(tmp_path / "ext")
    store = VectorStore(spark, path, rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(10)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=2, seed=1))
    # poison the index the way the per-namespace test does: if auto still
    # routes through it, k5 is invisible; the exact fallback sees it
    idx = store.attached_index("A")
    idx.indexed = idx.indexed.filter(F.col("id") != "k5").localCheckpoint()
    assert store.find_similar([5.0, 0.0], 1, namespace="A", metric="l2")[0][
        "id"
    ] != "k5", "fresh A must route through the (poisoned) index"

    # ANOTHER process/object writes into A
    other = VectorStore(spark, path, rebuild_threshold=0.95)
    other.upsert_df(
        spark.createDataFrame(
            [("ext1", [200.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    got = store.find_similar([5.0, 0.0], 1, namespace="A", metric="l2")
    assert got[0]["id"] == "k5", (
        "external write must force the exact fallback (tracker is a lower "
        "bound)"
    )
    # ...and sync_indexes must actually APPLY the external event, not
    # advance the bookmark past it
    store.sync_indexes()
    assert (
        store.attached_index("A")
        .indexed.filter(F.col("id") == "ext1")
        .count()
        == 1
    ), "sync skipped the external write"
    got2 = store.find_similar([200.0, 0.0], 1, namespace="A", metric="l2")
    assert got2[0]["id"] == "ext1"


def test_attach_index_as_of_version(spark, tmp_path):
    """Round-6 ADVICE: attaching an index built from an OLDER snapshot with
    the honest as_of_version makes auto-mode detect the gap and
    sync_indexes close it from the CDC feed; a version ahead of the store
    raises."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "asof"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(10)],
            "id string, values array<float>, namespace string",
        )
    )
    v_snapshot = store.current_version()
    idx = IVFIndex(n_clusters=2, seed=1)
    idx.build(
        store.df().filter(F.col("namespace") == "A").select("id", "values"),
        vec_col="values",
        id_col="id",
    )
    idx.indexed = idx.indexed.localCheckpoint()
    # writes land AFTER the snapshot the index reflects
    store.upsert_df(
        spark.createDataFrame(
            [("late1", [300.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    with pytest.raises(ValueError):
        store.attach_index(
            "A", idx, vec_col="values", id_col="id",
            as_of_version=store.current_version() + 5,
        )
    store.attach_index(
        "A", idx, vec_col="values", id_col="id", as_of_version=v_snapshot
    )
    # auto-mode sees the gap → exact fallback finds the late row
    got = store.find_similar([300.0, 0.0], 1, namespace="A", metric="l2")
    assert got[0]["id"] == "late1"
    # sync closes the gap from the CDC feed; the index now carries late1
    store.sync_indexes()
    assert (
        idx.indexed.filter(F.col("id") == "late1").count() == 1
    ), "sync must replay the events between as_of_version and now"


def test_restore_from_backup_marks_serving_stale(spark, tmp_path):
    """Round-6 ADVICE: restored content (NULL write_version, no _append)
    must still register with the staleness tracker — an attached index
    must not keep serving pre-restore content as fresh."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "rst"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(10)],
            "id string, values array<float>, namespace string",
        )
    )
    backup = str(tmp_path / "rst_bak")
    store.create_backup(backup)
    # state moves on, index attaches fresh over the NEW state
    store.upsert_df(
        spark.createDataFrame(
            [("post", [500.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=2, seed=1))
    assert store.find_similar([500.0, 0.0], 1, namespace="A", metric="l2")[
        0
    ]["id"] == "post"
    # restore the OLD snapshot: 'post' is gone from storage; auto must not
    # serve the index that still contains it
    store.restore_from_backup(backup)
    got = store.find_similar([500.0, 0.0], 1, namespace="A", metric="l2")
    assert got[0]["id"] != "post", (
        "auto served a stale index over restored content"
    )


def test_exact_and_indexed_serving_agree_bit_for_bit(spark, tmp_path):
    """Round-6 ADVICE (mode parity): the exact path now applies the same
    4-decimal score rounding + id tie-break as the indexed path, so
    auto-mode returns identical (id, score) lists whether or not it
    routed through an index."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "par"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [
                (f"k{i}", [0.1 * i + 0.00003, 1.0 - 0.05 * i], "A")
                for i in range(30)
            ],
            "id string, values array<float>, namespace string",
        )
    )
    q = [0.95, 0.4]
    exact = store.find_similar(q, 7, namespace="A", metric="l2", mode="exact")
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=3, seed=2))
    routed = store.find_similar(q, 7, namespace="A", metric="l2", mode="indexed")
    assert [(h["id"], h["score"]) for h in exact] == [
        (h["id"], h["score"]) for h in routed
    ]


def test_find_similar_target_recall(spark, tmp_path):
    """Round-6 verdict missing #2: mode='approx' with target_recall picks
    nprobe from the index's measured curve (measured lazily on first use)
    instead of trusting the raw nprobe default."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "tr"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [
                (f"k{i}", [float(i % 17), float(i % 5), float(i)], "A")
                for i in range(120)
            ],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=6, seed=4))
    idx = store.attached_index("A")
    assert idx._recall_curve is None
    got = store.find_similar(
        [3.0, 2.0, 50.0], 5, namespace="A", metric="l2",
        mode="approx", target_recall=0.9,
    )
    assert len(got) == 5
    assert idx._recall_curve is not None, "curve measured lazily"
    # a full-recall target must achieve parity with the exact path
    exact = store.find_similar(
        [3.0, 2.0, 50.0], 5, namespace="A", metric="l2", mode="indexed"
    )
    full = store.find_similar(
        [3.0, 2.0, 50.0], 5, namespace="A", metric="l2",
        mode="approx", target_recall=1.0,
    )
    assert {h["id"] for h in full} == {h["id"] for h in exact}


def test_target_recall_through_ivfpq_member(spark, tmp_path):
    """mode='approx' + target_recall serves through an attached IVFPQ
    member too — the PQ family speaks the same search(nprobe)/curve
    protocol as plain IVF."""
    from pyspark.sql import functions as F  # noqa: F401

    from mlvectordb_spark.operators.ann import IVFPQIndex

    store = VectorStore(spark, str(tmp_path / "pqtr"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [
                (
                    f"k{i}",
                    [float(i % 13), float(i % 7), float(i % 3), float(i)],
                    "A",
                )
                for i in range(160)
            ],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index(
        "A", factory=lambda: IVFPQIndex(n_clusters=4, m=4, k_sub=8, seed=6)
    )
    got = store.find_similar(
        [5.0, 3.0, 1.0, 80.0], 5, namespace="A", metric="l2",
        mode="approx", target_recall=1.0,
    )
    exact = store.find_similar(
        [5.0, 3.0, 1.0, 80.0], 5, namespace="A", metric="l2", mode="indexed"
    )
    assert {h["id"] for h in got} == {h["id"] for h in exact}


def test_clear_all_detaches_serving_and_restore_resync_is_honest(
    spark, tmp_path
):
    """r7 review: a truncate (clear_all / restore_from_backup) resets the
    version counter, so surviving serving bookmarks would alias post-reset
    version numbers — once post-reset writes reach the old synced value,
    a pre-wipe index would read as fresh. clear_all therefore DETACHES
    every serving index; and after a restore, even calling sync_indexes
    (the usual staleness remedy) cannot resurrect the stale index."""
    from pyspark.sql import functions as F  # noqa: F401

    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "wipe"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(10)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=2, seed=1))
    backup = str(tmp_path / "wipe_bak")
    store.create_backup(backup)
    store.upsert_df(
        spark.createDataFrame(
            [("post", [500.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    store.restore_from_backup(backup)
    assert store.attached_index("A") is None, "truncate must detach serving"
    # the reviewer's scenario: the old remedy (sync) must not bring a
    # stale index back — there is nothing attached to mis-freshen
    store.sync_indexes()
    got = store.find_similar([500.0, 0.0], 1, namespace="A", metric="l2")
    assert got[0]["id"] != "post"
    # clear_all + same-shaped rewrites up to the old bookmark value: auto
    # must serve CURRENT content (via exact scan — nothing attached)
    store2 = VectorStore(spark, str(tmp_path / "wipe2"), rebuild_threshold=0.95)
    store2.upsert_df(
        spark.createDataFrame(
            [("a", [1.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    store2.build_index("A", factory=lambda: IVFIndex(n_clusters=1, seed=1))
    store2.clear_all()
    store2.upsert_df(
        spark.createDataFrame(
            [("b", [2.0, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    got2 = store2.find_similar([2.0, 0.0], 1, namespace="A", metric="l2")
    assert got2[0]["id"] == "b"


def test_target_recall_validation(spark, tmp_path):
    """r7 review: target_recall outside approx mode (or out of range) must
    raise, not silently do nothing."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "trv"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i)], "A") for i in range(8)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=2, seed=1))
    with pytest.raises(ValueError):
        store.find_similar(
            [1.0], 2, namespace="A", metric="l2", mode="auto",
            target_recall=0.9,
        )
    with pytest.raises(ValueError):
        store.find_similar(
            [1.0], 2, namespace="A", metric="l2", mode="approx",
            target_recall=0.0,
        )
    with pytest.raises(ValueError):
        store.find_similar(
            [1.0], 2, namespace="A", metric="l2", mode="approx",
            target_recall=1.5,
        )


def test_indexed_enrichment_large_k_uses_broadcast_fallback(spark, tmp_path):
    """r7 review: batch-export-sized top_k must not inline thousands of
    ids into one In() literal — above the cap the enrichment joins a
    broadcast id frame instead, and the results stay complete."""
    from mlvectordb_spark.operators.ann import IVFIndex

    n = 1200
    store = VectorStore(spark, str(tmp_path / "bigk"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i:05d}", [float(i % 50), float(i % 7)], "A") for i in range(n)],
            "id string, values array<float>, namespace string",
        ),
        assume_unique_ids=True,
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=4, seed=1))
    df = store._indexed_search_df("A", [3.0, 2.0], 1100)
    raw = df._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in raw or "BroadcastExchange" in raw, raw
    assert df.count() == 1100


def test_find_similar_batch_routed_exact_and_contracts(spark, tmp_path):
    """r7 batch serving: routed (certified batch join) equals the brute
    exact path per query; staleness falls back like the single path; the
    input contracts raise."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "batch"), rebuild_threshold=0.95)
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i % 23), float(i % 7)], "A") for i in range(90)],
            "id string, values array<float>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=4, seed=2))
    qs = {"qa": [4.0, 3.0], "qb": [20.0, 1.0]}
    routed = store.find_similar_batch(qs, 4, namespace="A", metric="l2",
                                      mode="indexed")
    exact = store.find_similar_batch(qs, 4, namespace="A", metric="l2",
                                     mode="exact")
    key = lambda df: sorted(  # noqa: E731
        (r.query_id, r.id, r.score) for r in df.collect()
    )
    assert key(routed) == key(exact)
    # single-query parity per query id
    for qid, vec in qs.items():
        single = store.find_similar(vec, 4, namespace="A", metric="l2")
        assert {(h["id"], h["score"]) for h in single} == {
            (i, s) for q, i, s in key(routed) if q == qid
        }
    # metadata rides along
    assert "metadata" in routed.columns and "values" in routed.columns
    # a write makes auto fall back (still correct, just unrouted)
    store.upsert_df(
        spark.createDataFrame(
            [("fresh", [4.0, 3.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    auto = store.find_similar_batch(qs, 1, namespace="A", metric="l2")
    got = {r.id for r in auto.collect() if r.query_id == "qa"}
    assert got == {"fresh"}
    # mode="approx" is now a served batch surface (round-8: knn_join —
    # one scan over the union of fixed-nprobe probe sets); detailed
    # parity/recall contracts live in test_batch_approx_serving_*
    appx = store.find_similar_batch(
        qs, 2, namespace="A", metric="l2", mode="approx", nprobe=1
    )
    n_max = max(
        (r["count"] for r in appx.groupBy("query_id").count().collect()),
        default=0,
    )
    assert n_max <= 2
    with pytest.raises(ValueError):
        store.find_similar_batch({"qa": [1.0, 2.0, 3.0]}, 2, namespace="A",
                                 metric="l2")
    # DataFrame input is accepted too
    qdf = spark.createDataFrame(
        [("qa", [4.0, 3.0])], "query_id string, values array<float>"
    )
    dfres = store.find_similar_batch(qdf, 2, namespace="A", metric="l2",
                                     mode="exact")
    assert dfres.count() == 2


def test_api_search_batch_shape(spark, tmp_path):
    """REST-shaped batch response: one entry per query in request order,
    matches rank-ordered, top_k/batch caps enforced."""
    from mlvectordb_spark.api import EngineService
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "apibatch"),
                        rebuild_threshold=0.95)
    svc = EngineService(store)
    svc.store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 1.0], "default") for i in range(20)],
            "id string, values array<float>, namespace string",
        )
    )
    svc.store.build_index(
        "default", factory=lambda: IVFIndex(n_clusters=2, seed=1)
    )
    res = svc.search_batch(
        {"q1": [5.0, 1.0], "q2": [15.0, 1.0]}, top_k=3,
        namespace="default", metric="l2",
    )
    assert [e["query_id"] for e in res] == ["q1", "q2"]
    for e in res:
        scores = [m["score"] for m in e["matches"]]
        assert scores == sorted(scores)
        assert len(e["matches"]) == 3
        assert all("metadata" in m and "values" in m for m in e["matches"])
    assert res[0]["matches"][0]["id"] == "k5"
    with pytest.raises(ValueError):
        svc.search_batch({"q": [1.0, 1.0]}, top_k=0, namespace="default")


def test_find_similar_batch_metadata_filter(spark, tmp_path):
    """Batch hybrid query: the metadata predicate forces the exact path
    (index carries no metadata) and applies BEFORE ranking — per-query
    top-k of the MATCHING rows, parity with single-query hybrid."""
    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "bmf"), rebuild_threshold=0.95)
    rows = [
        (f"k{i}", [float(i)], {"cat": "a" if i % 2 == 0 else "b"}, "A")
        for i in range(20)
    ]
    store.upsert_df(
        spark.createDataFrame(
            rows,
            "id string, values array<float>, "
            "metadata map<string,string>, namespace string",
        )
    )
    store.build_index("A", factory=lambda: IVFIndex(n_clusters=2, seed=1))
    got = store.find_similar_batch(
        {"q": [7.0]}, 3, namespace="A", metric="l2",
        metadata_filter={"cat": "a"},
    )
    ids = [r.id for r in got.collect()]
    assert all(int(i[1:]) % 2 == 0 for i in ids) and len(ids) == 3
    single = store.find_similar(
        [7.0], 3, namespace="A", metric="l2", metadata_filter={"cat": "a"}
    )
    assert {h["id"] for h in single} == set(ids)
    # mode='indexed' + filter must raise (same contract as single-query)
    with pytest.raises(ValueError):
        store.find_similar_batch(
            {"q": [7.0]}, 3, namespace="A", metric="l2",
            metadata_filter={"cat": "a"}, mode="indexed",
        )


def test_upsert_check_dims_false_skips_count_and_requires_namespace(
    spark, tmp_path
):
    """The steady-state write fast path (round-7 verdict #6): skipping the
    pre-write validation aggregation returns None instead of the count,
    requires an explicit namespace for the bookkeeping, and still lands
    the rows, clears tombstones, and keeps compaction accounting honest."""
    store = VectorStore(spark, str(tmp_path / "cdf0"), rebuild_threshold=0.95)
    df0 = spark.createDataFrame(
        [(f"k{i}", [float(i), 0.0]) for i in range(10)],
        "id string, values array<float>",
    )
    assert store.upsert_df(df0, namespace="A") == 10
    with pytest.raises(ValueError):
        store.upsert_df(df0, check_dims=False)  # no namespace
    # fast-path overwrite: no count, rows visible, latest wins
    df1 = spark.createDataFrame(
        [("k1", [9.0, 9.0])], "id string, values array<float>"
    )
    assert store.upsert_df(df1, namespace="A", check_dims=False) is None
    got = {r["id"]: list(r["values"]) for r in store.df().collect()}
    assert got["k1"] == [9.0, 9.0] and len(got) == 10
    # a tombstoned id revived through the fast path comes back
    store.delete("k2", namespace="A")
    store.upsert_df(
        spark.createDataFrame(
            [("k2", [7.0, 7.0])], "id string, values array<float>"
        ),
        namespace="A",
        check_dims=False,
    )
    assert store.read("k2", namespace="A") is not None


def test_find_similar_sync_folds_namespace_maintenance(spark, tmp_path):
    """find_similar(sync=True) must serve writes that happened after the
    last sync WITHOUT an explicit sync_indexes() call, and must roll
    forward ONLY the queried namespace (the other namespace's bookmark
    stays behind — its feed check was never paid)."""
    import math

    from mlvectordb_spark.operators.ann import IVFIndex

    store = VectorStore(spark, str(tmp_path / "fsync"), rebuild_threshold=0.95)
    rows = [
        (f"{ns}{i}", [math.cos(0.3 * i), math.sin(0.3 * i)], ns)
        for i in range(40)
        for ns in ("A", "B")
    ]
    store.upsert_df(
        spark.createDataFrame(
            rows, "id string, values array<float>, namespace string"
        )
    )
    for ns in ("A", "B"):
        idx = IVFIndex(n_clusters=3, seed=7)
        idx.build(
            store.df().filter(f"namespace = '{ns}'").select("id", "values"),
            vec_col="values",
            id_col="id",
        )
        store.attach_index(ns, idx, vec_col="values", id_col="id")
    store.sync_indexes()
    b_mark = store._serving_synced_at["B"]
    # post-sync write into A only
    store.upsert_df(
        spark.createDataFrame(
            [("Anew", [10.0, 10.0])], "id string, values array<float>"
        ),
        namespace="A",
        check_dims=False,
    )
    hits = store.find_similar(
        [10.0, 10.0], top_k=1, namespace="A", metric="l2", mode="indexed",
        sync=True,
    )
    assert hits[0]["id"] == "Anew"
    # A's bookmark advanced; B's did not (its check was never paid)
    assert store._serving_synced_at["A"] == store.current_version()
    assert store._serving_synced_at["B"] == b_mark
    # batch twin honors the same contract
    out = store.find_similar_batch(
        {"q": [10.0, 10.0]}, 1, namespace="A", metric="l2", mode="indexed",
        sync=True,
    )
    assert [r["id"] for r in out.collect()] == ["Anew"]


def test_batch_approx_serving_ivf_and_ivfpq(spark, tmp_path):
    """Approximate BATCH serving (round-7 verdict #10): the whole batch
    rides one pruned scan over the union of fixed-nprobe probe sets
    (IVFIndex/IVFPQIndex.knn_join). Probing EVERY cluster must equal the
    certified-exact batch per query; target_recall routes the dial
    through the same calibration curve as the single-query path; a
    too-small raw nprobe stays a subset (recall <= 1, never garbage)."""
    import math

    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex, IVFPQIndex

    store = VectorStore(spark, str(tmp_path / "bap"), rebuild_threshold=0.95)
    rows = [
        (
            f"k{i}",
            [math.cos(0.17 * i + j) for j in range(8)],
            "A",
        )
        for i in range(120)
    ]
    store.upsert_df(
        spark.createDataFrame(
            rows, "id string, values array<float>, namespace string"
        )
    )
    qvecs = {f"q{i}": rows[i * 7][1] for i in range(4)}
    for idx in (
        IVFIndex(n_clusters=5, seed=3),
        IVFPQIndex(n_clusters=5, m=4, k_sub=8, seed=3),
    ):
        idx.build(
            store.df().select("id", "values"), vec_col="values", id_col="id"
        )
        store.attach_index("A", idx, vec_col="values", id_col="id")
        exact = store.find_similar_batch(
            qvecs, 5, namespace="A", metric="l2", mode="indexed"
        ).collect()
        allprobe = store.find_similar_batch(
            qvecs, 5, namespace="A", metric="l2", mode="approx", nprobe=5
        ).collect()
        key = lambda rs: {
            (r["query_id"], r["id"], r["score"]) for r in rs
        }
        assert key(allprobe) == key(exact), type(idx).__name__
        # target_recall=1.0 resolves nprobe from the measured curve and
        # must meet the target on this data
        targeted = store.find_similar_batch(
            qvecs, 5, namespace="A", metric="l2", mode="approx",
            target_recall=1.0,
        ).collect()
        assert key(targeted) == key(exact), type(idx).__name__
        # raw nprobe=1 returns per-query top-k over a probe SUBSET:
        # correct shape, scores are true distances, ids a subset-ranking
        narrow = store.find_similar_batch(
            qvecs, 5, namespace="A", metric="l2", mode="approx", nprobe=1
        )
        n_per_q = (
            narrow.groupBy("query_id").count().agg(F.max("count")).head()[0]
        )
        assert n_per_q <= 5
    # target_recall outside approx mode still raises (shared router)
    with pytest.raises(ValueError):
        store.find_similar_batch(
            qvecs, 5, namespace="A", metric="l2", mode="indexed",
            target_recall=0.9,
        )


def test_readme_serving_dials_match_code():
    """The README 'Store serving dials' table documents the shipped
    find_similar/find_similar_batch defaults and the shared resolver
    policy — pin them so the docs can't drift from the code (r11
    verdict #8, the presets-pinning pattern extended to the store)."""
    import inspect
    import os
    import re

    from mlvectordb_spark.operators.store import VectorStore

    sig_single = inspect.signature(VectorStore.find_similar)
    sig_batch = inspect.signature(VectorStore.find_similar_batch)
    shared = ("namespace", "metric", "mode", "nprobe", "target_recall",
              "sync")
    for name in shared:
        assert (
            sig_single.parameters[name].default
            == sig_batch.parameters[name].default
        ), f"single/batch default drift on {name}"
    defaults = {k: sig_single.parameters[k].default for k in shared}

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "README.md")) as f:
        readme = f.read()
    section = readme.split("## Store serving dials")[1].split("\n## ")[0]

    def table_default(dial: str) -> str:
        m = re.search(rf"\| `{dial}`[^|]*\| ([^|]+) \|", section)
        assert m, f"README serving table missing dial {dial}"
        return m.group(1).strip()

    assert table_default("mode") == defaults["mode"] == "auto"
    assert table_default("metric") == defaults["metric"] == "cosine"
    assert table_default("nprobe") == str(defaults["nprobe"]) == "4"
    assert table_default("target_recall").startswith("None")
    assert defaults["target_recall"] is None
    assert table_default("sync") == str(defaults["sync"]) == "False"

    # the documented calibration k and empty-index fallbacks are the
    # ones in the shared resolvers (both paths route through them)
    src_graph = inspect.getsource(VectorStore._resolve_graph_dial)
    src_nprobe = inspect.getsource(VectorStore._resolve_nprobe)
    assert "max(10, top_k)" in src_graph and "max(10, top_k)" in src_nprobe
    assert "max(10, top_k)" in section
    assert '{"ef": None, "nprobe": None}' in src_graph  # graph: exhaustive
    assert "return index.n_clusters" in src_nprobe  # IVF: probe everything
    assert "n_clusters" in section
