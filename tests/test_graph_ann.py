"""GraphANNIndex (partitioned NSW) — the graph-structured counterpart of
the reference's hnswlib index (implementations/index.py:18-48).

Strategy: the exhaustive mode (ef=None, nprobe=None) must EQUAL brute
force (the connectivity guarantee makes it exact, not approximate);
bounded-ef search is judged by recall against the exact path; structure
invariants (degree bound, spanning-tree connectivity, determinism) are
checked on the materialized adjacency."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from mlvectordb_spark.operators.ann import (
    NamespaceIndexFamily,
    recall_at_k,
)
from mlvectordb_spark.operators.graph_ann import GraphANNIndex
from mlvectordb_spark.operators.knn import knn
from mlvectordb_spark.sources.testdata import load_table

K = 10
QVID = 7


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def qvec(emb):
    return emb.filter(F.col("vec_id") == QVID).select("embedding").head()[0]


@pytest.fixture(scope="module")
def gidx(spark, emb):
    idx = GraphANNIndex(n_blocks=4, m=8, ef_construction=64, seed=42)
    idx.build(emb)
    # materialize once so structure tests and searches don't re-run the
    # graph construction per action
    idx.indexed = idx.indexed.localCheckpoint()
    return idx


def test_exhaustive_equals_exact(gidx, emb, qvec):
    """ef=None + nprobe=None traverses every node of every block — exact
    by the spanning-tree connectivity guarantee, including scores."""
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb, qvec, K, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in gidx.search(qvec, K, ef=None, nprobe=None).collect()
    ]
    assert got == exact


def test_bounded_ef_recall(gidx, emb, qvec):
    """All-blocks bounded-beam search: the graph navigates to ≥90% of the
    true top-k (the hnswlib ef=50 quality class on this data)."""
    exact = knn(emb, qvec, K, metric="l2")
    approx = gidx.search(qvec, K, ef=48, nprobe=None)
    assert recall_at_k(approx, exact) >= 0.9


def test_structure_invariants(gidx):
    """Degree ≤ 2m + protected edges stay within 2m+1; adjacency is
    symmetric; every block is CONNECTED (the exactness precondition)."""
    rows = gidx.indexed.select(
        "block_id", "vec_id", "neighbors"
    ).collect()
    by_block: dict[int, dict[int, list[int]]] = collections.defaultdict(dict)
    for r in rows:
        by_block[r.block_id][r.vec_id] = list(r.neighbors)
    assert len(by_block) == 4
    for block, adj in by_block.items():
        for v, nbrs in adj.items():
            assert len(nbrs) <= 2 * gidx.m + 1, (block, v, len(nbrs))
            for u in nbrs:
                assert v in adj[u], f"asymmetric edge {v}->{u}"
        start = next(iter(adj))
        seen = {start}
        frontier = [start]
        while frontier:
            nxt = []
            for v in frontier:
                for u in adj[v]:
                    if u not in seen:
                        seen.add(u)
                        nxt.append(u)
            frontier = nxt
        assert len(seen) == len(adj), f"block {block} disconnected"


def test_build_deterministic(spark, emb):
    a = GraphANNIndex(n_blocks=2, m=4, ef_construction=32, seed=7)
    b = GraphANNIndex(n_blocks=2, m=4, ef_construction=32, seed=7)
    rows_a = sorted(
        (r.vec_id, r.block_id, tuple(r.neighbors), r.is_entry)
        for r in a.build(emb).collect()
    )
    rows_b = sorted(
        (r.vec_id, r.block_id, tuple(r.neighbors), r.is_entry)
        for r in b.build(emb).collect()
    )
    assert rows_a == rows_b


def test_save_load_roundtrip(tmp_path, spark, gidx, emb, qvec):
    p = str(tmp_path / "gidx")
    gidx.save(p)
    back = GraphANNIndex.load(spark, p)
    want = [(r.vec_id, r.score) for r in gidx.search(qvec, K).collect()]
    got = [(r.vec_id, r.score) for r in back.search(qvec, K).collect()]
    assert got == want
    assert back._built_count == gidx._built_count
    assert back.metric == gidx.metric
    # the reloaded layout serves the exhaustive mode exactly too
    exact = knn(emb, qvec, K, metric="l2")
    assert recall_at_k(back.search(qvec, K, ef=None, nprobe=None), exact) == 1.0


def test_pending_tail_immediately_visible(spark, emb, qvec, upsert_feed):
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    idx.build(emb)
    near = [float(x) for x in qvec]
    near[0] += 1e-4
    new = spark.createDataFrame([(999_001, near, 0)], emb.schema)
    idx.apply_changes(upsert_feed(new))
    got = {r.vec_id for r in idx.search(qvec, 2, ef=None, nprobe=None).collect()}
    assert got == {QVID, 999_001}
    # exact path sees the tail too
    got_exact = {r.vec_id for r in idx.search_exact(qvec, 2).collect()}
    assert got_exact == {QVID, 999_001}


def test_apply_changes_delete_and_upsert(spark, emb, qvec):
    """CDC feed: a deleted graph node disappears from results (dangling
    edges skipped); an upserted vector is served from the tail."""
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    idx.build(emb)
    exact_before = [r.vec_id for r in knn(emb, qvec, 3, metric="l2").collect()]
    second = exact_before[1]
    near = [float(x) for x in qvec]
    near[1] += 1e-4
    feed = spark.createDataFrame(
        [
            (second, None, None, "delete", 10),
            (999_002, near, 0, "upsert", 10),
        ],
        "vec_id long, embedding array<float>, label int, "
        "change_type string, write_version long",
    )
    idx.apply_changes(feed)
    got = [r.vec_id for r in idx.search(qvec, 3, ef=None, nprobe=None).collect()]
    assert second not in got
    assert 999_002 in got
    assert got[0] == QVID


def test_rebuild_trigger_and_fold(spark, emb, upsert_feed):
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    idx.build(emb)
    n = idx._built_count
    add_n = int(n * 0.25)
    tail = emb.limit(add_n).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    assert not idx.is_rebuild_required()
    idx.apply_changes(upsert_feed(tail))
    assert idx.is_rebuild_required()
    idx.rebuild()
    assert idx.pending is None
    assert not idx.is_rebuild_required()
    assert idx._built_count == n + add_n
    # folded rows are graph-served now
    assert (
        idx.indexed.filter(F.col("vec_id") >= 1_000_000).count() == add_n
    )


def test_fold_pending_cow_semantics(spark, emb, qvec, upsert_feed):
    """fold_pending: tail rows become graph-served (exhaustive search ==
    brute force afterwards), untouched blocks keep their adjacency
    byte-identical, the drift counter keeps accumulating (router stays
    stale until the full rebuild)."""
    idx = GraphANNIndex(n_blocks=4, m=4, ef_construction=32)
    idx.build(emb)
    idx.indexed = idx.indexed.localCheckpoint()
    before = {
        r.vec_id: (r.block_id, tuple(r.neighbors))
        for r in idx.indexed.collect()
    }
    near = [float(x) for x in qvec]
    near[0] += 1e-3
    new = spark.createDataFrame([(777_001, near, 0)], emb.schema)
    idx.apply_changes(upsert_feed(new))
    drift = idx._added_count
    assert drift == 1
    idx.fold_pending()
    assert idx.pending is None
    assert idx._added_count == drift  # router drift survives the fold
    after = {
        r.vec_id: (r.block_id, tuple(r.neighbors))
        for r in idx.indexed.collect()
    }
    assert 777_001 in after
    touched_block = after[777_001][0]
    for vid, (blk, nbrs) in before.items():
        if blk != touched_block:
            assert after[vid] == (blk, nbrs), vid
    # graph-served now: exhaustive == brute force including the folded row
    exact = [
        (r.vec_id, r.score)
        for r in knn(
            emb.unionByName(new), qvec, 5, metric="l2"
        ).collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search(qvec, 5, ef=None, nprobe=None).collect()
    ]
    assert got == exact
    assert 777_001 in {v for v, _ in got}


def test_batch_exhaustive_matches_exact(gidx, emb):
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = gidx.search_batch(queries, 5, ef=None, nprobe=None).collect()
    got = collections.defaultdict(set)
    for r in rows:
        got[r.query_id].add(r.vec_id)
    for q in range(4):
        qv = (
            emb.filter(F.col("vec_id") == q).select("embedding").head()[0]
        )
        exact = {r.vec_id for r in knn(emb, qv, 5, metric="l2").collect()}
        assert got[q] == exact, q


def test_metric_bound_graph_rejects_other_metric(gidx, qvec):
    with pytest.raises(ValueError, match="metric-bound"):
        gidx.search(qvec, K, metric="cosine")


def test_cosine_metric_end_to_end(spark, emb, qvec):
    idx = GraphANNIndex(n_blocks=2, m=6, ef_construction=48, metric="cosine")
    idx.build(emb)
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb, qvec, K, metric="cosine").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search(qvec, K, ef=None, nprobe=None).collect()
    ]
    assert got == exact


def test_recall_curve_and_target_recall(tmp_path, spark, emb, qvec):
    """The ef→recall calibration (IVF's recall-curve contract with the
    graph's dial): measured, monotone-usable, persisted by save(), and
    target_recall serving meets the target it promises."""
    idx = GraphANNIndex(n_blocks=2, m=6, ef_construction=48)
    idx.build(emb)
    idx.indexed = idx.indexed.localCheckpoint()
    with pytest.raises(ValueError, match="recall curve"):
        idx.ef_for_recall(0.9)
    curve = idx.measure_recall_curve(k=K, n_queries=4, efs=[8, 32, 96])
    assert set(curve) == {8, 32, 96}
    assert all(0.0 <= r <= 1.0 for r in curve.values())
    ef = idx.ef_for_recall(0.9)
    assert ef is None or curve[ef] >= 0.9
    exact = knn(emb, qvec, K, metric="l2")
    served = idx.search(qvec, K, target_recall=0.9)
    assert recall_at_k(served, exact) >= 0.9
    # the curve travels with the index
    p = str(tmp_path / "gcurve")
    idx.save(p)
    back = GraphANNIndex.load(spark, p)
    assert back._recall_curve == curve
    assert back.ef_for_recall(0.9) == ef


def test_store_attach_and_cdc_sync(spark, tmp_path):
    """The graph index serves through the VectorStore like the other
    families: attach → find_similar(mode='indexed') routes through
    search_exact; a later upsert reaches the index via sync_indexes
    (changes_since → apply_changes → the pending tail)."""
    from mlvectordb_spark.operators.store import VectorStore

    store = VectorStore(
        spark, str(tmp_path / "gstore"), rebuild_threshold=0.95
    )
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(12)],
            "id string, values array<float>, namespace string",
        )
    )
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=16)
    idx.build(
        store.df().filter(F.col("namespace") == "A").select("id", "values"),
        vec_col="values",
        id_col="id",
    )
    idx.indexed = idx.indexed.localCheckpoint()
    store.attach_index("A", idx, vec_col="values", id_col="id")
    hits = store.find_similar(
        [5.2, 0.0], 2, namespace="A", metric="l2", mode="indexed"
    )
    assert [h["id"] for h in hits] == ["k5", "k6"]
    # a post-attach write reaches the index through the CDC sync
    store.upsert_df(
        spark.createDataFrame(
            [("fresh", [5.1, 0.0], "A")],
            "id string, values array<float>, namespace string",
        )
    )
    store.sync_indexes()
    hits = store.find_similar(
        [5.2, 0.0], 2, namespace="A", metric="l2", mode="indexed"
    )
    assert [h["id"] for h in hits] == ["fresh", "k5"]


def test_store_approx_serving_through_graph(spark, tmp_path):
    """mode='approx' through the store rides the graph's bounded beam
    (its search speaks the nprobe protocol); target_recall through the
    store routes via _resolve_graph_dial — the SAME policy helper as
    the batch path (r9 ADVICE: the single-query graph-member path used
    to raise a redirect instead) — lazily measuring the ef→recall curve
    and serving at a measured dial."""
    from mlvectordb_spark.operators.store import VectorStore

    store = VectorStore(
        spark, str(tmp_path / "gastore"), rebuild_threshold=0.95
    )
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 0.0], "A") for i in range(16)],
            "id string, values array<float>, namespace string",
        )
    )
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=16)
    idx.build(
        store.df().filter(F.col("namespace") == "A").select("id", "values"),
        vec_col="values",
        id_col="id",
    )
    idx.indexed = idx.indexed.localCheckpoint()
    store.attach_index("A", idx, vec_col="values", id_col="id")
    hits = store.find_similar(
        [7.1, 0.0], 2, namespace="A", metric="l2", mode="approx", nprobe=2
    )
    assert [h["id"] for h in hits] == ["k7", "k8"]
    hits = store.find_similar(
        [7.1, 0.0], 2, namespace="A", metric="l2", mode="approx",
        target_recall=0.9,
    )
    exact = store.find_similar(
        [7.1, 0.0], 2, namespace="A", metric="l2", mode="exact"
    )
    got_ids = {h["id"] for h in hits}
    want_ids = {h["id"] for h in exact}
    assert len(got_ids & want_ids) / len(want_ids) >= 0.9
    # the lazily measured curve is cached for subsequent queries
    assert idx._recall_curve is not None


def test_store_batch_serving_through_graph(spark, tmp_path):
    """find_similar_batch(mode='indexed') routes through the graph
    member's knn_join_exact (exhaustive batch = exact) and agrees with
    the brute-force batch path row for row."""
    from mlvectordb_spark.operators.store import VectorStore

    store = VectorStore(
        spark, str(tmp_path / "gbstore"), rebuild_threshold=0.95
    )
    store.upsert_df(
        spark.createDataFrame(
            [(f"k{i}", [float(i), float(i % 3)], "A") for i in range(20)],
            "id string, values array<float>, namespace string",
        )
    )
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=16)
    idx.build(
        store.df().filter(F.col("namespace") == "A").select("id", "values"),
        vec_col="values",
        id_col="id",
    )
    idx.indexed = idx.indexed.localCheckpoint()
    store.attach_index("A", idx, vec_col="values", id_col="id")
    queries = {"qa": [3.2, 0.0], "qb": [15.1, 2.0]}
    routed = store.find_similar_batch(
        queries, 3, namespace="A", metric="l2", mode="indexed"
    ).collect()
    brute = store.find_similar_batch(
        queries, 3, namespace="A", metric="l2", mode="exact"
    ).collect()
    key = lambda r: (r.query_id, r.score, r.id)  # noqa: E731
    assert sorted(key(r) for r in routed) == sorted(key(r) for r in brute)


def test_resync_folds_tail_into_graphs(spark, emb):
    """resync_index_from_snapshot pushes every live row through the feed;
    note_full_resync must fold the resulting corpus-sized tail back into
    block graphs instead of serving brute force behind zero drift."""
    from mlvectordb_spark.operators.ann import resync_index_from_snapshot

    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    idx.build(emb.limit(100).select("vec_id", "embedding"))
    snap = emb.limit(120).select(
        "vec_id", "embedding",
        F.lit("upsert").alias("change_type"),
        F.lit(99).cast("long").alias("write_version"),
    )
    resync_index_from_snapshot(
        idx, snap, vec_col="embedding", id_col="vec_id", write_version=99
    )
    assert idx.pending is None
    assert idx._built_count == 120
    assert not idx.is_rebuild_required()
    assert idx.indexed.count() == 120


def test_descent_pool_path_exact_and_connected(spark, emb, qvec):
    """Force the NN-descent pool path (normally blocks > 32k rows) and
    prove the full invariant set still holds there: exhaustive traversal
    == brute force (connectivity repair), recall at bounded ef, degree
    caps. The descent path must not be dead code guarded by a constant
    no test crosses. The cutoff threads through the instance (a module
    monkeypatch would not reach executor workers)."""
    idx = GraphANNIndex(n_blocks=2, m=6, ef_construction=48)
    idx._exact_pool_max = 8
    idx.build(emb)
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb, qvec, K, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search(qvec, K, ef=None, nprobe=None).collect()
    ]
    assert got == exact
    assert recall_at_k(
        idx.search(qvec, K, ef=64, nprobe=None), knn(emb, qvec, K, metric="l2")
    ) >= 0.8
    for r in idx.indexed.select("neighbors").collect():
        assert len(r.neighbors) <= 2 * idx.m + 2


def test_ip_metric_end_to_end(spark, emb, qvec):
    """Inner-product space (hnswlib 'ip'): traversal orders by -dot,
    scores surface as the honest dot product (descending) — exhaustive
    mode must equal the brute-force ip ranking."""
    idx = GraphANNIndex(n_blocks=2, m=6, ef_construction=48, metric="ip")
    idx.build(emb)
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb, qvec, K, metric="ip").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search(qvec, K, ef=None, nprobe=None).collect()
    ]
    assert got == exact


def test_family_member_protocol(spark, emb):
    """GraphANNIndex slots into NamespaceIndexFamily (build /
    apply_changes / search_exact / save / load routed per namespace)."""
    df = emb.withColumn(
        "namespace",
        F.when(F.col("vec_id") % 2 == 0, "even").otherwise("odd"),
    )
    fam = NamespaceIndexFamily(
        factory=lambda: GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    )
    fam.build(df)
    assert fam.namespaces() == ["even", "odd"]
    qv = emb.filter(F.col("vec_id") == 8).select("embedding").head()[0]
    got = [r.vec_id for r in fam.search_exact("even", qv, 5).collect()]
    exact = [
        r.vec_id
        for r in knn(
            emb.filter(F.col("vec_id") % 2 == 0), qv, 5, metric="l2"
        ).collect()
    ]
    assert got == exact


def test_save_over_loaded_path_after_fold(tmp_path, spark, emb, qvec, upsert_feed):
    """Maintained-index persistence: load → fold_pending → save back to
    the SAME path must succeed (the save reads the committed generation
    it supersedes) and the reloaded index serves the folded state
    exactly."""
    p = str(tmp_path / "selfsave")
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=16)
    idx.build(emb)
    idx.save(p)
    back = GraphANNIndex.load(spark, p)
    near = [float(x) for x in qvec]
    near[2] += 1e-3
    back.apply_changes(
        upsert_feed(spark.createDataFrame([(888_001, near, 0)], emb.schema))
    )
    back.fold_pending()
    back.save(p)  # over the path it was loaded from
    again = GraphANNIndex.load(spark, p)
    assert again.pending is None
    assert again.indexed.count() == emb.count() + 1
    got = {r.vec_id for r in again.search(qvec, 2, ef=None, nprobe=None).collect()}
    assert got == {QVID, 888_001}


def test_filtered_search_exhaustive_exact(gidx, emb, qvec):
    """Hybrid through the graph: result_filter + exhaustive traversal
    equals the filtered brute-force top-k (post-filtering is exact when
    the traversal visits everything)."""
    pred = F.col("label") % 2 == 0
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb, qvec, 5, metric="l2", pre_filter=pred).collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in gidx.search(
            qvec, 5, ef=None, nprobe=None, result_filter=pred
        ).collect()
    ]
    assert got == exact


def test_family_save_load_graph_members(tmp_path, spark, emb):
    """Family persistence resolves GraphANNIndex members through ann.py's
    lazy-import fallback (the class lives outside ann.py's globals)."""
    df = emb.withColumn(
        "namespace",
        F.when(F.col("vec_id") % 2 == 0, "even").otherwise("odd"),
    )
    fam = NamespaceIndexFamily(
        factory=lambda: GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    )
    fam.build(df)
    p = str(tmp_path / "gfam")
    fam.save(p)
    back = NamespaceIndexFamily.load(
        spark, p,
        factory=lambda: GraphANNIndex(n_blocks=2, m=4, ef_construction=32),
    )
    assert back.namespaces() == ["even", "odd"]
    assert type(back.member("even")).__name__ == "GraphANNIndex"
    qv = emb.filter(F.col("vec_id") == 8).select("embedding").head()[0]
    want = [r.vec_id for r in fam.search_exact("odd", qv, 5).collect()]
    got = [r.vec_id for r in back.search_exact("odd", qv, 5).collect()]
    assert got == want


def test_exhaustive_exact_despite_disconnection(spark, emb, qvec):
    """Worst-case graph damage: every edge severed (simulated by
    emptying the adjacency — the limit of the r8 advice finding, where
    a deleted bridge endpoint stranded live rows). Exhaustive mode must
    STILL equal brute force: the unvisited-row sweep covers whatever
    the traversal can't reach. Single-query and batch surfaces."""
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    idx.build(emb)
    idx.indexed = idx.indexed.withColumn(
        "neighbors", F.expr("slice(neighbors, 1, 0)")
    ).localCheckpoint()
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb, qvec, K, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search(qvec, K, ef=None, nprobe=None).collect()
    ]
    assert got == exact
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = idx.knn_join_exact(queries, 5).collect()
    got_b = collections.defaultdict(set)
    for r in rows:
        got_b[r.query_id].add(r.vec_id)
    for q in range(2):
        qv = emb.filter(F.col("vec_id") == q).select("embedding").head()[0]
        want = {r.vec_id for r in knn(emb, qv, 5, metric="l2").collect()}
        assert got_b[q] == want, q


def test_exhaustive_exact_after_heavy_deletes(spark, emb, qvec):
    """CDC-delete half the corpus (ample bridge-removal opportunity),
    then certify the exhaustive mode against brute force over the
    survivors — scores included."""
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    idx.build(emb)
    victims = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    feed = victims.select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("label"),
        F.lit("delete").alias("change_type"),
        F.lit(10).cast("long").alias("write_version"),
    )
    idx.apply_changes(feed)
    live = emb.join(victims, "vec_id", "left_anti")
    exact = [
        (r.vec_id, r.score)
        for r in knn(live, qvec, K, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search(qvec, K, ef=None, nprobe=None).collect()
    ]
    assert got == exact


def test_batch_target_recall_through_graph(spark, emb):
    """search_batch(target_recall=) resolves ef from the persisted curve
    (the single-query quality contract applied to the whole batch) and
    the result meets the target against the exact batch join."""
    idx = GraphANNIndex(n_blocks=2, m=8, ef_construction=64)
    idx.build(emb)
    idx.indexed = idx.indexed.localCheckpoint()
    idx.measure_recall_curve(k=5, n_queries=4, efs=[16, 64], nprobe=None)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = collections.defaultdict(set)
    for r in idx.knn_join_exact(queries, 5).collect():
        exact[r.query_id].add(r.vec_id)
    got = collections.defaultdict(set)
    for r in idx.search_batch(queries, 5, target_recall=0.9).collect():
        got[r.query_id].add(r.vec_id)
    recalls = [
        len(got[q] & exact[q]) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.9
    # knn_join (the store's approx protocol shape) threads it too
    via_join = collections.defaultdict(set)
    for r in idx.knn_join(queries, 5, target_recall=0.9).collect():
        via_join[r.query_id].add(r.vec_id)
    assert via_join == got
    # never measured → the contract raises rather than guessing
    fresh = GraphANNIndex(n_blocks=2, m=4, ef_construction=32)
    fresh.build(emb)
    with pytest.raises(ValueError, match="recall curve"):
        fresh.search_batch(queries, 5, target_recall=0.9).collect()


def test_store_batch_approx_target_recall_through_graph(spark, tmp_path):
    """find_similar_batch(mode='approx', target_recall=) serves graph
    members: the store lazily measures the graph's ef→recall curve and
    knn_join resolves the dial from it — the batch twin of the IVF
    families' _resolve_nprobe contract (r8 verdict #9). The batch result
    meets the target against the exact batch path."""
    from mlvectordb_spark.operators.store import VectorStore

    store = VectorStore(
        spark, str(tmp_path / "gtstore"), rebuild_threshold=0.95
    )
    store.upsert_df(
        spark.createDataFrame(
            [
                (f"k{i}", [float(i), float((i * 7) % 5)], "A")
                for i in range(24)
            ],
            "id string, values array<float>, namespace string",
        )
    )
    idx = GraphANNIndex(n_blocks=2, m=4, ef_construction=16)
    idx.build(
        store.df().filter(F.col("namespace") == "A").select("id", "values"),
        vec_col="values",
        id_col="id",
    )
    idx.indexed = idx.indexed.localCheckpoint()
    store.attach_index("A", idx, vec_col="values", id_col="id")
    queries = {"qa": [3.2, 1.0], "qb": [15.1, 2.0]}
    got = store.find_similar_batch(
        queries, 3, namespace="A", metric="l2", mode="approx",
        target_recall=0.9,
    ).collect()
    exact = store.find_similar_batch(
        queries, 3, namespace="A", metric="l2", mode="exact"
    ).collect()
    by_q = collections.defaultdict(set)
    for r in got:
        by_q[r.query_id].add(r.id)
    ex_q = collections.defaultdict(set)
    for r in exact:
        ex_q[r.query_id].add(r.id)
    recalls = [len(by_q[q] & ex_q[q]) / len(ex_q[q]) for q in ex_q]
    assert sum(recalls) / len(recalls) >= 0.9
    # the measured curve is cached on the index for the next batch
    assert idx._recall_curve is not None


def test_descent_rho_builds_exact_and_persists(spark, emb, qvec, tmp_path):
    """The sampled-expansion build dial (descent_rho < 1): exhaustive
    search stays EXACT (connectivity repair is rho-independent), the
    dial survives save/load, and an out-of-range value is rejected."""
    idx = GraphANNIndex(
        n_blocks=2, m=4, ef_construction=16, seed=7, descent_rho=0.5
    )
    idx._exact_pool_max = 8  # force the NN-descent path on the fixture
    idx.build(emb.limit(400))
    exact = knn(emb.limit(400), qvec, K, metric="l2")
    got = idx.search(qvec, K, ef=None, nprobe=None)
    assert recall_at_k(got, exact) == 1.0
    path = str(tmp_path / "rho_idx")
    idx.save(path)
    back = GraphANNIndex.load(spark, path)
    assert back.descent_rho == 0.5
    with pytest.raises(ValueError):
        GraphANNIndex(descent_rho=0.0)
    with pytest.raises(ValueError):
        GraphANNIndex(descent_rho=1.5)


def test_descent_delta_builds_exact_and_persists(spark, emb, qvec, tmp_path):
    """The convergence dial (descent_delta — Dong et al.'s δ):
    exhaustive search stays EXACT whatever the early stop does
    (connectivity repair + unvisited sweep are pool-independent), the
    dial survives save/load, and out-of-range values are rejected."""
    idx = GraphANNIndex(
        n_blocks=2, m=4, ef_construction=16, seed=7, descent_delta=0.05
    )
    idx._exact_pool_max = 8  # force the NN-descent path on the fixture
    idx.build(emb.limit(400))
    exact = knn(emb.limit(400), qvec, K, metric="l2")
    got = idx.search(qvec, K, ef=None, nprobe=None)
    assert recall_at_k(got, exact) == 1.0
    path = str(tmp_path / "delta_idx")
    idx.save(path)
    back = GraphANNIndex.load(spark, path)
    assert back.descent_delta == 0.05
    with pytest.raises(ValueError):
        GraphANNIndex(descent_delta=-0.1)
    with pytest.raises(ValueError):
        GraphANNIndex(descent_delta=1.0)


def test_readme_presets_match_code():
    """The README 'Graph-ANN build presets' table documents the shipped
    constructor defaults — pin them so the docs can't drift from the
    code (r10 verdict #6)."""
    import inspect
    import os
    import re

    sig = inspect.signature(GraphANNIndex.__init__)
    defaults = {k: v.default for k, v in sig.parameters.items()}
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "README.md")) as f:
        readme = f.read()
    section = readme.split("## Graph-ANN build presets")[1].split("\n## ")[0]

    def table_default(dial: str) -> str:
        m = re.search(rf"\| `{dial}`[^|]*\| ([^|]+) \|", section)
        assert m, f"README preset table missing dial {dial}"
        return m.group(1).strip()

    assert table_default("m") == str(defaults["m"]) == "8"
    assert (
        table_default("ef_construction")
        == str(defaults["ef_construction"])
        == "64"
    )
    assert table_default("descent_rho") == str(defaults["descent_rho"]) == "1.0"
    assert table_default("descent_delta").startswith(
        str(defaults["descent_delta"])
    )
    assert defaults["descent_delta"] == 0.0  # measured: δ never fires
    assert table_default("n_blocks") == str(defaults["n_blocks"]) == "4"
    # float32 working set is the shipped dtype (r10)
    from mlvectordb_spark.operators import graph_ann as GA

    assert "float32" in section
    src = inspect.getsource(GA)
    assert "_rescore64" in src and "float32" in src
