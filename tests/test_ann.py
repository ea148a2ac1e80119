"""ANN index tests: recall vs the exact brute-force reference (the Phase-5
verification contract — approximate paths are judged against exact KNN)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlvectordb_spark.operators.ann import IVFIndex, LSHIndex, recall_at_k
from mlvectordb_spark.operators.knn import knn
from mlvectordb_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    # unpersist so the cached plan doesn't shadow the parquet scan for
    # later plan-inspection tests (cache lookup is by logical plan)
    df.unpersist()


@pytest.fixture(scope="module")
def qvec(emb):
    return emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]


def test_ivf_full_probe_equals_exact(emb, qvec):
    """nprobe = n_clusters ⇒ no pruning ⇒ identical to brute force."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    exact = knn(emb, qvec, 10, metric="l2")
    approx = idx.search(qvec, 10, nprobe=8, metric="l2")
    assert recall_at_k(approx, exact) == 1.0


def test_ivf_recall_increases_with_nprobe(emb, qvec):
    idx = IVFIndex(n_clusters=16, seed=42)
    idx.build(emb)
    exact = knn(emb, qvec, 10, metric="l2")
    recalls = [
        recall_at_k(idx.search(qvec, 10, nprobe=p, metric="l2"), exact)
        for p in (1, 4, 16)
    ]
    assert recalls[-1] == 1.0
    assert recalls[0] <= recalls[1] <= recalls[2]
    assert recalls[1] >= 0.3  # partial probing finds a usable fraction


def test_ivf_search_is_pruned(emb, qvec):
    """The probe filter must actually prune candidate clusters."""
    idx = IVFIndex(n_clusters=8, seed=42)
    indexed = idx.build(emb)
    probes = idx._probe_clusters(qvec, 2)
    n_candidates = indexed.filter(F.col("cluster_id").isin(probes)).count()
    assert n_candidates < emb.count()


def test_ivf_incremental_add_and_rebuild_trigger(spark, emb, qvec, upsert_feed):
    """W8 add through apply_changes + W11 rebuild flag: upserted vectors
    become searchable without a refit; the drift counter trips at 20%
    (reference threshold)."""
    base = emb.filter(F.col("vec_id") < 400)
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(base)
    assert not idx.is_rebuild_required()
    batch1 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    idx.apply_changes(upsert_feed(batch1))  # 50/400 = 12.5% — under threshold
    assert not idx.is_rebuild_required()
    # an added vector is findable via full probe (exact within clusters)
    probe = emb.filter(F.col("vec_id") == 420).select("embedding").head()[0]
    hits = {r.vec_id for r in idx.search(probe, 3, nprobe=8).collect()}
    assert 420 in hits
    batch2 = emb.filter(F.col("vec_id") >= 450)
    idx.apply_changes(upsert_feed(batch2, 2))  # cumulative 100/400 = 25%
    assert idx.is_rebuild_required()
    idx.build(emb)  # refit clears the drift counter
    assert not idx.is_rebuild_required()


def test_ivf_add_plan_is_shuffle_free(spark, emb):
    """The step `apply_changes` re-enters upserts through (`_assign`, the
    nearest-centroid argmin) is a narrow per-row map — no crossJoin, no
    window, no Exchange."""
    import io
    from contextlib import redirect_stdout

    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb.filter(F.col("vec_id") < 400))
    for with_dist in (False, True):
        assigned = idx._assign(
            emb.filter(F.col("vec_id") >= 400), "embedding", with_dist
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            assigned.explain(mode="simple")
        plan = buf.getvalue()
        assert "MapInPandas" in plan
        assert "Exchange" not in plan and "Window" not in plan


def test_ivf_reloaded_index_keeps_drift_trigger(spark, emb, tmp_path, upsert_feed):
    """load() must restore drift counters so is_rebuild_required() stays
    live across persistence."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb.filter(F.col("vec_id") < 400))
    idx.save(str(tmp_path / "ivf_drift"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf_drift"))
    assert loaded._built_count == idx._built_count
    assert not loaded.is_rebuild_required()
    loaded.apply_changes(upsert_feed(emb.filter(F.col("vec_id") >= 400)))
    assert loaded.is_rebuild_required()  # 100/400 = 25%


def test_ivf_save_load_roundtrip(spark, emb, qvec, tmp_path):
    """Q23 index persistence: reloaded index answers identically, and the
    probe filter prunes physical cluster_id partitions."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    before = {r.vec_id for r in idx.search(qvec, 10, nprobe=8).collect()}
    idx.save(str(tmp_path / "ivf"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf"))
    after = {r.vec_id for r in loaded.search(qvec, 10, nprobe=8).collect()}
    assert before == after
    from mlvectordb_spark.plans.explain import explain_query

    probed = loaded.indexed.filter(
        F.col("cluster_id").isin(loaded._probe_clusters(qvec, 2))
    )
    plan = explain_query(probed)
    assert "PartitionFilters" in plan["raw"]


def test_ivf_search_exact_equals_brute_force(emb, qvec):
    """search_exact is EXACT by construction (triangle-inequality cluster
    pruning) — identical rows to brute force, on any data distribution."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    exact = [
        (r.vec_id, r.score) for r in knn(emb, qvec, 10, metric="l2").collect()
    ]
    got = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    assert got == exact


def test_ivf_search_exact_prunes_clustered_data(spark):
    """On data with real cluster structure the certified bound prunes most
    clusters — and the answer is still exact. Seeded blob corpus: 8 tight
    blobs far apart, query near blob 0."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 50.0
    rows = []
    for i in range(800):
        b = i % 8
        rows.append((i, [float(x) for x in centers[b] + rng.normal(size=16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(df)
    q = [float(x) for x in centers[0]]
    exact = [r.vec_id for r in knn(df, q, 10, metric="l2").collect()]
    got = [r.vec_id for r in idx.search_exact(q, 10).collect()]
    assert got == exact
    # the certified probe set must exclude most blobs
    radii, counts = idx.cluster_stats()
    dq = np.sqrt(((idx.centroids - np.asarray(q)) ** 2).sum(axis=1))
    ub = dq + radii
    tau = sorted(
        float(u) for u, c in zip(ub, counts) if c > 0
    )[0]  # first cluster already holds >= 10 members
    lb = np.maximum(0.0, dq - radii)
    n_probed = int((lb * lb <= tau * tau + 1e-3).sum())
    assert n_probed <= 3, f"expected heavy pruning on blobs, probed {n_probed}"


def test_ivf_recall_gate_on_clustered_corpus(spark):
    """Recall@10 >= 0.9 at nprobe=4 on a seeded clustered corpus — fails
    loudly if centroid fitting or probe selection degrades (round-3 verdict
    #6). Clustered data is the contract IVF serves; uniform-random data
    legitimately needs a larger nprobe and is covered by the recall-curve
    query instead."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 32)) * 20.0
    rows = []
    for i in range(1600):
        b = i % 16
        rows.append((i, [float(x) for x in centers[b] + rng.normal(size=32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFIndex(n_clusters=16, seed=42)
    idx.build(df)
    q = [float(x) for x in centers[3] + rng.normal(size=32) * 0.5]
    exact = knn(df, q, 10, metric="l2")
    approx = idx.search(q, 10, nprobe=4, metric="l2")
    assert recall_at_k(approx, exact) >= 0.9


def test_ivf_cluster_stats_persist_through_save_load(spark, emb, qvec, tmp_path):
    """Exact-search bounds travel with the index: a reloaded index answers
    search_exact without re-deriving radii from a corpus scan."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    before = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    idx.save(str(tmp_path / "ivf_stats"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf_stats"))
    assert loaded._radii is not None and loaded._counts is not None
    after = [(r.vec_id, r.score) for r in loaded.search_exact(qvec, 10).collect()]
    assert before == after


def test_lsh_search_returns_k(emb, qvec):
    idx = LSHIndex(bucket_length=1.0, num_hash_tables=4, seed=42)
    idx.build(emb)
    out = idx.search(qvec, 5).collect()
    assert len(out) == 5
    # the query point itself must be its own nearest neighbour
    assert out[0].vec_id == 0 or 0 in {r.vec_id for r in out}


def test_lsh_save_load_roundtrip(spark, emb, qvec, tmp_path):
    idx = LSHIndex(bucket_length=1.0, num_hash_tables=4, seed=42)
    idx.build(emb)
    before = {r.vec_id for r in idx.search(qvec, 5).collect()}
    idx.save(str(tmp_path / "lsh"))
    loaded = LSHIndex.load(spark, str(tmp_path / "lsh"))
    after = {r.vec_id for r in loaded.search(qvec, 5).collect()}
    assert before == after  # same hyperplanes -> same buckets -> same result


def test_lsh_similarity_join_self_pairs(emb):
    """Every point is within distance 0 of itself in the self-join."""
    small = emb.filter(F.col("vec_id") < 50)
    idx = LSHIndex(bucket_length=1.0, num_hash_tables=4, seed=42)
    idx.build(small)
    pairs = idx.similarity_join(threshold=0.001)
    self_pairs = pairs.filter(
        F.col("datasetA.vec_id") == F.col("datasetB.vec_id")
    ).count()
    assert self_pairs == 50


def test_lsh_search_exact_equals_brute_force(emb, qvec):
    """LSH search_exact (probe → certified bucket-window rescore) returns
    IDENTICAL rows to brute force — the oracle contract of ann_lsh_exact."""
    idx = LSHIndex(bucket_length=0.5, num_hash_tables=4, seed=42)
    idx.build(emb)
    exact = [
        (r.vec_id, r.score) for r in knn(emb, qvec, 10, metric="l2").collect()
    ]
    got = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    assert got == exact


def test_lsh_search_exact_on_clustered_data_prunes(spark):
    """On clustered data the certified bucket window excludes far blobs:
    exact answer, bounded rescore set."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(6, 16)) * 40.0
    rows = [
        (i, [float(x) for x in centers[i % 6] + rng.normal(size=16)])
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = LSHIndex(bucket_length=2.0, num_hash_tables=4, seed=42)
    idx.build(df)
    q = [float(x) for x in centers[2]]
    exact = [r.vec_id for r in knn(df, q, 10, metric="l2").collect()]
    got = [r.vec_id for r in idx.search_exact(q, 10).collect()]
    assert got == exact
    # the rescore window keeps blob 2's neighbourhood, not the whole corpus
    qb = idx.query_buckets(q)
    tau = knn(df, q, 10, metric="l2").collect()[-1].score
    width = int((tau + 1e-3) ** 0.5 / idx.bucket_length) + 1
    cond = None
    for i, b in enumerate(qb):
        c = F.abs(idx._bucket_col(i) - F.lit(b)) <= F.lit(width)
        cond = c if cond is None else (cond & c)
    assert idx.indexed.filter(cond).count() < 600


def test_hybrid_ivf_exact_equals_filtered_brute_force(emb, qvec):
    """search_exact with a pre_filter equals brute force over the filtered
    corpus — including the score set."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    flt = F.col("label") == 3
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb.filter(flt), qvec, 10, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search_exact(qvec, 10, pre_filter=flt).collect()
    ]
    assert got == exact


def test_hybrid_ivf_exact_rare_filter_is_not_overpruned(spark):
    """The adversarial case for filtered pruning: every vector NEAR the
    query fails the predicate, all matching vectors live in FAR clusters.
    With unfiltered coverage counts tau would certify against the near
    (non-matching) members and prune the far clusters — losing the whole
    answer. Filtered counts keep it exact."""
    import numpy as np

    rng = np.random.default_rng(13)
    near = rng.normal(size=(400, 16)) * 1.0          # near the origin, label 0
    far = rng.normal(size=(40, 16)) * 1.0 + 80.0     # one far blob, label 1
    rows = [
        (i, [float(x) for x in near[i]], 0) for i in range(400)
    ] + [
        (400 + j, [float(x) for x in far[j]], 1) for j in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(df)
    q = [0.0] * 16
    flt = F.col("label") == 1
    exact = [
        (r.vec_id, r.score)
        for r in knn(df.filter(flt), q, 10, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search_exact(q, 10, pre_filter=flt).collect()
    ]
    assert got == exact
    assert len(got) == 10


def test_knn_join_exact_equals_brute_force_batch(spark, emb):
    """knn_join_exact (per-query certified probes, one pruned scan) equals
    the brute-force batch join row-for-row."""
    from mlvectordb_spark.operators.knn import knn_join

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    data = emb.filter(F.col("vec_id") >= 5)
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    exact = {
        (r.query_id, r.vec_id, r.score)
        for r in knn_join(data, queries, 3, metric="l2")
        .select("query_id", "vec_id", "score")
        .collect()
    }
    got = {
        (r.query_id, r.vec_id, r.score)
        for r in idx.knn_join_exact(
            queries, 3, pre_filter=F.col("vec_id") >= 5
        ).collect()
    }
    assert got == exact


def test_pq_search_exact_equals_brute_force(spark, emb, qvec):
    """PQ search_exact (ADC scan + per-vector error bounds + exact
    rescore) returns IDENTICAL rows to brute force — the oracle contract
    of ann_pq_exact."""
    from mlvectordb_spark.operators.quantize import PQIndex

    idx = PQIndex(m=8, k_sub=16, seed=42)
    idx.build(emb)
    exact = [
        (r.vec_id, r.score) for r in knn(emb, qvec, 10, metric="l2").collect()
    ]
    got = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    assert got == exact


def test_pq_save_load_roundtrip_answers_identically(spark, emb, qvec, tmp_path):
    from mlvectordb_spark.operators.quantize import PQIndex

    idx = PQIndex(m=8, k_sub=16, seed=42)
    idx.build(emb)
    before = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    idx.save(str(tmp_path / "pq"))
    loaded = PQIndex.load(spark, str(tmp_path / "pq"))
    after = [(r.vec_id, r.score) for r in loaded.search_exact(qvec, 10).collect()]
    assert before == after


def test_pq_bounds_prune_on_clustered_data(spark):
    """On clustered data a good codebook yields tight error bounds: the
    certified pool excludes most of the corpus — and the answer is still
    exact. Also covers the tiny-corpus degenerate path (n < k -> rescore
    everything)."""
    import numpy as np

    from mlvectordb_spark.operators.quantize import PQIndex

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, 16)) * 30.0
    rows = [
        (i, [float(x) for x in centers[i % 8] + rng.normal(size=16) * 0.3])
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = PQIndex(m=4, k_sub=16, seed=42)
    idx.build(df)
    q = [float(x) for x in centers[1]]
    exact = [r.vec_id for r in knn(df, q, 10, metric="l2").collect()]
    got = [r.vec_id for r in idx.search_exact(q, 10).collect()]
    assert got == exact
    # pool bound: recompute the certified pool size and require real pruning
    bounded = idx._with_bounds(q)
    from pyspark.sql import functions as SF
    ub = [r.ub for r in bounded.select((SF.col("__dhat") + SF.col("pq_err")).alias("ub")).orderBy("ub").limit(10).collect()]
    tau_sq = ub[-1] ** 2 + 1e-3
    lb = SF.greatest(SF.lit(0.0), SF.col("__dhat") - SF.col("pq_err"))
    pool_n = bounded.filter(lb * lb <= SF.lit(tau_sq)).count()
    assert pool_n < 400, pool_n  # most of the 800 rows certified away

    # degenerate: corpus smaller than k -> full rescore, still correct
    tiny = spark.createDataFrame(rows[:5], "vec_id long, embedding array<double>")
    idx2 = PQIndex(m=4, k_sub=4, seed=42)
    idx2.build(tiny)
    got_tiny = [r.vec_id for r in idx2.search_exact(q, 10).collect()]
    exact_tiny = [r.vec_id for r in knn(tiny, q, 10, metric="l2").collect()]
    assert got_tiny == exact_tiny


def test_ivfpq_search_exact_equals_brute_force(spark, emb, qvec):
    """The composed IVF+PQ search (cluster probes -> code scan -> PQ pool
    -> exact rescore) returns IDENTICAL rows to brute force."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=16, seed=42)
    idx.build(emb)
    exact = [
        (r.vec_id, r.score) for r in knn(emb, qvec, 10, metric="l2").collect()
    ]
    got = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    assert got == exact


def test_ivfpq_saved_index_prunes_partitions(spark, emb, qvec, tmp_path):
    """A reloaded IVF+PQ index answers identically AND its probe scan is
    physical partition pruning on cluster_id."""
    from mlvectordb_spark.operators.ann import IVFPQIndex
    from mlvectordb_spark.plans.explain import explain_query

    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=16, seed=42)
    idx.build(emb)
    before = [(r.vec_id, r.score) for r in idx.search_exact(qvec, 10).collect()]
    idx.save(str(tmp_path / "ivfpq"))
    loaded = IVFPQIndex.load(spark, str(tmp_path / "ivfpq"))
    after = [(r.vec_id, r.score) for r in loaded.search_exact(qvec, 10).collect()]
    assert before == after
    plan = explain_query(loaded.search_exact(qvec, 10))
    assert "PartitionFilters" in plan["raw"]
    assert "cluster_id" in plan["raw"].split("PartitionFilters", 1)[1].split("\n")[0]


def test_hybrid_ivfpq_exact_equals_filtered_brute_force(spark, emb, qvec):
    """Filtered search through the composed IVF+PQ layout equals filtered
    brute force — including the rare-filter shape where unfiltered counts
    would over-prune."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=16, seed=42)
    idx.build(emb)
    flt = F.col("label") == 3
    exact = [
        (r.vec_id, r.score)
        for r in knn(emb.filter(flt), qvec, 10, metric="l2").collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.search_exact(qvec, 10, pre_filter=flt).collect()
    ]
    assert got == exact


def test_ivfpq_batch_knn_equals_brute_force(spark, emb):
    """knn_join_exact through the composed layout == per-query exact
    top-k, including the pre_filter (queries excluded from the corpus)."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=16, seed=42)
    idx.build(emb)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.knn_join_exact(
        queries, 3, pre_filter=F.col("vec_id") >= 4
    ).collect()
    corpus = emb.filter(F.col("vec_id") >= 4)
    for qrow in queries.collect():
        want = knn(corpus, qrow.embedding, 3, metric="l2").collect()
        got_q = sorted(
            [r for r in got if r.query_id == qrow.query_id],
            key=lambda r: (r.score, r.vec_id),
        )
        assert [r.vec_id for r in got_q] == [r.vec_id for r in want]
        assert [r.score for r in got_q] == [r.score for r in want]


def test_ivfpq_incremental_add_stays_exact(spark, emb, upsert_feed):
    """apply_changes assigns upserts to existing centroids and encodes
    them with existing codebooks; search through the grown index must
    STILL equal brute force over the union (certification is
    unconditional - only pruning quality drifts, tracked by the rebuild
    trigger)."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    base = emb.filter(F.col("vec_id") < 2500)
    extra = emb.filter(F.col("vec_id") >= 2500)
    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=16, seed=42)
    idx.build(base)
    assert not idx.is_rebuild_required()
    idx.apply_changes(upsert_feed(extra))
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    got = idx.search_exact(qvec, 10).collect()
    want = knn(emb, qvec, 10, metric="l2").collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]
    assert [round(r.score, 4) for r in got] == [
        round(r.score, 4) for r in want
    ]
    # enough adds relative to the fitted corpus -> drift trigger fires
    assert idx.is_rebuild_required() == (
        extra.count() / base.count() >= idx.ivf.REBUILD_THRESHOLD
    )


def test_apply_changes_cdc_keeps_exact_search_correct(spark, emb, qvec):
    """End-to-end index maintenance from the store's CDC feed: build an
    IVF index over the initial corpus, mutate a VectorStore (overwrite
    some vectors, delete others), roll the index forward with
    apply_changes(changes_since(v0)) — certified-exact search over the
    maintained index must equal brute force over the CURRENT store state,
    and the dropped/changed ids must be gone."""
    import tempfile

    from mlvectordb_spark.operators.store import VectorStore

    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    store = VectorStore(
        spark, tempfile.mkdtemp(prefix="cdc_idx_"), rebuild_threshold=0.95
    )
    store.upsert_df(
        base.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("embedding").alias("values"),
        )
    )
    v0 = store.current_version()
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(base)

    # mutate: double every vec_id % 17 == 0, delete every vec_id % 13 == 0
    store.upsert_df(
        base.filter(F.col("vec_id") % 17 == 0).select(
            F.col("vec_id").cast("string").alias("id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("values"),
        )
    )
    store.delete_df(
        base.filter(F.col("vec_id") % 13 == 0).select(
            F.col("vec_id").cast("string").alias("id"),
            F.lit("default").alias("namespace"),
        )
    )

    feed = store.changes_since(v0).select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("values").alias("embedding"),
        "change_type",
        "write_version",
    )
    idx.apply_changes(feed)

    current = store.df().select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("values").alias("embedding"),
    )
    assert sorted(r.vec_id for r in idx.indexed.select("vec_id").collect()) == sorted(
        r.vec_id for r in current.select("vec_id").collect()
    )
    got = [
        (r.vec_id, round(r.score, 4))
        for r in idx.search_exact(qvec, 10).collect()
    ]
    want = [
        (r.vec_id, round(r.score, 4))
        for r in knn(current, qvec, 10, metric="l2").collect()
    ]
    assert got == want


def test_ivfpq_apply_changes_cdc_exact(spark, emb, qvec):
    """The composed IVF+PQ index rolled forward from a CDC feed answers
    certified-exact search identical to brute force over the current
    state."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=16, seed=42)
    idx.build(base)

    doubled = base.filter(F.col("vec_id") % 17 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    feed = doubled.select(
        "vec_id", "embedding",
        F.lit("upsert").alias("change_type"), F.lit(2).alias("write_version"),
    ).unionByName(
        base.filter(F.col("vec_id") % 13 == 0).select(
            "vec_id", "embedding",
            F.lit("delete").alias("change_type"), F.lit(3).alias("write_version"),
        )
    )
    idx.apply_changes(feed)

    current = base.filter(F.col("vec_id") % 13 != 0).filter(
        F.col("vec_id") % 17 != 0
    ).unionByName(doubled.filter(F.col("vec_id") % 13 != 0))
    got = [
        (r.vec_id, round(r.score, 4))
        for r in idx.search_exact(qvec, 10).collect()
    ]
    want = [
        (r.vec_id, round(r.score, 4))
        for r in knn(current, qvec, 10, metric="l2").collect()
    ]
    assert got == want


def test_lsh_apply_changes_cdc_exact(spark, emb, qvec, tmp_path):
    """LSH rolled forward from a CDC feed (both shapes: freshly built and
    bucket-materialized loaded) answers certified-exact search equal to
    brute force over the current state."""
    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    doubled = base.filter(F.col("vec_id") % 17 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    feed = doubled.select(
        "vec_id", "embedding",
        F.lit("upsert").alias("change_type"), F.lit(2).alias("write_version"),
    ).unionByName(
        base.filter(F.col("vec_id") % 13 == 0).select(
            "vec_id", "embedding",
            F.lit("delete").alias("change_type"), F.lit(3).alias("write_version"),
        )
    )
    current = base.filter(F.col("vec_id") % 13 != 0).filter(
        F.col("vec_id") % 17 != 0
    ).unionByName(doubled.filter(F.col("vec_id") % 13 != 0))
    want = [
        (r.vec_id, round(r.score, 4))
        for r in knn(current, qvec, 10, metric="l2").collect()
    ]

    built = LSHIndex(bucket_length=0.5, num_hash_tables=4, seed=42)
    built.build(base)
    built.apply_changes(feed)
    got_built = [
        (r.vec_id, round(r.score, 4))
        for r in built.search_exact(qvec, 10).collect()
    ]
    assert got_built == want

    fresh = LSHIndex(bucket_length=0.5, num_hash_tables=4, seed=42)
    fresh.build(base)
    fresh.save(str(tmp_path / "lshidx"))
    loaded = LSHIndex.load(spark, str(tmp_path / "lshidx"))
    loaded.apply_changes(feed.select("vec_id", "embedding", "change_type", "write_version"))
    got_loaded = [
        (r.vec_id, round(r.score, 4))
        for r in loaded.search_exact(qvec, 10).collect()
    ]
    assert got_loaded == want


def test_lsh_apply_changes_detaches_from_feed_files(spark, emb, qvec, tmp_path):
    """After apply_changes the LSH plan must not read the feed's source
    files: a feed read from a parquet directory that is then deleted (as a
    compaction deletes store files) leaves search_exact answering exactly."""
    import shutil

    base = emb.filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    ).localCheckpoint()
    moved = base.filter(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    feed_dir = str(tmp_path / "feed")
    moved.select(
        "vec_id", "embedding",
        F.lit("upsert").alias("change_type"), F.lit(2).alias("write_version"),
    ).unionByName(
        base.filter(F.col("vec_id") % 11 == 0).select(
            "vec_id", "embedding",
            F.lit("delete").alias("change_type"), F.lit(3).alias("write_version"),
        )
    ).write.parquet(feed_dir)
    current = base.filter(F.col("vec_id") % 11 != 0).filter(
        F.col("vec_id") % 7 != 0
    ).unionByName(moved.filter(F.col("vec_id") % 11 != 0))
    want = [
        (r.vec_id, round(r.score, 4))
        for r in knn(current, qvec, 10, metric="l2").collect()
    ]

    idx = LSHIndex(bucket_length=0.5, num_hash_tables=4, seed=42)
    idx.build(base)
    idx.apply_changes(spark.read.parquet(feed_dir))
    shutil.rmtree(feed_dir)
    assert idx.indexed.inputFiles() == []
    got = [
        (r.vec_id, round(r.score, 4))
        for r in idx.search_exact(qvec, 10).collect()
    ]
    assert got == want


def test_namespace_family_save_load_roundtrip(spark, tmp_path):
    """Q23 at the family grain: per-namespace members persist and reload
    (IVF members via their cluster-partitioned layout), and a reloaded
    family serves the same certified-exact results with isolation
    intact."""
    import math

    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    def vec(i):
        return [math.cos(0.2 * i), math.sin(0.2 * i), float(i % 4)]

    df = spark.createDataFrame(
        [(f"a{i}", vec(i), "ns/a") for i in range(25)]
        + [(f"b{i}", vec(i + 3), "ns b") for i in range(25)],
        "id string, values array<float>, namespace string",
    )
    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=2, seed=6))
    fam.build(df, vec_col="values", id_col="id")
    q = vec(7)
    want = [
        (r.id, round(r.score, 4))
        for r in fam.search_exact(
            "ns/a", q, 4, vec_col="values", id_col="id"
        ).collect()
    ]
    fam.save(str(tmp_path / "famsave"))
    fam2 = NamespaceIndexFamily.load(spark, str(tmp_path / "famsave"))
    assert fam2.namespaces() == sorted(["ns/a", "ns b"])
    got = [
        (r.id, round(r.score, 4))
        for r in fam2.search_exact(
            "ns/a", q, 4, vec_col="values", id_col="id"
        ).collect()
    ]
    assert got == want
    assert all(i.startswith("a") for i, _ in got)
    # drift counters travel (reference: reloaded index keeps W11 live)
    assert not fam2.member("ns/a").is_rebuild_required()


def test_family_manifest_failed_write_keeps_previous(spark, tmp_path, monkeypatch):
    """A family save that fails while writing its state document leaves
    the previous generation in place, so the previous family still
    loads."""
    import json

    from mlvectordb_spark.operators.ann import IVFIndex, NamespaceIndexFamily

    df = spark.createDataFrame(
        [(f"a{i}", [float(i), float(i % 3)], "A") for i in range(20)],
        "id string, values array<float>, namespace string",
    )
    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=2, seed=6))
    fam.build(df, vec_col="values", id_col="id")
    path = str(tmp_path / "fam")
    fam.save(path)

    real = json.JSONEncoder.iterencode

    def dying(self, o, _one_shot=False):
        chunks = real(self, o, _one_shot)
        if not (isinstance(o, dict) and "members" in o):
            return chunks

        def partial():
            # the first piece is written, then the disk fills
            yield next(iter(chunks))
            raise OSError("no space left on device")

        return partial()

    monkeypatch.setattr(json.JSONEncoder, "iterencode", dying)
    with pytest.raises(OSError):
        fam.save(path)
    monkeypatch.undo()
    back = NamespaceIndexFamily.load(spark, path)
    assert back.namespaces() == ["A"]
    assert back.member("A").indexed.count() == 20


def test_ivf_load_restores_vec_col(spark, tmp_path):
    """An index built over a non-default vector column (e.g. the
    store's 'values') must restore that column name on load —
    otherwise refresh_stats()/apply_changes()/save() default to the ctor
    'embedding' and crash on the reloaded layout."""
    df = spark.createDataFrame(
        [(f"k{i}", [float(i), float(i % 3)]) for i in range(40)],
        "id string, values array<float>",
    )
    idx = IVFIndex(n_clusters=4, seed=5)
    idx.build(df, vec_col="values", id_col="id")
    idx.save(str(tmp_path / "ivf_vc"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf_vc"))
    assert loaded._vec_col == "values"
    # the paths that default to self._vec_col must work on the reload
    loaded.refresh_stats()
    feed = spark.createDataFrame(
        [("k100", [100.0, 1.0], "upsert", 1)],
        "id string, values array<float>, change_type string, "
        "write_version long",
    )
    loaded.apply_changes(feed, id_col="id")  # vec_col defaulted
    assert loaded.indexed.filter(F.col("id") == "k100").count() == 1


def test_ivfpq_save_load_keeps_drift_and_vec_col(spark, emb, tmp_path, upsert_feed):
    """IVFPQIndex now persists the same meta as IVFIndex: drift counters
    (is_rebuild_required stays live across persistence) and the
    build-time vector column."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    idx = IVFPQIndex(n_clusters=4, m=8, k_sub=8, seed=3)
    idx.build(emb.filter(F.col("vec_id") < 400))
    idx.save(str(tmp_path / "ivfpq_meta"))
    loaded = IVFPQIndex.load(spark, str(tmp_path / "ivfpq_meta"))
    assert loaded.ivf._built_count == idx.ivf._built_count
    assert loaded.ivf._vec_col == "embedding"
    assert not loaded.is_rebuild_required()
    loaded.apply_changes(upsert_feed(emb.filter(F.col("vec_id") >= 400)))
    assert loaded.is_rebuild_required()  # 100/400 = 25%


def test_recall_curve_measure_select_and_persist(spark, emb, qvec, tmp_path):
    """The measured nprobe→recall curve is monotone non-decreasing,
    nprobe_for_recall picks the smallest nprobe meeting the target (full-probe fallback when unreachable,
    ValueError when never measured), and the curve survives save/load."""
    idx = IVFIndex(n_clusters=8, seed=42)
    idx.build(emb)
    with pytest.raises(ValueError):
        idx.nprobe_for_recall(0.9)
    curve = idx.measure_recall_curve(k=10, n_queries=4, nprobes=[1, 4, 8])
    assert set(curve) == {1, 4, 8}
    assert all(0.0 <= v <= 1.0 for v in curve.values())
    # full probe over every cluster is exact → recall 1.0 by construction
    assert curve[8] == 1.0
    picked = idx.nprobe_for_recall(0.9)
    assert picked == min(p for p, r in curve.items() if r >= 0.9)
    # an unreachable target falls back to probing everything
    assert idx.nprobe_for_recall(1.1) == idx.n_clusters
    idx.save(str(tmp_path / "ivf_curve"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf_curve"))
    assert loaded._recall_curve == curve
    assert loaded.nprobe_for_recall(0.9) == picked


def test_family_drift_counters_survive_save_load_cdc(spark, tmp_path):
    """NamespaceIndexFamily.load then apply_changes from a feed written
    AFTER the save — per-namespace drift counters survive the round-trip and keep counting."""
    from mlvectordb_spark.operators.ann import NamespaceIndexFamily

    fam = NamespaceIndexFamily(factory=lambda: IVFIndex(n_clusters=2, seed=9))
    df = spark.createDataFrame(
        [(f"a{i}", [float(i), 1.0], "nsA") for i in range(10)]
        + [(f"b{i}", [float(i), 2.0], "nsB") for i in range(10)],
        "id string, values array<float>, namespace string",
    )
    fam.build(df, vec_col="values", id_col="id")
    fam.save(str(tmp_path / "famcdc"))
    fam2 = NamespaceIndexFamily.load(
        spark, str(tmp_path / "famcdc"),
        factory=lambda: IVFIndex(n_clusters=2, seed=9),
    )
    assert fam2.member("nsA")._built_count == 10
    assert fam2.member("nsA")._added_count == 0
    # post-reload CDC into nsA only: its counter moves, nsB's does not
    feed = spark.createDataFrame(
        [(f"a_new{i}", [50.0 + i, 1.0], "nsA", "upsert", 1) for i in range(2)],
        "id string, values array<float>, namespace string, "
        "change_type string, write_version long",
    )
    fam2.apply_changes(feed, vec_col="values", id_col="id")
    assert fam2.member("nsA")._added_count == 2
    assert fam2.member("nsB")._added_count == 0
    assert fam2.member("nsA").is_rebuild_required()  # 2/10 = 20% >= 0.2


def test_ivfpq_approx_search_and_recall_curve(spark, emb, qvec, tmp_path):
    """The PQ family now carries the same recall/latency dial as plain
    IVF: fixed-nprobe `search` (full probe ≡ exact), the shared
    calibration kernel, and curve persistence through save/load."""
    from mlvectordb_spark.operators.ann import IVFPQIndex

    idx = IVFPQIndex(n_clusters=8, m=8, k_sub=8, seed=3)
    idx.build(emb)
    exact_ids = {r.vec_id for r in idx.search_exact(qvec, 10).collect()}
    full = {r.vec_id for r in idx.search(qvec, 10, nprobe=8).collect()}
    assert full == exact_ids
    curve = idx.measure_recall_curve(k=10, n_queries=3, nprobes=[1, 8])
    assert curve[8] == 1.0
    assert idx.nprobe_for_recall(1.0) in (1, 8)
    idx.save(str(tmp_path / "ivfpq_curve"))
    from mlvectordb_spark.operators.ann import IVFPQIndex as _P

    loaded = _P.load(spark, str(tmp_path / "ivfpq_curve"))
    assert loaded._recall_curve == curve


def test_recall_curve_empty_index_is_conservative(spark):
    """Measuring over an EMPTY index must not fabricate (and persist)
    recall 1.0 — it returns an empty curve, is not cached (a
    later measure re-runs), and the selection helper resolves an empty
    curve to the full-probe fallback."""
    from mlvectordb_spark.operators.ann import (
        _measure_recall_curve,
        _nprobe_for_recall,
    )

    idx = IVFIndex(n_clusters=4, seed=1)
    df = spark.createDataFrame(
        [(f"k{i}", [float(i), 1.0]) for i in range(20)],
        "id string, values array<float>",
    )
    idx.build(df, vec_col="values", id_col="id")
    idx.indexed = idx.indexed.filter("1 = 0")  # all rows gone (CDC-deleted)
    curve = idx.measure_recall_curve(k=5, n_queries=3, nprobes=[1, 4],
                                     id_col="id")
    assert curve == {}
    assert idx._recall_curve is None, "empty measurement must not cache"
    assert _nprobe_for_recall({}, 0.9, 4) == 4


def _maintained_families():
    """family -> (factory, roll-forward of a CDC feed into the index)."""
    from mlvectordb_spark.operators.ann import IVFPQIndex
    from mlvectordb_spark.operators.graph_ann import GraphANNIndex
    from mlvectordb_spark.operators.quantize import PQIndex

    def roll(idx, feed):
        idx.apply_changes(feed)

    def encode(idx, feed):
        # PQIndex has no CDC path: new rows enter through its codebooks
        base = idx.encoded
        idx.encoded = base.unionByName(
            idx.encode(feed.drop("change_type", "write_version"))
        )

    return {
        "ivf": (lambda: IVFIndex(n_clusters=4, seed=42), roll),
        "ivfpq": (lambda: IVFPQIndex(n_clusters=4, m=8, k_sub=8, seed=42), roll),
        "lsh": (
            lambda: LSHIndex(bucket_length=0.5, num_hash_tables=4, seed=42),
            roll,
        ),
        "graph": (
            lambda: GraphANNIndex(n_blocks=2, m=4, ef_construction=16), roll
        ),
        "pq": (lambda: PQIndex(m=8, k_sub=16, seed=42), encode),
    }


def _served_count(idx) -> int:
    """Rows an index serves: its table, plus the graph's pending tail."""
    table = idx.encoded if hasattr(idx, "codebooks") else idx.indexed
    pending = getattr(idx, "pending", None)
    return table.count() + (0 if pending is None else pending.count())


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "lsh", "graph", "pq"])
def test_save_over_loaded_path_after_changes(tmp_path, spark, sf_dir, family):
    """Maintained-index persistence: load -> roll forward -> save back to
    the SAME path must succeed (the save reads the committed generation
    it supersedes), and the reloaded index serves the maintained state
    exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    factory, roll = _maintained_families()[family]
    cls = type(factory())
    p = str(tmp_path / "selfsave")
    idx = factory()
    idx.build(emb)
    idx.save(p)
    back = cls.load(spark, p)
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    near = [float(x) for x in qvec]
    near[1] += 1e-3
    feed = spark.createDataFrame(
        [(555_001, near, 0, "upsert", 9)],
        "vec_id long, embedding array<float>, label int, "
        "change_type string, write_version long",
    )
    roll(back, feed)
    back.save(p)  # over the path it was loaded from
    again = cls.load(spark, p)
    assert _served_count(again) == emb.count() + 1
    if family == "graph":
        assert again.pending is not None, "the pending tail was not saved"
    got = [r.vec_id for r in again.search_exact(qvec, 2).collect()]
    want = [
        r.vec_id
        for r in knn(
            emb.unionByName(feed.drop("change_type", "write_version")),
            qvec, 2, metric="l2",
        ).collect()
    ]
    assert got == want


def _generation(spark, kind: str, extra: int):
    """An IVF index over namespace A's rows, or (kind="family") a family
    over namespaces A (20 rows) and B (30 rows); `extra` rows more in
    each namespace tell one generation from another."""
    from mlvectordb_spark.operators.ann import NamespaceIndexFamily

    rows = [
        (f"{ns}{i}", [float(i), float(i % 3)], ns)
        for ns, n in (("A", 20 + extra), ("B", 30 + extra))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "id string, values array<float>, namespace string"
    )
    if kind == "family":
        fam = NamespaceIndexFamily(
            factory=lambda: IVFIndex(n_clusters=2, seed=6)
        )
        fam.build(df, vec_col="values", id_col="id")
        return fam
    idx = IVFIndex(n_clusters=2, seed=6)
    idx.build(
        df.filter(F.col("namespace") == "A").drop("namespace"),
        vec_col="values", id_col="id",
    )
    return idx


def _loaded_sizes(spark, kind: str, path: str) -> dict[str, int]:
    from mlvectordb_spark.operators.ann import NamespaceIndexFamily

    if kind == "family":
        fam = NamespaceIndexFamily.load(spark, path)
        return {ns: fam.member(ns).indexed.count() for ns in fam.namespaces()}
    return {"A": IVFIndex.load(spark, path).indexed.count()}


def _sizes(kind: str, extra: int) -> dict[str, int]:
    sizes = {"A": 20 + extra, "B": 30 + extra}
    return sizes if kind == "family" else {"A": sizes["A"]}


def _committed(path: str) -> list[str]:
    import os

    return sorted(os.listdir(path))


@pytest.mark.parametrize("kind", ["ivf", "family"])
def test_failed_stage_write_keeps_previous_generation(
    spark, tmp_path, monkeypatch, kind
):
    """A save that fails inside its stage write — for the family, after
    the first member's rows were written, in the second member's —
    leaves exactly the previous generation, and no stage behind."""
    import mlvectordb_spark.operators.ann as ann

    path = str(tmp_path / kind)
    _generation(spark, kind, 0).save(path)
    committed = _committed(path)
    real = ann.stage_frame
    calls = []

    def dying(df, stage, name, partition_by=None):
        out = real(df, stage, name, partition_by)
        calls.append(name)
        if len(calls) == (2 if kind == "family" else 1):
            raise OSError("no space left on device")
        return out

    monkeypatch.setattr(ann, "stage_frame", dying)
    with pytest.raises(OSError):
        _generation(spark, kind, 1).save(path)
    monkeypatch.undo()
    assert len(calls) == (2 if kind == "family" else 1)
    assert _loaded_sizes(spark, kind, path) == _sizes(kind, 0)
    assert _committed(path) == committed


@pytest.mark.parametrize("kind", ["ivf", "family"])
def test_crash_after_commit_rename_loads_new_generation(
    spark, tmp_path, monkeypatch, kind
):
    """A save that dies between its commit rename and the removal of
    older generations has committed: load returns exactly the new
    generation, and the next save removes the one left behind."""
    import os

    path = str(tmp_path / kind)
    _generation(spark, kind, 0).save(path)
    real = os.rename

    def crash_after(src, dst):
        real(src, dst)
        if os.path.dirname(dst) == path:
            raise RuntimeError("killed after the commit rename")

    monkeypatch.setattr(os, "rename", crash_after)
    with pytest.raises(RuntimeError):
        _generation(spark, kind, 1).save(path)
    monkeypatch.undo()
    assert len(_committed(path)) == 2
    assert _loaded_sizes(spark, kind, path) == _sizes(kind, 1)
    _generation(spark, kind, 2).save(path)
    assert len(_committed(path)) == 1
    assert _loaded_sizes(spark, kind, path) == _sizes(kind, 2)


def test_racing_saves_one_commits(spark, tmp_path, monkeypatch):
    """Two saves racing for one generation number: the one that renames
    first commits, the other raises ConcurrentWriteError without leaving
    its stage, and load returns the winner."""
    import mlvectordb_spark.operators.ann as ann
    from mlvectordb_spark.commit import ConcurrentWriteError

    path = str(tmp_path / "race")
    _generation(spark, "ivf", 0).save(path)
    loser, winner = _generation(spark, "ivf", 1), _generation(spark, "ivf", 2)
    real = ann.stage_frame

    def winner_commits_meanwhile(df, stage, name, partition_by=None):
        out = real(df, stage, name, partition_by)
        monkeypatch.setattr(ann, "stage_frame", real)
        winner.save(path)
        return out

    monkeypatch.setattr(ann, "stage_frame", winner_commits_meanwhile)
    with pytest.raises(ConcurrentWriteError):
        loser.save(path)
    assert _loaded_sizes(spark, "ivf", path) == _sizes("ivf", 2)
    assert len(_committed(path)) == 1


def test_save_sweeps_only_stale_stages(spark, tmp_path):
    """A stage a crashed save left behind is removed by the next save
    once it is an hour old; a younger one may be a live writer's and is
    kept."""
    import os
    import time

    path = str(tmp_path / "sweep")
    _generation(spark, "ivf", 0).save(path)
    stale, live = (os.path.join(path, f".staging_{t}") for t in ("old", "new"))
    os.makedirs(stale)
    os.makedirs(live)
    past = time.time() - 7200
    os.utime(stale, (past, past))
    _generation(spark, "ivf", 1).save(path)
    assert not os.path.exists(stale)
    assert os.path.exists(live)
    assert _loaded_sizes(spark, "ivf", path) == _sizes("ivf", 1)


def test_load_without_committed_generation_raises(spark, tmp_path):
    """Nothing committed under the path (missing, or empty as a fresh
    mkdtemp) is a FileNotFoundError that names the path."""
    import re

    for path in (str(tmp_path / "missing"), str(tmp_path)):
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            IVFIndex.load(spark, path)


# Spark jobs per save / load of a checkpointed sf0.001 build. A save is
# one write job per staged frame (LSH: plus the MLlib model's metadata
# and data writes); a load reads the state document on the driver and
# opens its frames with their recorded schemas (LSH: plus the MLlib
# model's reads).
_PERSIST_JOBS = {
    "ivf": (1, 0),
    "ivfpq": (1, 0),
    "graph": (1, 0),
    "lsh": (3, 3),
}


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "graph", "lsh"])
def test_save_load_jobs_pinned(spark, sf_dir, tmp_path, family, spark_jobs):
    emb = load_table(spark, sf_dir, "embeddings")
    factory, _ = _maintained_families()[family]
    idx = factory()
    idx.build(emb)
    idx.indexed = idx.indexed.localCheckpoint()
    path = str(tmp_path / family)
    save_jobs, _ = spark_jobs(lambda: idx.save(path))
    load_jobs, back = spark_jobs(lambda: type(idx).load(spark, path))
    assert (save_jobs, load_jobs) == _PERSIST_JOBS[family]
    assert back.indexed.count() == emb.count()
