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
    """A family save that fails while writing `family.json` leaves the
    previous manifest in place, so the previous family still loads."""
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
        if not (isinstance(o, dict) and o and all(
            isinstance(v, dict) and "cls" in v for v in o.values()
        )):
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
    """Round-6 ADVICE: an index built over a non-default vector column
    (e.g. the store's 'values') must restore that column name on load —
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
    """Round-6 verdict missing #2 (pytest gate): the measured nprobe→recall
    curve is monotone non-decreasing, nprobe_for_recall picks the smallest
    nprobe meeting the target (full-probe fallback when unreachable,
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
    """Round-6 verdict #10: NamespaceIndexFamily.load then apply_changes
    from a feed written AFTER the save — per-namespace drift counters
    survive the round-trip and keep counting."""
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
    """r7 review: measuring over an EMPTY index must not fabricate (and
    persist) recall 1.0 — it returns an empty curve, is not cached (a
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


def test_ivf_save_over_loaded_path_after_changes(tmp_path, spark, sf_dir):
    """Maintained-index persistence (every family shares
    staged_index_save): load -> apply_changes -> save back to the SAME
    path must succeed — a direct overwrite makes Spark read the files it
    is replacing, fails mid-write, and leaves the previous layout
    half-destroyed — and the reloaded index serves the maintained state
    exactly."""
    from pyspark.sql import functions as F

    from mlvectordb_spark.operators.ann import IVFIndex
    from mlvectordb_spark.operators.knn import knn
    from mlvectordb_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "ivf_selfsave")
    idx = IVFIndex(n_clusters=4, seed=42)
    idx.build(emb)
    idx.save(p)
    back = IVFIndex.load(spark, p)
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    near = [float(x) for x in qvec]
    near[1] += 1e-3
    feed = spark.createDataFrame(
        [(555_001, near, 0, "upsert", 9)],
        "vec_id long, embedding array<float>, label int, "
        "change_type string, write_version long",
    )
    back.apply_changes(feed)
    back.save(p)  # over the path it was loaded from
    again = IVFIndex.load(spark, p)
    assert again.indexed.count() == emb.count() + 1
    got = [r.vec_id for r in again.search_exact(qvec, 2).collect()]
    want = [
        r.vec_id
        for r in knn(
            emb.unionByName(feed.drop("change_type", "write_version")),
            qvec, 2, metric="l2",
        ).collect()
    ]
    assert got == want


def test_staged_save_sweeps_crash_debris(tmp_path, spark):
    """r8 verdict #5: a crash mid-write_into strands a `.staging-*`
    sibling and a crash between the two renames strands the previous
    save in `.old-*` with nothing at `path`. The NEXT save must (a)
    restore the newest `.old-*` when `path` is missing, (b) sweep
    stale debris older than an hour, and (c) leave a CONCURRENT save's
    fresh staging dir (and other paths entirely) untouched."""
    import json
    import os
    import time

    from mlvectordb_spark.operators.ann import staged_index_save

    p = str(tmp_path / "idx")

    def writer(payload):
        def write_into(stage):
            os.makedirs(stage, exist_ok=True)
            with open(os.path.join(stage, "meta.json"), "w") as f:
                json.dump(payload, f)
        return write_into

    staged_index_save(p, writer({"v": 1}))
    # simulate a crash between rename(path→old) and rename(stage→path)
    old = f"{p}.old-deadbeef"
    os.rename(p, old)
    assert not os.path.exists(p)
    # plus stale debris from a crashed write_into, and a FRESH staging
    # dir from a concurrent save that must survive the sweep
    stale = f"{p}.staging-cafe"
    os.makedirs(stale)
    past = time.time() - 7200
    os.utime(stale, (past, past))
    os.utime(old, (past, past))
    fresh = f"{p}.staging-live"
    os.makedirs(fresh)
    other = str(tmp_path / "other") + ".staging-x"
    os.makedirs(other)
    os.utime(other, (past, past))

    staged_index_save(p, writer({"v": 2}))
    with open(os.path.join(p, "meta.json")) as f:
        assert json.load(f) == {"v": 2}
    assert not os.path.exists(stale), "stale staging debris not swept"
    assert not os.path.exists(old), "recovered .old-* must not linger"
    assert os.path.exists(fresh), "fresh concurrent staging swept!"
    assert os.path.exists(other), "unrelated path's debris touched"


def test_staged_save_success_leaves_no_old_sibling(tmp_path):
    """A SUCCESSFUL re-save must delete its .old-<uuid> rollback dir: a
    lingering survivor leaks a full index copy per save AND lets
    recover_index_path silently resurrect an index the user later
    deletes (r11 review regression — the post-commit rmtree was dropped
    while adding the lost-race rollback path)."""
    import glob
    import json
    import os

    from mlvectordb_spark.operators.ann import staged_index_save

    p = str(tmp_path / "idx3")

    def writer(payload):
        def write_into(stage):
            os.makedirs(stage, exist_ok=True)
            with open(os.path.join(stage, "meta.json"), "w") as f:
                json.dump(payload, f)
        return write_into

    for v in (1, 2, 3):
        staged_index_save(p, writer({"v": v}))
    with open(os.path.join(p, "meta.json")) as f:
        assert json.load(f) == {"v": 3}
    assert glob.glob(f"{p}.old-*") == [], "committed save left rollback dir"
    assert glob.glob(f"{p}.staging-*") == []


def test_staged_save_recovers_old_when_path_missing(tmp_path, spark):
    """The crash-window recovery alone: nothing at `path`, a committed
    save stranded in `.old-*` — the next save starts from the recovered
    state (write_into can read it) and commits normally. Only STALE
    survivors are restored: a fresh `.old-*` with `path` missing is
    indistinguishable from a concurrent save mid-swap, and stealing its
    dir would break that save's commit AND rollback renames."""
    import json
    import os
    import time

    from mlvectordb_spark.operators.ann import staged_index_save

    p = str(tmp_path / "idx2")
    staged_index_save(
        p, lambda s: (
            os.makedirs(s, exist_ok=True),
            open(os.path.join(s, "m.txt"), "w").write("one"),
        )
    )
    os.rename(p, f"{p}.old-1111")
    # FRESH survivor (mtime now): must NOT be restored — simulate by
    # asserting the next save does not see the previous state
    probe = {}
    staged_index_save(
        p, lambda s: (
            probe.__setitem__("prev_exists", os.path.exists(p)),
            os.makedirs(s, exist_ok=True),
            open(os.path.join(s, "m.txt"), "w").write("zero"),
        )
    )
    assert probe["prev_exists"] is False
    # reset: strand again, this time backdated past the hour floor
    import shutil

    shutil.rmtree(p)
    past = time.time() - 7200
    os.utime(f"{p}.old-1111", (past, past))

    seen = {}

    def write_into(stage):
        # recovery happened BEFORE write_into runs: the previous save is
        # back at `path` for incremental writers to read
        with open(os.path.join(p, "m.txt")) as f:
            seen["prev"] = f.read()
        os.makedirs(stage, exist_ok=True)
        with open(os.path.join(stage, "m.txt"), "w") as f:
            f.write("two")

    staged_index_save(p, write_into)
    assert seen["prev"] == "one"
    with open(os.path.join(p, "m.txt")) as f:
        assert f.read() == "two"


def test_staged_save_stamps_old_rename_time(tmp_path, monkeypatch):
    """ADVICE r9 (medium): rename(2) keeps the renamed directory's own
    content mtime, so an index last WRITTEN hours ago would strand an
    `.old-*` that looks stale during its saver's live rename window —
    a concurrent save's restore pass would steal it mid-swap.
    staged_index_save must therefore stamp the `.old` dir at RENAME
    time. Simulate a hard crash between the two renames (a non-OSError
    from the commit rename skips the rollback) over an index whose
    content is 2h old: the survivor's mtime must be now, not 2h ago —
    with no test-side utime backdating the production path."""
    import json
    import os
    import time

    from mlvectordb_spark.operators.ann import staged_index_save

    p = str(tmp_path / "idx3")

    def writer(tag):
        def write_into(stage):
            os.makedirs(stage, exist_ok=True)
            with open(os.path.join(stage, "m.txt"), "w") as f:
                f.write(tag)

        return write_into

    staged_index_save(p, writer("one"))
    past = time.time() - 7200
    os.utime(p, (past, past))  # content last written 2h ago

    real_rename = os.rename

    def crash_between_renames(src, dst):
        if dst == p and src.startswith(f"{p}.staging-"):
            raise RuntimeError("simulated crash before commit rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_between_renames)
    try:
        staged_index_save(p, writer("two"))
    except RuntimeError:
        pass
    monkeypatch.undo()

    import glob

    survivors = glob.glob(f"{p}.old-*")
    assert not os.path.exists(p)
    assert len(survivors) == 1
    age = time.time() - os.path.getmtime(survivors[0])
    assert age < 60, f".old survivor carries content mtime ({age:.0f}s old)"


def test_recover_index_path_waits_out_live_save(tmp_path):
    """recover_index_path must not steal a LIVE save's just-renamed
    `.old-*`: with a fresh survivor and `path` missing it waits; when
    the concurrent save commits (path appears), it returns leaving the
    survivor for the saver's own cleanup. If nothing commits within the
    grace, the saver is dead and the survivor is restored."""
    import os
    import threading
    import time

    from mlvectordb_spark.operators.ann import recover_index_path

    p = str(tmp_path / "idx4")
    old = f"{p}.old-live"
    os.makedirs(old)
    with open(os.path.join(old, "m.txt"), "w") as f:
        f.write("prev")

    def commit_later():
        time.sleep(0.4)
        os.makedirs(p)

    t = threading.Thread(target=commit_later)
    t.start()
    assert recover_index_path(p, grace_sec=3.0) is True
    t.join()
    assert os.path.exists(old), "live save's .old was stolen"

    # dead-saver branch: fresh survivor, nothing ever commits — after
    # the grace the survivor is restored to path
    import shutil

    shutil.rmtree(p)
    assert recover_index_path(p, grace_sec=0.5) is True
    assert not os.path.exists(old)
    with open(os.path.join(p, "m.txt")) as f:
        assert f.read() == "prev"
    # nothing at path, no survivors → heal impossible
    shutil.rmtree(p)
    assert recover_index_path(p, grace_sec=0.1) is False


def test_load_self_heals_crash_survivor(tmp_path, spark):
    """r9 verdict #9: a crash between staged_index_save's two renames
    leaves nothing at `path`; the next load() must succeed WITHOUT an
    intervening save. Survivor stamped 30s in the past (production
    stamps rename time — this models a crash 30s ago), so the live-save
    grace has elapsed and recovery is immediate."""
    import os
    import time

    from mlvectordb_spark.operators.ann import IVFIndex

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    p = str(tmp_path / "ivf_heal")
    idx = IVFIndex(n_clusters=4, seed=42)
    idx.build(df)
    idx.save(p)
    old = f"{p}.old-crashed"
    os.rename(p, old)
    past = time.time() - 30
    os.utime(old, (past, past))
    assert not os.path.exists(p)

    back = IVFIndex.load(spark, p)  # no save in between
    assert back.indexed.count() == 40
    got = [r.vec_id for r in back.search_exact([7.0, 1.0], 1).collect()]
    assert got == [7]
