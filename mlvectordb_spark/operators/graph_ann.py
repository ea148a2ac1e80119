"""Graph-based ANN (NSW family): the Spark-native counterpart of the
reference's actual index structure — hnswlib small-world graphs
(`/root/reference/src/mlvectordb/implementations/index.py:18-48`: one
hnswlib graph per namespace, `ef=50`, M=16 defaults).

The IVF/LSH families approximate HNSW's *recall dial*; this module
reproduces its *data structure*, partitioned the way every distributed
graph-ANN system does it (DiskANN sharding, Vespa/Lucene HNSW segments):

- **Coarse routing**: the corpus splits into `n_blocks` KMeans blocks
  (bounded-sample Lloyd, the faiss recipe — reusing IVFIndex's router).
  A query probes the `nprobe` nearest blocks: at 100 TB the block id is
  a partition column, so probing is physical partition pruning.
- **Per-block navigable-small-world graphs** built inside ONE
  `applyInPandas` pass — each block builds independently in parallel
  (no cross-block edges, no driver-side graph state). Construction is
  vectorized NN-descent (Dong et al. 2011: refine a seeded random m-NN
  guess against neighbors-of-neighbors + reverse neighbors + random
  probes, every round one batched numpy pass — ~40× faster than the
  insert-at-a-time NSW loop it replaced, SCALING.md), then HNSW
  diversity selection, symmetrization with a 2m degree cap, and an
  explicit CONNECTIVITY REPAIR: BFS components, each secondary
  component's medoid linked to its true nearest main-component node.
  The repaired undirected graph is provably connected — that guarantee
  is what makes the exhaustive traversal mode exact.
- **Beam search at query time** (`ef` plays hnswlib's ef): the probed
  blocks' rows feed a second `applyInPandas`; each block beam-searches
  from its stored entry seeds (farthest-point-sampled, medoid first —
  the flat-graph substitute for HNSW's hierarchy, see `_entry_points`)
  and emits its best `ef` rows; a global rounded-score top-k merges
  blocks. `ef=None` disables beam pruning entirely — the traversal
  visits every REACHABLE node, and an unvisited-row sweep
  (`_sweep_unvisited`) covers anything delete-damage disconnected — so
  `nprobe=None, ef=None` is EXACT unconditionally (not just on a
  delete-free graph) and oracle-checkable against brute-force SQL.
- **Pending tail for incremental maintenance** (the Lucene/Vespa
  segment pattern): rows enter a built graph only through
  `apply_changes()`, the CDC roll-forward every family shares
  (`operators/cdc.PendingTail`). Upserts land in a flat tail DataFrame
  that every search scans EXACTLY and merges with the graph candidates —
  new vectors are visible immediately at full recall, no distributed
  graph surgery. Deletes anti-join out of both segments (dangling edges
  are skipped by id at traversal time). Both count toward the 20% drift
  trigger (reference `index.py:85-89`); fold_pending() folds the tail
  into the blocks it routes to and rebuild() into fresh graphs.

Scale shape: graph build is one shuffle (groupBy block) + per-block CPU;
driver state is `n_blocks` centroids (same class as hnswlib's graph
metadata); search reads only probed blocks (partition pruning after
save/load) plus the bounded tail. A block must fit one executor's Arrow
group — `n_blocks` is the shard dial, exactly like segment sizing in
single-node HNSW deployments.

Protocol-compatible with `NamespaceIndexFamily` (build / apply_changes /
search / search_exact / save / load / is_rebuild_required).
"""

from __future__ import annotations

import heapq
import time
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlvectordb_spark.commit import CommittedIndex, open_frame, stage_frame
from mlvectordb_spark.functions.vector import (
    metric_ascending,
    metric_expr,
    vector_lit,
)
from mlvectordb_spark.operators.ann import (
    IVFIndex,
    _curve_from,
    _curve_state,
    _measure_recall_curve,
    _nprobe_for_recall,
    per_key_topk,
)
from mlvectordb_spark.operators.cdc import PendingTail
from mlvectordb_spark.operators.knn import knn, rank_order

_SCORE_DECIMALS = 4


def _pair_dists(X: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """Traversal distance from q to each row of X (smaller = closer).
    l2 → squared L2; cosine → squared L2 over pre-normalized rows (same
    ordering as cosine similarity); ip → negative dot (the hnswlib ip
    space trick — not a metric, works as a traversal order)."""
    if metric == "ip":
        return -(X @ q)
    d = X - q
    return (d * d).sum(axis=1)


def _score_from_dist(dist: np.ndarray, metric: str) -> np.ndarray:
    """Map traversal distance back to the reference's score convention
    (functions/vector.metric_expr): l2 → squared distance itself;
    cosine → similarity = 1 - d²/2 on unit vectors; ip → dot = -dist."""
    if metric == "l2":
        return dist
    if metric == "cosine":
        return 1.0 - dist / 2.0
    return -dist


def _rescore64(
    pdf, vcol: str, sel: list[int], q: np.ndarray, norm: bool, metric: str
) -> np.ndarray:
    """Float64 traversal distances of the SELECTED rows, recomputed from
    the raw stored vectors. The beam works in float32 (ordering only);
    the reported scores must keep the float64 rounded-score contract the
    brute-force kernels and the DuckDB oracle share — float32→float64 on
    the raw values is exact (the column is array<float>), so this is
    bit-identical to scoring against a float64 working set. Bounded by
    the beam width per query (the whole block only in exhaustive mode,
    which already pays a full scan)."""
    if not sel:
        return np.zeros(0, dtype=np.float64)
    V = np.stack(pdf[vcol].to_numpy()[sel]).astype(np.float64)
    if norm:
        nrm = np.linalg.norm(V, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        V = V / nrm
    return _pair_dists(V, q, metric)


def _beam_search(
    X: np.ndarray,
    adj: list[set[int]] | list[list[int]],
    entries: list[int],
    q: np.ndarray,
    ef: int | None,
    metric: str,
) -> list[tuple[float, int]]:
    """Greedy best-first beam over an adjacency list; returns (dist, pos)
    ascending. `ef=None` never prunes → visits every reachable node.
    Neighbor distance evaluations are batched through one numpy matmul
    per expansion (the hot loop never computes distances one by one)."""
    if not entries:
        return []
    d0 = _pair_dists(X[entries], q, metric)
    visited = set(entries)
    cand: list[tuple[float, int]] = sorted(zip(d0.tolist(), entries))
    heapq.heapify(cand)
    # max-heap (negated) of the best `ef` found so far
    best: list[tuple[float, int]] = [(-d, p) for d, p in cand]
    heapq.heapify(best)
    if ef is not None:
        while len(best) > ef:
            heapq.heappop(best)
    while cand:
        d, u = heapq.heappop(cand)
        if ef is not None and len(best) >= ef and d > -best[0][0]:
            break
        fresh = [v for v in adj[u] if v not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        dv = _pair_dists(X[fresh], q, metric)
        for v, dd in zip(fresh, dv.tolist()):
            if ef is None or len(best) < ef or dd < -best[0][0]:
                heapq.heappush(cand, (dd, v))
                heapq.heappush(best, (-dd, v))
                if ef is not None and len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, p) for nd, p in best)


def _sweep_unvisited(
    X: np.ndarray,
    found: list[tuple[float, int]],
    q: np.ndarray,
    metric: str,
) -> list[tuple[float, int]]:
    """Delete-damage sweep for the exhaustive (ef=None) mode: traversal
    only covers the components REACHABLE from the entry seeds, and CDC
    deletes can disconnect a repaired graph (removing a bridge endpoint
    strands its far side — empirically ~1/13k single-delete trials on
    clustered data, growing with delete volume). Whatever the traversal
    missed gets its distance computed directly, so exhaustive mode is
    exact UNCONDITIONALLY — connectivity is an optimization, not a
    correctness precondition. Cost on an intact graph: one len check."""
    seen = {p for _, p in found}
    rest = [i for i in range(len(X)) if i not in seen]
    if not rest:
        return found
    dr = _pair_dists(X[rest], q, metric)
    return sorted(found + list(zip(dr.tolist(), rest)))


def _select_diverse(
    cands: list[tuple[float, int]],
    X: np.ndarray,
    m: int,
    metric: str,
    alpha: float = 1.0,
) -> list[int]:
    """HNSW's SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin 2018, Alg. 4)
    with Vamana's alpha relaxation (Subramanya et al. 2019): walk
    candidates nearest-first, keep one only if alpha× its distance to
    every already-kept neighbor still exceeds its distance to the base.
    Tight clusters then contribute ONE kept neighbor each and the
    remaining slots go to other regions — the long-range shortcuts that
    plain nearest-M selection prunes away on clustered data (measured:
    bounded-beam recall 0.35 → ≥0.9 on a 32-center clustered corpus);
    alpha>1 keeps a few more mid-range links, which the same measurement
    shows is what beam navigation on near-uniform noise needs. Backfills with the nearest rejected candidates if
    diversity leaves slots."""
    kept: list[int] = []
    for d, p in cands:
        if len(kept) >= m:
            break
        dk = _pair_dists(X[kept], X[p], metric) if kept else None
        if dk is None or (dk * alpha >= d).all():
            kept.append(p)
    if len(kept) < m:
        chosen = set(kept)
        for _d, p in cands:
            if len(kept) >= m:
                break
            if p not in chosen:
                kept.append(p)
    return kept


def _cand_dists(
    X: np.ndarray, C: np.ndarray, metric: str, chunk: int = 200_000
) -> np.ndarray:
    """Traversal distance from each row i to each candidate C[i, j],
    computed in bounded chunks of flattened (i, c) pairs — never
    materializes an n×n matrix, peak memory ~chunk×dim."""
    n, k = C.shape
    src = np.repeat(np.arange(n), k)
    dst = C.reshape(-1)
    # distances are ORDERING-only here; follow X's dtype (float32 on the
    # build path — reference vector semantics, half the bandwidth)
    out = np.empty(n * k, dtype=X.dtype)
    for s in range(0, n * k, chunk):
        e = min(s + chunk, n * k)
        a = X[src[s:e]]
        b = X[dst[s:e]]
        if metric == "ip":
            out[s:e] = -(a * b).sum(axis=1)
        else:
            d = a - b
            out[s:e] = (d * d).sum(axis=1)
    return out.reshape(n, k)


def _refine_pick(
    C: np.ndarray, D: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row: the `m` DISTINCT candidates with smallest distance — fully
    vectorized (no per-row Python). Two stable argsorts give each row a
    lexicographic (candidate id, distance) order; the first occurrence of
    every id is its min-distance copy, later copies get +inf; a final
    stable sort by distance yields the selection. O(n·K log K)."""
    by_d = np.argsort(D, axis=1, kind="stable")
    C1 = np.take_along_axis(C, by_d, axis=1)
    D1 = np.take_along_axis(D, by_d, axis=1)
    by_id = np.argsort(C1, axis=1, kind="stable")
    C2 = np.take_along_axis(C1, by_id, axis=1)
    D2 = np.take_along_axis(D1, by_id, axis=1)
    dup = np.zeros_like(D2, dtype=bool)
    dup[:, 1:] = C2[:, 1:] == C2[:, :-1]
    D2 = np.where(dup, np.inf, D2)
    by_d2 = np.argsort(D2, axis=1, kind="stable")[:, :m]
    return (
        np.take_along_axis(C2, by_d2, axis=1),
        np.take_along_axis(D2, by_d2, axis=1),
    )


def _reverse_sample(N: np.ndarray, m: int, n: int) -> np.ndarray:
    """Up to `m` reverse neighbors per node (who points AT me), padded
    with the node's own index (harmless self-candidates) — the NN-descent
    ingredient that spreads improvements both ways. Pure numpy scatter:
    sort edges by destination, take each destination's first `m`."""
    src = np.repeat(np.arange(n), N.shape[1])
    dst = N.reshape(-1)
    order = np.argsort(dst, kind="stable")
    dst_s, src_s = dst[order], src[order]
    # rank within each destination run
    first_idx = np.zeros(len(dst_s), dtype=np.int64)
    new_run = np.ones(len(dst_s), dtype=bool)
    new_run[1:] = dst_s[1:] != dst_s[:-1]
    run_starts = np.flatnonzero(new_run)
    first_idx[run_starts] = np.arange(len(run_starts))
    np.maximum.accumulate(first_idx, out=first_idx)
    rank = np.arange(len(dst_s)) - run_starts[first_idx]
    keep = rank < m
    R = np.tile(np.arange(n)[:, None], (1, m))
    R[dst_s[keep], rank[keep]] = src_s[keep]
    return R


# above this block size the exact pairwise pool (n² float32 BLAS) gives
# way to NN-descent; at the cutoff the exact path is ~10-30 s of matmul
_EXACT_POOL_MAX = 32_768
# candidate-pool width per node before diversity selection: recall needs
# selection from a pool WIDER than the kept degree (measured: 0.775 →
# 0.925 @ ef=64 going pool=m → 2m on exact pools; on 50k
# DESCENT blocks: 0.883 → 0.938 @ ef=128 going 2m → 3m, while widening
# only at the END of descent bought nothing — the iterations must refine
# the wide frontier; 4m adds build cost and no recall)
_POOL_FLOOR = 24
# Vamana's diversity relaxation, applied to SQUARED l2 (≈1.22 on true
# distances) — keeps the mid-range links strict diversity drops
_ALPHA = 1.5


def _exact_pool(
    X: np.ndarray, k: int, metric: str, chunk: int = 1024
) -> tuple[np.ndarray, np.ndarray]:
    """Exact k-NN candidate pool via chunked float32 BLAS — for blocks up
    to _EXACT_POOL_MAX the full n² distance matrix in row chunks is
    cheaper (and better) than any iterative refinement: 12.5k×64d pools
    in ~6 s where the insert-at-a-time NSW loop took 24 s. Distances
    are used for ORDERING only, so float32 matmul precision is fine."""
    n = len(X)
    Xf = X.astype(np.float32, copy=False)
    sq = (Xf * Xf).sum(axis=1)
    N = np.empty((n, k), dtype=np.int64)
    D = np.empty((n, k), dtype=np.float64)
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        if metric == "ip":
            d = -(Xf[s:e] @ Xf.T)
        else:
            d = sq[s:e, None] - 2.0 * (Xf[s:e] @ Xf.T) + sq[None, :]
        d[np.arange(e - s), np.arange(s, e)] = np.inf
        idx = np.argpartition(d, k, axis=1)[:, :k]
        dd = np.take_along_axis(d, idx, axis=1)
        order = np.argsort(dd, axis=1, kind="stable")
        N[s:e] = np.take_along_axis(idx, order, axis=1)
        D[s:e] = np.take_along_axis(dd, order, axis=1)
    return N, D


def _descent_pool(
    X: np.ndarray,
    k: int,
    metric: str,
    seed: int,
    rounds: int,
    rho: float = 1.0,
    delta: float = 0.0,
    stats: list | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Approximate k-NN candidate pool via vectorized NN-descent (Dong et
    al. 2011): refine a seeded random guess against neighbors-of-
    neighbors, reverse neighbors, and random probes — every round one
    batched numpy pass, O(n·k²) distances, with early stop on
    convergence. The scale path for blocks past _EXACT_POOL_MAX (linear
    in n where the exact pool is quadratic).

    `rho` < 1 is Dong et al.'s sampled expansion: each round expands a
    random ρk-subset of every node's list instead of all k, cutting the
    dominant k² term. Measured on one 50k×64d block (SCALING.md):
    ρ=0.5 builds 2.1× faster (346 → 162 s) and holds the ≥0.9 serving
    dial (in-block recall@10 ef=128 0.962 → 0.944) but gives up the
    ef=64 point (0.925 → 0.812); ρ=0.75 saves only 18%. Default stays
    1.0 — full expansion — so the certified ≥0.9 margin is never spent
    silently; cheap-ingest deployments opt in via
    GraphANNIndex(descent_rho=0.5).

    `delta` is Dong et al.'s convergence threshold: stop when a round
    changes fewer than δ·n·k pool entries. Default 0 = disabled, which
    matches the measurement (SCALING.md):
    on clustered 50k blocks δ=0.001 NEVER fires before the round cap —
    pool-tail churn stays ~2-5% at round 8 while recall saturates by
    round 6 — so δ is an opt-in safety valve for genuinely
    fast-converging (small/uniform) blocks, and the supported
    cheap-ingest dial is ef_construction=48 (6 rounds, −25% build,
    recall-identical on the grid corpus). `stats`,
    when given, collects one (changed, seconds) tuple per round — the
    probe hook behind those tables."""
    n = len(X)
    rng = np.random.default_rng(seed)
    arange = np.arange(n)
    # distinct-from-self random init (duplicates within a row are fine —
    # the first refine round squeezes them out)
    N = (arange[:, None] + rng.integers(1, n, size=(n, k))) % n
    D = _cand_dists(X, N, metric)
    N, D = _refine_pick(N, D, k)
    n_rand = max(2, k // 2)
    n_exp = k if rho >= 1.0 else max(2, int(round(rho * k)))
    # delta=0 genuinely disables the early stop (the probe baseline);
    # any positive delta keeps the >=1-change floor
    stop = max(1, int(n * k * delta)) if delta > 0 else -1
    for _ in range(rounds):
        t0 = time.time() if stats is not None else 0.0
        if n_exp >= k:
            fwd2 = N[N.reshape(-1)].reshape(n, k * k)
        else:
            pick = rng.integers(0, k, size=(n, n_exp))
            sampled = np.take_along_axis(N, pick, axis=1)
            fwd2 = N[sampled.reshape(-1)].reshape(n, n_exp * k)
        rev = _reverse_sample(N, k, n)
        rand = (arange[:, None] + rng.integers(1, n, size=(n, n_rand))) % n
        C = np.concatenate([N, fwd2, rev, rand], axis=1)
        # self-candidates (reverse padding) must never win a slot
        CD = _cand_dists(X, C, metric)
        CD[C == arange[:, None]] = np.inf
        newN, newD = _refine_pick(C, CD, k)
        changed = int((newN != N).sum())
        N, D = newN, newD
        if stats is not None:
            stats.append((changed, round(time.time() - t0, 2)))
        if changed <= stop:
            break
    return N, D


def _build_block_graph(
    X: np.ndarray,
    m: int,
    ef_construction: int,
    metric: str,
    seed: int = 42,
    exact_pool_max: int | None = None,
    descent_rho: float = 1.0,
    descent_delta: float = 0.0,
) -> tuple[list[list[int]], list[int]]:
    """Vectorized graph construction over one block, in two stages:

    1. A k-NN CANDIDATE POOL per node, wider than the kept degree
       (pool = max(3m, 24)): exact chunked-BLAS for blocks up to
       _EXACT_POOL_MAX, NN-descent beyond — both batched numpy, replacing
       the insert-at-a-time NSW loop (24 s → 8 s per 12.5k block, with
       BETTER recall; SCALING.md).
    2. The pool becomes the serving graph: alpha-relaxed HNSW diversity
       selection keeps m per node (cross-cluster shortcuts + mid-range
       links), edges symmetrize, degrees cap at 2m by the same
       heuristic, and CONNECTIVITY REPAIR restores the exactness
       precondition: BFS finds the undirected components, every
       secondary component's medoid links to its true nearest node in
       the main component, and repair edges are exempt from any cap.
       Exhaustive traversal is therefore still provably exact (the
       fuzzed invariant in tests/test_properties.py).

    Returns (adjacency position lists, entry seed positions)."""
    n = len(X)
    if n <= m + 1:
        adj = [sorted(set(range(n)) - {i}) for i in range(n)]
        return adj, _entry_points(X, metric)
    pool_k = min(n - 1, max(3 * m, _POOL_FLOOR))
    cutoff = _EXACT_POOL_MAX if exact_pool_max is None else exact_pool_max
    if n <= cutoff:
        N, D = _exact_pool(X, pool_k, metric)
    else:
        rounds = max(3, min(12, int(ef_construction // max(1, m))))
        N, D = _descent_pool(
            X, pool_k, metric, seed, rounds, rho=descent_rho,
            delta=descent_delta,
        )
    # alpha relaxes SQUARED-l2 diversity; ip "distances" are negative, so
    # scaling them inverts the test — keep strict selection there
    alpha = _ALPHA if metric != "ip" else 1.0
    # ---- diversify + symmetrize + cap ----
    adj: list[set[int]] = [set() for _ in range(n)]
    for i in range(n):
        ranked = [
            (float(D[i, j]), int(N[i, j]))
            for j in range(pool_k)
            if np.isfinite(D[i, j])
        ]
        for p in _select_diverse(ranked, X, m, metric, alpha=alpha):
            adj[i].add(p)
            adj[p].add(i)
    max_deg = 2 * m
    for i in range(n):
        if len(adj[i]) <= max_deg:
            continue
        others = sorted(adj[i])
        dd = _pair_dists(X[others], X[i], metric)
        ranked = sorted(zip(dd.tolist(), others))
        keep = set(_select_diverse(ranked, X, max_deg, metric, alpha=alpha))
        for v in adj[i] - keep:
            adj[i].discard(v)
            adj[v].discard(i)
    # ---- connectivity repair (the exactness precondition) ----
    comp = np.full(n, -1, dtype=np.int64)
    n_comp = 0
    for s in range(n):
        if comp[s] >= 0:
            continue
        comp[s] = n_comp
        frontier = [s]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if comp[v] < 0:
                        comp[v] = n_comp
                        nxt.append(v)
            frontier = nxt
        n_comp += 1
    if n_comp > 1:
        sizes = np.bincount(comp, minlength=n_comp)
        main = int(np.argmax(sizes))
        main_members = np.flatnonzero(comp == main)
        for c in range(n_comp):
            if c == main:
                continue
            members = np.flatnonzero(comp == c)
            mean = X[members].mean(axis=0)
            medoid = int(
                members[np.argmin(_pair_dists(X[members], mean, "l2"))]
            )
            tgt = int(
                main_members[
                    np.argmin(
                        _pair_dists(X[main_members], X[medoid], metric)
                    )
                ]
            )
            adj[medoid].add(tgt)
            adj[tgt].add(medoid)
    return [sorted(s) for s in adj], _entry_points(X, metric)


_ENTRY_FANOUT = 16


def _entry_points(X: np.ndarray, metric: str) -> list[int]:
    """Diverse beam seeds via farthest-point sampling: the block medoid
    first, then repeatedly the point farthest from every chosen seed.
    A flat NSW beam started from ONE entry stalls on clustered data —
    inside the entry's tight cluster every node sits at near-identical
    distance to a far-away query, so the stop rule (`closest candidate
    worse than the beam's worst`) fires before any cross-cluster edge is
    found (measured recall 0.36 on a 32-center clustered corpus). HNSW
    solves this with hierarchy (upper-level long links land the beam in
    the right region); the flat-graph equivalent is seeding every region:
    one seed lands near the query's cluster and the nearest-first
    expansion proceeds from there (recall ≥ 0.9 on the same corpus).
    Cost: _ENTRY_FANOUT extra rows in the initial beam — O(E·n) distance
    evaluations at build, one matmul per seed step."""
    # seeding is GEOMETRIC diversity — always squared-L2, even for the ip
    # space (whose traversal "distance" is negative and unusable as a
    # spread measure); cosine rows are already unit-normalized here
    mean = X.mean(axis=0)
    first = int(np.argmin(_pair_dists(X, mean, "l2")))
    seeds = [first]
    min_d = _pair_dists(X, X[first], "l2")
    for _ in range(min(_ENTRY_FANOUT, len(X)) - 1):
        nxt = int(np.argmax(min_d))
        if min_d[nxt] <= 0:
            break
        seeds.append(nxt)
        min_d = np.minimum(min_d, _pair_dists(X, X[nxt], "l2"))
    return seeds


class GraphANNIndex(CommittedIndex):
    """Partitioned small-world-graph ANN index (see module docstring).

    `m` / `ef_construction` mirror hnswlib's M / ef_construction
    (reference defaults M=16, ef_construction=200, rebuild at 20% —
    `implementations/index.py:18,37`); `n_blocks` is the distribution
    dial the single-node reference doesn't have."""

    REBUILD_THRESHOLD = 0.2  # reference index.py:18 — 20% drift

    def __init__(
        self,
        n_blocks: int = 4,
        m: int = 8,
        ef_construction: int = 64,
        metric: str = "l2",
        seed: int = 42,
        descent_rho: float = 1.0,
        descent_delta: float = 0.0,
    ) -> None:
        if metric not in ("l2", "cosine", "ip"):
            raise ValueError(f"unsupported metric {metric!r}")
        if not 0.0 < descent_rho <= 1.0:
            raise ValueError("descent_rho must be in (0, 1]")
        if not 0.0 <= descent_delta < 1.0:
            raise ValueError("descent_delta must be in [0, 1)")
        self.n_blocks = n_blocks
        self.m = m
        self.ef_construction = ef_construction
        self.metric = metric
        self.seed = seed
        # NN-descent sampled-expansion dial: 1.0 = full k² expansion
        # (default — keeps the certified ≥0.9 margin), <1 trades recall
        # margin for build cost on >cutoff blocks (see _descent_pool)
        self.descent_rho = descent_rho
        # NN-descent convergence threshold (Dong et al.'s δ): a round
        # changing fewer than δ·n·k pool entries ends refinement early.
        # Default 0 = OFF, matching the measurement: δ=0.001 never
        # fires before the round cap on clustered blocks (SCALING.md /
        # _descent_pool docstring) — the dial is an opt-in safety
        # valve for fast-converging blocks, not a default saver; the
        # supported cheap-ingest dial is ef_construction=48
        self.descent_delta = descent_delta
        # test seam: lowers the exact-pool cutoff so the NN-descent path
        # is exercised on small fixtures (module constants don't reach
        # executor workers — the closure value does)
        self._exact_pool_max: int | None = None
        # coarse router: bounded-sample KMeans centroids only (its
        # indexed/radii machinery is unused — blocks, not IVF lists)
        self._router = IVFIndex(
            n_clusters=n_blocks, seed=seed, eager_stats=False
        )
        self.indexed: DataFrame | None = None  # + block_id, neighbors, is_entry
        self.pending: DataFrame | None = None  # flat tail, original columns
        self._vec_col = "embedding"
        self._id_col = "vec_id"
        self._data_cols: list[str] | None = None
        self._built_count = 0
        self._added_count = 0
        # measured ef → recall@k curve (measure_recall_curve): driver-side
        # scalars persisted by save(), so a reloaded serving index honors
        # a recall target without re-measuring — the graph's dial is ef
        # where IVF's is nprobe, same calibration contract
        self._recall_curve: dict[int, float] | None = None
        self._curve_nprobe: int | None = None
        self.cdc = PendingTail()

    # ---------------------------------------------------------------- build

    def _norm_if_cosine(self, X: np.ndarray) -> np.ndarray:
        if self.metric != "cosine":
            return X
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        return X / nrm

    def build(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Fit the coarse router, assign block ids (Arrow argmin map — no
        shuffle), then build every block's NSW graph in one applyInPandas
        pass (ONE shuffle on block_id; blocks build in parallel)."""
        self._vec_col, self._id_col = vec_col, id_col
        self._data_cols = [c for c in df.columns]
        self._router.centroids = self._router._fit_centroids(
            df, vec_col, id_col
        )
        self._router._vec_col = vec_col
        assigned = self._router._assign(df, vec_col).withColumnRenamed(
            "cluster_id", "block_id"
        )
        self.indexed = self._graph_stage(assigned)
        self.pending = None
        self._built_count = df.count()
        self._added_count = 0
        self.cdc = PendingTail()
        return self.indexed

    def _graph_stage(self, assigned: DataFrame) -> DataFrame:
        """Per-block graph construction over (data cols + block_id): one
        applyInPandas pass adds neighbors + is_entry. Shared by build()
        (every block) and fold_pending() (touched blocks only)."""
        id_type = dict(
            zip(assigned.schema.names, assigned.schema.fields)
        )[self._id_col].dataType
        out_schema = T.StructType(
            list(assigned.schema.fields)
            + [
                T.StructField("neighbors", T.ArrayType(id_type)),
                T.StructField("is_entry", T.BooleanType()),
            ]
        )
        m, efc, metric, vcol, icol = (
            self.m, self.ef_construction, self.metric,
            self._vec_col, self._id_col,
        )
        seed = self.seed
        pool_cutoff = self._exact_pool_max
        rho = self.descent_rho
        delta = self.descent_delta
        norm = self.metric == "cosine"

        def build_block(pdf):
            pdf = pdf.sort_values(icol, kind="mergesort").reset_index(
                drop=True
            )
            # float32 working set: the stored vectors ARE
            # float32 (array<float> — reference vector.py:14 semantics),
            # construction distances order candidates only, and at
            # descent-scale blocks (≥50k × high-d rows decoded per task)
            # float64 doubled the dominant memory term for no precision
            # the graph keeps
            X = np.stack(pdf[vcol].to_numpy()).astype(np.float32)
            if norm:
                nrm = np.linalg.norm(X, axis=1, keepdims=True)
                nrm[nrm == 0.0] = 1.0
                X = X / nrm
            adj, entries = _build_block_graph(
                X, m, efc, metric, seed=seed, exact_pool_max=pool_cutoff,
                descent_rho=rho, descent_delta=delta,
            )
            ids = pdf[icol].to_numpy()
            pdf["neighbors"] = [
                [ids[v] for v in nb] for nb in adj
            ]
            eset = set(entries)
            pdf["is_entry"] = [i in eset for i in range(len(pdf))]
            return pdf

        return assigned.groupBy("block_id").applyInPandas(
            build_block, schema=out_schema
        )

    def fold_pending(self) -> DataFrame:
        """Fold the pending tail into ONLY the blocks its rows route to —
        copy-on-write graph maintenance (the MergedTable bucket idea
        applied to index upkeep): untouched blocks keep their adjacency
        byte-identical; each touched block rebuilds from its full
        membership (existing members + routed arrivals) in one
        applyInPandas over the touched slice. The router's centroids stay
        FIXED (the IVF no-refit-add contract), so the W11 drift counter
        keeps accumulating toward the full rebuild() that refits them —
        folding buys graph-served tail rows at touched-blocks cost, not a
        fresh baseline. No-op without a tail."""
        assert self.indexed is not None, "build() first"
        if self.pending is None:
            return self.indexed
        assigned = self._router._assign(
            self.pending.select(*(self._data_cols or self.pending.columns)),
            self._vec_col,
        ).withColumnRenamed("cluster_id", "block_id")
        # bounded: ≤ n_blocks distinct values
        touched = [
            int(r[0])
            for r in assigned.select("block_id").distinct().collect()
        ]
        untouched = self.indexed.filter(~F.col("block_id").isin(touched))
        old = self.indexed.filter(F.col("block_id").isin(touched)).drop(
            "neighbors", "is_entry"
        )
        members = old.unionByName(assigned.select(*old.columns))
        self.indexed = untouched.unionByName(self._graph_stage(members))
        self.pending = None
        # introspection: how much of the index the fold actually rebuilt
        self.last_fold_touched = len(touched)
        return self.indexed

    # ------------------------------------------------------------ searching

    def _probe_blocks(self, qvec, nprobe: int | None) -> list[int]:
        cents = self._router.centroids
        assert cents is not None, "build() first"
        if nprobe is None:
            return list(range(len(cents)))
        q = np.asarray(qvec, dtype=np.float64)
        d = ((cents - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d)[: min(nprobe, len(d))]]

    def _graph_candidates(
        self, qvec, need: int, ef: int | None, nprobe: int | None
    ) -> DataFrame:
        """Per-block beam search over the probed blocks: emits each
        block's best max(ef, need) rows with the metric's score. The
        block filter is partition pruning once the index is reloaded
        from its block-partitioned layout."""
        assert self.indexed is not None, "build() first"
        probes = self._probe_blocks(qvec, nprobe)
        cand = self.indexed.filter(F.col("block_id").isin(probes))
        data_fields = [
            f for f in self.indexed.schema.fields
            if f.name not in ("neighbors", "is_entry")
        ]
        out_schema = T.StructType(
            data_fields + [T.StructField("score", T.DoubleType())]
        )
        keep = [f.name for f in data_fields]
        q = np.asarray(qvec, dtype=np.float64)
        metric, vcol, icol = self.metric, self._vec_col, self._id_col
        if metric == "cosine":
            qn = np.linalg.norm(q)
            q = q / qn if qn else q
        norm = metric == "cosine"
        q32 = q.astype(np.float32)

        def search_block(pdf):
            pdf = pdf.reset_index(drop=True)
            # the beam's working set is float32: the
            # stored vectors are float32 already, traversal distances
            # only ORDER candidates, and halving the decoded block
            # matrix halves the dominant per-task memory at descent
            # scale. The REPORTED scores of the selected rows are
            # recomputed in float64 below, so the rounded-score contract
            # (and oracle hash parity) is unchanged.
            X = np.stack(pdf[vcol].to_numpy()).astype(np.float32)
            if norm:
                nrm = np.linalg.norm(X, axis=1, keepdims=True)
                nrm[nrm == 0.0] = 1.0
                X = X / nrm
            pos = {v: i for i, v in enumerate(pdf[icol].to_numpy())}
            # dangling neighbor ids (deleted rows) are skipped by the map
            adj = [
                [pos[v] for v in nb if v in pos]
                for nb in pdf["neighbors"].to_numpy()
            ]
            entry_rows = np.flatnonzero(pdf["is_entry"].to_numpy())
            if len(entry_rows):
                entries = [int(x) for x in entry_rows]
            else:
                # every stored entry was deleted: deterministic fallback
                entries = [int(pdf[icol].to_numpy().argmin())]
            width = None if ef is None else max(ef, need)
            found = _beam_search(X, adj, entries, q32, width, metric)
            if ef is None and len(found) < len(pdf):
                found = _sweep_unvisited(X, found, q32, metric)
            take = found if ef is None else found[: max(ef, need)]
            sel = [p for _, p in take]
            rows = pdf.iloc[sel][keep].copy()
            rows["score"] = np.round(
                _score_from_dist(_rescore64(pdf, vcol, sel, q, norm, metric), metric),
                _SCORE_DECIMALS,
            )
            return rows

        return cand.groupBy("block_id").applyInPandas(
            search_block, schema=out_schema
        )

    def measure_recall_curve(
        self,
        k: int = 10,
        n_queries: int = 8,
        efs: Sequence[int] | None = None,
        vec_col: str | None = None,
        id_col: str | None = None,
        nprobe: int | None = None,
    ) -> dict[int, float]:
        """Measure mean recall@k of `search(ef=...)` at routing width
        `nprobe` against the certified-exact path — the shared
        `ann._measure_recall_curve` kernel with the graph's dial (ef) in
        place of IVF's (nprobe). One-time ingest-class cost; cached on
        the object and persisted by save(), so a reloaded serving index
        honors `target_recall` without re-measuring."""
        assert self.indexed is not None, "build() first"
        if efs is None:
            # the tail extends to where large blocks actually reach the
            # 0.9 serving class: measured at 1M×64d (32 blocks of 31k),
            # ef=128 saturates at 0.813 regardless of nprobe (4/8/16 all
            # equal — the loss is in-block beam quality, not routing)
            # while ef=256 → 0.912 and ef=384 → 0.963 (SCALING.md).
            # Without these points ef_for_recall(0.9) could only fall
            # back to the exhaustive scan at exactly the block sizes the
            # 100 TB regime implies. Small corpora still pick the first
            # (cheapest) ef that reaches target, so the wider sweep only
            # costs two extra one-time calibration points.
            efs = [16, 32, 64, 128, 256, 384]
        curve = _measure_recall_curve(
            self, k, n_queries, efs, vec_col or self._vec_col,
            id_col or self._id_col, "ef", nprobe=nprobe,
        )
        # an empty measurement (empty index) is not cached; ef_for_recall
        # then raises instead of serving a stale nothing
        self._recall_curve = curve or None
        # the curve is only valid at the routing width it was measured at;
        # target_recall serving replays this nprobe alongside the chosen ef
        self._curve_nprobe = nprobe
        return curve

    def ef_for_recall(self, target: float) -> int | None:
        """Smallest measured ef whose recall@k meets `target`; None when
        no measured point reaches it — meaning: use the exhaustive mode
        (`ef=None`, exact coverage). Raises if the curve was never
        measured (the contract of IVF's nprobe_for_recall)."""
        return _nprobe_for_recall(self._recall_curve, target, None)

    def search(
        self,
        qvec,
        k: int,
        ef: int | None = 64,
        nprobe: int | None = 2,
        vec_col: str | None = None,
        id_col: str | None = None,
        metric: str | None = None,
        target_recall: float | None = None,
        result_filter=None,
    ) -> DataFrame:
        """Top-k via beam search in the `nprobe` nearest blocks, merged
        with an EXACT scan of the pending tail. `ef` is hnswlib's ef
        (reference ef=50, index.py:126); `ef=None` with `nprobe=None`
        traverses everything reachable and sweeps whatever delete damage
        disconnected (`_sweep_unvisited`) — exact UNCONDITIONALLY, the
        oracle-checkable mode.
        `metric`/`vec_col`/`id_col` accept the family-protocol call shape
        but must match the build-time values (a graph is metric-bound —
        same as an hnswlib space). `result_filter` (a Column over the
        output columns) drops rows AFTER traversal, BEFORE the top-k —
        the graph analog of hybrid search (ACORN-style post-filtering):
        exact-filtered in exhaustive mode, best-effort under a bounded
        beam (widen ef to keep recall under selective filters; the
        certified-filtered path stays `search_exact(pre_filter=)`)."""
        if metric is not None and metric != self.metric:
            raise ValueError(
                f"index built for metric {self.metric!r}; "
                f"rebuild for {metric!r} (graphs are metric-bound)"
            )
        if target_recall is not None:
            # recall-targeted serving off the persisted calibration curve
            # (the reference's serving quality class — ef dialed to the
            # target, never guessed). The curve is only valid at the
            # routing width it was measured at, so that nprobe serves
            # too; exhaustive fallback when no measured point reaches the
            # target.
            ef = self.ef_for_recall(target_recall)
            nprobe = (
                None if ef is None else self._curve_nprobe
            )
        icol = id_col or self._id_col
        out = self._graph_candidates(qvec, k, ef, nprobe)
        if self.pending is not None:
            tail = self.pending.withColumn(
                "score",
                F.round(
                    metric_expr(
                        vec_col or self._vec_col, vector_lit(qvec), self.metric
                    ),
                    _SCORE_DECIMALS,
                ),
            ).withColumn("block_id", F.lit(-1))
            out = out.unionByName(tail.select(*out.columns))
        if result_filter is not None:
            out = out.filter(result_filter)
        return out.orderBy(
            *rank_order(F.col("score"), F.col(icol), self.metric)
        ).limit(k)

    def search_exact(
        self,
        qvec,
        k: int,
        vec_col: str | None = None,
        id_col: str | None = None,
        pre_filter=None,
    ) -> DataFrame:
        """Certified-exact brute force over graph rows ∪ pending tail —
        the family-protocol correctness reference (unaffected by graph
        quality, deletes, or drift)."""
        vcol = vec_col or self._vec_col
        icol = id_col or self._id_col
        assert self.indexed is not None, "build() first"
        live = self.indexed.drop("neighbors", "is_entry", "block_id")
        if self.pending is not None:
            live = live.unionByName(self.pending.select(*live.columns))
        return knn(
            live, qvec, k, vec_col=vcol, id_col=icol, metric=self.metric,
            pre_filter=pre_filter,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        ef: int | None = 64,
        nprobe: int | None = 2,
        query_id: str = "query_id",
        query_vec: str = "embedding",
        result_filter=None,
        target_recall: float | None = None,
    ) -> DataFrame:
        """Batch serving: every query routes to its `nprobe` blocks; ONE
        applyInPandas pass beam-searches each block for all the queries
        routed to it (the query batch rides in the task closure — bounded
        like IVF's knn_join batch surface); the pending tail joins
        exactly; a salted per-query top-k merges. Returns
        (query_id, id, the other data columns, score). `result_filter` (a
        Column over the output columns) drops rows AFTER traversal but
        BEFORE the top-k — with `ef=None` the traversal is exhaustive, so
        the filtered
        result is exactly the brute-force filtered top-k; with a bounded
        `ef` it filters the beam's survivors (best-effort, like any
        post-filtered ANN). `target_recall` replaces the raw dials with
        the persisted calibration curve's smallest qualifying ef — the
        same quality contract as the single-query path, applied to the
        whole batch."""
        assert self.indexed is not None, "build() first"
        if target_recall is not None:
            ef = self.ef_for_recall(target_recall)
            nprobe = (
                None if ef is None else self._curve_nprobe
            )
        qrows = queries.select(query_id, query_vec).collect()
        routed: dict[int, list[tuple]] = {}
        for r in qrows:
            qv = np.asarray(r[query_vec], dtype=np.float64)
            if self.metric == "cosine":
                n = np.linalg.norm(qv)
                qv = qv / n if n else qv
            for b in self._probe_blocks(r[query_vec], nprobe):
                routed.setdefault(b, []).append(
                    (r[query_id], qv, qv.astype(np.float32))
                )
        probed = sorted(routed)
        cand = self.indexed.filter(F.col("block_id").isin(probed))
        icol, vcol, metric = self._id_col, self._vec_col, self.metric
        fields = {f.name: f for f in self.indexed.schema.fields}
        # every data column but the id rides along, so a graph that carries
        # payload answers the batch with whole rows
        payload = [
            fields[c] for c in (self._data_cols or fields)
            if c in fields and c != icol
            and c not in ("block_id", "neighbors", "is_entry")
        ]
        keep = [f.name for f in payload]
        qid_type = dict(
            zip(queries.schema.names, queries.schema.fields)
        )[query_id].dataType
        out_schema = T.StructType(
            [
                T.StructField(query_id, qid_type),
                T.StructField("id_out", fields[icol].dataType),
                *payload,
                T.StructField("score", T.DoubleType()),
            ]
        )
        norm = metric == "cosine"
        need = k
        # without a result filter only each block's own top-k per query can
        # reach the global top-k (same rounded-score, id order), so blocks
        # emit those rows instead of their whole beam
        trim = result_filter is None
        sign = 1.0 if metric_ascending(metric) else -1.0

        def search_block(pdf):
            import pandas as pd

            pdf = pdf.reset_index(drop=True)
            block = int(pdf["block_id"].iloc[0])
            qs = routed.get(block, [])
            # float32 beam working set; reported scores recompute in
            # float64 over each query's selected rows (_rescore64) —
            # same contract as the single-query path
            X = np.stack(pdf[vcol].to_numpy()).astype(np.float32)
            if norm:
                nrm = np.linalg.norm(X, axis=1, keepdims=True)
                nrm[nrm == 0.0] = 1.0
                X = X / nrm
            ids = pdf[icol].to_numpy()
            pos = {v: i for i, v in enumerate(ids)}
            adj = [
                [pos[v] for v in nb if v in pos]
                for nb in pdf["neighbors"].to_numpy()
            ]
            entry_rows = np.flatnonzero(pdf["is_entry"].to_numpy())
            entries = (
                [int(x) for x in entry_rows]
                if len(entry_rows)
                else [int(ids.argmin())]
            )
            out_q, out_p, out_s = [], [], []
            width = None if ef is None else max(ef, need)
            # exhaustive mode selects EVERY row for EVERY query, so the
            # float64 rescore matrix is built once per block, not
            # re-stacked per query (O(n·d) instead of O(|qs|·n·d));
            # bounded-beam mode keeps the per-query ≤ef gather
            V64 = None
            if ef is None and qs:
                V64 = np.stack(pdf[vcol].to_numpy()).astype(np.float64)
                if norm:
                    n64 = np.linalg.norm(V64, axis=1, keepdims=True)
                    n64[n64 == 0.0] = 1.0
                    V64 = V64 / n64
            for qid, qv64, qv32 in qs:
                found = _beam_search(X, adj, entries, qv32, width, metric)
                if ef is None and len(found) < len(X):
                    found = _sweep_unvisited(X, found, qv32, metric)
                take = found if ef is None else found[: max(ef or 0, need)]
                sel = [p for _, p in take]
                if V64 is not None:
                    d64 = _pair_dists(V64[sel], qv64, metric)
                else:
                    d64 = _rescore64(pdf, vcol, sel, qv64, norm, metric)
                s = np.round(_score_from_dist(d64, metric), _SCORE_DECIMALS)
                if trim and len(sel) > need:
                    key = sign * s
                    kth = np.partition(key, need - 1)[need - 1]
                    near = np.flatnonzero(key <= kth)
                    near = sorted(near, key=lambda j: (key[j], ids[sel[j]]))
                    sel = [sel[j] for j in near[:need]]
                    s = s[near[:need]]
                out_q.extend([qid] * len(sel))
                out_p.extend(sel)
                out_s.extend(s.tolist())
            rows = pdf.iloc[out_p]
            return pd.DataFrame({
                query_id: out_q,
                "id_out": rows[icol].to_numpy(),
                **{c: rows[c].to_numpy() for c in keep},
                "score": out_s,
            })

        scored = cand.groupBy("block_id").applyInPandas(
            search_block, schema=out_schema
        ).withColumnRenamed("id_out", icol)
        if self.pending is not None:
            qv = queries.select(
                F.col(query_id), F.col(query_vec).alias("__qvec")
            )
            tail = (
                self.pending.crossJoin(F.broadcast(qv))
                .select(
                    F.col(query_id),
                    F.col(icol),
                    *keep,
                    F.round(
                        metric_expr(vcol, "__qvec", metric),
                        _SCORE_DECIMALS,
                    ).alias("score"),
                )
            )
            scored = scored.unionByName(tail)
        if result_filter is not None:
            scored = scored.filter(result_filter)
        return per_key_topk(
            scored, query_id, k,
            rank_order(F.col("score"), F.col(icol), self.metric),
            salt_on=icol,
        )

    def knn_join_exact(
        self,
        queries: DataFrame,
        k: int,
        query_vec: str = "embedding",
        query_id: str = "query_id",
        vec_col: str | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """EXACT batch join through the graph layout — the family-protocol
        batch surface (`VectorStore.find_similar_batch(mode="indexed")`
        routes through this, same as IVF/IVFPQ): exhaustive traversal of
        every block plus the unvisited-row sweep plus the exact pending
        tail — equal to brute force even after deletes disconnect blocks
        (`_sweep_unvisited`). `vec_col`/`id_col` accept the protocol
        call shape; the build-time columns always apply."""
        return self.search_batch(
            queries, k, ef=None, nprobe=None,
            query_id=query_id, query_vec=query_vec,
        )

    def knn_join(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int | None = 2,
        query_vec: str = "embedding",
        query_id: str = "query_id",
        vec_col: str | None = None,
        id_col: str | None = None,
        ef: int | None = 64,
        target_recall: float | None = None,
    ) -> DataFrame:
        """APPROXIMATE batch join — the protocol twin of
        `IVFIndex.knn_join` (same call shape, so
        `VectorStore.find_similar_batch(mode="approx")` serves graph
        members through one bounded-beam pass per probed block instead of
        raising). The graph's quality dial is `ef` (hnswlib's), with
        `nprobe` as the routing width; `target_recall` resolves both from
        the persisted calibration curve (`ef_for_recall`), exactly like
        the single-query path. `vec_col`/`id_col` accept the protocol
        call shape; the build-time columns always apply."""
        return self.search_batch(
            queries, k, ef=ef, nprobe=nprobe,
            query_id=query_id, query_vec=query_vec,
            target_recall=target_recall,
        )

    # ---------------------------------------------------------- maintenance

    def apply_changes(
        self,
        changes: DataFrame,
        vec_col: str | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """CDC maintenance (the `PendingTail` contract): changed/deleted ids
        retire from BOTH segments (a removed graph node's dangling edges
        are skipped by id at traversal time); upserts append to the
        pending tail. Upserts AND deletes count toward drift — deletes
        also erode graph navigability, exactly the reference's
        deleted/total counter (index.py:85-89)."""
        icol = id_col or self._id_col
        assert self.indexed is not None, "build() first"
        feed, _ = self.cdc.absorb(
            changes, icol, lambda ups: ups.select(*(self._data_cols or ups.columns))
        )
        indexed = self.cdc.retire(self.indexed, feed, icol)
        pending = self.pending
        if pending is not None:
            pending = self.cdc.roll(pending, feed, icol)
        elif self.cdc.last_upserts:
            pending = self.cdc.entering(feed)
        self._added_count += self.cdc.last_events
        self.indexed, self.pending = self.cdc.fold(
            self._built_count + self._added_count, indexed, pending
        )
        return self.indexed

    def is_rebuild_required(self) -> bool:
        """W11 (reference index.py:164-165): drift — tail growth + deletes
        — reached 20% of the built corpus."""
        if self._built_count == 0:
            return False
        return self._added_count / self._built_count >= self.REBUILD_THRESHOLD

    def note_full_resync(self, n_live: int) -> None:
        """A floor-forced resync (resync_index_from_snapshot) pushed every
        live row through the feed — which for a graph parks the whole
        corpus in the flat tail. IVF's feed re-entry re-ASSIGNS rows into
        the structure; the graph's equivalent re-entry is the rebuild, so
        fold the tail into fresh block graphs here rather than serving
        brute-force scans behind an index that claims zero drift."""
        if self.pending is not None:
            self.rebuild()
        self._built_count = max(1, int(n_live))
        self._added_count = 0

    def rebuild(self) -> DataFrame:
        """Fold the pending tail and any delete damage back into fresh
        per-block graphs (W10): one full build over the live rows."""
        assert self.indexed is not None
        live = self.indexed.drop("neighbors", "is_entry", "block_id")
        if self.pending is not None:
            live = live.unionByName(self.pending.select(*live.columns))
        self.build(live, vec_col=self._vec_col, id_col=self._id_col)
        self.indexed = self.indexed.localCheckpoint()
        return self.indexed

    # ---------------------------------------------------------- persistence

    def _stage(self, stage: str) -> dict:
        """Write the rows block-partitioned (a probe is partition pruning
        on reload) and the pending tail into `stage`; return the router
        centroids, the build parameters, the column roles, the drift
        counters and the measured ef→recall curve with the routing width
        it was measured at."""
        assert self.indexed is not None
        return {
            "indexed": stage_frame(self.indexed, stage, "indexed", "block_id"),
            "pending": (
                None if self.pending is None
                else stage_frame(self.pending, stage, "pending")
            ),
            "centroids": self._router.centroids.tolist(),
            "params": {
                "n_blocks": self.n_blocks,
                "m": self.m,
                "ef_construction": self.ef_construction,
                "metric": self.metric,
                "seed": self.seed,
                "descent_rho": self.descent_rho,
                "descent_delta": self.descent_delta,
            },
            "vec_col": self._vec_col,
            "id_col": self._id_col,
            "data_cols": self._data_cols,
            "built_count": int(self._built_count),
            "added_count": int(self._added_count),
            "recall_curve": _curve_state(self._recall_curve),
            "curve_nprobe": self._curve_nprobe,
        }

    def _reopen(self, spark, vdir: str, state: dict) -> None:
        self.indexed = open_frame(spark, vdir, "indexed", state["indexed"])
        self.pending = (
            None if state["pending"] is None
            else open_frame(spark, vdir, "pending", state["pending"])
        )

    @classmethod
    def _from_state(cls, spark, vdir: str, state: dict) -> "GraphANNIndex":
        idx = cls(**state["params"])
        idx._vec_col = idx._router._vec_col = state["vec_col"]
        idx._id_col = state["id_col"]
        idx._data_cols = state["data_cols"]
        idx._built_count = state["built_count"]
        idx._added_count = state["added_count"]
        idx._recall_curve = _curve_from(state["recall_curve"])
        idx._curve_nprobe = state["curve_nprobe"]
        idx._router.centroids = np.array(state["centroids"], dtype=np.float64)
        idx._reopen(spark, vdir, state)
        return idx
