"""Property-based tests (hypothesis) for the pure kernels — exactness
of partial top-k under ties, prune invariants, quantization bounds,
vecs round-trips."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from scalablevectorsearch_spark.operators.flat import _ID_SENTINEL, _merge_topk
from scalablevectorsearch_spark.operators.vamana_local import alpha_prune
from vamana_reference import alpha_prune as reference_alpha_prune
from vamana_reference import greedy_search as reference_greedy_search


def _brute_topk(key: np.ndarray, ids: np.ndarray, k: int):
    order = np.lexsort((ids, key), axis=1)[:, :k]
    return np.take_along_axis(key, order, axis=1), np.take_along_axis(ids, order, axis=1)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 5),  # nq
    st.integers(1, 8),  # k
    st.integers(1, 40),  # n new candidates
    st.integers(1, 5),  # number of distinct key values (forces heavy ties)
    st.integers(0, 2**32),
)
def test_merge_topk_exact_under_ties(nq, k, n, n_distinct, seed):
    """_merge_topk must equal a full (key, id) lexsort for ANY tie
    multiplicity — the boundary-tie audit is load-bearing."""
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, n_distinct, size=(nq, n)).astype(np.int64)
    ids = rng.permutation(n * 10)[:n].astype(np.int64)
    idmat = np.broadcast_to(ids, (nq, n)).copy()
    best_key = np.full((nq, k), np.iinfo(np.int64).max, dtype=np.int64)
    best_id = np.full((nq, k), _ID_SENTINEL, dtype=np.int64)
    got_k, got_i = _merge_topk(best_key, best_id, vals, idmat, k)
    exp_k, exp_i = _brute_topk(
        np.concatenate([best_key, vals], axis=1),
        np.concatenate([best_id, idmat], axis=1),
        k,
    )
    assert np.array_equal(got_k, exp_k)
    assert np.array_equal(got_i, exp_i)


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 2**32))
def test_merge_topk_chunked_equals_global(seed):
    """Merging candidates in chunks equals one global sort — the
    associativity the partition-then-merge plan relies on."""
    rng = np.random.default_rng(seed)
    nq, k, n = 3, 5, 30
    vals = rng.integers(0, 7, size=(nq, n)).astype(np.int64)
    ids = np.arange(n, dtype=np.int64)
    idmat = np.broadcast_to(ids, (nq, n)).copy()
    bk = np.full((nq, k), np.iinfo(np.int64).max, dtype=np.int64)
    bi = np.full((nq, k), _ID_SENTINEL, dtype=np.int64)
    for lo in range(0, n, 7):
        bk, bi = _merge_topk(bk, bi, vals[:, lo : lo + 7], idmat[:, lo : lo + 7], k)
    exp_k, exp_i = _brute_topk(vals, idmat, k)
    assert np.array_equal(bk, exp_k)
    assert np.array_equal(bi, exp_i)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32), st.floats(1.0, 2.0), st.integers(1, 16))
def test_alpha_prune_invariants(seed, alpha, max_result):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(40, 8))
    node = 0
    d = ((X - X[node]) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(40), d))
    pool = order[order != node]
    kept = alpha_prune(X, node, pool, d[pool], alpha, max_result)
    assert len(kept) <= max_result
    assert len(set(kept.tolist())) == len(kept)  # no duplicates
    assert node not in kept  # never self
    if len(pool):
        assert kept[0] == pool[0]  # nearest candidate always survives


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32), st.integers(1, 50), st.integers(1, 32))
def test_vecs_roundtrip_property(seed, n, d):
    import os
    from pathlib import Path

    from scalablevectorsearch_spark.sources.vecs import read_vecs, write_vecs

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d)).astype(np.float32)
    art = Path(__file__).resolve().parents[1] / "_artifacts"
    path = str(art / f"prop_{seed % 97}.fvecs")
    os.makedirs(art, exist_ok=True)
    write_vecs(path, X)
    assert np.array_equal(read_vecs(path), X)
    os.remove(path)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32))
def test_sq_compress_bound_property(seed):
    """decompress(compress(x)) within scale/2 of x for in-range values;
    out-of-range clamps to the nearest representable."""
    from scalablevectorsearch_spark.operators.sq import SQParams

    rng = np.random.default_rng(seed)
    lo, hi = sorted(rng.uniform(-10, 10, size=2))
    if hi - lo < 1e-6:
        hi = lo + 1.0
    p = SQParams(gmin=lo, gmax=hi)
    xs = rng.uniform(lo, hi, size=100)
    q = np.clip(np.floor((xs - p.bias) / p.scale + 0.5), -128, 127)
    back = p.scale * q + p.bias
    assert np.max(np.abs(back - xs)) <= p.scale / 2 + 1e-9


@settings(max_examples=25, deadline=None)
@given(
    st.integers(0, 2**32),
    st.floats(1.0, 1.5),
    st.integers(1, 16),
    st.integers(2, 30),
    st.integers(1, 12),
)
def test_alpha_prune_batch_equals_sequential(seed, alpha, max_result, pool_sz, m):
    """The lockstep-batched prune is node-for-node the sequential state
    machine: same adds in the same order, for every node in the batch
    (prune.h:92-172 semantics; the batch form is the build hot path)."""
    from scalablevectorsearch_spark.operators.vamana_local import alpha_prune_batch

    rng = np.random.default_rng(seed)
    n = 60
    X = rng.normal(size=(n, 6))
    nodes = rng.choice(n, size=m, replace=False).astype(np.int64)
    pools = np.full((m, pool_sz), -1, dtype=np.int64)
    pool_d = np.full((m, pool_sz), np.inf, dtype=np.float64)
    lens = rng.integers(1, pool_sz + 1, size=m)
    for i in range(m):
        cand = rng.choice(n, size=lens[i], replace=False).astype(np.int64)
        d = ((X[cand] - X[nodes[i]]) ** 2).sum(axis=1)
        o = np.lexsort((cand, d))
        pools[i, : lens[i]] = cand[o]
        pool_d[i, : lens[i]] = d[o]
    got = alpha_prune_batch(X, nodes, pools, pool_d, alpha, max_result)
    for i in range(m):
        exp = reference_alpha_prune(
            X, int(nodes[i]), pools[i, : lens[i]], pool_d[i, : lens[i]],
            alpha, max_result,
        )
        assert np.array_equal(got[i], exp), f"node row {i}"


def test_alpha_prune_batch_duplicate_points():
    """Exact duplicates (distance-0 ties) take the tie paths in both
    implementations; results must still agree node-for-node."""
    from scalablevectorsearch_spark.operators.vamana_local import alpha_prune_batch

    rng = np.random.default_rng(7)
    X = np.repeat(rng.normal(size=(10, 4)), 3, axis=0)  # 30 rows, triplets
    nodes = np.arange(6, dtype=np.int64)
    P = 20
    pools = np.full((6, P), -1, dtype=np.int64)
    pool_d = np.full((6, P), np.inf, dtype=np.float64)
    for i, node in enumerate(nodes):
        cand = np.array([c for c in range(30) if c != node], dtype=np.int64)[:P]
        d = ((X[cand] - X[node]) ** 2).sum(axis=1)
        o = np.lexsort((cand, d))
        pools[i] = cand[o]
        pool_d[i] = d[o]
    got = alpha_prune_batch(X, nodes, pools, pool_d, 1.2, 8)
    for i, node in enumerate(nodes):
        exp = reference_alpha_prune(X, int(node), pools[i], pool_d[i], 1.2, 8)
        assert np.array_equal(got[i], exp)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(0, 2**32),
    st.integers(2, 12),   # window
    st.integers(1, 6),    # nq
    st.sampled_from(["l2", "ip", "cosine"]),
    st.booleans(),        # lazy batch mode
)
def test_batch_greedy_equals_sequential(seed, window, nq, distance, lazy):
    """batch_greedy_search's docstring claims query-for-query identity
    with the sequential traversal — verify on random graphs, all three
    distances, dense and lazy modes, including the split buffer."""
    from scalablevectorsearch_spark.operators.vamana_local import batch_greedy_search

    rng = np.random.default_rng(seed)
    n = 40
    X = rng.normal(size=(n, 5))
    graph = [
        np.sort(rng.choice(n, size=rng.integers(0, 6), replace=False)).astype(np.int64)
        for _ in range(n)
    ]
    eps = [int(rng.integers(0, n))]
    Q = rng.normal(size=(nq, 5))
    cap = window + int(rng.integers(0, 5))
    bids, bds = batch_greedy_search(
        X, graph, eps, Q, window, distance, capacity=cap, lazy=lazy
    )
    for qi in range(nq):
        sids, sds = reference_greedy_search(
            X, graph, eps, Q[qi], window, distance, capacity=cap
        )
        got = bids[qi][bids[qi] >= 0]
        assert np.array_equal(got, sids), f"query {qi} ids"
        assert np.allclose(bds[qi][: len(sds)], sds), f"query {qi} dists"
