"""Per-shard graph kernel tests (operators/vamana_local.py): the worker
GEMM budget, the build's batch schedule and reachability invariant, the
fractional re-link schedule, and the batched prune and consolidate
against the sequential reference (tests/vamana_reference.py).

The GEMM budget: every transient per-chunk block in the graph kernels
(dense distance GEMMs, lazy visit masks, the prune gather tensor) is
sized from one ``SVS_GEMM_BUDGET_MB`` byte budget instead of hard-coded
cell counts — so an oversized deliberate run degrades to smaller chunks
instead of a host-OOM SIGKILL ("Python worker exited unexpectedly").
Chunking is a memory/wall tradeoff only: results must be bit-identical
at any budget.
"""

import importlib
import os

import numpy as np
import pytest
from vamana_reference import alpha_prune as reference_alpha_prune

from scalablevectorsearch_spark.operators import vamana_local as vl
from scalablevectorsearch_spark.operators.vamana_local import (
    VamanaParams,
    _build_batch_bounds,
    _dists,
    _reachable_mask,
    build_graph,
    medioid,
)


@pytest.fixture
def small_budget():
    """Reload the kernel module with an 8 MB budget, restore after."""
    old = os.environ.get("SVS_GEMM_BUDGET_MB")
    os.environ["SVS_GEMM_BUDGET_MB"] = "8"
    importlib.reload(vl)
    yield vl
    if old is None:
        os.environ.pop("SVS_GEMM_BUDGET_MB", None)
    else:
        os.environ["SVS_GEMM_BUDGET_MB"] = old
    importlib.reload(vl)


def test_default_budget_matches_r11_constants():
    # the 64 MB default must reproduce the pre-r12 chunk sizes exactly
    # (the golden-curve evidence and every gate ran on those)
    assert vl._GEMM_BUDGET_MB == 64 or "SVS_GEMM_BUDGET_MB" in os.environ
    if vl._GEMM_BUDGET_MB == 64:
        assert vl._PRUNE_BATCH_CELLS == 12_000_000


def test_build_and_search_invariant_under_budget(small_budget):
    rng = np.random.default_rng(7)
    X = rng.standard_normal((600, 24)).astype(np.float64)
    Q = rng.standard_normal((20, 24)).astype(np.float64)
    p = vl.VamanaParams(graph_max_degree=16, window_size=40)

    assert small_budget._GEMM_BUDGET_MB == 8
    assert small_budget._PRUNE_BATCH_CELLS == 8 * 187_500
    g_small, e_small = small_budget.build_graph(X, p)
    ids_small, d_small = small_budget.search_graph(X, g_small, e_small, Q, 5, 30)

    os.environ["SVS_GEMM_BUDGET_MB"] = "64"
    importlib.reload(vl)
    g_big, e_big = vl.build_graph(X, p)
    ids_big, d_big = vl.search_graph(X, g_big, e_big, Q, 5, 30)

    assert e_small == e_big
    assert all(np.array_equal(a, b) for a, b in zip(g_small, g_big))
    assert np.array_equal(ids_small, ids_big)
    assert np.allclose(d_small, d_big)


def test_budget_floor():
    # budgets below 8 MB clamp (a 0/negative budget would deadlock the
    # chunk loop at chunk=1 per row — legal but pathological)
    old = os.environ.get("SVS_GEMM_BUDGET_MB")
    os.environ["SVS_GEMM_BUDGET_MB"] = "1"
    importlib.reload(vl)
    try:
        assert vl._GEMM_BUDGET_MB == 8
    finally:
        if old is None:
            os.environ.pop("SVS_GEMM_BUDGET_MB", None)
        else:
            os.environ["SVS_GEMM_BUDGET_MB"] = old
        importlib.reload(vl)


def test_fractional_pass2_matches_full_two_pass():
    """The default schedule (single-pass alphas + re-link the earliest
    30%) must hold the full two-pass's recall on a small fixture:
    within a small tolerance of BOTH the single-pass build (pass 1
    shares its schedule, but re-linking is not per-instance monotone —
    a re-prune can trade individual edges either way, so strict
    dominance is noise-level, measured ±0.003 across batch schedules)
    and the full reference schedule (golden-fixture evidence:
    BENCH_HISTORY pass2-fraction-ab row, within 0.003 at small
    windows, above at large; the binding gate is the golden curve's
    ±0.05)."""
    rng = np.random.RandomState(21)
    X = rng.normal(size=(2000, 32))
    Q = rng.normal(size=(200, 32))
    d2 = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    gt = np.argsort(d2, axis=1, kind="stable")[:, :10]

    def recall(**extra):
        p = vl.VamanaParams(
            graph_max_degree=24, window_size=60,
            use_full_search_history=True, **extra,
        )
        g, e = vl.build_graph(X, p)
        ids, _ = vl.search_graph(X, g, e, Q, 10, 12)
        return np.mean(
            [len(np.intersect1d(ids[i], gt[i])) for i in range(200)]
        ) / 10.0

    r_single = recall(build_passes=1)
    r_frac = recall()  # default: build_pass2_fraction=0.3
    r_full = recall(build_pass2_fraction=1.0)
    assert r_frac >= r_single - 0.01, (r_frac, r_single)
    assert r_frac >= r_full - 0.03, (r_frac, r_full)


def test_build_batch_bounds_shape():
    assert _build_batch_bounds(5) == [0]
    b = _build_batch_bounds(250)
    assert b[0] == 0 and all(x < y for x, y in zip(b, b[1:]))
    assert len(b) <= 8  # small shards get FEW rounds (the optimization)
    big = _build_batch_bounds(1_000_000)
    # large-n behavior reproduces the pre-r12 steady state (~n/4096)
    assert abs(len(big) - 1_000_000 // 4096) < 20


@pytest.mark.parametrize("kind", ["gauss", "quant", "dup"])
@pytest.mark.parametrize("distance", ["l2", "ip", "cosine"])
def test_build_reachability_invariant(kind, distance):
    """Every built graph keeps all nodes reachable from the entry point
    — the exhaustive-window searches are exact-kNN oracles ONLY under
    this invariant, so it is enforced (_repair_reachability), not left
    to the batch schedule."""
    rng = np.random.RandomState(97)
    p = VamanaParams(alpha=1.2, graph_max_degree=32, window_size=100)
    for n in (62, 250):
        X = rng.normal(size=(n, 48))
        if kind == "quant":
            X = np.round(X * 2) / 2.0
        elif kind == "dup":
            X[n // 2 :] = X[: n - n // 2]
        graph, entry = build_graph(X, p, distance)
        assert _reachable_mask(graph, entry).sum() == n
        # repair never exceeds the degree bound
        assert max(len(a) for a in graph) <= p.graph_max_degree


def test_alpha_prune_batch_compaction_matches_sequential():
    """Active-row compaction (rows sliced out of the lockstep batch as
    they finish) must stay node-for-node identical to the sequential
    prune. The hypothesis property test caps m at 12, below the
    compaction threshold (>16 active rows) — this pins the compacted
    path with 120 rows of very uneven pool sizes so rows drop out at
    staggered iterations, across all three distances and alpha=1.0
    (the no-relax early exit)."""
    from scalablevectorsearch_spark.operators.vamana_local import (
        _pool_dists,
        alpha_prune_batch,
    )

    rng = np.random.default_rng(42)
    n, d, m, P = 500, 16, 120, 48
    X = rng.normal(size=(n, d))
    for distance in ("l2", "ip", "cosine"):
        for alpha in (1.0, 1.2):
            nodes = rng.choice(n, size=m, replace=False).astype(np.int64)
            pools = np.full((m, P), -1, dtype=np.int64)
            pool_d = np.full((m, P), np.inf, dtype=np.float64)
            # pool sizes from 1 to P: rows finish at very different
            # iterations, forcing several compaction rounds
            lens = rng.integers(1, P + 1, size=m)
            for i in range(m):
                cand = rng.choice(n, size=lens[i], replace=False).astype(np.int64)
                dd = _pool_dists(X, nodes[i : i + 1], cand[None, :], distance)[0]
                o = np.lexsort((cand, dd))
                pools[i, : lens[i]] = cand[o]
                pool_d[i, : lens[i]] = dd[o]
            got = alpha_prune_batch(X, nodes, pools, pool_d, alpha, 16, distance)
            assert len(got) == m
            for i in range(m):
                exp = reference_alpha_prune(
                    X, int(nodes[i]), pools[i, : lens[i]], pool_d[i, : lens[i]],
                    alpha, 16, distance,
                )
                assert got[i].dtype == np.int64
                assert np.array_equal(got[i], exp), (distance, alpha, i)


def _reference_consolidate(X, graph, deleted, entry, params, distance):
    """consolidate.h:357 one node at a time: each live node with a
    deleted neighbor prunes (live adjacency ∪ the deleted neighbors'
    live neighbors) with the sequential prune."""
    graph = [a.copy() for a in graph]
    affected = [
        u for u in range(len(graph))
        if not deleted[u] and len(graph[u]) and deleted[graph[u]].any()
    ]
    pools = {}
    for u in affected:
        adj = graph[u]
        cand = set(adj[~deleted[adj]].tolist())
        for v in adj[deleted[adj]]:
            nb = graph[int(v)]
            cand.update(nb[~deleted[nb]].tolist())
        cand.discard(u)
        ca = np.asarray(sorted(cand), dtype=np.int64)
        cd = _dists(X, X[u], ca, distance)
        order = np.lexsort((ca, cd))
        pools[u] = (ca[order], cd[order])
    for u, (ca, cd) in pools.items():
        graph[u] = reference_alpha_prune(
            X, u, ca, cd, params.alpha, params.graph_max_degree, distance
        )
    for v in np.flatnonzero(deleted):
        graph[v] = np.empty(0, dtype=np.int64)
    if deleted[entry]:
        live = np.flatnonzero(~deleted)
        entry = int(live[medioid(X[live])])
    return graph, entry, len(affected), [len(p[0]) for p in pools.values()]


@pytest.mark.parametrize(
    "distance,entry_deleted",
    [("l2", False), ("ip", False), ("cosine", False), ("l2", True)],
)
def test_consolidate_graph_equals_sequential_prune(small_budget, distance, entry_deleted):
    """consolidate_graph prunes every affected node in one width-sorted
    batch; graph and entry point must equal the node-by-node loop over
    the sequential prune. More than 256 affected nodes with uneven pool
    widths, and (at the 8 MB budget) more rows than one prune chunk, so
    the width ordering and per-chunk trimming both run."""
    rng = np.random.default_rng(11)
    n, d = 900, 64
    X = rng.normal(size=(n, d))
    graph = [
        rng.choice(n, size=int(rng.integers(2, 25)), replace=False).astype(np.int64)
        for _ in range(n)
    ]
    graph = [a[a != u] for u, a in enumerate(graph)]
    params = VamanaParams(alpha=1.2, graph_max_degree=16)
    entry = 17
    deleted = rng.random(n) < 0.08
    deleted[entry] = entry_deleted
    exp_graph, exp_entry, n_affected, widths = _reference_consolidate(
        X, graph, deleted, entry, params, distance
    )
    assert n_affected > 256
    assert min(widths) < max(widths) // 2
    assert small_budget._PRUNE_BATCH_CELLS // (max(widths) * d) < n_affected
    got_entry = small_budget.consolidate_graph(X, graph, deleted, entry, params, distance)
    assert got_entry == exp_entry
    assert (got_entry != entry) == entry_deleted
    assert all(np.array_equal(a, b) for a, b in zip(graph, exp_graph))
