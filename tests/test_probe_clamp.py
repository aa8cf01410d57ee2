"""Probe-count clamping for budget-fitted epsilon probing (r6).

An unclamped budget-fitted epsilon cutoff yields a long-tailed
per-query probe distribution; recall is concave in probes, so the
under-probing tail costs more recall than the over-probing tail buys
(BENCH_HISTORY.jsonl `probe_alloc_coverage` row: on uniform data the
unclamped fit UNDERPERFORMS fixed fan-out at equal mean probes, the
clamped fit matches it). These tests pin the clamp mechanics:
probe_clusters_epsilon / probe_clusters_epsilon_routed min_probes
floors, fit_epsilon_bp's clamp-aware mean, budget_probe_clamp's
[floor, cap] values, and probe_plan, the one cell -> queries plan of
IVF and Vamana search built from those selectors.
"""

import numpy as np

from scalablevectorsearch_spark.operators.ivf import (
    budget_probe_clamp,
    fit_epsilon_bp,
    probe_clusters,
    probe_clusters_epsilon,
    probe_clusters_epsilon_routed,
    probe_plan,
)

rng = np.random.default_rng(11)
C = rng.random((32, 8)).astype(np.float64)
Q = rng.random((64, 8)).astype(np.float64)


def test_min_probes_floor_is_superset_of_cutoff():
    """Floor extension keeps every cutoff-selected cluster (the epsilon
    set is the key-smallest prefix, so the m nearest contain it)."""
    tight = probe_clusters_epsilon(Q, C, epsilon_bp=1)
    floored = probe_clusters_epsilon(Q, C, epsilon_bp=1, min_probes=6)
    for t, f in zip(tight, floored):
        assert len(f) == max(6, len(t))
        assert set(t.tolist()) <= set(f.tolist())


def test_min_probes_deterministic_and_capped_at_n_clusters():
    a = probe_clusters_epsilon(Q, C, epsilon_bp=1, min_probes=6)
    b = probe_clusters_epsilon(Q, C, epsilon_bp=1, min_probes=6)
    for x, y in zip(a, b):
        assert (x == y).all()
    full = probe_clusters_epsilon(Q, C, epsilon_bp=1, min_probes=1000)
    assert all(len(s) == C.shape[0] for s in full)


def test_min_probes_does_not_touch_queries_above_floor():
    wide = probe_clusters_epsilon(Q, C, epsilon_bp=10_000_000)
    wide_floor = probe_clusters_epsilon(
        Q, C, epsilon_bp=10_000_000, min_probes=2
    )
    for a, b in zip(wide, wide_floor):
        assert (a == b).all()


def test_fit_epsilon_bp_accounts_for_clamp():
    """Fitting WITH the clamp must land the realized clamped mean near
    the budget; fitting WITHOUT it and then clamping overshoots."""
    budget = 8.0
    lo, hi = 6, 16
    bp = fit_epsilon_bp(Q, C, budget, min_probes=lo, max_probes=hi)
    sel = probe_clusters_epsilon(Q, C, bp, min_probes=lo, max_probes=hi)
    sizes = np.array([len(s) for s in sel])
    assert sizes.min() >= lo and sizes.max() <= hi
    assert abs(sizes.mean() - budget) <= 1.5


def test_routed_min_probes_bounded_by_candidates():
    """The routed floor extends among the ROUTER's proposals only."""
    from scalablevectorsearch_spark.operators.router import build_centroid_router

    router = build_centroid_router(C, distance="l2")
    sel = probe_clusters_epsilon_routed(
        Q, C, router, epsilon_bp=1, n_candidates=8, min_probes=6
    )
    for s in sel:
        assert 6 <= len(s) <= 8


def test_floor_strictly_below_budget():
    for budget in (2.0, 3.0, 4.0, 8.0):
        floor, cap = budget_probe_clamp(budget, n_cells=64)
        assert floor < budget, (budget, floor)
        assert cap >= budget
    assert budget_probe_clamp(2.0, 64) == (1, 4)
    assert budget_probe_clamp(3.0, 64) == (2, 6)


def test_budget_one_degenerate_point():
    # probes >= 1 always: [1, 2] is the best available clamp
    assert budget_probe_clamp(1.0, 64) == (1, 2)


def test_user_cap_below_floor_wins():
    floor, cap = budget_probe_clamp(8.0, 64, max_probes=3)
    assert cap == 3 and floor == 3


def test_cells_bound():
    floor, cap = budget_probe_clamp(8.0, n_cells=4)
    assert cap == 4 and floor <= 4


def test_small_budget_fit_is_adaptive():
    """With the strict floor, a budget-3 fit on mixed-difficulty
    geometry yields VARYING per-query probe counts (the old
    floor==budget clamp collapsed every query to exactly 3)."""
    rng = np.random.default_rng(5)
    C = rng.normal(size=(8, 16)) * 10.0
    easy = C[:4] + rng.normal(size=(4, 16)) * 0.01  # near a centroid
    hard = (C[:4] + C[4:]) / 2.0  # between two centroids
    Q = np.vstack([easy, hard])
    floor, cap = budget_probe_clamp(3.0, 8)
    bp = fit_epsilon_bp(Q, C, 3.0, "l2", min_probes=floor, max_probes=cap)
    sel = probe_clusters_epsilon(
        Q, C, bp, min_probes=floor, max_probes=cap, distance="l2"
    )
    counts = {len(s) for s in sel}
    assert len(counts) > 1, counts  # adaptivity: not a fixed fan-out
    mean = float(np.mean([len(s) for s in sel]))
    assert floor <= mean <= cap


def test_fractional_budgets_keep_ceil_floor():
    # ADVICE example budgets: 5 -> floor 4 (int() gave 3),
    # 7 -> floor 6 (int() gave 5)
    assert budget_probe_clamp(5.0, 64)[0] == 4
    assert budget_probe_clamp(7.0, 64)[0] == 6
    assert budget_probe_clamp(9.0, 64)[0] == 7


def test_degenerate_budgets_keep_strict_cap():
    # the r6 fix's actual targets are untouched
    assert budget_probe_clamp(2.0, 64) == (1, 4)
    assert budget_probe_clamp(3.0, 64) == (2, 6)
    assert budget_probe_clamp(1.0, 64) == (1, 2)


def test_floor_always_strictly_below_budget():
    for b in np.arange(1.0, 20.1, 0.5):
        floor, cap = budget_probe_clamp(float(b), 1000)
        assert floor < b or b == 1.0, (b, floor)
        assert cap >= b


def _inverted(sel):
    """Reference inversion of per-query selections: cell -> sorted
    query positions, router padding (c < 0) dropped."""
    acc = {}
    for qi, cids in enumerate(sel):
        for c in cids:
            if c >= 0:
                acc.setdefault(int(c), set()).add(qi)
    return {c: sorted(v) for c, v in acc.items()}


def _plan_lists(plan):
    return {c: v.tolist() for c, v in plan.items()}


def test_probe_plan_inverts_the_selectors(monkeypatch):
    """probe_plan equals the inversion of the per-query selectors in
    every mode; a router's -1 padding never reaches the plan."""
    import scalablevectorsearch_spark.operators.router as router_mod
    from scalablevectorsearch_spark.operators.router import build_centroid_router

    real_route = router_mod.route

    def padded_route(router, Qm, n_probes, window_size=None):
        out = real_route(router, Qm, n_probes, window_size)
        out[::3, -1] = -1  # every third query loses its last probe
        return out

    monkeypatch.setattr(router_mod, "route", padded_route)
    router = build_centroid_router(C, distance="l2")
    n = C.shape[0]
    assert probe_plan(Q, C) is None
    assert probe_plan(Q, None, router=router) is None

    fixed = probe_plan(Q, C, n_probes=5)
    assert _plan_lists(fixed) == _inverted(probe_clusters(Q, C, 5))
    assert _plan_lists(probe_plan(Q, C, n_probes=99)) == _inverted(
        probe_clusters(Q, C, n)
    )

    padded = padded_route(router, Q, 5)
    assert (padded < 0).any()
    routed = probe_plan(Q, C, n_probes=5, router=router)
    assert _plan_lists(routed) == _inverted(padded)
    assert all((v >= 0).all() for v in routed.values()) and min(routed) >= 0

    eps = probe_plan(Q, C, n_probes=5, epsilon_bp=300, max_probes=7)
    assert _plan_lists(eps) == _inverted(
        probe_clusters_epsilon(Q, C, 300, max_probes=7)
    )

    reps = probe_plan(
        Q, C, epsilon_bp=300, max_probes=7, router=router, router_candidates=10
    )
    assert _plan_lists(reps) == _inverted(
        probe_clusters_epsilon_routed(
            Q, C, router, 300, n_candidates=10, max_probes=7
        )
    )

    floor, cap = budget_probe_clamp(4.0, n)
    bp = fit_epsilon_bp(Q, C, 4.0, min_probes=floor, max_probes=cap)
    budget = probe_plan(Q, C, probe_budget=4.0)
    assert _plan_lists(budget) == _inverted(
        probe_clusters_epsilon(Q, C, bp, max_probes=cap, min_probes=floor)
    )
    for v in budget.values():
        assert v.dtype == np.int64 and (np.diff(v) > 0).all()


def test_ivf_probe_budget_full_fanout_matches_flat(spark, embeddings):
    """ivf_search(probe_budget=n_clusters) must degrade to the exact
    flat result (the fitted epsilon expands until every cluster is
    probed) — the same full-fan-out contract vamana_search pins."""
    from pyspark.sql import functions as F

    from scalablevectorsearch_spark.operators.flat import flat_knn
    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")
    idx = ivf_build(base, n_clusters=8, n_iters=2)
    exact = flat_knn(base, queries, k=5).select("qid", "rank", "neighbor_id")
    budget = ivf_search(idx, queries, k=5, probe_budget=8.0).select(
        "qid", "rank", "neighbor_id"
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, budget.collect()))


def test_ivf_probe_budget_validation(spark, embeddings):
    import pytest as _pytest

    from pyspark.sql import functions as F

    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter(F.col("id") < 5).selectExpr("id as qid", "vector")
    idx = ivf_build(base, n_clusters=8, n_iters=2)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        ivf_search(idx, queries, k=5, probe_budget=4.0, epsilon_bp=100)
    with _pytest.raises(ValueError, match=">= 1"):
        ivf_search(idx, queries, k=5, probe_budget=0.25)


def test_user_max_probes_below_floor_wins(spark, embeddings):
    """An explicit max_probes below the clamp floor is a hard cost
    bound: the floor must yield to it, never extend past it."""
    from pyspark.sql import functions as F

    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")
    idx = ivf_build(base, n_clusters=8, n_iters=2)
    capped = ivf_search(idx, queries, k=5, probe_budget=6.0, max_probes=1)
    # probing exactly 1 cluster per query == fixed n_probes=1
    fixed = ivf_search(idx, queries, k=5, n_probes=1)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, fixed.collect()))
