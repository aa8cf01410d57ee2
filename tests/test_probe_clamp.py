"""Probe-count clamping for budget-fitted epsilon probing (r6).

An unclamped budget-fitted epsilon cutoff yields a long-tailed
per-query probe distribution; recall is concave in probes, so the
under-probing tail costs more recall than the over-probing tail buys
(BENCH_HISTORY.jsonl `probe_alloc_coverage` row: on uniform data the
unclamped fit UNDERPERFORMS fixed fan-out at equal mean probes, the
clamped fit matches it). These tests pin the clamp mechanics:
probe_clusters_epsilon / probe_clusters_epsilon_routed min_probes
floors and fit_epsilon_bp's clamp-aware mean.
"""

import numpy as np

from scalablevectorsearch_spark.operators.ivf import (
    fit_epsilon_bp,
    probe_clusters_epsilon,
    probe_clusters_epsilon_routed,
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
