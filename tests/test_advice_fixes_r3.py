"""Epsilon-cutoff (adaptive) shard probing for routed Vamana search,
and the closure / probe-budget fits behind it. The round-3 closure
validation, replica dedup and saved-layout tests live in test_vamana.py
and test_index_store.py."""

import pytest

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)

P8 = VamanaParams(graph_max_degree=8, window_size=20)


def test_epsilon_probing_requires_kmeans_and_excludes_fixed(embeddings):
    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 200"
    )
    queries = base.filter("id < 5").selectExpr("id as qid", "vector")
    hashed = vamana_build(base, P8, n_shards=2)
    with pytest.raises(ValueError, match="kmeans"):
        vamana_search(hashed, queries, k=3, epsilon_bp=1000).collect()
    km = vamana_build(base, P8, n_shards=4, shard_by="kmeans")
    with pytest.raises(ValueError, match="mutually exclusive"):
        vamana_search(km, queries, k=3, epsilon_bp=1000, n_probes=2).collect()


def test_epsilon_probing_recall_at_least_fixed_probe(embeddings):
    """Adaptive (epsilon) probing with a wide cutoff must reach at
    least the recall of a 1-probe fixed search, and a huge epsilon must
    reproduce the full fan-out search exactly (all shards probed)."""
    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 20").selectExpr("id as qid", "vector")
    gt = flat_knn(base, queries, k=5).select("qid", "neighbor_id")
    gt.cache()
    n_gt = gt.count()
    idx = vamana_build(base, P8, n_shards=8, shard_by="kmeans")
    idx.graph.cache().count()

    def rec(**kw):
        r = vamana_search(idx, queries, k=5, search_window_size=20, **kw)
        return (
            r.select("qid", "neighbor_id")
            .join(gt, ["qid", "neighbor_id"], "left_semi")
            .count()
            / n_gt
        )

    assert rec(epsilon_bp=3000) >= rec(n_probes=1)
    # epsilon so large every shard passes the cutoff == full fan-out
    full = sorted(
        map(tuple, vamana_search(idx, queries, k=5, search_window_size=20).collect())
    )
    eps = sorted(
        map(
            tuple,
            vamana_search(
                idx, queries, k=5, search_window_size=20, epsilon_bp=100_000_000
            ).collect(),
        )
    )
    assert eps == full


def test_epsilon_max_probes_caps_fanout(embeddings):
    """max_probes bounds the adaptive fan-out: results equal a fixed
    n_probes=1 search when capped to 1 (the argmin shard always
    satisfies the cutoff and ranks first)."""
    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 800"
    )
    queries = base.filter("id < 10").selectExpr("id as qid", "vector")
    idx = vamana_build(base, P8, n_shards=4, shard_by="kmeans")
    idx.graph.cache().count()
    capped = sorted(
        map(
            tuple,
            vamana_search(
                idx, queries, k=5, search_window_size=20,
                epsilon_bp=100_000_000, max_probes=1,
            ).collect(),
        )
    )
    fixed = sorted(
        map(
            tuple,
            vamana_search(
                idx, queries, k=5, search_window_size=20, n_probes=1
            ).collect(),
        )
    )
    assert capped == fixed


def test_fit_epsilon_bp_hits_probe_budget():
    """fit_epsilon_bp derives basis points from a probe budget: on a
    geometry with well-separated cells the fitted epsilon probes ~the
    budget, and budgets of 1 and n_cells bracket the extremes."""
    import numpy as np

    from scalablevectorsearch_spark.operators.ivf import (
        fit_epsilon_bp,
        probe_clusters_epsilon,
    )

    rng = np.random.default_rng(3)
    C = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]])
    Q = np.concatenate([c + rng.normal(0, 1.5, (50, 2)) for c in C])

    def mean_probes(bp):
        sel = probe_clusters_epsilon(Q, C, bp)
        return float(np.mean([len(s) for s in sel]))

    bp1 = fit_epsilon_bp(Q, C, 1.0)
    assert mean_probes(bp1) <= 1.5
    bp2 = fit_epsilon_bp(Q, C, 2.0)
    assert 1.5 <= mean_probes(bp2) <= 3.0
    bp4 = fit_epsilon_bp(Q, C, 4.0)
    assert mean_probes(bp4) >= 3.5
    assert bp1 <= bp2 <= bp4


def test_fit_closure_bp_hits_storage_budget():
    import numpy as np

    from scalablevectorsearch_spark.operators.ivf import fit_closure_bp

    rng = np.random.default_rng(4)
    C = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]])
    X = np.concatenate([c + rng.normal(0, 2.0, (200, 2)) for c in C])

    def amp(bp):
        from scalablevectorsearch_spark.functions.distances import pairwise_distances

        key = np.floor(pairwise_distances(X, C, "l2") * 1e4 + 0.5).astype(np.int64)
        best = key.min(axis=1, keepdims=True)
        return (key * 10000 <= best * 10000 + np.abs(best) * bp).sum(axis=1).mean()

    bp_low = fit_closure_bp(X, C, 1.1)
    assert amp(bp_low) <= 1.1 + 1e-9
    bp_high = fit_closure_bp(X, C, 2.0)
    assert amp(bp_high) <= 2.0 + 1e-9
    assert amp(bp_high) >= amp(bp_low)
    assert bp_low <= bp_high
    with pytest.raises(ValueError):
        fit_closure_bp(X, C, 0.5)
