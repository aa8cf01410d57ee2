"""Centroid router (Vamana over centroids — the two-level Inverted
primary-index design, clustering.h:786-809): probe recall vs the exact
argmin selection, lazy-traversal equivalence, and routed end-to-end
search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.ivf import probe_clusters
from scalablevectorsearch_spark.operators.router import (
    CentroidRouter,
    build_centroid_router,
    route,
)
from scalablevectorsearch_spark.operators.vamana_local import (
    LAZY_N,
    VamanaParams,
    batch_greedy_search,
    build_graph,
)
from vamana_reference import greedy_search as reference_greedy_search


def _fixture_xq(embeddings, n_q=20):
    pdf = embeddings.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return X, X[:n_q]


def test_lazy_greedy_search_matches_dense(embeddings):
    """lazy=True must visit the identical path (distances only differ in
    when they are computed, not in value)."""
    X, Q = _fixture_xq(embeddings)
    graph, entry = build_graph(X[:200], VamanaParams(window_size=32), "l2")
    dense = batch_greedy_search(X[:200], graph, [entry], Q[:5], 16, "l2")
    lazy = batch_greedy_search(X[:200], graph, [entry], Q[:5], 16, "l2", lazy=True)
    for ids_d, d_d, ids_l, d_l in zip(*dense, *lazy):
        np.testing.assert_array_equal(ids_d, ids_l)
        # atol covers representable jitter: the dense GEMM and the lazy
        # gemv accumulate the same dot products in a different order
        np.testing.assert_allclose(d_d, d_l, atol=1e-12)


@pytest.mark.parametrize("distance", ["l2", "ip", "cosine"])
@pytest.mark.parametrize("n_clusters", [512, LAZY_N + 512])
def test_route_equals_per_query_traversal(distance, n_clusters):
    """route searches the whole query block in one search_graph call —
    dense distances up to LAZY_N centroids, lazy above. Each row must be
    the first n_probes ids of the one-query traversal at the same window
    and capacity."""
    rng = np.random.default_rng(5)
    C = rng.normal(size=(n_clusters, 8))
    # a ring (every cluster reachable from any entry) plus random edges
    graph = []
    for u in range(n_clusters):
        nb = np.r_[(u + 1) % n_clusters, rng.choice(n_clusters, 7, replace=False)]
        graph.append(np.unique(nb[nb != u]).astype(np.int64))
    params = VamanaParams(window_size=24)
    router = CentroidRouter(C, graph, 0, distance, params)
    Q = rng.normal(size=(40, 8))
    n_probes = 6
    got = route(router, Q, n_probes)
    sws = max(2 * n_probes, params.window_size)
    for qi in range(len(Q)):
        ids, _ = reference_greedy_search(
            C, graph, [0], Q[qi], sws, distance,
            capacity=max(sws, n_probes), lazy=True,
        )
        np.testing.assert_array_equal(got[qi], ids[:n_probes])


def test_router_probe_recall_vs_exact(embeddings):
    """Routed probes must overlap the exact n_probes selection heavily;
    the top-1 cluster must virtually always be found (entry-point
    quality of a connected Vamana over a few hundred centroids)."""
    X, Q = _fixture_xq(embeddings, n_q=50)
    # treat 128 base rows as "centroids" to get a non-trivial C
    C = X[:128]
    router = build_centroid_router(C, distance="l2")
    exact = probe_clusters(Q, C, 8, "l2")
    routed = route(router, Q, 8)
    assert routed.shape == exact.shape
    overlap = np.mean(
        [len(np.intersect1d(exact[i], routed[i])) / 8 for i in range(len(Q))]
    )
    assert overlap >= 0.9, f"probe overlap {overlap:.3f} < 0.9"
    top1 = np.mean([exact[i, 0] in routed[i] for i in range(len(Q))])
    assert top1 >= 0.95, f"top-1 cluster recall {top1:.3f}"


def test_router_pads_degenerate_small_c():
    C = np.array([[0.0, 0.0], [10.0, 10.0], [20.0, 20.0]])
    router = build_centroid_router(C, distance="l2")
    probes = route(router, np.array([[0.1, 0.1]]), 3)
    assert sorted(probes[0].tolist()) == [0, 1, 2]


def test_router_model_input_and_validation():
    with pytest.raises(ValueError):
        build_centroid_router(np.zeros((0, 4)))

    class M:  # KMeansModel-shaped
        centroids = np.random.RandomState(0).randn(16, 8)

    r = build_centroid_router(M())
    assert r.n_clusters == 16


def test_vamana_search_routed_via_router(spark, embeddings):
    """End-to-end: kmeans-sharded vamana searched with router-selected
    probes returns well-formed top-k with decent recall vs exact flat."""
    from scalablevectorsearch_spark.operators.flat import flat_knn
    from scalablevectorsearch_spark.operators.vamana import (
        vamana_build,
        vamana_search,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter(F.col("id") < 20).selectExpr("id as qid", "vector")
    idx = vamana_build(
        base, VamanaParams(window_size=40), n_shards=8, shard_by="kmeans"
    )
    idx.graph.cache().count()
    router = build_centroid_router(idx.shard_model, distance="l2")
    res = vamana_search(
        idx, queries, k=5, search_window_size=20, n_probes=4, router=router
    ).toPandas()
    assert set(res.columns) == {"qid", "rank", "neighbor_id", "distance"}
    assert res.groupby("qid").size().max() <= 5

    exact = flat_knn(base, queries, k=5).toPandas()
    hits = res.merge(exact, on=["qid", "neighbor_id"]).shape[0]
    recall = hits / len(exact)
    assert recall >= 0.5, f"routed recall {recall:.2f}"


def test_epsilon_routed_composition_subset_and_recall(embeddings):
    """probe_clusters_epsilon_routed = router-proposed candidates +
    epsilon refinement: every selected cluster must be a routed
    candidate AND satisfy the cutoff among candidates; with a huge
    candidate budget it converges to plain epsilon probing."""
    import numpy as np

    from scalablevectorsearch_spark.operators.ivf import (
        probe_clusters_epsilon,
        probe_clusters_epsilon_routed,
    )
    from scalablevectorsearch_spark.operators.kmeans import train_kmeans
    from scalablevectorsearch_spark.operators.router import build_centroid_router, route

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    model = train_kmeans(base, 16, 2)
    router = build_centroid_router(model, distance="l2")
    Q = np.stack(
        base.filter("id < 20").toPandas()["vector"].to_numpy()
    ).astype(np.float64)

    sel_routed = probe_clusters_epsilon_routed(
        Q, model.centroids, router, epsilon_bp=500, n_candidates=8
    )
    cand = route(router, Q, 8)
    for qi, s in enumerate(sel_routed):
        assert set(s.tolist()) <= {int(c) for c in cand[qi] if c >= 0}
        assert len(s) >= 1
    # candidate budget == C -> proposals cover everything the exact
    # epsilon cutoff would keep (router recall at full window = 1 on
    # this small C), so the two selections agree
    sel_full = probe_clusters_epsilon_routed(
        Q, model.centroids, router, epsilon_bp=500, n_candidates=16
    )
    sel_exact = probe_clusters_epsilon(Q, model.centroids, 500)
    agree = sum(
        set(a.tolist()) == set(b.tolist()) for a, b in zip(sel_full, sel_exact)
    )
    assert agree >= len(sel_exact) * 0.8, f"only {agree}/{len(sel_exact)} agree"


def test_vamana_search_epsilon_composes_with_router(embeddings):
    from scalablevectorsearch_spark.operators.router import build_centroid_router
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 10").selectExpr("id as qid", "vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20),
        n_shards=8, shard_by="kmeans",
    )
    idx.graph.cache().count()
    router = build_centroid_router(idx.shard_model, distance="l2")
    res = vamana_search(
        idx, queries, k=5, search_window_size=20, epsilon_bp=2000, router=router
    )
    assert res.count() == 50
    dup = res.groupBy("qid", "neighbor_id").count().filter("count > 1").count()
    assert dup == 0
