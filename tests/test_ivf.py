"""IVF + k-means tests (reference parity: bindings/python/tests/test_ivf.py,
tests/svs/core/kmeans.cpp)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search
from scalablevectorsearch_spark.operators.kmeans import (
    assign_clusters,
    cluster_sizes,
    train_kmeans,
)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector", "label")


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 20).selectExpr("id as qid", "vector")


def test_kmeans_deterministic(base):
    m1 = train_kmeans(base, 8, 2)
    m2 = train_kmeans(base, 8, 2)
    assert np.array_equal(m1.centroids, m2.centroids)
    assert m1.centroids.shape[0] == 8


def test_kmeans_assignment_covers_all(base):
    model = train_kmeans(base, 8, 2)
    a = assign_clusters(base, model)
    assert a.count() == base.count()
    sizes = {r["cluster_id"]: r["n_members"] for r in cluster_sizes(a).collect()}
    assert sum(sizes.values()) == base.count()
    assert all(0 <= c < 8 for c in sizes)


def test_kmeans_improves_or_holds_inertia(base, spark):
    """Lloyd never increases the within-cluster sum of squares."""
    import pandas as pd

    V = np.stack(base.select("vector").toPandas()["vector"].to_numpy()).astype(np.float64)

    def inertia(C):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    prev = None
    for iters in (1, 2, 3):
        model = train_kmeans(base, 8, iters)
        cur = inertia(model.centroids)
        if prev is not None:
            assert cur <= prev + 1e-6
        prev = cur


def test_ivf_search_recall_floor(base, queries):
    index = ivf_build(base, 8, 2)
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    res = ivf_search(index, queries, k=10, n_probes=6, distance="l2").select(
        "qid", "neighbor_id"
    )
    matched = res.join(gt, ["qid", "neighbor_id"], "left_semi").count()
    recall = matched / gt.count()
    assert recall >= 0.85, f"ivf recall {recall}"


def test_ivf_full_probe_equals_flat(base, queries):
    """Probing every cluster must reproduce the exact flat result."""
    index = ivf_build(base, 8, 2)
    flat = flat_knn(base, queries, k=5, distance="l2")
    ivf = ivf_search(index, queries, k=5, n_probes=8, distance="l2")
    assert (
        flat.select("qid", "rank", "neighbor_id").exceptAll(
            ivf.select("qid", "rank", "neighbor_id")
        ).count()
        == 0
    )


def test_hierarchical_kmeans_nesting(base):
    from scalablevectorsearch_spark.operators.kmeans import (
        assign_hierarchical,
        train_hierarchical_kmeans,
    )

    parent, children = train_hierarchical_kmeans(base, 4, 3, 2)
    a = assign_hierarchical(base, parent, children)
    assert a.count() == base.count()
    pairs = {(r["parent_cid"], r["child_cid"]) for r in a.collect()}
    valid = {(r["parent_cid"], r["child_cid"]) for r in children.collect()}
    assert pairs <= valid  # every assignment targets an existing child
    # parent assignment consistent with the flat parent model
    from scalablevectorsearch_spark.operators.kmeans import assign_clusters

    flat_pa = {r["id"]: r["cluster_id"] for r in assign_clusters(base, parent).collect()}
    hier_pa = {r["id"]: r["parent_cid"] for r in a.collect()}
    assert flat_pa == hier_pa


def test_ivf_epsilon_probe_superset_recall(base, queries):
    """Inverted-style epsilon selection: a generous epsilon must reach
    at least the recall of a 2-probe search."""
    index = ivf_build(base, 8, 2)
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    fixed = ivf_search(index, queries, k=10, n_probes=2).select("qid", "neighbor_id")
    eps = ivf_search(index, queries, k=10, n_probes=0, epsilon_bp=5000).select(
        "qid", "neighbor_id"
    )
    r_fixed = fixed.join(gt, ["qid", "neighbor_id"], "left_semi").count()
    r_eps = eps.join(gt, ["qid", "neighbor_id"], "left_semi").count()
    assert r_eps >= r_fixed * 0.9


def test_ivf_sq_rerank_recovers_exact_distances(base, queries):
    """k_reorder over int8-quantized storage: candidates come from the
    compressed index, final distances are exact full-precision."""
    from scalablevectorsearch_spark.operators.sq import sq_compress, sq_train

    p = sq_train(base)
    cbase = sq_compress(base, p, "vector", "qvec").select(
        "id", F.col("qvec").alias("vector"), "label"
    )
    index = ivf_build(cbase, 8, 2)
    cq = sq_compress(queries, p, "vector", "qvec").select(
        "qid", F.col("qvec").alias("vector")
    )
    rer = ivf_search(
        index, cq, k=5, n_probes=8, k_reorder=20,
        rerank_base=base.select("id", "vector"), rerank_queries=queries,
    )
    exact = flat_knn(base, queries, k=5, distance="l2")
    j = rer.join(
        exact.select("qid", "neighbor_id", F.col("distance").alias("d_exact")),
        ["qid", "neighbor_id"],
    )
    # every reranked pair that IS a true top-5 pair carries the exact distance
    bad = j.filter(F.abs(F.col("distance") - F.col("d_exact")) > 1e-9).count()
    assert bad == 0
    assert rer.groupBy("qid").count().filter("count != 5").count() == 0


def test_ivf_search_ip(base, queries):
    index = ivf_build(base, 8, 2)
    res = ivf_search(index, queries, k=5, n_probes=8, distance="ip")
    rows = res.collect()
    assert len(rows) == 20 * 5
    # ip is maximized: rank 1 has the highest distance per qid
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["distance"]))
    for ranked in by_qid.values():
        ranked.sort()
        ds = [d for _, d in ranked]
        assert ds == sorted(ds, reverse=True)


def test_custom_distance_k_reorder_raises_value_error(base, queries):
    """A registered custom distance searches IVF, but its exact re-rank
    has no custom kernel (and the executors no registry): k_reorder
    raises a ValueError while the re-rank plan is built instead of
    failing inside its Spark task."""
    from scalablevectorsearch_spark.functions.distances import (
        register_distance,
        unregister_distance,
    )

    register_distance("l1", lambda Q, B: np.abs(Q[:, None, :] - B[None, :, :]).sum(axis=2))
    try:
        index = ivf_build(base, 8, 2)
        assert ivf_search(index, queries, k=5, n_probes=2, distance="l1").count() == 20 * 5
        with pytest.raises(ValueError, match="k_reorder"):
            ivf_search(
                index, queries, k=5, n_probes=2, distance="l1", k_reorder=10,
                rerank_base=base.select("id", "vector"),
            ).collect()
    finally:
        unregister_distance("l1")
