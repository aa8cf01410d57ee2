"""Vamana tests (reference parity: tests/svs/index/vamana/,
examples/python/example_vamana.py recall-curve gates)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    graph_degree_stats,
    vamana_build,
    vamana_search,
)
from scalablevectorsearch_spark.operators.vamana_local import (
    alpha_prune,
    batch_greedy_search,
    build_graph,
    medioid,
)

P8 = VamanaParams(graph_max_degree=8, window_size=20)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector")


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 20).selectExpr("id as qid", "vector")


@pytest.fixture(scope="module")
def index(base):
    return vamana_build(
        base, VamanaParams(alpha=1.2, graph_max_degree=16, window_size=50), n_shards=2
    )


def test_local_medioid_ties_to_smallest():
    X = np.zeros((4, 3))
    assert medioid(X) == 0


def test_local_alpha_prune_keeps_nearest():
    rng = np.random.default_rng(0)
    X = rng.normal(size=(50, 8))
    d = ((X - X[0]) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(50), d))
    pool = order[order != 0]
    kept = alpha_prune(X, 0, pool, d[pool], alpha=1.2, max_result=8)
    assert len(kept) <= 8
    assert kept[0] == pool[0]  # nearest always kept first


def test_local_greedy_search_finds_nn():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(300, 16))
    graph, entry = build_graph(X, VamanaParams(graph_max_degree=16, window_size=40))
    d = ((X - X[7]) ** 2).sum(axis=1)
    true_nn = np.argsort(d)[:5]
    ids, _ = batch_greedy_search(X, graph, [entry], X[7][None, :], 40)
    ids = ids[0]
    assert len(set(ids[:5]) & set(true_nn)) >= 4


def test_graph_respects_max_degree(index):
    params_deg = index.params.graph_max_degree
    max_deg = index.graph.select(F.max(F.size("neighbors"))).collect()[0][0]
    assert max_deg <= params_deg
    # one entry point per shard
    entries = index.graph.filter("is_entry").groupBy("shard_id").count().collect()
    assert all(r["count"] == 1 for r in entries)
    assert len(entries) == index.n_shards


def test_vamana_recall_floor(base, queries, index):
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    res = vamana_search(index, queries, k=10, search_window_size=30).select(
        "qid", "neighbor_id"
    )
    matched = res.join(gt, ["qid", "neighbor_id"], "left_semi").count()
    recall = matched / gt.count()
    assert recall >= 0.80, f"vamana recall {recall}"


def test_vamana_recall_monotone_in_window(base, queries, index):
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    gt.cache()
    recalls = []
    for sws in (10, 40):
        res = vamana_search(index, queries, k=10, search_window_size=sws).select(
            "qid", "neighbor_id"
        )
        matched = res.join(gt, ["qid", "neighbor_id"], "left_semi").count()
        recalls.append(matched / gt.count())
    assert recalls[-1] >= recalls[0] - 0.02, f"recall curve {recalls}"


def test_routed_clustered_shards(base, queries):
    """SPANN-style: kmeans shards + n_probes routing. Probing all shards
    matches the recall of the unrouted search; probing fewer trades
    recall for compute but stays above a floor."""
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=16, window_size=50),
        n_shards=4, shard_by="kmeans",
    )
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    gt.cache()

    full = vamana_search(idx, queries, k=10, search_window_size=30).select(
        "qid", "neighbor_id"
    )
    r_full = full.join(gt, ["qid", "neighbor_id"], "left_semi").count() / gt.count()

    routed_all = vamana_search(
        idx, queries, k=10, search_window_size=30, n_probes=4
    ).select("qid", "neighbor_id")
    r_all = routed_all.join(gt, ["qid", "neighbor_id"], "left_semi").count() / gt.count()
    assert abs(r_all - r_full) < 1e-9  # probing every shard == no routing

    routed_2 = vamana_search(
        idx, queries, k=10, search_window_size=30, n_probes=2
    ).select("qid", "neighbor_id")
    r2 = routed_2.join(gt, ["qid", "neighbor_id"], "left_semi").count() / gt.count()
    assert r2 >= 0.6, f"routed recall {r2}"


def test_routing_requires_kmeans_shards(base, queries, index):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="kmeans-sharded"):
        vamana_search(index, queries, k=5, n_probes=2).collect()


def test_probe_arguments_checked_before_any_job(spark, queries, index):
    """An invalid probe argument fails at vamana_search's front door,
    before the query batch is collected: no Spark job starts."""
    sc = spark.sparkContext
    group = "test-probe-front-door"
    sc.setJobGroup(group, "invalid probe arguments")
    try:
        with pytest.raises(
            ValueError, match="epsilon_bp routing requires a kmeans-sharded index"
        ):
            vamana_search(index, queries, k=5, epsilon_bp=100)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


@pytest.mark.parametrize("entry", ["ivf_search", "vamana_search"])
@pytest.mark.parametrize(
    "bad,name",
    [
        ({"n_probes": 0}, "n_probes"),
        ({"n_probes": -1}, "n_probes"),
        ({"epsilon_bp": -1}, "epsilon_bp"),
        ({"epsilon_bp": 100, "max_probes": 0}, "max_probes"),
    ],
)
def test_probe_values_checked_before_any_job(spark, base, queries, index, entry, bad, name):
    """n_probes < 1, epsilon_bp < 0 and max_probes < 1 fail at the front
    door of ivf_search and vamana_search with a ValueError naming the
    argument, before any Spark job starts (a negative n_probes used to
    drop the farthest cells silently, a zero one returned no rows)."""
    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    if entry == "ivf_search":
        search, target = ivf_search, ivf_build(base, 4, 2)
    else:
        search, target = vamana_search, index
    sc = spark.sparkContext
    group = "test-probe-values-front-door"
    sc.setJobGroup(group, "invalid probe values")
    try:
        with pytest.raises(ValueError, match=f"^{name} must be >= "):
            search(target, queries, k=5, **bad)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_routed_default_is_half_budget_epsilon(base, queries):
    """vamana_search(router=...) with no probe argument must resolve to
    budget-fitted epsilon probing at probe_budget = n_shards/2 — the r6
    routed default (reference two-level Inverted: memory_based.h:508).
    Pinned by result identity with the explicit call (fit_epsilon_bp is
    deterministic given the query block)."""
    from scalablevectorsearch_spark.operators.router import build_centroid_router

    idx = vamana_build(
        base, VamanaParams(graph_max_degree=16, window_size=50),
        n_shards=4, shard_by="kmeans",
    )
    router = build_centroid_router(idx.shard_model, distance="l2")
    default = vamana_search(
        idx, queries, k=10, search_window_size=30, router=router
    ).collect()
    explicit = vamana_search(
        idx, queries, k=10, search_window_size=30, router=router,
        probe_budget=idx.n_shards / 2,
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, explicit))


def test_probe_budget_validation(base, queries):
    import pytest as _pytest

    idx = vamana_build(
        base, VamanaParams(graph_max_degree=16, window_size=50),
        n_shards=4, shard_by="kmeans",
    )
    with _pytest.raises(ValueError, match="mutually exclusive"):
        vamana_search(idx, queries, k=5, probe_budget=2.0, n_probes=2)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        vamana_search(idx, queries, k=5, probe_budget=2.0, epsilon_bp=100)
    with _pytest.raises(ValueError, match=">= 1"):
        vamana_search(idx, queries, k=5, probe_budget=0.5)


def test_probe_budget_full_fanout_matches_unrouted(base, queries):
    """probe_budget = n_shards must degrade to the full fan-out result
    (epsilon grows until every shard is probed)."""
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=16, window_size=50),
        n_shards=4, shard_by="kmeans",
    )
    full = vamana_search(idx, queries, k=10, search_window_size=30).collect()
    budget = vamana_search(
        idx, queries, k=10, search_window_size=30, probe_budget=4.0
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, budget))


def test_vamana_build_deterministic(base):
    p = VamanaParams(graph_max_degree=8, window_size=20)
    g1 = vamana_build(base, p, n_shards=2).graph.orderBy("src").collect()
    g2 = vamana_build(base, p, n_shards=2).graph.orderBy("src").collect()
    assert [(r["src"], r["neighbors"]) for r in g1] == [
        (r["src"], r["neighbors"]) for r in g2
    ]


def test_degree_stats(index):
    stats = graph_degree_stats(index.graph)
    total = stats.agg(F.sum("n_nodes")).collect()[0][0]
    assert total == index.base.count()


def test_exhaustive_window_equals_flat(spark, embeddings):
    """Metamorphic: window >= shard size => greedy expands every
    (connected) shard graph, so vamana_search must reproduce exact flat
    k-NN including rank order and tie-breaks."""
    from scalablevectorsearch_spark.operators.flat import flat_knn

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    q = base.filter(F.col("id") < 30).selectExpr("id as qid", "vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=16, window_size=50), n_shards=4
    )
    via_graph = sorted(
        (r["qid"], r["rank"], r["neighbor_id"])
        for r in vamana_search(idx, q, k=7, search_window_size=4096).collect()
    )
    exact = sorted(
        (r["qid"], r["rank"], r["neighbor_id"])
        for r in flat_knn(base, q, k=7).collect()
    )
    assert via_graph == exact


def test_full_search_history_build(spark, embeddings):
    """use_full_search_history=True (the reference default,
    preprocessor.h:181) prunes against every visited node; the build
    stays deterministic and searches stay sane."""
    import numpy as np

    from scalablevectorsearch_spark.operators.vamana_local import (
        batch_greedy_search,
        build_graph,
    )

    pdf = embeddings.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    P = VamanaParams(
        graph_max_degree=8, window_size=20, use_full_search_history=True
    )
    g1, e1 = build_graph(X, P, "l2")
    g2, e2 = build_graph(X, P, "l2")
    assert e1 == e2 and all(np.array_equal(a, b) for a, b in zip(g1, g2))
    assert max(len(a) for a in g1) <= 8
    # tracked history is a sorted superset of the returned buffer
    bids, _, (offs, vids, vds) = batch_greedy_search(
        X, g1, [e1], X[:10], 15, "l2", track=True
    )
    for qi in range(10):
        seg = vids[offs[qi]:offs[qi + 1]]
        assert set(bids[qi][bids[qi] >= 0]) <= set(seg.tolist())
        assert np.all(np.diff(vds[offs[qi]:offs[qi + 1]]) >= 0)


def test_vamana_chunked_query_blocks_match(embeddings):
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 1000"
    )
    queries = base.filter("id < 60").selectExpr("id as qid", "vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    idx.graph.cache().count()
    s = vamana_search(idx, queries, k=5, search_window_size=30).collect()
    c = vamana_search(
        idx, queries, k=5, search_window_size=30, max_query_block=13
    ).collect()
    assert sorted(map(tuple, c)) == sorted(map(tuple, s))


def test_closure_assignment_lifts_routed_recall(embeddings):
    """SPANN closure assignment: replicating boundary vectors into every
    cell within (1+eps) of their nearest centroid must (a) never emit
    duplicate neighbors after the merge dedup, (b) at a fixed probe
    count reach at least the recall of the non-closure index, and (c)
    strictly enlarge the layout (replicas exist)."""
    from scalablevectorsearch_spark.operators.flat import flat_knn
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 20").selectExpr("id as qid", "vector")
    p = VamanaParams(graph_max_degree=8, window_size=20)
    gt = flat_knn(base, queries, k=5).select("qid", "neighbor_id")
    gt.cache()
    n_gt = gt.count()

    plain = vamana_build(base, p, n_shards=8, shard_by="kmeans")
    closure = vamana_build(base, p, n_shards=8, shard_by="kmeans", closure_bp=3000)
    assert closure.layout.count() > plain.layout.count(), "no replicas created"

    def rec(idx):
        r = vamana_search(idx, queries, k=5, search_window_size=20, n_probes=2)
        dup = r.groupBy("qid", "neighbor_id").count().filter("count > 1").count()
        assert dup == 0, "duplicate neighbors leaked through the merge"
        return (
            r.select("qid", "neighbor_id").join(gt, ["qid", "neighbor_id"], "left_semi").count()
            / n_gt
        )

    r_plain, r_closure = rec(plain), rec(closure)
    assert r_closure >= r_plain, (r_plain, r_closure)


def test_closure_survives_save_load(embeddings, tmp_path):
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )
    from scalablevectorsearch_spark.sources.index_store import (
        load_vamana,
        save_vamana,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 300"
    )
    queries = base.filter("id < 10").selectExpr("id as qid", "vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=4,
        shard_by="kmeans", closure_bp=3000,
    )
    want = sorted(
        map(tuple, vamana_search(idx, queries, k=5, search_window_size=20).collect())
    )
    path = str(tmp_path / "closure_idx")
    save_vamana(idx, path)
    spark = base.sparkSession
    loaded = load_vamana(spark, path)
    assert loaded.closure_bp == 3000
    got = sorted(
        map(tuple, vamana_search(loaded, queries, k=5, search_window_size=20).collect())
    )
    assert got == want


@pytest.mark.parametrize("n_shards", [8, 16])
def test_layout_one_shard_per_partition(spark, base, n_shards):
    """A built index's persisted layout holds exactly one shard group
    per partition, also with more shards than shuffle partitions (two
    shards in one task would run their graph builds in sequence)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        idx = vamana_build(base, VamanaParams(window_size=40), n_shards=n_shards)
        per_part = (
            idx.layout.select(F.spark_partition_id().alias("p"), "shard_id")
            .groupBy("p")
            .agg(F.countDistinct("shard_id").alias("k"))
            .collect()
        )
        assert len(per_part) == n_shards
        assert all(r["k"] == 1 for r in per_part)
        idx.layout.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_closure_bp_must_be_positive(embeddings):
    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 200"
    )
    with pytest.raises(ValueError, match="positive"):
        vamana_build(base, P8, n_shards=4, shard_by="kmeans", closure_bp=-100)
    with pytest.raises(ValueError, match="positive"):
        vamana_build(base, P8, n_shards=4, shard_by="kmeans", closure_bp=0)
    # hash sharding still rejects closure outright
    with pytest.raises(ValueError, match="kmeans"):
        vamana_build(base, P8, n_shards=4, closure_bp=100)


def test_closure_dedup_deterministic_best_distance(embeddings):
    """The replica collapse must keep the BEST distance per
    (qid, neighbor_id): results must exactly match what an identical
    search returns (stable across plan re-executions) and contain no
    duplicates."""
    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 500"
    )
    queries = base.filter("id < 10").selectExpr("id as qid", "vector")
    idx = vamana_build(base, P8, n_shards=4, shard_by="kmeans", closure_bp=3000)
    idx.graph.cache().count()
    a = sorted(map(tuple, vamana_search(idx, queries, k=5, search_window_size=20).collect()))
    b = sorted(map(tuple, vamana_search(idx, queries, k=5, search_window_size=20).collect()))
    assert a == b
    qn = {(r[0], r[2]) for r in a}
    assert len(qn) == len(a), "duplicate (qid, neighbor) after dedup"


def test_vamana_build_accepts_pretrained_shard_model(embeddings):
    """Passing a pre-trained KMeansModel must produce the identical
    index (deterministic retrain skipped, layout/graph equal)."""
    from scalablevectorsearch_spark.operators.kmeans import train_kmeans

    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
        "id < 400"
    )
    model = train_kmeans(base, 4, 2)
    a = vamana_build(base, P8, n_shards=4, shard_by="kmeans")
    b = vamana_build(base, P8, n_shards=4, shard_by="kmeans", shard_model=model)
    la = sorted(map(tuple, a.layout.select("shard_id", "__id").collect()))
    lb = sorted(map(tuple, b.layout.select("shard_id", "__id").collect()))
    assert la == lb
    ga = sorted(map(tuple, a.graph.select("shard_id", "src", "neighbors").collect()))
    gb = sorted(map(tuple, b.graph.select("shard_id", "src", "neighbors").collect()))
    assert ga == gb
    with pytest.raises(ValueError, match="centroids"):
        vamana_build(base, P8, n_shards=8, shard_by="kmeans", shard_model=model)
    with pytest.raises(ValueError, match="kmeans"):
        vamana_build(base, P8, n_shards=4, shard_model=model)
