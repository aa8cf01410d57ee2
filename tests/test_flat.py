"""Flat exact k-NN vs a numpy brute-force oracle (SURVEY.md §5 layer a)."""

import numpy as np


def test_custom_distance_plugin(spark, embeddings):
    """§2.12 extension surface: a runtime-registered kernel (L1) runs
    inside the distributed flat scan — including on executor workers."""
    from pyspark.sql import functions as SF

    from scalablevectorsearch_spark.functions.distances import (
        register_distance,
        unregister_distance,
    )
    from scalablevectorsearch_spark.operators.flat import flat_knn

    def l1(Q, B):
        return np.abs(Q[:, None, :] - B[None, :, :]).sum(axis=2)

    register_distance("l1", l1, maximize=False)
    try:
        base = embeddings.selectExpr("vec_id as id", "embedding as vector")
        queries = base.filter(SF.col("id") < 5).selectExpr("id as qid", "vector")
        res = flat_knn(base, queries, k=3, distance="l1", round_to=4)
        rows = res.collect()
        assert len(rows) == 15
        # verify against a local L1 computation
        import pandas as pd

        pdf = base.orderBy("id").toPandas()
        X = np.stack(pdf["vector"].to_numpy()).astype(np.float64)
        got = {(r["qid"], r["rank"]): r["neighbor_id"] for r in rows}
        for q in range(5):
            d = np.abs(X - X[q]).sum(axis=1)
            key = np.floor(d * 1e4 + 0.5).astype(np.int64)
            order = np.lexsort((np.arange(len(X)), key))[:3]
            for rank, nid in enumerate(order, 1):
                assert got[(q, rank)] == nid
    finally:
        unregister_distance("l1")
import pytest

from scalablevectorsearch_spark.functions.distances import pairwise_distances
from scalablevectorsearch_spark.operators.flat import flat_knn

K = 10


def _load_np(embeddings):
    pdf = embeddings.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, X


def _oracle(ids, X, qids, Q, distance, k):
    D = pairwise_distances(Q, X, distance)
    key = -D if distance in ("ip", "cosine") else D
    out = {}
    for r, qid in enumerate(qids):
        order = np.lexsort((ids, key[r]))[:k]
        out[qid] = [(int(ids[j]), float(D[r, j])) for j in order]
    return out


@pytest.mark.parametrize("distance", ["l2", "ip", "cosine"])
def test_flat_knn_matches_bruteforce(spark, embeddings, distance):
    ids, X = _load_np(embeddings)
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id as qid", "embedding as vector"
    )
    res = flat_knn(
        embeddings.selectExpr("vec_id as id", "embedding as vector"),
        queries,
        k=K,
        distance=distance,
        round_to=None,
    ).toPandas()

    qids = ids[:20]
    expected = _oracle(ids, X, qids, X[:20], distance, K)
    assert len(res) == 20 * K
    for qid, grp in res.groupby("qid"):
        grp = grp.sort_values("rank")
        got = list(zip(grp["neighbor_id"], grp["distance"]))
        exp = expected[qid]
        assert [g[0] for g in got] == [e[0] for e in exp], f"qid={qid}"
        np.testing.assert_allclose(
            [g[1] for g in got], [e[1] for e in exp], rtol=1e-9, atol=1e-12
        )


def test_flat_knn_self_is_nearest(spark, embeddings):
    queries = embeddings.filter("vec_id < 10").selectExpr(
        "vec_id as qid", "embedding as vector"
    )
    res = (
        flat_knn(
            embeddings.selectExpr("vec_id as id", "embedding as vector"),
            queries,
            k=1,
            distance="l2",
        )
        .toPandas()
        .set_index("qid")
    )
    for qid in range(10):
        assert res.loc[qid, "neighbor_id"] == qid
        assert res.loc[qid, "distance"] == 0.0


def test_flat_knn_filtered(spark, embeddings):
    """Predicate-filtered scan (flat.h:290-295): excluded ids never appear."""
    queries = embeddings.filter("vec_id < 5").selectExpr(
        "vec_id as qid", "embedding as vector"
    )
    res = flat_knn(
        embeddings.selectExpr("vec_id as id", "embedding as vector", "label"),
        queries,
        k=K,
        distance="l2",
        where="label = 3",
    ).toPandas()
    allowed = set(
        r["vec_id"] for r in embeddings.filter("label = 3").select("vec_id").collect()
    )
    assert set(res["neighbor_id"]).issubset(allowed)
    assert (res.groupby("qid").size() == K).all()


def test_chunked_query_blocks_match_single_batch(embeddings):
    """max_query_block partitions the query table into hash blocks, one
    scan per block with eager per-block materialization — results must
    be IDENTICAL to the single-batch plan (same total order, same
    rounding), for every operator offering the chunked path."""
    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 100").selectExpr("id as qid", "vector")

    single = flat_knn(base, queries, k=5).collect()
    chunked = flat_knn(base, queries, k=5, max_query_block=17).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, single))

    idx = ivf_build(base, 8, n_iters=2)
    idx.clustered.cache().count()
    s = ivf_search(idx, queries, k=5, n_probes=8).collect()
    c = ivf_search(idx, queries, k=5, n_probes=8, max_query_block=17).collect()
    assert sorted(map(tuple, c)) == sorted(map(tuple, s))


def test_ragged_base_rows_rejected(spark):
    """Base rows of differing widths raise in the scan kernel instead of
    being reshaped into misaligned rows (widths 3+2+4+3 = 4x3 values
    passed a total-length check)."""
    base = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0, 1.0, 1.0]), (3, [2.0, 2.0, 2.0])],
        "id long, vector array<double>",
    ).coalesce(1)
    q = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "qid long, vector array<double>")
    with pytest.raises(Exception, match="ragged"):
        flat_knn(base, q, k=4).collect()


def _blocked_family(family, base):
    """(search(queries, **kw)) for one index family over ``base``."""
    if family == "flat":
        return lambda q, **kw: flat_knn(base, q, k=5, **kw)
    if family == "ivf":
        from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

        idx = ivf_build(base, 8, n_iters=2)
        return lambda q, **kw: ivf_search(idx, q, k=5, n_probes=3, **kw)
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )

    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    return lambda q, **kw: vamana_search(idx, q, k=5, search_window_size=30, **kw)


@pytest.mark.parametrize("family", ["flat", "ivf", "vamana"])
def test_blocked_search_matches_single_batch(embeddings, family):
    """max_query_block runs one search per hashed query block; the
    union equals the single-batch result for every family. Each block
    is materialized as an eager lineage cut, never a persisted plan:
    the result reads no CacheManager entry, so no block outlives it."""
    base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter("id < 1000")
    queries = base.filter("id < 40").selectExpr("id as qid", "vector")
    search = _blocked_family(family, base)
    single = search(queries).collect()
    out = search(queries, max_query_block=13)
    assert "InMemoryRelation" not in out._jdf.queryExecution().withCachedData().toString()
    blocked = out.collect()
    assert len(single) == 40 * 5
    assert sorted(map(tuple, blocked)) == sorted(map(tuple, single))


def test_search_blocks_collects_block_by_block(spark):
    """A query table larger than max_query_block is still collected
    block by block: each block holds only its own queries, and the
    blocks are disjoint and cover every qid."""
    from scalablevectorsearch_spark.operators.flat import search_blocks

    queries = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(30)], "qid long, vector array<double>"
    )
    blocks = []

    def block_fn(qids, Q):
        assert Q.shape == (len(qids), 2) and (Q[:, 0] == qids).all()
        blocks.append(set(qids.tolist()))
        cands = spark.createDataFrame(
            [(int(i), int(i), 0.0) for i in qids], "qid long, neighbor_id long, distance double"
        )
        return cands, spark.sparkContext.broadcast(None)

    out = search_blocks(queries, "qid", "vector", 1, False, block_fn, max_query_block=7)
    assert 2 <= len(blocks) <= 5
    assert sum(map(len, blocks)) == 30 and set().union(*blocks) == set(range(30))
    assert sorted(r["qid"] for r in out.collect()) == list(range(30))


def test_merge_partitions_sizing(spark):
    from scalablevectorsearch_spark.operators.topk import merge_partitions

    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert merge_partitions(1000, 10, spark) == 1
    assert merge_partitions(0, 10, spark) == 1
    # huge group counts degrade to the session default, never beyond
    assert merge_partitions(10**9, 10, spark) == sp


def test_topk_num_partitions_identical_results(spark):
    from scalablevectorsearch_spark.operators.topk import topk_per_group

    rng = np.random.RandomState(7)
    rows = [
        (int(i % 17), float(rng.randint(0, 50)), int(i)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g long, v double, i long")
    base = sorted(
        map(tuple, topk_per_group(df, "g", "v", 5, tie_col="i").collect())
    )
    for n in (1, 3):
        got = sorted(
            map(
                tuple,
                topk_per_group(
                    df, "g", "v", 5, tie_col="i", num_partitions=n
                ).collect(),
            )
        )
        assert got == base
