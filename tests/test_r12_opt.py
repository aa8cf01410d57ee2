"""Round-12 optimization invariants: the batch-ramp build's
reachability guarantee and the collision-free shard partitioning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import scalablevectorsearch_spark.operators.vamana_local as vl
from scalablevectorsearch_spark.operators.vamana import (
    _collision_free_partitions,
    _spark_hash,
)
from scalablevectorsearch_spark.operators.vamana_local import (
    VamanaParams,
    _build_batch_bounds,
    _reachable_mask,
    build_graph,
)


def test_spark_hash_matches_f_hash(spark):
    """The driver-side Murmur3 replica must equal F.hash for INT and
    BIGINT inputs (partition selection silently degrades to the plain
    count if this drifts — catch it loudly instead)."""
    vals = [0, 1, 7, 11, 31, 12206, -3, 2**31 - 1, -(2**31)]
    longs = vals + [2**33 + 5, -(2**34) - 1]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.hash(F.col("v").cast("int")).alias("hi"))
        .collect()
    )
    for r in rows:
        assert _spark_hash(r["v"], is_long=False) == r["hi"], r["v"]
    rows = (
        spark.createDataFrame([(v,) for v in longs], "v long")
        .select("v", F.hash(F.col("v")).alias("hl"))
        .collect()
    )
    for r in rows:
        assert _spark_hash(r["v"], is_long=True) == r["hl"], r["v"]


def test_collision_free_partitions_injective():
    found_injective = 0
    for sp in (8, 16, 32, 64):
        for k in (2, 4, 8, 12, 16):
            if k > sp:
                continue
            n = _collision_free_partitions(k, sp, is_long=False)
            assert sp <= n <= 4 * sp
            bins = {_spark_hash(i, is_long=False) % n for i in range(k)}
            # injective when a count exists in [sp, 4sp]; the graceful
            # fallback (n == sp) is allowed when the scan found none
            if len(bins) == k:
                found_injective += 1
            else:
                assert n == sp, (k, sp, n)
    assert found_injective >= 12  # the scan succeeds for most shapes
    # more shards than partitions: still one shard per partition
    # (sp=4 hashed 8 shards 4/3/1/0 into its partitions)
    n = _collision_free_partitions(8, 4, is_long=False)
    assert n >= 8
    assert len({_spark_hash(i, is_long=False) % n for i in range(8)}) == 8
    # no injective count nearby: the plain cluster-sized count is kept
    assert _collision_free_partitions(100, 32, is_long=False) == 32


def test_layout_one_shard_per_partition(spark, embeddings):
    """End-to-end: a built index's persisted layout holds at most one
    shard group per partition (the doubled-up-kernel stage wall is the
    thing being prevented), and search cogroups stay aligned (exact
    results — covered by the oracle gates — plus no crash here)."""
    from scalablevectorsearch_spark.operators.vamana import vamana_build

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    idx = vamana_build(base, VamanaParams(window_size=40), n_shards=8)
    per_part = (
        idx.layout.select(F.spark_partition_id().alias("p"), "shard_id")
        .groupBy("p")
        .agg(F.countDistinct("shard_id").alias("k"))
        .agg(F.max("k").alias("m"))
        .first()["m"]
    )
    assert per_part == 1
    idx.layout.unpersist()


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


def test_lvq_decoder2_matches_decompress(spark, embeddings):
    """lvq_packed2_col + lvq_decoder2 must reproduce lvq_decompress
    level 2 bit-for-bit (same elementwise IEEE ops)."""
    from scalablevectorsearch_spark.operators.lvq import (
        lvq_compress,
        lvq_decoder2,
        lvq_decompress,
        lvq_packed2_col,
        lvq_train,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    p = lvq_train(base, primary_bits=4, residual_bits=8)
    comp = lvq_compress(base, p)
    ref = (
        lvq_decompress(comp, p, out_col="__rv", level=2)
        .select("id", "__rv")
        .orderBy("id")
        .collect()
    )
    packed = comp.select("id", lvq_packed2_col(p).alias("m")).orderBy("id").collect()
    dec = lvq_decoder2(p)
    M = np.stack([np.asarray(r["m"], dtype=np.float64) for r in packed])
    got = dec(M)
    exp = np.stack([np.asarray(r["__rv"], dtype=np.float64) for r in ref])
    assert np.array_equal(got, exp)


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
        alpha_prune,
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
                exp = alpha_prune(
                    X, int(nodes[i]), pools[i, : lens[i]], pool_d[i, : lens[i]],
                    alpha, 16, distance,
                )
                assert got[i].dtype == np.int64
                assert np.array_equal(got[i], exp), (distance, alpha, i)
