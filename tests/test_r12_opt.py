"""Round-12 optimization invariants: the batch-ramp build's
reachability guarantee."""

import numpy as np
import pytest

from scalablevectorsearch_spark.operators.vamana_local import (
    VamanaParams,
    _build_batch_bounds,
    _reachable_mask,
    build_graph,
)


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
