"""Round-12 regressions (VERDICT r11 task 2): the worker GEMM budget.

Every transient per-chunk block in the graph kernels (dense distance
GEMMs, lazy visit masks, the prune gather tensor) is sized from one
``SVS_GEMM_BUDGET_MB`` byte budget instead of hard-coded cell counts —
so an oversized deliberate run degrades to smaller chunks instead of a
host-OOM SIGKILL ("Python worker exited unexpectedly", the r11 crash
class that killed both scale runs). Chunking is a memory/wall tradeoff
only: results must be bit-identical at any budget.
"""

import importlib
import os

import numpy as np
import pytest

from scalablevectorsearch_spark.operators import vamana_local as vl


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


# ------------------------------------------ r11 task 5: pass-1 window knob


def test_pass1_window_full_equals_default():
    """build_pass1_window == window_size must produce the IDENTICAL
    graph as the default (None): the knob only narrows non-final
    passes, it must not perturb the reference-parity schedule."""
    rng = np.random.default_rng(3)
    X = rng.standard_normal((800, 16)).astype(np.float64)
    p_none = vl.VamanaParams(graph_max_degree=16, window_size=40)
    p_same = vl.VamanaParams(
        graph_max_degree=16, window_size=40, build_pass1_window=40
    )
    g1, e1 = vl.build_graph(X, p_none)
    g2, e2 = vl.build_graph(X, p_same)
    assert e1 == e2
    assert all(np.array_equal(a, b) for a, b in zip(g1, g2))


def test_pass1_window_last_pass_runs_full_window():
    """A narrowed pass 1 still yields a usable graph and the LAST pass
    runs at the full window — recall at a small search window must stay
    close to the full two-pass build (scaffolding, not quality, is what
    pass 1 provides)."""
    rng = np.random.default_rng(5)
    X = rng.standard_normal((1500, 24)).astype(np.float64)
    Q = X[:100]
    gt = np.empty((100, 5), dtype=np.int64)
    d = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    gt = np.argsort(d, axis=1, kind="stable")[:, :5]

    def recall(params):
        g, e = vl.build_graph(X, params)
        ids, _ = vl.search_graph(X, g, e, Q, 5, 12)
        return np.mean(
            [len(np.intersect1d(ids[i], gt[i])) for i in range(100)]
        ) / 5.0

    r_full = recall(vl.VamanaParams(graph_max_degree=16, window_size=40))
    r_half = recall(
        vl.VamanaParams(graph_max_degree=16, window_size=40, build_pass1_window=20)
    )
    assert r_half >= r_full - 0.03, (r_half, r_full)


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


# ------------------------------------- ADVICE r11: precomputed schema check


def test_precomputed_schema_mismatch_raises(spark, embeddings, tmp_path):
    """ADVICE r11 (low): save_index(precomputed=...) must compare the
    on-disk table's schema against the declared DataFrame's — a stale or
    wrong pre-written table fails at save time, not as an opaque
    downstream job error."""
    from scalablevectorsearch_spark.sources.index_store import (
        ManifestError,
        save_index,
    )

    path = str(tmp_path / "idx")
    declared = embeddings.selectExpr("vec_id as id", "embedding as vector")
    # pre-write a WRONG table under the declared name (missing column,
    # different types)
    embeddings.selectExpr("vec_id as id", "label").limit(5).write.mode(
        "overwrite"
    ).parquet(f"{path}/data")
    with pytest.raises(ManifestError, match="does not match"):
        save_index(path, {"data": declared}, "flat_data", precomputed={"data"})

    # matching pre-written table passes and is recorded
    declared.limit(5).write.mode("overwrite").parquet(f"{path}/data")
    manifest = save_index(
        path, {"data": declared}, "flat_data", precomputed={"data"}
    )
    assert set(manifest["tables"]["data"]) == {"id", "vector"}


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
