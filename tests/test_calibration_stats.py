"""Calibration cost decomposition + sample-groundtruth caching.

The r8 1e8-row run recorded 1355.6s for the calibrated search vs 92.0s
plain — almost all of it the ONE-TIME exact groundtruth scan plus the
fit evals, not per-query serve cost. target_recall= searches now emit
that split ({gt_sec, gt_cached, fit_sec, fit_evals, ...}) and cache the
sample groundtruth on the index (the gt-file-beside-the-manifest
analog), so a re-calibration on the same index skips the exact scan.
"""

import pytest

from scalablevectorsearch_spark.operators import flat as flat_mod
from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)

PARAMS = VamanaParams(graph_max_degree=24, window_size=24)


@pytest.fixture(scope="module")
def cbase(spark, embeddings):
    base = embeddings.selectExpr(
        "vec_id as id", "embedding as vector", "label"
    ).limit(700).cache()
    base.count()
    yield base
    base.unpersist()


@pytest.fixture(scope="module")
def cqueries(embeddings):
    return embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(12)


def _counting_flat_knn(monkeypatch):
    calls = {"n": 0}
    orig = flat_mod.flat_knn

    def wrapper(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(flat_mod, "flat_knn", wrapper)
    return calls


def test_ivf_stats_and_gt_cache(cbase, cqueries, monkeypatch):
    calls = _counting_flat_knn(monkeypatch)
    index = ivf_build(cbase, 8, 2)
    s1, s2 = {}, {}
    r1 = ivf_search(
        index, cqueries, k=5, target_recall=0.9, calibration_queries=8,
        calibration_stats=s1,
    ).collect()
    assert calls["n"] == 1  # exactly one exact gt scan
    assert s1["gt_cached"] is False
    for key in ("gt_sec", "fit_sec", "fit_evals", "fitted_budget", "fit_recall"):
        assert key in s1
    assert s1["fit_evals"] >= 1
    r2 = ivf_search(
        index, cqueries, k=5, target_recall=0.9, calibration_queries=8,
        calibration_stats=s2,
    ).collect()
    assert calls["n"] == 1  # second calibrate call skipped the gt scan
    assert s2["gt_cached"] is True
    assert s2["fitted_budget"] == s1["fitted_budget"]
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    # a different k is a different groundtruth -> cache miss
    s3 = {}
    ivf_search(
        index, cqueries, k=3, target_recall=0.9, calibration_queries=8,
        calibration_stats=s3,
    ).collect()
    assert calls["n"] == 2
    assert s3["gt_cached"] is False


def test_ivf_where_keyed_separately(cbase, cqueries, monkeypatch):
    calls = _counting_flat_knn(monkeypatch)
    index = ivf_build(cbase, 8, 2)
    sa, sb, sc = {}, {}, {}
    ivf_search(
        index, cqueries, k=5, target_recall=0.85, calibration_queries=8,
        where="label = 1", calibration_stats=sa,
    ).collect()
    ivf_search(
        index, cqueries, k=5, target_recall=0.85, calibration_queries=8,
        where="label = 2", calibration_stats=sb,
    ).collect()
    ivf_search(
        index, cqueries, k=5, target_recall=0.85, calibration_queries=8,
        where="label = 1", calibration_stats=sc,
    ).collect()
    assert calls["n"] == 2  # label=1 reused, label=2 fresh
    assert (sa["gt_cached"], sb["gt_cached"], sc["gt_cached"]) == (
        False, False, True,
    )


def test_ivf_explicit_groundtruth_skips_cache(cbase, cqueries, monkeypatch):
    calls = _counting_flat_knn(monkeypatch)
    index = ivf_build(cbase, 8, 2)
    gt = flat_mod.flat_knn(
        cbase.select("id", "vector"), cqueries, k=5, distance="l2", round_to=4
    )
    calls["n"] = 0
    s = {}
    ivf_search(
        index, cqueries, k=5, target_recall=0.9, calibration_queries=8,
        calibration_groundtruth=gt, calibration_stats=s,
    ).collect()
    assert calls["n"] == 0  # no internal gt scan at all
    assert s["gt_cached"] is False
    assert len(index.cal_cache) == 0


def test_vamana_stats_and_gt_cache(cbase, cqueries, monkeypatch):
    calls = _counting_flat_knn(monkeypatch)
    base = cbase.select("id", "vector")
    index = vamana_build(base, PARAMS, n_shards=4, shard_by="kmeans")
    s1, s2 = {}, {}
    r1 = vamana_search(
        index, cqueries, k=5, search_window_size=64, target_recall=0.8,
        calibration_queries=8, calibration_stats=s1,
    ).collect()
    n_after_first = calls["n"]
    assert n_after_first == 1
    assert s1["gt_cached"] is False and s1["fit_evals"] >= 1
    r2 = vamana_search(
        index, cqueries, k=5, search_window_size=64, target_recall=0.8,
        calibration_queries=8, calibration_stats=s2,
    ).collect()
    assert calls["n"] == n_after_first
    assert s2["gt_cached"] is True
    assert s2["fitted_budget"] == s1["fitted_budget"]
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    index.layout.unpersist()


def test_vamana_where_cached(cbase, cqueries, monkeypatch):
    calls = _counting_flat_knn(monkeypatch)
    index = vamana_build(
        cbase, PARAMS, n_shards=4, shard_by="kmeans"
    )
    s1, s2 = {}, {}
    vamana_search(
        index, cqueries, k=5, search_window_size=4096, target_recall=0.9,
        calibration_queries=8, where="label = 1", calibration_stats=s1,
    ).collect()
    vamana_search(
        index, cqueries, k=5, search_window_size=4096, target_recall=0.9,
        calibration_queries=8, where="label = 1", calibration_stats=s2,
    ).collect()
    assert calls["n"] == 1
    assert s1["gt_cached"] is False and s2["gt_cached"] is True
    index.layout.unpersist()


# ---- calibration_margin: sampling-aware fit targets ----
# An exact sample fit is a coin flip on whether the POPULATION clears
# the target (measured: 0.90 fitted on 32 qids served 0.8712 on 500 at
# 1e8 rows). margined_target widens the fit target by the sample CI.


def test_margined_target_formula():
    import math

    from scalablevectorsearch_spark.operators.calibrate import margined_target

    assert margined_target(0.9, None, 10, 32) == 0.9
    want = 0.9 + 1.6449 * math.sqrt(0.9 * 0.1 / 320)
    assert abs(margined_target(0.9, "ci", 10, 32) - want) < 1e-12
    assert margined_target(0.9, 0.05, 10, 32) == pytest.approx(0.95)
    # capped so a high target still admits a feasible budget
    assert margined_target(0.999, "ci", 10, 32) == 0.999
    assert margined_target(0.99, 0.5, 10, 32) == 0.999
    # ...but never BELOW the user's own target (a margin must not
    # weaken the fit relative to margin=None)
    assert margined_target(0.9995, "ci", 10, 32) >= 0.9995
    assert margined_target(0.9995, 0.1, 10, 32) >= 0.9995
    with pytest.raises(ValueError):
        margined_target(0.9, -0.01, 10, 32)
    with pytest.raises(ValueError):
        margined_target(0.9, "bogus", 10, 32)
    with pytest.raises(ValueError):
        margined_target(0.9, True, 10, 32)


def test_ivf_margin_widens_fit_target(cbase, cqueries):
    index = ivf_build(cbase, 8, 2)
    s_plain, s_ci, s_fix = {}, {}, {}
    ivf_search(
        index, cqueries, k=5, target_recall=0.8, calibration_queries=8,
        calibration_stats=s_plain, calibration_margin=None,
    ).collect()
    ivf_search(
        index, cqueries, k=5, target_recall=0.8, calibration_queries=8,
        calibration_stats=s_ci, calibration_margin="ci",
    ).collect()
    ivf_search(
        index, cqueries, k=5, target_recall=0.8, calibration_queries=8,
        calibration_stats=s_fix, calibration_margin=0.1,
    ).collect()
    assert s_plain["fit_target"] == 0.8
    import math

    assert s_ci["fit_target"] == pytest.approx(
        0.8 + 1.6449 * math.sqrt(0.8 * 0.2 / 40)
    )
    assert s_fix["fit_target"] == pytest.approx(0.9)
    # a wider target never fits a smaller budget (monotone grid search)
    assert s_ci["fitted_budget"] >= s_plain["fitted_budget"]
    assert s_fix["fitted_budget"] >= s_plain["fitted_budget"]
    # the second/third calls reuse the cached sample groundtruth — the
    # margin changes only the fit loop, not the gt key
    assert s_ci["gt_cached"] is True and s_fix["gt_cached"] is True


def test_vamana_margin_widens_fit_target(cbase, cqueries):
    base = cbase.select("id", "vector")
    index = vamana_build(base, PARAMS, n_shards=4, shard_by="kmeans")
    s_plain, s_ci = {}, {}
    vamana_search(
        index, cqueries, k=5, search_window_size=64, target_recall=0.75,
        calibration_queries=8, calibration_stats=s_plain,
        calibration_margin=None,
    ).collect()
    vamana_search(
        index, cqueries, k=5, search_window_size=64, target_recall=0.75,
        calibration_queries=8, calibration_stats=s_ci,
        calibration_margin="ci",
    ).collect()
    assert s_plain["fit_target"] == 0.75
    assert s_ci["fit_target"] > 0.75
    assert s_ci["fitted_budget"] >= s_plain["fitted_budget"]
    index.layout.unpersist()


def test_vamana_where_scan_released_when_fit_eval_raises(
    spark, cbase, cqueries, monkeypatch
):
    """The fit's shared persisted where= scan is released even when a
    calibration eval raises mid-fit."""
    from scalablevectorsearch_spark.operators import calibrate as cal_mod

    index = vamana_build(cbase, PARAMS, n_shards=4, shard_by="kmeans")
    vamana_search(index, cqueries, k=5, search_window_size=64).collect()

    def n_pinned():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_pinned()
    real = cal_mod._recall_of

    def failing(gt, res, k):
        real(gt, res, k)  # runs the search: the shared scan is materialized
        raise RuntimeError("injected calibration eval failure")

    monkeypatch.setattr(cal_mod, "_recall_of", failing)
    with pytest.raises(RuntimeError, match="injected"):
        vamana_search(
            index, cqueries, k=5, search_window_size=64, target_recall=0.9,
            calibration_queries=8, where="label = 1", fallback_below=None,
        )
    assert n_pinned() == before
    index.layout.unpersist()
