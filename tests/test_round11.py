"""Round-11 tests: calibration warm-start (hint galloping), auto-sized
calibration split, validate_budget's validated flag, the flat-stamp
duplicate-centroid collapse, and fresh cal_cache across dynamic
mutations (ADVICE r10 items + VERDICT r10 tasks 5/6).

Reference parity anchors: calibrate.h:249 (binary-search-to-target) for
the budget search semantics; dynamic_index.h mutation contracts for the
cache-freshness fixes."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.calibrate import (
    calibrate_probe_budget,
    calibration_sample_size,
    validate_budget,
)
from scalablevectorsearch_spark.operators.kmeans import _nearest_centroid


# ------------------------------------------------------------ hint gallop
#
# The budget search runs against a deterministic fake: recall is a step
# function of budget (monotone, as the grid search assumes), and every
# eval is recorded so the test can count/inspect the probes.


class _FakeSearch:
    """search_fn whose recall at budget b is 1.0 iff b >= threshold.

    _recall_of / k_recall_at need real DataFrames, so the fake returns
    a result frame that matches the groundtruth exactly above the
    threshold and is empty-ranked below it."""

    def __init__(self, spark, threshold: float):
        self.spark = spark
        self.threshold = threshold
        self.evals: list[float] = []
        self.gt = spark.createDataFrame(
            [(0, 1, 100), (0, 2, 101)], "qid long, rank long, neighbor_id long"
        )
        self.miss = spark.createDataFrame(
            [(0, 1, 900), (0, 2, 901)], "qid long, rank long, neighbor_id long"
        )

    def __call__(self, b: float):
        self.evals.append(b)
        return self.gt if b >= self.threshold else self.miss


def test_hint_pass_skips_full_fanout_probe(spark):
    """A passing hint replaces the opening max-budget probe: no eval at
    or near max_budget, and the fitted grid point equals the cold run's."""
    fake_cold = _FakeSearch(spark, threshold=24.0)
    cold = calibrate_probe_budget(
        fake_cold, fake_cold.gt, k=2, target_recall=0.9,
        max_budget=1024.0, resolution=1.0,
    )
    fake_warm = _FakeSearch(spark, threshold=24.0)
    warm = calibrate_probe_budget(
        fake_warm, fake_warm.gt, k=2, target_recall=0.9,
        max_budget=1024.0, resolution=1.0, hint=32.0,
    )
    assert warm.probe_budget == cold.probe_budget == 24.0
    assert warm.recall == 1.0
    # the cold run's first probe is the full fan-out; the warm run never
    # pays any probe above the hint
    assert fake_cold.evals[0] == 1024.0
    assert max(fake_warm.evals) <= 32.0
    # and the warm run is no more total evals than cold
    assert len(fake_warm.evals) <= len(fake_cold.evals)


def test_hint_fail_gallops_up_to_same_answer(spark):
    """A too-low hint gallops upward (doubling) and still lands on the
    exact grid point the cold search finds."""
    fake = _FakeSearch(spark, threshold=100.0)
    res = calibrate_probe_budget(
        fake, fake.gt, k=2, target_recall=0.9,
        max_budget=1024.0, resolution=1.0, hint=10.0,
    )
    assert res.probe_budget == 100.0
    # gallop prefix: 10 fails, then 20, 40, 80 fail, 160 passes
    assert fake.evals[:5] == [10.0, 20.0, 40.0, 80.0, 160.0]
    # never probed the full fan-out
    assert max(fake.evals) < 1024.0


def test_hint_infeasible_target_best_effort(spark):
    """Target unreachable even at max fan-out: the galloped search ends
    at max_budget and reports best-effort, like the cold search."""
    fake = _FakeSearch(spark, threshold=2048.0)  # above max
    res = calibrate_probe_budget(
        fake, fake.gt, k=2, target_recall=0.9,
        max_budget=256.0, resolution=1.0, hint=16.0,
    )
    assert res.probe_budget == 256.0
    assert res.recall < 0.9
    # max_budget probed exactly once (the gallop's last step), not twice
    assert fake.evals.count(256.0) == 1


def test_hint_at_or_above_max_budget(spark):
    """A hint clamping to the max grid point must not double-probe it."""
    fake = _FakeSearch(spark, threshold=2048.0)
    res = calibrate_probe_budget(
        fake, fake.gt, k=2, target_recall=0.9,
        max_budget=64.0, resolution=1.0, hint=500.0,
    )
    assert res.probe_budget == 64.0 and res.recall < 0.9
    assert fake.evals == [64.0]


# ------------------------------------------------------------ auto split


def test_calibration_sample_size_table():
    """Pin the n(target, k) table (VERDICT r10 task 6: derive n from
    the CI half-width z*sqrt(t(1-t)/(n k)) <= eps, eps = max(0.005,
    (1-t)/5))."""
    assert calibration_sample_size(0.90, 10) == (61, 30)
    assert calibration_sample_size(0.95, 10) == (129, 64)
    assert calibration_sample_size(0.99, 10) == (108, 54)
    # k scaling: 10x more trials per query -> 10x smaller n (clamped)
    n100, v100 = calibration_sample_size(0.90, 100)
    assert n100 == 16 and v100 == 8  # floor clamp
    # explicit epsilon overrides the default
    n, v = calibration_sample_size(0.90, 10, epsilon=0.01)
    assert n == 244 and v == 122


def test_calibration_sample_size_bounds():
    with pytest.raises(ValueError):
        calibration_sample_size(1.0, 10)
    n, v = calibration_sample_size(0.999, 1)  # tiny eps floor, k=1
    assert n <= 512 and v <= 256  # cap clamp


def test_auto_sized_split_threads_through_ivf(spark, embeddings):
    """ivf_search(calibration_queries='auto') derives the split and
    records it in stats; the fitted search still returns k rows/query."""
    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    q = base.filter(F.col("id") < 4).selectExpr("id as qid", "vector")
    idx = ivf_build(base, n_clusters=4, n_iters=2)
    stats: dict = {}
    res = ivf_search(
        idx, q, k=3, target_recall=0.9, calibration_queries="auto",
        calibration_stats=stats,
    )
    assert stats["auto_sized"] == calibration_sample_size(0.9, 3)
    # only 4 qids exist: the fit consumes what's there (the CI margin is
    # sized from the EFFECTIVE sample), validation split is then empty
    assert stats["n_fit_qids"] <= 4
    assert res.groupBy("qid").count().agg(F.max("count")).collect()[0][0] == 3


# ------------------------------------------------------------ validated flag


def test_validate_budget_records_pass(spark):
    fake = _FakeSearch(spark, threshold=4.0)
    stats: dict = {}
    b = validate_budget(fake, fake.gt, k=2, target_recall=0.9, budget=8.0,
                        max_budget=64.0, stats=stats)
    assert b == 8.0 and stats["validated"] is True
    assert stats["validated_recall"] == 1.0


def test_validate_budget_flags_exhaustion(spark):
    """max_budget exhausted short of target: best-effort budget returned
    but validated=False and a UserWarning emitted (ADVICE r10)."""
    fake = _FakeSearch(spark, threshold=1e9)
    stats: dict = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        b = validate_budget(fake, fake.gt, k=2, target_recall=0.9, budget=8.0,
                            max_budget=16.0, stats=stats)
    assert b == 16.0
    assert stats["validated"] is False
    assert any("best-effort" in str(x.message) for x in w)


# ------------------------------------------------------ flat stamp dup collapse


def test_flat_stamp_duplicate_centroids_smallest_cid():
    """Exact-duplicate centroid rows: the flat stamp must return the
    smallest duplicate cid STRUCTURALLY (collapse before the GEMM), not
    by argmin luck over bit-identical columns (ADVICE r10: last-ulp GEMM
    asymmetry across blockings can break the numerical tie-break)."""
    rng = np.random.default_rng(3)
    C = rng.normal(size=(64, 8))
    C[40] = C[7]  # duplicate pair (7, 40)
    C[41] = C[2]  # duplicate pair (2, 41)
    V = np.concatenate([C[40][None, :], C[41][None, :], rng.normal(size=(50, 8))])
    a = _nearest_centroid(V, C)
    assert a[0] == 7 and a[1] == 2
    assert 40 not in a and 41 not in a
    # non-degenerate rows: identical to the brute float64 oracle
    d2 = (
        np.einsum("ij,ij->i", V, V)[:, None]
        + np.einsum("ij,ij->i", C, C)[None, :]
        - 2.0 * (V @ C.T)
    )
    # oracle with duplicates collapsed the same way
    oracle = np.argmin(d2, axis=1)
    oracle[oracle == 40] = 7
    oracle[oracle == 41] = 2
    np.testing.assert_array_equal(a, oracle.astype(np.int32))


def test_flat_stamp_no_duplicates_unchanged():
    rng = np.random.default_rng(4)
    C = rng.normal(size=(32, 6))
    V = rng.normal(size=(100, 6))
    a = _nearest_centroid(V, C)
    d2 = (
        np.einsum("ij,ij->i", V, V)[:, None]
        + np.einsum("ij,ij->i", C, C)[None, :]
        - 2.0 * (V @ C.T)
    )
    np.testing.assert_array_equal(a, np.argmin(d2, axis=1).astype(np.int32))


# ------------------------------------------------------ fresh cal_cache


def test_dynamic_ivf_mutations_get_fresh_cal_cache(spark, embeddings):
    from scalablevectorsearch_spark.operators.dynamic import (
        dynamic_ivf,
        ivf_add_points,
    )
    from scalablevectorsearch_spark.operators.ivf import ivf_build
    from scalablevectorsearch_spark.operators.kmeans import KMeansModel

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    added = base.filter(F.col("id") < 3).select(
        (F.col("id") + 90000).alias("id"), "vector"
    )
    # a trained 4-cell model (flat stamp) and a pre-trained 256-cell one
    # (>= HIERARCHICAL_STAMP_THRESHOLD: the build's grouped stamp)
    V = np.stack([np.asarray(r["vector"], dtype=np.float64) for r in base.collect()])
    C256 = np.round(V[np.arange(256) % len(V)] + 0.01 * np.arange(256)[:, None], 6)
    for idx in (
        ivf_build(base, n_clusters=4, n_iters=2),
        ivf_build(base, 256, model=KMeansModel(centroids=C256, n_iters=0)),
    ):
        dyn = dynamic_ivf(idx)
        dyn.index.cal_cache["poison"] = 1
        d2 = ivf_add_points(dyn, added)
        assert d2.index.cal_cache == {}
        assert d2.index.cal_cache is not dyn.index.cal_cache
        new = d2.index.clustered.filter(F.col("id") >= 90000).orderBy("id").collect()
        Vn = np.stack([np.asarray(r["vector"], dtype=np.float64) for r in new])
        want = _nearest_centroid(Vn, idx.model.centroids).tolist()
        assert [r["cluster_id"] for r in new] == want


# ------------------------------------------------------ precomputed save


def test_save_index_precomputed_table(spark, tmp_path):
    """save_index(precomputed=...) must skip rewriting a table the
    caller already streamed to the index directory, while still
    validating its footers and recording it in the manifest — the
    disk-budgeted bulk-build path (the 1e8 tier writes the packed data
    table first so its intermediate can be stage-deleted before the
    graph job)."""
    import os

    from scalablevectorsearch_spark.sources.index_store import (
        ManifestError,
        load_index,
        save_index,
    )

    path = str(tmp_path / "idx")
    data = spark.range(10).selectExpr("id", "id * 2 as y")
    os.makedirs(path, exist_ok=True)
    data.write.parquet(f"{path}/data")
    stamp = sorted(
        os.path.getmtime(os.path.join(f"{path}/data", f))
        for f in os.listdir(f"{path}/data")
    )
    other = spark.range(3).selectExpr("id as k")
    m = save_index(
        path, {"data": data, "other": other}, "test_index",
        params={"p": 1}, precomputed={"data"},
    )
    # data untouched (not rewritten), both tables in the manifest
    stamp2 = sorted(
        os.path.getmtime(os.path.join(f"{path}/data", f))
        for f in os.listdir(f"{path}/data")
    )
    assert stamp2 == stamp
    assert set(m["tables"]) == {"data", "other"}
    manifest, tables = load_index(spark, path, expect_schema="test_index")
    assert tables["data"].count() == 10 and tables["other"].count() == 3
    # undeclared precomputed name refuses
    with pytest.raises(ManifestError, match="not declared"):
        save_index(path, {"other": other}, "test_index", precomputed={"data"})
    # missing on-disk table refuses
    with pytest.raises(ManifestError):
        save_index(
            str(tmp_path / "empty"), {"data": data}, "test_index",
            precomputed={"data"},
        )
