"""Round-10 hardening: held-out calibration validation, scale-safe
defaults (CI margin, auto exact fallback) and the grouped-stamp
near-tie dtype property. The dynamic-generation tests live in
test_dynamic.py.

Reference parity anchor: calibrate.h:91-249 calibrates to DELIVERED
recall (the held-out split is how a sample-fitted budget earns that
claim on the population).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from scalablevectorsearch_spark.operators import flat as flat_mod
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search
from scalablevectorsearch_spark.operators.kmeans import (
    HIERARCHICAL_STAMP_THRESHOLD,
    _nearest_centroid,
    group_centroids,
    nearest_centroid_grouped,
)
from scalablevectorsearch_spark.operators.vamana import (
    AUTO_FALLBACK_SELECTIVITY,
    VamanaParams,
    vamana_build,
    vamana_search,
)

PARAMS = VamanaParams(graph_max_degree=24, window_size=24)


# ------------------------------- held-out validation split (ivf/vamana)


@pytest.fixture(scope="module")
def cbase(spark, embeddings):
    base = embeddings.selectExpr(
        "vec_id as id", "embedding as vector", "label"
    ).limit(600).cache()
    base.count()
    yield base
    base.unpersist()


@pytest.fixture(scope="module")
def cqueries(embeddings):
    return embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(24)


def test_ivf_validation_split_disjoint_and_recorded(cbase, cqueries, monkeypatch):
    calls = {"n": 0}
    orig = flat_mod.flat_knn

    def wrapper(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(flat_mod, "flat_knn", wrapper)
    index = ivf_build(cbase, 8, 2)
    stats = {}
    ivf_search(
        index, cqueries, k=5, target_recall=0.85, calibration_queries=8,
        calibration_validation_queries=8, calibration_stats=stats,
    ).collect()
    # two exact gt scans: fit sample + held-out sample
    assert calls["n"] == 2
    assert stats["n_fit_qids"] == 8 and stats["n_val_qids"] == 8
    assert stats["validation"] and "validated_recall" in stats
    assert stats["validated_budget"] >= stats["fitted_budget"]
    # both samples cached under their own qid keys -> re-run skips both
    s2 = {}
    ivf_search(
        index, cqueries, k=5, target_recall=0.85, calibration_queries=8,
        calibration_validation_queries=8, calibration_stats=s2,
    ).collect()
    assert calls["n"] == 2
    assert s2["gt_cached"] is True
    assert s2["validated_budget"] == stats["validated_budget"]


def test_vamana_validation_split(cbase, cqueries):
    index = vamana_build(
        cbase.select("id", "vector"), PARAMS, n_shards=4, shard_by="kmeans"
    )
    stats = {}
    vamana_search(
        index, cqueries, k=5, search_window_size=64, target_recall=0.8,
        calibration_queries=8, calibration_validation_queries=8,
        calibration_stats=stats,
    ).collect()
    assert stats["n_fit_qids"] == 8 and stats["n_val_qids"] == 8
    assert stats["validated_budget"] >= stats["fitted_budget"]
    assert stats["validation"][-1][0] == stats["validated_budget"]
    index.layout.unpersist()


def test_margin_n_sized_from_actual_sample(cbase, cqueries):
    """ADVICE r9: the CI margin must be sized from the ACTUAL sample,
    not the requested calibration_queries — a supplied groundtruth with
    fewer qids shrinks the effective Bernoulli n."""
    index = ivf_build(cbase, 8, 2)
    small_gt = flat_knn(
        cbase.select("id", "vector"),
        cqueries.orderBy("qid").limit(4), k=5, distance="l2", round_to=4,
    )
    stats = {}
    ivf_search(
        index, cqueries, k=5, target_recall=0.8, calibration_queries=16,
        calibration_groundtruth=small_gt, calibration_stats=stats,
        calibration_margin="ci",
    ).collect()
    assert stats["n_fit_qids"] == 4  # gt-bounded, not the requested 16
    import math

    want = 0.8 + 1.6449 * math.sqrt(0.8 * 0.2 / (4 * 5))
    assert stats["fit_target"] == pytest.approx(min(0.999, want))


# ----------------------------------------- auto exact-fallback default


class TestAutoFallback:
    def _count_flat(self, monkeypatch):
        calls = {"n": 0}
        orig = flat_mod.flat_knn

        def wrapper(*a, **kw):
            calls["n"] += 1
            return orig(*a, **kw)

        monkeypatch.setattr(flat_mod, "flat_knn", wrapper)
        return calls

    @pytest.fixture(scope="class")
    def rare_base(self, spark, embeddings):
        # rare = 1% of rows (below AUTO_FALLBACK_SELECTIVITY), common =
        # everything else
        base = (
            embeddings.selectExpr("vec_id as id", "embedding as vector")
            .withColumn(
                "tag", F.when(F.col("id") % 100 == 0, "rare").otherwise("common")
            )
            .cache()
        )
        base.count()
        yield base
        base.unpersist()

    def test_auto_triggers_below_selectivity(self, rare_base, cqueries, monkeypatch):
        calls = self._count_flat(monkeypatch)
        index = vamana_build(rare_base, PARAMS, n_shards=4)
        got = vamana_search(
            index, cqueries, k=5, search_window_size=8, where="tag = 'rare'"
        )
        want = flat_mod.flat_knn(
            rare_base, cqueries, k=5, distance="l2", round_to=4,
            where="tag = 'rare'",
        )
        assert calls["n"] >= 1  # auto default took the exact pool scan
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        # pool + base counts are cached on the index
        assert index.cal_cache[("__pool", "tag = 'rare'")] <= (
            AUTO_FALLBACK_SELECTIVITY * index.cal_cache["__n_base"]
        )
        index.layout.unpersist()

    def test_auto_keeps_graph_above_selectivity(self, rare_base, cqueries, monkeypatch):
        calls = self._count_flat(monkeypatch)
        index = vamana_build(rare_base, PARAMS, n_shards=4)
        vamana_search(
            index, cqueries, k=5, search_window_size=8, where="tag = 'common'"
        ).collect()
        assert calls["n"] == 0  # 99% selectivity -> graph path
        index.layout.unpersist()

    def test_none_disables(self, rare_base, cqueries, monkeypatch):
        calls = self._count_flat(monkeypatch)
        index = vamana_build(rare_base, PARAMS, n_shards=4)
        vamana_search(
            index, cqueries, k=5, search_window_size=4096,
            where="tag = 'rare'", fallback_below=None,
        ).collect()
        assert calls["n"] == 0
        index.layout.unpersist()


# --------------------------- clustered (mixture-of-Gaussians) generator


def test_clustered_rows_deterministic_and_separated():
    """Counter-based mixture rows: partition-independent, deterministic,
    and every row's nearest mixture center is its OWN component at the
    default std (the separation the clustered stress tier relies on)."""
    from scalablevectorsearch_spark.sources.vecs import (
        _clustered_rows,
        mixture_centers,
    )

    mu = mixture_centers(64, 32, seed=3)
    ids = np.arange(3000, dtype=np.int64)
    X = _clustered_rows(ids, 32, 3, 0, mu, 0.1)
    # value independent of row order / partitioning
    X2 = _clustered_rows(ids[::-1].copy(), 32, 3, 0, mu, 0.1)[::-1]
    np.testing.assert_array_equal(X, X2)
    D = np.linalg.norm(
        X[:, None, :].astype(np.float64) - mu[None, :, :], axis=2
    )
    own = D.min(axis=1)
    # intra-cluster scatter well inside the inter-center spacing
    assert own.mean() < 0.8
    second = np.partition(D, 1, axis=1)[:, 1]
    assert (second > 2 * own).mean() > 0.99


# ------------------------- grouped stamp near-tie dtype property (task 7)


def test_grouped_equals_flat_near_ties_float32():
    """Adversarial near-equidistant centroids at the hierarchical
    threshold, float32 inputs: rows sit (up to f32 rounding) on the
    perpendicular bisector of centroid pairs, plus exact-duplicate
    centroids. Both paths now compute in float64, so assignments and
    the smallest-cid tie-break must agree exactly."""
    rng = np.random.default_rng(7)
    S = HIERARCHICAL_STAMP_THRESHOLD
    d = 16
    C = rng.normal(size=(S, d))
    # 32 exact duplicate pairs -> argmin must take the smaller cid
    C[S // 2: S // 2 + 32] = C[: 32]
    C32 = C.astype(np.float32)
    C = C32.astype(np.float64)  # the model stores rounded f64; use f32-exact
    # rows on bisectors of random centroid pairs (+ tiny f32 jitter)
    n = 4000
    i = rng.integers(0, S, n)
    j = rng.integers(0, S, n)
    V = ((C[i] + C[j]) / 2.0).astype(np.float32)
    # a few exactly ON centroids, and a few uniform rows
    V[:100] = C32[rng.integers(0, S, 100)]
    V[100:200] = rng.normal(size=(100, d)).astype(np.float32)
    gc = group_centroids(C)
    a_flat = _nearest_centroid(V, C)
    a_grp = nearest_centroid_grouped(V, gc)
    np.testing.assert_array_equal(a_flat, a_grp)
    # float64 oracle: exhaustive pairwise in full precision
    V64 = V.astype(np.float64)
    d2 = (
        np.einsum("ij,ij->i", V64, V64)[:, None]
        + np.einsum("ij,ij->i", C, C)[None, :]
        - 2.0 * (V64 @ C.T)
    )
    np.testing.assert_array_equal(a_flat, np.argmin(d2, axis=1).astype(np.int32))
