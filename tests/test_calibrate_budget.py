"""Recall-targeted calibration (operators/calibrate.py) — the
reference's calibrate.h:249 binary-search-to-target-recall applied to
the probe-cost axis, the split-buffer search, the shared
``target_recall=`` loop (fit_probe_budget) and the ivf/vamana
``target_recall=`` searches that fit the budget on a deterministic qid
sample.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.calibrate import (
    calibrate_closure_amplification,
    calibrate_probe_budget,
    calibrate_split_buffer,
    calibration_sample_size,
    fit_probe_budget,
    validate_budget,
)
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.ivf import (
    _fit_budget_for_target,
    ivf_build,
    ivf_search,
)
from scalablevectorsearch_spark.operators.recall import k_recall_at
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)

K = 10


@pytest.fixture(scope="module")
def gt(spark):
    return spark.createDataFrame(
        [Row(qid=0, rank=r, neighbor_id=r) for r in range(1, K + 1)]
    )


def _search_model(spark, hits_of):
    """search_fn whose recall at budget b is hits_of(b)/K — a
    deterministic monotone recall model."""

    def fn(budget):
        h = hits_of(budget)
        return spark.createDataFrame(
            [Row(qid=0, rank=r, neighbor_id=r if r <= h else 1000 + r)
             for r in range(1, K + 1)]
        )

    return fn


class TestCalibrateProbeBudget:
    def test_finds_smallest_passing_budget(self, spark, gt):
        # recall(b) = min(10, floor(2b)) / 10 -> first b with recall >= 0.9
        # on the 0.25 grid is 4.5
        fn = _search_model(spark, lambda b: min(K, int(2 * b)))
        res = calibrate_probe_budget(fn, gt, K, target_recall=0.9, max_budget=8.0)
        assert res.probe_budget == 4.5
        assert res.recall >= 0.9
        # every evaluated point is on the resolution grid
        assert all(abs(b / 0.25 - round(b / 0.25)) < 1e-9 for b, _ in res.probes)

    def test_best_effort_when_target_unreachable(self, spark, gt):
        fn = _search_model(spark, lambda b: min(K, int(2 * b)))
        res = calibrate_probe_budget(fn, gt, K, target_recall=0.9, max_budget=2.0)
        assert res.probe_budget == 2.0
        assert res.recall == pytest.approx(0.4)
        assert len(res.probes) == 1  # one probe proves max misses

    def test_log_probe_count(self, spark, gt):
        calls = []
        base = _search_model(spark, lambda b: min(K, int(2 * b)))

        def fn(b):
            calls.append(b)
            return base(b)

        calibrate_probe_budget(fn, gt, K, target_recall=0.9, max_budget=16.0)
        # grid of 64 steps -> 1 + ceil(log2(~61)) <= 8 evaluations
        assert len(calls) <= 8

    def test_requires_max_budget(self, spark, gt):
        with pytest.raises(ValueError):
            calibrate_probe_budget(lambda b: None, gt, K, max_budget=None)


class TestSplitBuffer:
    def test_no_rerun_when_capacity_bisection_finds_nothing_smaller(
        self, spark, gt
    ):
        """Windows 3 and 2 pass only at capacity_upper, so their capacity
        bisection finds no smaller passing capacity; the recall already
        measured at capacity_upper is reused, not searched again."""
        calls = []

        def search(w, cap):
            calls.append((w, cap))
            ok = (w, cap) == (4, 4) or (w >= 2 and cap >= 16)
            return _search_model(spark, lambda b: K if ok else 5)(0)

        res = calibrate_split_buffer(
            search, gt, K, target_recall=0.9, window=4, capacity_upper=16,
            cost_fn=lambda w, cap: w + cap / 100,
        )
        assert (res.search_window_size, res.buffer_capacity) == (2, 16)
        assert res.recall == 1.0
        # every search is a recorded probe: baseline (4,4); per window
        # 3 and 2 the (w,16) probe + a 2-step bisection of [10, 16];
        # then (1,16) fails and stops the walk
        assert calls == [(w, c) for w, c, _ in res.probes]
        assert len(calls) == 8


class TestFitProbeBudget:
    """fit_probe_budget with fake search/groundtruth callables and no
    index: recall at budget b is min(b, K)/K on every query."""

    K = 4

    @pytest.fixture(scope="class")
    def fqueries(self, spark):
        # qids deliberately out of order: the sample is the smallest qids
        order = [17, 3, 11, 0, 8, 19, 5, 14, 1, 9, 12, 6, 2, 15, 7, 4]
        return spark.createDataFrame([(q, float(q)) for q in order], "qid long, v double")

    def _results(self, spark, qids, hits):
        """rank r of query x is neighbor 100x + r iff r <= hits"""
        return spark.createDataFrame(
            [(int(x), r, int(x) * 100 + (r if r <= hits else 50))
             for x in qids for r in range(1, self.K + 1)],
            "qid long, rank int, neighbor_id long",
        )

    def _fakes(self, spark):
        log = {"search": [], "gt": []}

        def qids_of(q):
            return sorted(r[0] for r in q.select("qid").collect())

        def gt_scan(q, qids):
            assert qids_of(q) == sorted(qids)
            log["gt"].append(list(qids))
            return self._results(spark, qids, self.K)

        def search_at(b, q, qids):
            assert qids_of(q) == sorted(qids)
            log["search"].append((b, list(qids)))
            return self._results(spark, qids, min(int(b), self.K))

        return search_at, gt_scan, log

    def _fit(self, spark, fqueries, cache=None, cache_key=("t",), **kw):
        search_at, gt_scan, log = self._fakes(spark)
        stats = {}
        kw.setdefault("calibration_margin", None)
        b = fit_probe_budget(
            fqueries, self.K, kw.pop("target", 0.75), search_at, gt_scan,
            {} if cache is None else cache, cache_key, 8,
            calibration_stats=stats, **kw,
        )
        return b, stats, log

    def test_split_disjoint_and_deterministic(self, spark, fqueries):
        b, stats, log = self._fit(
            spark, fqueries, calibration_queries=5,
            calibration_validation_queries=4,
        )
        assert b == 3.0
        fit = {tuple(q) for _, q in log["search"][: stats["fit_evals"]]}
        val = {tuple(q) for _, q in log["search"][stats["fit_evals"]:]}
        assert fit == {(0, 1, 2, 3, 4)} and val == {(5, 6, 7, 8)}
        assert log["gt"] == [[0, 1, 2, 3, 4], [5, 6, 7, 8]]
        assert stats["n_fit_qids"] == 5 and stats["n_val_qids"] == 4
        b2, stats2, log2 = self._fit(
            spark, fqueries, calibration_queries=5,
            calibration_validation_queries=4,
        )
        assert (b2, log2) == (b, log)
        assert {k: v for k, v in stats2.items() if not k.endswith("_sec")} == {
            k: v for k, v in stats.items() if not k.endswith("_sec")
        }

    def test_auto_sizing(self, spark):
        queries = spark.range(300).selectExpr("id as qid")
        _, stats, log = self._fit(
            spark, queries, calibration_queries="auto", target=0.9
        )
        n_fit, n_val = calibration_sample_size(0.9, self.K)
        assert stats["auto_sized"] == (n_fit, n_val)
        assert (stats["n_fit_qids"], stats["n_val_qids"]) == (n_fit, n_val)
        assert [len(q) for q in log["gt"]] == [n_fit, n_val]
        assert log["gt"][1][0] == n_fit  # held-out qids follow the fit sample

    def test_cache_hit_on_second_call(self, spark, fqueries):
        cache = {}
        _, s1, log1 = self._fit(spark, fqueries, cache, calibration_queries=6)
        _, s2, log2 = self._fit(spark, fqueries, cache, calibration_queries=6)
        assert (s1["gt_cached"], s2["gt_cached"]) == (False, True)
        assert len(log1["gt"]) == 1 and log2["gt"] == []
        assert list(cache) == [("gt", self.K, (0, 1, 2, 3, 4, 5), "t")]
        assert s2["fitted_budget"] == s1["fitted_budget"]
        # an unkeyable scan runs every time and is never cached
        cache2 = {}
        for _ in range(2):
            _, s, log = self._fit(
                spark, fqueries, cache2, cache_key=None, calibration_queries=6
            )
            assert s["gt_cached"] is False and len(log["gt"]) == 1
        assert cache2 == {}

    def test_supplied_groundtruth_reused_for_validation(self, spark, fqueries):
        full = self._results(spark, range(20), self.K)
        _, stats, log = self._fit(
            spark, fqueries, calibration_queries=5,
            calibration_validation_queries=4, calibration_groundtruth=full,
        )
        assert log["gt"] == []  # covered: no internal scan at all
        assert stats["validated"] is True
        # groundtruth covering only the fit sample: validation scans once
        part = self._results(spark, range(5), self.K)
        _, stats, log = self._fit(
            spark, fqueries, calibration_queries=5,
            calibration_validation_queries=4, calibration_groundtruth=part,
        )
        assert log["gt"] == [[5, 6, 7, 8]]

    def test_stats_key_set(self, spark, fqueries):
        base = {
            "gt_cached", "gt_sec", "n_fit_qids", "fit_target", "fit_sec",
            "fit_evals", "fitted_budget", "fit_recall",
        }
        _, stats, _ = self._fit(spark, fqueries, calibration_queries=5)
        assert set(stats) == base
        _, stats, _ = self._fit(
            spark, fqueries, calibration_queries=5,
            calibration_validation_queries=4, calibration_budget_hint=2.0,
        )
        assert set(stats) == base | {
            "budget_hint", "n_val_qids", "validation", "validated_recall",
            "validated", "val_sec", "validated_budget",
        }
        _, stats, _ = self._fit(
            spark, fqueries, calibration_queries="auto", target=0.9
        )
        assert set(stats) == base | {"auto_sized"}

    def test_target_range_checked(self, spark, fqueries):
        for bad in (0.0, 1.5):
            with pytest.raises(ValueError, match="target_recall"):
                self._fit(spark, fqueries, target=bad)


class TestCalibrateClosure:
    def test_picks_smallest_passing_rung(self, spark, gt):
        # recall 0.5 at amp 1.0, 0.8 at 1.25, 0.95 at >= 1.5
        table = {1.0: 5, 1.25: 8, 1.5: 10, 2.0: 10, 3.0: 10}
        builds = []

        def build_search(amp):
            builds.append(amp)
            return _search_model(spark, lambda b: table[amp])(0)

        res = calibrate_closure_amplification(
            build_search, gt, K, target_recall=0.9
        )
        assert res.amplification == 1.5
        assert res.recall >= 0.9
        assert len(builds) <= 4  # binary search over 5 rungs, not a sweep

    def test_rejects_unsorted_ladder(self, spark, gt):
        with pytest.raises(ValueError):
            calibrate_closure_amplification(
                lambda a: None, gt, K, ladder=(2.0, 1.0)
            )


class TestIvfTargetRecall:
    @pytest.fixture(scope="class")
    def fixture(self, spark, embeddings):
        base = embeddings.selectExpr("vec_id as id", "embedding as vector")
        q = embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(32)
        index = ivf_build(base, n_clusters=6, n_iters=2)
        return base, q, index

    def test_hits_target_on_calibration_sample(self, fixture):
        base, q, index = fixture
        res = ivf_search(index, q, k=K, target_recall=0.9, calibration_queries=32)
        gt = flat_knn(base, q, k=K, round_to=4)
        row = k_recall_at(gt, res, K).collect()[0]
        # calibration covered all 32 queries -> target holds exactly
        assert row["recall"] >= 0.9

    def test_deterministic(self, fixture):
        _, q, index = fixture
        a = ivf_search(index, q, k=K, target_recall=0.9).toPandas()
        b = ivf_search(index, q, k=K, target_recall=0.9).toPandas()
        cols = ["qid", "rank", "neighbor_id"]
        assert a[cols].sort_values(cols).values.tolist() == \
            b[cols].sort_values(cols).values.tolist()

    def test_mutually_exclusive(self, fixture):
        _, q, index = fixture
        with pytest.raises(ValueError):
            ivf_search(index, q, k=K, target_recall=0.9, probe_budget=2.0)
        with pytest.raises(ValueError):
            ivf_search(index, q, k=K, target_recall=0.9, epsilon_bp=100)
        with pytest.raises(ValueError):
            ivf_search(index, q, k=K, target_recall=1.5)


class TestVamanaTargetRecall:
    @pytest.fixture(scope="class")
    def fixture(self, spark, embeddings):
        from scalablevectorsearch_spark.operators.vamana import (
            VamanaParams,
            vamana_build,
        )

        base = embeddings.selectExpr("vec_id as id", "embedding as vector")
        q = embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(24)
        index = vamana_build(
            base, VamanaParams(graph_max_degree=16, window_size=32),
            n_shards=4, shard_by="kmeans",
        )
        return base, q, index

    def test_hits_target_on_calibration_sample(self, fixture):
        from scalablevectorsearch_spark.operators.vamana import vamana_search

        base, q, index = fixture
        res = vamana_search(
            index, q, k=K, search_window_size=32, target_recall=0.9,
            calibration_queries=24,
        )
        gt = flat_knn(base, q, k=K, round_to=4)
        row = k_recall_at(gt, res, K).collect()[0]
        assert row["recall"] >= 0.9

    def test_requires_kmeans_sharding(self, spark, embeddings):
        from scalablevectorsearch_spark.operators.vamana import (
            VamanaParams,
            vamana_build,
            vamana_search,
        )

        base = embeddings.selectExpr("vec_id as id", "embedding as vector").limit(300)
        q = embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(4)
        hashed = vamana_build(
            base, VamanaParams(graph_max_degree=16, window_size=16), n_shards=2
        )
        with pytest.raises(ValueError):
            vamana_search(hashed, q, k=3, target_recall=0.9)

    def test_mutually_exclusive(self, fixture):
        from scalablevectorsearch_spark.operators.vamana import vamana_search

        _, q, index = fixture
        with pytest.raises(ValueError):
            vamana_search(index, q, k=K, target_recall=0.9, n_probes=2)
        with pytest.raises(ValueError):
            vamana_search(index, q, k=K, target_recall=0.9, probe_budget=2.0)


# ---- calibration runs at the caller's operating point ----
# target_recall= once fitted the probe budget WITHOUT the caller's
# max_probes (and without k_reorder/rerank for ivf) while the final
# search applied them, so a tight max_probes silently missed the
# target. The fit now searches at the caller's exact operating point,
# and its groundtruth respects exclusions.


@pytest.fixture(scope="module")
def small_base(spark, embeddings):
    base = embeddings.selectExpr("vec_id as id", "embedding as vector").limit(600)
    base = base.cache()
    base.count()
    yield base
    base.unpersist()


@pytest.fixture(scope="module")
def small_queries(embeddings):
    return embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(8)


class TestCalibrationRunsAtCallersOperatingPoint:
    def test_tight_max_probes_widens_or_maxes_fit(self, spark, small_base,
                                                  small_queries):
        """With a max_probes cap of 1 the calibration search is capped
        too; the fit must NOT return the uncapped budget. Either it
        widens past it (useless here — the cap still bites) and lands
        at max_budget best-effort, or at least >= the uncapped fit."""
        idx = ivf_build(small_base, n_clusters=8, n_iters=4)
        free = _fit_budget_for_target(
            idx, small_queries, 5, 0.95, "l2", "qid", "vector", 8,
            None, None, None, None,
        )
        capped = _fit_budget_for_target(
            idx, small_queries, 5, 0.95, "l2", "qid", "vector", 8,
            None, None, None, None, max_probes=1,
        )
        assert capped >= free
        # under a cap of 1 probe on 8 clusters, 0.95 recall is out of
        # reach on this data: best-effort = max_budget (all clusters)
        assert capped == pytest.approx(8.0)

    def test_target_recall_composes_with_max_probes_end_to_end(
        self, spark, small_base, small_queries
    ):
        idx = ivf_build(small_base, n_clusters=8, n_iters=4)
        res = ivf_search(
            idx, small_queries, 5, target_recall=0.9, max_probes=2,
            calibration_queries=8,
        )
        assert res.count() == 8 * 5

    def test_vamana_exclusions_forwarded_to_fit_and_gt(
        self, spark, small_base, small_queries
    ):
        """target_recall + exclude_ids: excluded ids must not appear in
        the result, and the internal calibration must not crash nor
        grade against unreachable (excluded) groundtruth rows."""
        params = VamanaParams(graph_max_degree=16, window_size=16)
        index = vamana_build(small_base, params, n_shards=4, shard_by="kmeans")
        excluded = [0, 1, 2, 3]
        res = vamana_search(
            index, small_queries, 5, target_recall=0.9,
            calibration_queries=8, exclude_ids=excluded,
        )
        rows = res.collect()
        assert len(rows) == 8 * 5
        got_ids = {r["neighbor_id"] for r in rows}
        assert got_ids.isdisjoint(set(excluded))


# --------------------------------------------------- validate_budget


class _FakeRecall:
    """Deterministic recall model: recall(b) = min(1, b / need)."""

    def __init__(self, spark, gt, k, need):
        self.spark, self.gt, self.k, self.need = spark, gt, k, need
        self.evals = []

    def __call__(self, b):
        self.evals.append(b)
        frac = min(1.0, b / self.need)
        n_keep = max(1, int(round(frac * self.k)))
        return self.gt.filter(F.col("rank") <= n_keep)


@pytest.fixture(scope="module")
def vgt(spark):
    rows = [(q, r, q * 100 + r) for q in range(4) for r in range(1, 6)]
    return spark.createDataFrame(rows, "qid long, rank int, neighbor_id long")


def test_validate_budget_passes_through_when_target_met(spark, vgt):
    fake = _FakeRecall(spark, vgt, 5, need=2.0)
    stats = {}
    b = validate_budget(fake, vgt, k=5, target_recall=0.9, budget=2.0,
                        max_budget=8.0, stats=stats)
    assert b == 2.0
    assert len(stats["validation"]) == 1
    assert stats["validated_recall"] == 1.0


def test_validate_budget_widens_until_target(spark, vgt):
    fake = _FakeRecall(spark, vgt, 5, need=4.0)
    stats = {}
    b = validate_budget(fake, vgt, k=5, target_recall=0.99, budget=2.0,
                        max_budget=8.0, widen=1.5, stats=stats)
    # 2.0 -> 3.0 -> 4.5: first budget clearing need=4.0
    assert b == pytest.approx(4.5)
    assert [round(x, 2) for x in fake.evals] == [2.0, 3.0, 4.5]
    assert stats["validated_recall"] == 1.0
    assert stats["validation"][0][1] < 0.99


def test_validate_budget_caps_at_max(spark, vgt):
    fake = _FakeRecall(spark, vgt, 5, need=100.0)
    stats = {}
    b = validate_budget(fake, vgt, k=5, target_recall=0.99, budget=2.0,
                        max_budget=4.0, widen=2.0, max_rounds=5, stats=stats)
    assert b == 4.0  # best effort at the cap, like the fit itself
    assert stats["validated_recall"] < 0.99
