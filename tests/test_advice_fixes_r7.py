"""Regression tests for the round-7 ADVICE findings.

1 (medium, target_recall= fit at the caller's operating point): moved
   to test_calibrate_budget.py.
2 (low, operators/calibrate.py calibrate_probe_budget): the grid's
   lowest step used int(round(min_budget/resolution)), which can land
   BELOW min_budget (min_budget=1.0, resolution=0.3 -> 0.9) and the
   search kernels raise ValueError on probe_budget < 1 mid-calibration.
   Now math.ceil, so every grid point >= min_budget.
3 (low, operators/ivf.py budget_probe_clamp): int(0.75*B) lowered the
   probe floor by 1 for EVERY fractional 0.75*B (budget 5: 3 vs r6's
   4), not only the degenerate budgets 2-3 the r6 fix targeted. Now
   ceil(0.75*B) capped at ceil(B)-1: r6 floors everywhere, the strict
   cap only where floor would equal the budget. Its tests moved to
   test_probe_clamp.py.
4 (low, bench.py): covered by the bench artifact itself — the headline
   stays min-of-5 but total_median_sec / queries_median are emitted
   alongside, so history comparisons can match stats.
"""

from scalablevectorsearch_spark.operators.calibrate import calibrate_probe_budget


class TestGridNeverBelowMinBudget:
    def test_fractional_resolution_respects_min(self):
        seen = []

        def fake_search(budget):
            seen.append(budget)
            assert budget >= 1.0 - 1e-12, budget
            return None

        # recall oracle: pretend everything passes so the binary search
        # walks all the way DOWN to the lowest grid point
        import scalablevectorsearch_spark.operators.calibrate as cal

        orig = cal._recall_of
        cal._recall_of = lambda gt, res, k: 1.0
        try:
            out = calibrate_probe_budget(
                fake_search, groundtruth=None, k=5, target_recall=0.9,
                min_budget=1.0, max_budget=4.0, resolution=0.3,
            )
        finally:
            cal._recall_of = orig
        assert min(seen) >= 1.0
        assert out.probe_budget >= 1.0
        # the chosen point is the lowest grid step: ceil(1.0/0.3) = 4
        assert abs(out.probe_budget - 4 * 0.3) < 1e-9

    def test_exact_division_not_ceiled_up(self):
        import scalablevectorsearch_spark.operators.calibrate as cal

        orig = cal._recall_of
        cal._recall_of = lambda gt, res, k: 1.0
        try:
            out = calibrate_probe_budget(
                lambda b: None, groundtruth=None, k=5, target_recall=0.9,
                min_budget=1.0, max_budget=8.0, resolution=0.25,
            )
        finally:
            cal._recall_of = orig
        # 1.0/0.25 == 4 exactly: the lowest step must be 4 (1.0), not 5
        assert abs(out.probe_budget - 1.0) < 1e-9
