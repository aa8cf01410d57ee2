"""Recall-targeted calibration — binary-search the search window size
(and optionally the split-buffer capacity) to hit a target recall at
minimal cost.

Parity: /root/reference/include/svs/index/vamana/calibrate.h:91
(CalibrationParameters), :249 (optimize_search_buffer = binary search
over search_window_size against a groundtruth + target recall),
:152/:171 (optimize_split_buffer_using_binary_search /
optimize_split_buffer = shrink the exploration window below the
capacity when a wider result buffer alone preserves recall at lower
traversal cost), orchestrators/vamana.h:211-246
(experimental_calibrate surface).

Spark shape: a driver loop that re-runs the search job at candidate
(window, capacity, budget, amplification) points and evaluates recall
with the §2.4 aggregate. Each probe is one Spark job; every entry point
bisects with the one :func:`_first_passing` loop, O(log range) jobs.
:func:`fit_probe_budget` is the whole ``target_recall=`` loop (sample
split, groundtruth cache, margin, fit, held-out validation, stats) for
any index family exposing a ``search_at(budget, queries, qids)``
callable — ivf_search and vamana_search are its two adapters."""

from __future__ import annotations

import math
import time
import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.recall import k_recall_at


@dataclass
class CalibrationResult:
    search_window_size: int
    recall: float
    target_recall: float
    probes: list[tuple[int, float]]  # (window, recall) evaluations


def _recall_of(groundtruth: DataFrame, results: DataFrame, k: int) -> float:
    row = k_recall_at(groundtruth, results, k).collect()[0]
    return float(row["recall"]) if row["recall"] is not None else 0.0


def _first_passing(
    probe: Callable[[int], float],
    lo: int,
    hi: int,
    target: float,
    r_hi: float | None = None,
) -> tuple[int, float]:
    """The one bisection under every calibrate_* entry point: the
    smallest integer point in [lo, hi] whose ``probe`` recall >=
    ``target`` (recall is monotone-ish along every calibrated axis —
    calibrate.h:249's working assumption), as (point, recall). ``r_hi``
    is the recall at ``hi`` when the caller already measured it, so
    that search is not re-run. If even ``hi`` misses the target,
    returns (hi, its recall): the reference's best-effort report."""
    if r_hi is None:
        r_hi = probe(hi)
    if r_hi < target:
        return hi, r_hi
    best, best_r = hi, r_hi
    while lo < hi:
        mid = (lo + hi) // 2
        r = probe(mid)
        if r >= target:
            best, best_r, hi = mid, r, mid
        else:
            lo = mid + 1
    return best, best_r


def calibrate_window(
    search_fn: Callable[[int], DataFrame],
    groundtruth: DataFrame,
    k: int,
    target_recall: float = 0.9,
    min_window: int = 1,
    max_window: int = 256,
) -> CalibrationResult:
    """Smallest window in [min_window, max_window] whose recall >=
    target (recall is monotone-ish in window size, calibrate.h's working
    assumption). ``search_fn(window)`` must return the engine's standard
    (qid, rank, neighbor_id, ...) result frame.

    Returns the best window found; if even max_window misses the target,
    returns max_window with its achieved recall (the reference reports
    the same 'best effort')."""
    probes: list[tuple[int, float]] = []

    def probe(w: int) -> float:
        r = _recall_of(groundtruth, search_fn(w), k)
        probes.append((w, r))
        return r

    w, r = _first_passing(probe, min_window, max_window, target_recall)
    return CalibrationResult(w, r, target_recall, probes)


@dataclass
class ProbeBudgetResult:
    probe_budget: float
    recall: float
    target_recall: float
    probes: list[tuple[float, float]]  # (budget, recall) evaluations


def margined_target(
    target_recall: float,
    margin: float | str | None,
    k: int,
    n_calibration: int,
    z: float = 1.6449,
    cap: float = 0.999,
) -> float:
    """Sampling-aware calibration target.

    A budget fitted to hit ``target_recall`` exactly on an n-query
    calibration sample is an unbiased but NOISY estimate of the
    population operating point: the sample recall is a mean of
    ``n_calibration * k`` Bernoulli trials, so its standard error is
    sqrt(t(1-t) / (n*k)) — ~1.7pp at t=0.90 with the default 32-query,
    k=10 sample. A 1-2 sigma unlucky sample then under-delivers on the
    full population by the same amount (measured: the 1e8-row IVF tier
    fitted exactly 0.90 on 32 qids and served 0.8712 on the 500-query
    population; the 5e7 tier's sample landed on 0.9016).

    ``margin="ci"`` fits at the one-sided upper confidence bound
    (default z=1.6449, ~95%), so the population recall clears the
    user's target with that confidence instead of a coin flip; a float
    adds that fixed margin; ``None`` keeps the exact-fit behavior.
    The widened target is capped at ``cap`` so a high user target
    still admits a feasible budget — but never below the user's own
    target (a margin must not WEAKEN the fit relative to margin=None,
    e.g. target_recall=0.9995 with the default cap)."""
    if margin is None:
        return target_recall
    cap = max(cap, target_recall)
    if margin == "ci":
        n_trials = max(1, int(n_calibration) * int(k))
        sigma = math.sqrt(target_recall * (1.0 - target_recall) / n_trials)
        return min(cap, target_recall + z * sigma)
    if isinstance(margin, (int, float)) and not isinstance(margin, bool):
        if margin < 0:
            raise ValueError("calibration_margin must be >= 0")
        return min(cap, target_recall + float(margin))
    raise ValueError(
        "calibration_margin must be None, 'ci', or a non-negative float"
    )


def validate_budget(
    search_fn: Callable[[float], DataFrame],
    groundtruth: DataFrame,
    k: int,
    target_recall: float,
    budget: float,
    max_budget: float,
    widen: float = 1.5,
    max_rounds: int = 3,
    stats: dict | None = None,
) -> float:
    """Held-out validation of a sample-fitted budget.

    A budget fitted on n calibration qids is graded here against a
    DISJOINT validation qid set: a fit sample whose draw is
    systematically easier than the population passes its own fit yet
    under-delivers in production (measured at 1e8 rows: a 32-qid exact
    fit of 0.90 served 0.8712 on the 500-query population — the sample
    was ~3.5pp easier, a bias no within-sample CI margin can remove).
    When the validation recall misses ``target_recall``, the budget is
    widened multiplicatively (recall is monotone-ish in budget, the
    same working assumption as the fit's grid search) and re-validated,
    up to ``max_rounds`` widenings or ``max_budget``. Returns the
    validated (possibly widened) budget; records the
    (budget, validation recall) trail in ``stats['validation']``, the
    final recall in ``stats['validated_recall']``, and whether that
    final recall actually cleared the target in ``stats['validated']``
    — when max_rounds/max_budget are exhausted short of the target the
    last widened budget is still returned (best-effort, the fit's same
    contract) but ``validated`` is False and a UserWarning is emitted,
    so a caller claiming a delivered-recall contract can assert instead
    of silently serving a miss."""
    if stats is None:
        stats = {}
    trail: list[tuple[float, float]] = []
    stats["validation"] = trail
    b = float(budget)
    for _ in range(max(1, max_rounds) + 1):
        r = _recall_of(groundtruth, search_fn(b), k)
        trail.append((b, r))
        if r >= target_recall or b >= max_budget:
            break
        b = min(float(max_budget), b * widen)
    stats["validated_recall"] = trail[-1][1]
    stats["validated"] = trail[-1][1] >= target_recall
    if not stats["validated"]:
        warnings.warn(
            f"validate_budget exhausted max_rounds/max_budget at recall "
            f"{trail[-1][1]:.4f} < target {target_recall:.4f}; serving "
            f"best-effort budget {trail[-1][0]}",
            UserWarning,
            stacklevel=2,
        )
    return trail[-1][0]


def calibration_sample_size(
    target_recall: float,
    k: int,
    epsilon: float | None = None,
    z: float = 1.6449,
    n_min: int = 16,
    n_max: int = 512,
) -> tuple[int, int]:
    """Derive (n_fit, n_val) calibration split sizes from the CI
    half-width the margin formula already computes, instead of
    hand-picked constants: solve ``z * sqrt(t(1-t) / (n*k)) <= epsilon``
    for n, i.e. n = ceil(z^2 * t(1-t) / (epsilon^2 * k)) — the smallest
    fit sample whose one-sided CI margin (see :func:`margined_target`)
    is at most ``epsilon`` wide at the user's target. ``epsilon``
    defaults to ``max(0.005, (1 - target)/5)``: a fifth of the recall
    headroom, so a 0.90 target fits at +-2pp (n_fit=61 at k=10 —
    bracketing the 64 the 1e8 tier validated) and tighter targets get
    proportionally larger samples. n_val is half the fit sample (the
    held-out grading needs power, not precision — it detects a biased
    DRAW, a ~whole-margin effect, not a fraction of it). Both clamp to
    [n_min, n_max] (n_val to [n_min//2, n_max//2])."""
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1) for auto-sizing")
    if epsilon is None:
        epsilon = max(0.005, (1.0 - target_recall) / 5.0)
    t = target_recall
    n = math.ceil(z * z * t * (1.0 - t) / (epsilon * epsilon * max(1, int(k))))
    n_fit = int(min(max(n, n_min), n_max))
    n_val = int(min(max(n_fit // 2, n_min // 2), n_max // 2))
    return n_fit, n_val


def calibrate_probe_budget(
    search_fn: Callable[[float], DataFrame],
    groundtruth: DataFrame,
    k: int,
    target_recall: float = 0.9,
    min_budget: float = 1.0,
    max_budget: float | None = None,
    resolution: float = 0.25,
    hint: float | None = None,
) -> ProbeBudgetResult:
    """Smallest probe budget in [min_budget, max_budget] whose recall
    >= target — the reference's recall-targeted auto-tuning
    (calibrate.h:249 optimize_search_buffer's binary search against a
    groundtruth + target recall) applied to the routed/IVF probe-cost
    axis instead of the window axis. Replaces hand-picked budgets
    (e.g. the n_shards/2 routed default) with a budget fitted to the
    actual data geometry: clustered data hits the target at a small
    budget, signal-free data honestly reports what full fan-out buys.

    ``search_fn(budget)`` runs the search at that ``probe_budget`` and
    returns the engine's standard (qid, rank, neighbor_id, ...) frame.
    Budgets are quantized to ``resolution`` steps and binary-searched
    over the integer step grid, so the chosen operating point is
    exactly reproducible (recall is monotone-ish in budget — more
    probes never remove candidates; the same working assumption as
    calibrate.h's window search). O(log range) search jobs.

    ``hint``: a warm-start budget (e.g. the previous tier's fitted
    budget scaled by sqrt(N ratio) — the scaling visible across the
    recorded stress tiers). The search probes the hint FIRST and
    gallops (doubling) toward whichever side the target lies, then
    binary-searches the bracketed gap — a good hint replaces the
    opening full-fan-out probe (the single most expensive eval: a
    budget=max probe scans the entire base) with evals near the true
    operating point, cutting total probed-scan cost ~linearly in
    hint/max. A bad hint only costs the gallop steps; the result is
    the same grid point the cold search finds (same grid, same
    monotone assumption).

    If even ``max_budget`` misses the target, returns max_budget with
    its achieved recall (the reference's same best-effort report)."""
    if max_budget is None:
        raise ValueError("max_budget is required (e.g. the shard/cluster count)")
    if resolution <= 0:
        raise ValueError("resolution must be > 0")
    # ceil, not round: round() can place the lowest grid point BELOW
    # min_budget (min_budget=1.0, resolution=0.3 -> step 3 = 0.9) and
    # the search kernels reject probe_budget < 1 mid-calibration. The
    # 1e-9 slack keeps exact divisions (1.0/0.25 -> 4) from ceiling up
    # on float error.
    lo = max(1, math.ceil(min_budget / resolution - 1e-9))
    hi = max(lo, int(round(max_budget / resolution)))
    probes: list[tuple[float, float]] = []

    def probe(step: int) -> float:
        b = step * resolution
        r = _recall_of(groundtruth, search_fn(b), k)
        probes.append((b, r))
        return r

    r_hi = None
    if hint is not None and lo < hi:
        h = min(max(int(round(float(hint) / resolution)), lo), hi)
        r_hi = probe(h)
        if r_hi < target_recall and h < hi:
            # hint fails: gallop upward (doubling) to bracket the crossing
            lo = h + 1
            while True:
                h = min(h * 2, hi)
                r_hi = probe(h)
                if r_hi >= target_recall or h == hi:
                    break
                lo = h + 1
        # the last probe either passes (an upper bracket that never paid
        # the full-fan-out probe) or failed at max (best-effort)
        hi = h
    step, r = _first_passing(probe, lo, hi, target_recall, r_hi)
    return ProbeBudgetResult(step * resolution, r, target_recall, probes)


def fit_probe_budget(
    queries: DataFrame,
    k: int,
    target_recall: float,
    search_at: Callable[[float, DataFrame, list[int]], DataFrame],
    gt_scan: Callable[[DataFrame, list[int]], DataFrame],
    cache: dict,
    cache_key: tuple | None,
    max_budget: float,
    qid_col: str = "qid",
    calibration_queries: int | str = 32,
    calibration_groundtruth: DataFrame | None = None,
    calibration_margin: float | str | None = "ci",
    calibration_validation_queries: int = 0,
    calibration_budget_hint: float | None = None,
    calibration_stats: dict | None = None,
) -> float:
    """The calibration loop behind every ``target_recall=`` search
    (ivf_search, vamana_search): fit the probe budget that hits
    ``target_recall`` on a deterministic query sample, validate it on a
    held-out one, and return it. The index family supplies only
    ``search_at(budget, q_df, qids)`` — its search over the sampled
    queries ``q_df`` (whose qid list is ``qids``) at that
    ``probe_budget``, run at the caller's exact operating point
    (max_probes, exclusions, rerank args, ``where=``) so the fitted
    budget is the one the final search needs — and
    ``gt_scan(q_df, qids)``, the exact groundtruth scan for that sample.

    ``calibration_queries``: the fit sample is that many smallest qids
    (reproducible, no RNG). The budget search is
    :func:`calibrate_probe_budget` on the 0.25 grid up to
    ``max_budget`` (the cluster/shard count): O(log range) sampled
    searches. ``"auto"`` sizes the fit sample from the CI half-width at
    (target, k) (:func:`calibration_sample_size`) and, when no explicit
    validation count was given, holds out half that.

    ``calibration_groundtruth``: standard (qid, rank, neighbor_id)
    exact results covering the sample, skipping ``gt_scan``. Otherwise
    the scan runs once per sample and is cached in ``cache`` (the
    index's ``cal_cache``, the gt-beside-the-manifest analog: the exact
    scan is the dominant one-time cost at scale) under
    ``("gt", k, qids) + cache_key``; ``cache_key=None`` marks a scan
    whose inputs cannot be keyed (a rerank base, an exclusion frame),
    which then runs uncached.

    ``calibration_margin``: sampling-aware fit target. ``"ci"`` (the
    default) fits at the one-sided 95% upper confidence bound of the
    sample recall (:func:`margined_target` — an exact 32-query/k=10
    fit is a coin flip on whether the POPULATION clears the target;
    measured 0.8712 at 1e8 rows), a float adds a fixed margin, None
    keeps the exact fit. The margin is sized from the ACTUAL effective
    sample: the fitted qid count, bounded by a supplied groundtruth's
    distinct qids (recall joins inner on qid).

    ``calibration_validation_queries``: > 0 holds out that many
    ADDITIONAL qids (the next-smallest after the fit sample, disjoint)
    and grades the fitted budget on them before serving, widening it
    until the held-out recall clears the target
    (:func:`validate_budget` — a within-sample margin cannot remove a
    BIASED draw; the held-out check can detect it). A supplied
    groundtruth that covers the held-out qids is reused for it.

    ``calibration_budget_hint``: warm start for the budget search (e.g.
    a smaller tier's fitted budget scaled by sqrt(N ratio)) — a good
    hint replaces the opening full-fan-out probe with evals near the
    operating point; a bad one costs only the gallop steps
    (:func:`calibrate_probe_budget` ``hint=``).

    ``calibration_stats``: pass a dict to receive the one-time cost
    split, so groundtruth + fit cost is never conflated with serve
    cost: gt_sec, gt_cached, n_fit_qids, fit_target, fit_sec,
    fit_evals, fitted_budget, fit_recall; plus auto_sized (with
    ``"auto"``), budget_hint (with a hint), and n_val_qids, validation,
    validated_recall, validated, val_sec, validated_budget (with a
    held-out split)."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError("target_recall must be in (0, 1]")
    stats = {} if calibration_stats is None else calibration_stats
    n_cal, n_val = calibration_queries, calibration_validation_queries
    if n_cal == "auto":
        stats["auto_sized"] = calibration_sample_size(target_recall, k)
        n_cal, auto_val = stats["auto_sized"]
        n_val = int(n_val) or auto_val
    n_cal, n_val = int(n_cal), max(0, int(n_val))
    qlong = F.col(qid_col).cast("long")
    all_qids = [
        int(r[0])
        for r in queries.select(qlong.alias("q"))
        .orderBy("q")
        .limit(n_cal + n_val)
        .collect()
    ]
    fit_qids, val_qids = all_qids[:n_cal], all_qids[n_cal:]

    def exact_gt(q: DataFrame, qids: list[int]) -> tuple[DataFrame, bool]:
        if cache_key is None:
            return gt_scan(q, qids), False
        key = ("gt", k, tuple(qids)) + tuple(cache_key)
        pdf = cache.get(key)
        cached = pdf is not None
        if not cached:
            # materialize once (|sample| x k rows — driver-small), so
            # gt_sec is an honest split and a re-fit never re-scans
            pdf = cache[key] = gt_scan(q, qids).toPandas()
        return queries.sparkSession.createDataFrame(pdf), cached

    t0 = time.perf_counter()
    fit_q = queries.filter(qlong.isin(fit_qids))
    n_fit = max(1, len(fit_qids))
    groundtruth = calibration_groundtruth
    if groundtruth is not None:
        n_fit = min(
            n_fit, max(1, groundtruth.select(qid_col).distinct().count())
        )
        stats["gt_cached"] = False
    else:
        groundtruth, stats["gt_cached"] = exact_gt(fit_q, fit_qids)
    stats["gt_sec"] = time.perf_counter() - t0
    stats["n_fit_qids"] = n_fit
    fit_target = margined_target(target_recall, calibration_margin, k, n_fit)
    stats["fit_target"] = fit_target
    if calibration_budget_hint is not None:
        stats["budget_hint"] = float(calibration_budget_hint)
    t0 = time.perf_counter()
    cal = calibrate_probe_budget(
        lambda b: search_at(b, fit_q, fit_qids),
        groundtruth, k, target_recall=fit_target,
        max_budget=float(max_budget), hint=calibration_budget_hint,
    )
    stats["fit_sec"] = time.perf_counter() - t0
    stats["fit_evals"] = len(cal.probes)
    stats["fitted_budget"] = cal.probe_budget
    stats["fit_recall"] = cal.recall
    budget = cal.probe_budget
    if val_qids:
        t0 = time.perf_counter()
        val_q = queries.filter(qlong.isin(val_qids))
        val_gt = None
        if calibration_groundtruth is not None:
            val_gt = calibration_groundtruth.filter(qlong.isin(val_qids))
            if val_gt.select(qid_col).distinct().count() != len(val_qids):
                val_gt = None
        if val_gt is None:
            val_gt = exact_gt(val_q, val_qids)[0]
        stats["n_val_qids"] = len(val_qids)
        budget = validate_budget(
            lambda b: search_at(b, val_q, val_qids),
            val_gt, k, target_recall, budget,
            max_budget=float(max_budget), stats=stats,
        )
        stats["val_sec"] = time.perf_counter() - t0
        stats["validated_budget"] = budget
    return budget


@dataclass
class ClosureResult:
    amplification: float
    recall: float
    target_recall: float
    probes: list[tuple[float, float]]  # (amplification, recall)


def calibrate_closure_amplification(
    build_search_fn: Callable[[float], DataFrame],
    groundtruth: DataFrame,
    k: int,
    target_recall: float = 0.9,
    ladder: tuple[float, ...] = (1.0, 1.25, 1.5, 2.0, 3.0),
) -> ClosureResult:
    """Smallest closure storage amplification on ``ladder`` whose
    recall >= target. Closure replication (SPANN closure assignment,
    operators/vamana.py closure_bp) is a LAYOUT property:
    ``build_search_fn(amplification)`` must rebuild the index at that
    target amplification (fit via ivf.fit_closure_bp) and return the
    search result frame — each probe is a build, so the search space is
    a small explicit ladder, binary-searched by index (recall is
    monotone in amplification: replicas only add reachable candidates).
    Same best-effort contract as :func:`calibrate_probe_budget`."""
    if not ladder or list(ladder) != sorted(ladder):
        raise ValueError("ladder must be a non-empty ascending sequence")
    probes: list[tuple[float, float]] = []

    def probe(i: int) -> float:
        r = _recall_of(groundtruth, build_search_fn(ladder[i]), k)
        probes.append((ladder[i], r))
        return r

    i, r = _first_passing(probe, 0, len(ladder) - 1, target_recall)
    return ClosureResult(ladder[i], r, target_recall, probes)


@dataclass
class SplitBufferResult:
    search_window_size: int
    buffer_capacity: int
    recall: float
    target_recall: float
    cost: float
    probes: list[tuple[int, int, float]]  # (window, capacity, recall)


def calibrate_split_buffer(
    search_fn: Callable[[int, int], DataFrame],
    groundtruth: DataFrame,
    k: int,
    target_recall: float,
    window: int,
    capacity_upper: int | None = None,
    cost_fn: Callable[[int, int], float] | None = None,
    timing_reps: int = 1,
) -> SplitBufferResult:
    """Split-buffer optimization (calibrate.h:171 optimize_split_buffer):
    starting from the uniform buffer ``(window, window)`` — normally the
    output of :func:`calibrate_window` — decrement the exploration
    window; a smaller window that holds the target recall with SOME
    capacity <= ``capacity_upper`` gets its minimal such capacity via
    binary search (lower-bounded by max(window, k), calibrate.h:221),
    and the cheapest passing configuration wins. If a window fails even
    at the max capacity, smaller windows cannot do better and the loop
    terminates (calibrate.h:206-210).

    ``search_fn(window, capacity)`` returns the standard result frame.
    ``cost_fn(window, capacity)`` scores a configuration; default =
    measured wall time of the search job (min over ``timing_reps``
    runs, the reference's get_search_time). Tests inject a
    deterministic model to sidestep host noise."""
    capacity_upper = capacity_upper or 4 * window
    probes: list[tuple[int, int, float]] = []

    def probe(w: int, cap: int) -> float:
        r = _recall_of(groundtruth, search_fn(w, cap), k)
        probes.append((w, cap, r))
        return r

    def cost_of(w: int, cap: int) -> float:
        if cost_fn is not None:
            return cost_fn(w, cap)
        best = float("inf")
        for _ in range(max(1, timing_reps)):
            t0 = time.perf_counter()
            search_fn(w, cap).count()
            best = min(best, time.perf_counter() - t0)
        return best

    # the uniform baseline's EFFECTIVE capacity is max(window, k) — every
    # search buffer holds at least k results (search_buffer.h invariant)
    best = SplitBufferResult(
        window, max(window, k), probe(window, window), target_recall,
        cost_of(window, window), probes,
    )
    sws = window
    while sws > 1:
        sws -= 1
        r_cap = probe(sws, capacity_upper)
        if r_cap < target_recall:
            break  # shrinking further cannot recover recall
        # smallest capacity in [max(sws, k), capacity_upper] that holds
        best_cap, best_r = _first_passing(
            lambda c: probe(sws, c), max(sws, k), capacity_upper,
            target_recall, r_cap,
        )
        c = cost_of(sws, best_cap)
        if c < best.cost:
            best = SplitBufferResult(
                sws, best_cap, best_r, target_recall, c, probes
            )
    return best
