"""IVF (inverted-file) index — k-means clustered layout + n_probes search.

Parity: /root/reference/include/svs/index/ivf/index.h:77-111 (two-level
search), /root/reference/include/svs/index/ivf/common.h:151-166
(IVFSearchParameters: n_probes_, k_reorder_),
/root/reference/include/svs/index/ivf/kmeans.h:47-123 (build).

Spark plan (scale-first):
 - BUILD: k-means (operators.kmeans, one scan per Lloyd iteration) then
   ONE more scan stamping every base row with its cluster_id — the base
   is never shuffled. For persistent layouts, ``save_clustered`` writes
   the stamped table partitioned by a bounded ``cluster_bucket`` so a
   search's probed-cluster filter becomes Parquet partition pruning.
 - SEARCH: centroid argmin runs driver-side on the broadcast-small
   centroid table (Q x k_clusters), exactly the reference's outer level;
   the probed (cluster -> queries) map ships with the query matrix in one
   broadcast. A single ``mapInArrow`` pass scans only rows whose
   cluster_id was probed by someone (`isin` filter -> pushdown/pruning),
   computes distances cluster-by-cluster against just the probing
   queries, and keeps per-partition running top-k — the same
   O(Q·k·P)-row merge shuffle as the flat operator. n_probes bounds the
   scanned fraction to ~n_probes/n_clusters of the base.
 - k_reorder (common.h:156): optional second stage re-ranking the top
   k_reorder approximate candidates with exact full-precision distances
   (meaningful over quantized storage — see operators.sq), through the
   codecs' one exact re-rank (operators.codec).

Determinism: clusters from operators.kmeans's oracle protocol; probe
ranking and result ranking both on the e4 key floor(d*1e4+0.5) with
cluster-id / neighbor-id tie-breaks — reproduced verbatim by the DuckDB
oracle (oracles.ivf_knn_sql).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.arrowio import map_stamp
from scalablevectorsearch_spark.functions.distances import is_similarity
from scalablevectorsearch_spark.operators.codec import _rerank_reconstruction
from scalablevectorsearch_spark.operators.flat import (
    RESULT_SCHEMA,
    _ID_SENTINEL,
    _kernel_matrix,
    _merge_topk,
    collect_queries,
    search_blocks,
)
from scalablevectorsearch_spark.operators.kmeans import (
    KMeansModel,
    _cell_keys,
    _within_bp,
    make_stamp_fn,
    train_kmeans,
)


@dataclass
class IVFIndex:
    """clustered = base columns + cluster_id INT; model = trained k-means."""

    clustered: DataFrame
    model: KMeansModel
    id_col: str = "id"
    vec_col: str = "vector"
    #: calibration-sample groundtruth cache (the index analog of a gt
    #: file beside the manifest): keyed by everything the exact scan
    #: depends on, so a re-calibration on the same index (new target,
    #: new budget grid) skips the one full-base flat scan — at 1e8 rows
    #: that scan dominated calibration cost (r8: 1355.6s total vs 92.0s
    #: plain search)
    cal_cache: dict = field(default_factory=dict)

    @property
    def n_clusters(self) -> int:
        return self.model.centroids.shape[0]


def ivf_build(
    base: DataFrame,
    n_clusters: int,
    n_iters: int = 2,
    id_col: str = "id",
    vec_col: str = "vector",
    stamp_via: str = "auto",
    model: KMeansModel | None = None,
) -> IVFIndex:
    """Train k-means and stamp each row with its cluster id (one extra
    scan, no shuffle — the stamp is computed in the map side).

    ``stamp_via``: ``"flat"`` = one BLAS argmin over all C centroids
    per row (O(N*C) — the measured wall that forced the r8 1e8 tier
    down to 64k-row cells), ``"hierarchical"`` = grouped
    triangle-pruned stamp (~O(N*sqrt(C)), EXACT same assignments, see
    kmeans.group_centroids), ``"auto"`` = hierarchical at >=
    kmeans.HIERARCHICAL_STAMP_THRESHOLD centroids. ``model``: skip the
    (deterministic) retrain with a pre-trained KMeansModel — e.g. a
    prefix-sample-trained model at the 1e8 tier."""
    if model is None:
        model = train_kmeans(base, n_clusters, n_iters, id_col, vec_col)
    elif model.centroids.shape[0] != n_clusters:
        raise ValueError(
            f"model has {model.centroids.shape[0]} centroids, "
            f"expected n_clusters={n_clusters}"
        )
    sc = base.sparkSession.sparkContext
    clustered = map_stamp(
        base, vec_col, "cluster_id", make_stamp_fn(sc, model.centroids, stamp_via)
    )
    return IVFIndex(clustered=clustered, model=model, id_col=id_col, vec_col=vec_col)


def probe_clusters_epsilon(
    Q: np.ndarray,
    centroids: np.ndarray,
    epsilon_bp: int,
    max_probes: int | None = None,
    distance: str = "l2",
    min_probes: int | None = None,
) -> list[np.ndarray]:
    """Epsilon-cutoff cluster selection (memory_based.h:407-460, :508
    refinement_epsilon_): every cluster whose e4 centroid key passes
    ``_within_bp`` against the query's best key at ``epsilon_bp``,
    capped at the ``max_probes`` nearest and extended to the
    ``min_probes`` nearest, both by (key, cluster_id) — the same
    deterministic lexsort order (see :func:`probe_plan` for the
    clamp). Returns one variable-length cluster-id array per query."""
    key = _cell_keys(Q, centroids, distance)
    out: list[np.ndarray] = []
    for qi in range(key.shape[0]):
        sel = np.nonzero(_within_bp(key[qi], int(key[qi].min()), epsilon_bp))[0]
        if max_probes is not None and len(sel) > max_probes:
            order = np.lexsort((sel, key[qi, sel]))[:max_probes]
            sel = sel[order]
        if min_probes is not None and len(sel) < min_probes:
            m = min(min_probes, key.shape[1])
            allc = np.arange(key.shape[1])
            sel = allc[np.lexsort((allc, key[qi]))[:m]]
        out.append(sel.astype(np.int32))
    return out


def probe_clusters_epsilon_routed(
    Q: np.ndarray,
    centroids: np.ndarray,
    router,
    epsilon_bp: int,
    n_candidates: int | None = None,
    max_probes: int | None = None,
    distance: str = "l2",
    min_probes: int | None = None,
) -> list[np.ndarray]:
    """Two-level probe selection, composed exactly as the reference's
    Inverted index does it (memory_based.h:577-586 route through the
    primary index, :508 refine with epsilon): the centroid ROUTER
    (a Vamana over the centroids, operators.router) proposes
    ``n_candidates`` clusters per query sublinearly, then the epsilon
    cutoff keeps every candidate within (1 + epsilon_bp/1e4) of the
    best candidate. Exact distances are computed only for the proposed
    candidates — O(n_candidates · d) per query instead of O(C · d) —
    which is the path that stays cheap at C ~ 10^6 cells (100 TB).

    ``n_candidates`` defaults to 4x the max_probes cap (or 32). The
    cutoff's ``best`` is the best ROUTED candidate; like the reference,
    recall depends on the router's own recall for the top cluster."""
    from scalablevectorsearch_spark.operators.router import route

    if n_candidates is None:
        n_candidates = 4 * max_probes if max_probes else 32
    n_candidates = min(n_candidates, centroids.shape[0])
    cand = route(router, Q, n_candidates)
    out: list[np.ndarray] = []
    for qi in range(Q.shape[0]):
        cids = np.asarray(sorted({int(c) for c in cand[qi] if c >= 0}), dtype=np.int64)
        key = _cell_keys(Q[qi : qi + 1], centroids[cids], distance)[0]
        keep = _within_bp(key, int(key.min()), epsilon_bp)
        sel, skey = cids[keep], key[keep]
        if max_probes is not None and len(sel) > max_probes:
            order = np.lexsort((sel, skey))[:max_probes]
            sel = sel[order]
        if min_probes is not None and len(sel) < min_probes:
            # probe floor among the ROUTED candidates (the router's
            # proposal set bounds what the floor can reach — same
            # contract as the cutoff itself)
            m = min(min_probes, len(cids))
            sel = cids[np.lexsort((cids, key))[:m]]
        out.append(sel.astype(np.int32))
    return out


def budget_probe_clamp(
    probe_budget: float, n_cells: int, max_probes: int | None = None
) -> tuple[int, int]:
    """Per-query probe clamp ``[floor, cap]`` for budget-invariant
    adaptive probing (``probe_budget`` on :func:`probe_plan`): floor
    ~ 3/4 of the budget, cap 2x the budget, both bounded by the cell
    count and an explicit user ``max_probes``
    (a user cap below the floor wins — the floor is a quality default,
    the cap is a hard cost bound).

    The floor is kept STRICTLY below the budget (``ceil(0.75*B)``,
    additionally capped at ``ceil(B) - 1``): if floor >= budget then
    ``clip(raw, floor, cap).mean() >= budget`` already at bp=0, the
    binary search in :func:`fit_epsilon_bp` returns bp=1, and
    "adaptive" probing silently collapses to fixed floor probing.
    The ``ceil(B) - 1`` cap bites exactly at the small budgets (2, 3)
    where ``ceil(0.75*B) == B``; everywhere else the floor is the r6
    ``ceil(0.75*B)`` value — ``int()`` truncation would lower the floor
    by 1 for EVERY fractional ``0.75*B`` (budget 5: 3 vs 4; budget 7:
    5 vs 6), widening the under-probing tail that the clamp exists to
    cut (recall is concave in probes; the under-probing tail costs more
    than the over-probing tail buys). probe_budget=1 is the one
    unavoidable degenerate point (probes >= 1 always); there the clamp
    is [1, 2] and only the over-probing side adapts."""
    import math as _math

    floor = max(
        1,
        min(_math.ceil(0.75 * probe_budget - 1e-9), _math.ceil(probe_budget) - 1),
    )
    floor = min(n_cells, floor)
    cap = min(n_cells, max(floor, int(_math.ceil(2.0 * probe_budget))))
    if max_probes is not None:
        cap = min(max_probes, cap)
    floor = min(floor, cap)
    return floor, cap


def fit_epsilon_bp(
    Q: np.ndarray,
    centroids: np.ndarray,
    target_mean_probes: float,
    distance: str = "l2",
    min_probes: int | None = None,
    max_probes: int | None = None,
) -> int:
    """Choose ``epsilon_bp`` so that epsilon-cutoff probing
    (:func:`probe_clusters_epsilon`) probes ~``target_mean_probes``
    cells per query ON THIS GEOMETRY — the probe budget is the
    invariant, the basis points are derived. On clustered data the same
    budget yields a small epsilon (cells are well separated); on
    uniform data (concentrated centroid distances) it yields a tiny
    epsilon, where a hand-picked constant would silently degrade to a
    full fan-out. This is the calibration philosophy of the reference's
    auto-tuner (calibrate.h) applied to the Inverted index's
    refinement_epsilon (memory_based.h:508).

    Driver-side over a query SAMPLE (same contract as the reference's
    numpy query batches). Binary-searches integer basis points so the
    chosen value is exactly reproducible.

    When the probe selection will be clamped (``min_probes`` /
    ``max_probes`` on :func:`probe_clusters_epsilon`), pass the SAME
    clamps here so the fitted mean accounts for them — otherwise the
    floor inflates the realized mean above the budget."""
    key = _cell_keys(Q, centroids, distance)
    best = key.min(axis=1, keepdims=True)
    lo_c = min_probes if min_probes is not None else 0
    hi_c = max_probes if max_probes is not None else key.shape[1]
    lo, hi = 0, 10_000_000
    while lo < hi:
        mid = (lo + hi) // 2
        raw = _within_bp(key, best, mid).sum(axis=1)
        cnt = np.clip(raw, lo_c, hi_c).mean()
        if cnt < target_mean_probes:
            lo = mid + 1
        else:
            hi = mid
    return max(1, lo)


def fit_closure_bp(
    X_sample: np.ndarray,
    centroids: np.ndarray,
    target_amplification: float,
) -> int:
    """Choose ``closure_bp`` (SPANN closure replication) so the layout
    grows by ~``target_amplification``x on this geometry: amplification
    is the mean number of cells within (1 + bp/1e4) of each row's
    nearest centroid. Storage budget is the invariant; basis points are
    derived — a constant bp that is safe on clustered data can
    replicate into EVERY cell on uniform data (distance concentration).
    Driver-side over a row sample; exact integer binary search."""
    if target_amplification < 1.0:
        raise ValueError("target_amplification must be >= 1")
    key = _cell_keys(X_sample, centroids, "l2")
    best = key.min(axis=1, keepdims=True)
    lo, hi = 1, 10_000_000
    while lo < hi:
        mid = (lo + hi) // 2
        amp = _within_bp(key, best, mid).sum(axis=1).mean()
        if amp <= target_amplification:
            lo = mid + 1
        else:
            hi = mid
    return max(1, lo - 1)


def probe_clusters(
    Q: np.ndarray, centroids: np.ndarray, n_probes: int, distance: str = "l2"
) -> np.ndarray:
    """(nq, n_probes) probed cluster ids, ranked by e4-rounded centroid
    distance with ascending-cluster-id tie-break (the oracle's ORDER BY).

    Driver-side: centroids are the small side. For very large Q this same
    kernel runs distributed (map the queries table with broadcast
    centroids); the gate contract keeps queries driver-resident like the
    reference's numpy query batches."""
    key = _cell_keys(Q, centroids, distance)
    cids = np.broadcast_to(np.arange(centroids.shape[0], dtype=np.int64), key.shape)
    order = np.lexsort((cids, key), axis=1)[:, :n_probes]
    return order.astype(np.int32)


def _check_probe_args(
    n_probes: int | None,
    epsilon_bp: int | None,
    max_probes: int | None,
    probe_budget: float | None,
    target_recall: float | None,
) -> None:
    """Front-door value checks of the probe arguments of
    :func:`ivf_search` and ``vamana_search`` (None = not given): a
    negative ``n_probes`` would silently drop the farthest cells, and a
    zero one or a negative ``epsilon_bp`` would return no rows.
    ``n_probes`` is checked only where it selects the cells: an
    ``epsilon_bp``, ``probe_budget`` or ``target_recall`` search
    ignores it (callers pass ``n_probes=0`` beside ``epsilon_bp``)."""
    fixed = epsilon_bp is None and probe_budget is None and target_recall is None
    for name, value, low in (
        ("n_probes", n_probes if fixed else None, 1),
        ("epsilon_bp", epsilon_bp, 0),
        ("max_probes", max_probes, 1),
    ):
        if value is not None and value < low:
            raise ValueError(f"{name} must be >= {low}, got {value}")


def probe_plan(
    Q: np.ndarray,
    centroids: np.ndarray | None,
    distance: str = "l2",
    n_probes: int | None = None,
    epsilon_bp: int | None = None,
    max_probes: int | None = None,
    probe_budget: float | None = None,
    router=None,
    router_candidates: int | None = None,
) -> dict[int, np.ndarray] | None:
    """The one probe plan of IVF and kmeans-sharded Vamana search: the
    cells each query of a block probes, inverted to ``{cell: ascending
    query positions}`` — the map a block broadcasts beside its queries
    so the member scan keeps only probed cells and runs each cell
    against just its probing queries. ``None`` = no selection (full
    fan-out: a hash-sharded or unrouted Vamana search). Modes, in this
    order; the callers validate their combinations up front:

    ``probe_budget``: adaptive probing with the BUDGET as the
    invariant. :func:`fit_epsilon_bp` fits ``epsilon_bp`` on this
    block's query geometry (integer basis points, deterministic given
    the block) so the mean probes/query is ~probe_budget — the right
    default when the data distribution isn't known in advance (a
    hand-picked epsilon that is safe on clustered data degrades to full
    fan-out on uniform data and vice versa). The per-query probe count
    is clamped to [~3/4·budget (strictly < budget), 2·budget]
    (:func:`budget_probe_clamp`; an explicit ``max_probes`` below the
    floor wins) and the fit accounts for the clamp: an unclamped
    budget-fitted epsilon has a long-tailed probe distribution, and
    recall is concave in probes, so its under-probing tail costs more
    recall than its over-probing tail buys. On signal-free uniform data
    the unclamped fit underperforms a fixed fan-out at equal mean
    probes while the clamped fit matches it (BENCH_HISTORY.jsonl
    ``probe_alloc_coverage`` row); on mixed-difficulty clustered data
    the clamped fit beats both.

    ``epsilon_bp``: ADAPTIVE probing (the two-level Inverted index's
    refinement_epsilon_, memory_based.h:407-460, :508): every cell
    whose e4 centroid key is within (1 + epsilon_bp/1e4) of the query's
    best (``kmeans._within_bp``). Queries near a cell center probe few
    cells and boundary queries many, so recall does not degrade with
    the cell count the way a fixed fan-out does. Uncapped by default
    ("every cell within (1+epsilon)"); ``max_probes`` caps it at the
    nearest cells. Takes precedence over ``n_probes``.

    ``n_probes``: the fixed ``min(n_probes, n_cells)`` nearest cells,
    ranked by (e4 key, cell id) — IVFSearchParameters::n_probes_
    (common.h:151-166).

    ``router``: a CentroidRouter (operators.router) over these
    centroids replaces the exact O(C·d)-per-query key scan with a
    sublinear graph traversal, the two-level Inverted "primary index"
    (clustering.h:786-809), for large cell counts. With ``n_probes`` it
    returns the routed nearest cells; with ``epsilon_bp`` or
    ``probe_budget`` it proposes ``router_candidates`` cells (default
    4x ``max_probes``, or 32) and the cutoff refines among them
    (memory_based.h:577-586 + :508). Router padding (``c < 0``) never
    reaches the plan."""
    min_probes = None
    if probe_budget is not None:
        min_probes, max_probes = budget_probe_clamp(
            probe_budget, centroids.shape[0], max_probes
        )
        epsilon_bp = fit_epsilon_bp(
            Q, centroids, float(probe_budget), distance,
            min_probes=min_probes, max_probes=max_probes,
        )
    if epsilon_bp is not None:
        if router is not None:
            sel = probe_clusters_epsilon_routed(
                Q, centroids, router, epsilon_bp, n_candidates=router_candidates,
                max_probes=max_probes, distance=distance, min_probes=min_probes,
            )
        else:
            sel = probe_clusters_epsilon(
                Q, centroids, epsilon_bp, max_probes=max_probes,
                distance=distance, min_probes=min_probes,
            )
    elif n_probes is not None:
        n_probes = min(n_probes, centroids.shape[0])
        if router is not None:
            from scalablevectorsearch_spark.operators.router import route

            sel = route(router, Q, n_probes)
        else:
            sel = probe_clusters(Q, centroids, n_probes, distance)
    else:
        return None
    # (cell, query) pairs, padding dropped, sorted and deduplicated, then
    # split by cell
    qpos = np.repeat(np.arange(len(sel), dtype=np.int64), [len(s) for s in sel])
    cells = np.concatenate([np.asarray(s, dtype=np.int64) for s in sel] or [qpos])
    pairs = np.unique(np.stack([cells, qpos], axis=1)[cells >= 0], axis=0)
    cuts = np.flatnonzero(np.diff(pairs[:, 0])) + 1
    return {int(p[0, 0]): p[:, 1] for p in np.split(pairs, cuts) if len(p)}


def _fit_budget_for_target(
    index: IVFIndex,
    queries: DataFrame,
    k: int,
    target_recall: float,
    distance: str,
    qid_col: str,
    qvec_col: str,
    calibration_queries: int,
    groundtruth: DataFrame | None,
    router,
    router_candidates: int | None,
    where,
    max_probes: int | None = None,
    k_reorder: int | None = None,
    rerank_base: DataFrame | None = None,
    rerank_queries: DataFrame | None = None,
    stats: dict | None = None,
    calibration_margin: float | str | None = "ci",
    calibration_validation_queries: int = 0,
    budget_hint: float | None = None,
) -> float:
    """ivf_search's target_recall= fit: the IVF side of
    :func:`operators.calibrate.fit_probe_budget`, which owns the loop
    (sample split, groundtruth cache, margin, fit, validation, stats).
    The calibration searches run with the SAME ``max_probes`` /
    ``k_reorder`` / rerank arguments as the final search, each step
    broadcasting only the sample's full-precision rerank rows. The
    groundtruth is one exact flat scan of the clustered base (under
    ``where``) — or, when ``rerank_base`` is given, of the RE-RANK
    vectors the re-ranked search is graded against, uncached because
    that base's identity cannot be keyed."""
    from scalablevectorsearch_spark.operators.calibrate import fit_probe_budget
    from scalablevectorsearch_spark.operators.flat import flat_knn

    def rerank_of(qids):
        if rerank_queries is None:
            return None
        return rerank_queries.filter(F.col(qid_col).cast("long").isin(qids))

    def search_at(b, q, qids):
        return ivf_search(
            index, q, k, distance=distance, qid_col=qid_col,
            qvec_col=qvec_col, round_to=4, probe_budget=b, router=router,
            router_candidates=router_candidates, where=where,
            max_probes=max_probes, k_reorder=k_reorder,
            rerank_base=rerank_base, rerank_queries=rerank_of(qids),
        )

    def gt_scan(q, qids):
        if rerank_base is None:
            base = index.clustered.select(F.col(index.id_col), F.col(index.vec_col))
            if where is not None:
                base = base.filter(where)
        else:
            base = rerank_base
            if rerank_queries is not None:
                q = rerank_of(qids)
            if where is not None:
                # the predicate may reference metadata columns present on
                # the clustered frame but not on rerank_base — restrict by
                # id via semi-join instead of filtering rerank_base
                passing = index.clustered.filter(where).select(index.id_col)
                base = base.join(passing, on=index.id_col, how="semi")
        return flat_knn(
            base, q, k=k, distance=distance, qid_col=qid_col,
            qvec_col=qvec_col, id_col=index.id_col, vec_col=index.vec_col,
            round_to=4,
        )

    return fit_probe_budget(
        queries, k, target_recall, search_at, gt_scan,
        cache=index.cal_cache,
        cache_key=None if rerank_base is not None else (distance, str(where)),
        max_budget=index.n_clusters, qid_col=qid_col,
        calibration_queries=calibration_queries,
        calibration_groundtruth=groundtruth,
        calibration_margin=calibration_margin,
        calibration_validation_queries=calibration_validation_queries,
        calibration_budget_hint=budget_hint, calibration_stats=stats,
    )


def _ivf_kernel(
    bc, distance: str, k: int, round_to: int | None, deadline: float | None = None
):
    from scalablevectorsearch_spark.functions.distances import resolve_kernel

    scale = None if round_to is None else float(10**round_to)
    maximize = is_similarity(distance)
    kernel = resolve_kernel(distance)  # bound driver-side

    def fn(batches):
        import time as _time

        import pyarrow as pa

        qids, Q, probe_of = bc.value  # probe_of: dict cluster_id -> query positions
        nqt, d = Q.shape
        if scale is None:
            best_key = np.full((nqt, k), np.inf, dtype=np.float64)
        else:
            best_key = np.full((nqt, k), np.iinfo(np.int64).max, dtype=np.int64)
        best_id = np.full((nqt, k), _ID_SENTINEL, dtype=np.int64)
        seen = False
        for rb in batches:
            if deadline is not None and _time.time() > deadline:
                # per-batch cancel predicate (flat.h:344-346 parity)
                raise TimeoutError(
                    f"search deadline exceeded mid-partition (deadline={deadline})"
                )
            n = rb.num_rows
            if n == 0:
                continue
            seen = True
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            V = _kernel_matrix(rb.column(1), n, d)
            cl = rb.column(2).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            for cid in np.unique(cl):
                qidx = probe_of.get(int(cid))
                if qidx is None:
                    continue
                rows = cl == cid
                B = V[rows]
                bid = ids[rows]
                D = kernel(Q[qidx], B)
                if scale is not None:
                    key = np.floor(D * scale + 0.5).astype(np.int64)
                else:
                    key = D
                if maximize:
                    key = -key
                idmat = np.broadcast_to(bid, key.shape).astype(np.int64, copy=False)
                bk, bi = _merge_topk(best_key[qidx], best_id[qidx], key, idmat, k)
                best_key[qidx], best_id[qidx] = bk, bi
        if not seen:
            return
        mask = best_id.reshape(-1) != _ID_SENTINEL
        key_flat = best_key.reshape(-1).astype(np.float64)
        if maximize:
            key_flat = -key_flat
        dist = key_flat if scale is None else key_flat / scale
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(qids, k)[mask], type=pa.int64()),
                pa.array(best_id.reshape(-1)[mask], type=pa.int64()),
                pa.array(dist[mask], type=pa.float64()),
            ],
            names=["qid", "neighbor_id", "distance"],
        )

    return fn


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int,
    n_probes: int = 8,
    distance: str = "l2",
    qid_col: str = "qid",
    qvec_col: str | None = None,
    round_to: int | None = 4,
    epsilon_bp: int | None = None,
    max_probes: int | None = None,
    probe_budget: float | None = None,
    k_reorder: int | None = None,
    rerank_base: DataFrame | None = None,
    rerank_queries: DataFrame | None = None,
    where=None,
    router=None,
    router_candidates: int | None = None,
    max_query_block: int | None = None,
    deadline: float | None = None,
    target_recall: float | None = None,
    calibration_queries: int | str = 32,
    calibration_groundtruth: DataFrame | None = None,
    calibration_stats: dict | None = None,
    calibration_margin: float | str | None = "ci",
    calibration_validation_queries: int = 0,
    calibration_budget_hint: float | None = None,
) -> DataFrame:
    """Approximate k-NN probing clusters per query.

    Cluster selection per query block: ``n_probes`` (fixed fan-out,
    default 8), ``epsilon_bp`` (adaptive cutoff, overrides
    ``n_probes``; cap with ``max_probes``), ``probe_budget`` (fitted
    epsilon with the budget as the invariant; mutually exclusive with
    ``epsilon_bp``) and ``router`` / ``router_candidates`` (sublinear
    centroid routing) are documented once, on :func:`probe_plan`.

    ``k_reorder`` (common.h:156): first retrieve k_reorder candidates
    with the index's stored vectors, then re-rank them EXACTLY against
    ``rerank_base`` (full-precision vectors; required with k_reorder) —
    meaningful when the clustered storage is quantized. When the search
    queries themselves are compressed, pass the ORIGINAL query batch as
    ``rerank_queries`` so the exact stage uses full-precision queries.

    ``where``: hybrid filtered search (flat.h:290-295 predicate
    semantics over the clustered layout) — the predicate lands on the
    member scan BEFORE the kernel, composing with the probed-cluster
    filter for combined cluster + predicate pushdown.

    Returns (qid, rank, neighbor_id, distance) like flat_knn; recall < 1
    exactly when true neighbors live outside probed clusters.

    ``max_query_block``: for query tables too large for the driver —
    iterate hash-partitioned blocks, one probe+scan pass per block,
    each block's result materialized before the next is fetched (see
    flat_knn); incompatible with ``k_reorder``.

    ``target_recall``: recall-targeted probing — the reference's
    auto-tuning (calibrate.h:249) applied to the probe-cost axis. The
    probe budget is fitted against exact groundtruth on a deterministic
    calibration sample, then the full search runs at it: recall tracks
    the TARGET and the probe cost adapts to the data (fixed-probe IVF
    at 10M recalled 0.830 where epsilon probing bought 0.964 at
    comparable cost). Mutually exclusive with explicit
    ``epsilon_bp``/``probe_budget``; ignores ``n_probes``. The
    ``calibration_*`` arguments (sample size, supplied groundtruth,
    margin, held-out validation, warm-start hint, stats dict) are
    documented once, on :func:`operators.calibrate.fit_probe_budget`."""
    _check_probe_args(n_probes, epsilon_bp, max_probes, probe_budget, target_recall)
    if target_recall is not None:
        if epsilon_bp is not None or probe_budget is not None:
            raise ValueError(
                "target_recall is mutually exclusive with epsilon_bp/probe_budget"
            )
        budget = _fit_budget_for_target(
            index, queries, k, target_recall, distance, qid_col,
            qvec_col or index.vec_col, calibration_queries,
            calibration_groundtruth, router, router_candidates, where,
            max_probes=max_probes, k_reorder=k_reorder,
            rerank_base=rerank_base, rerank_queries=rerank_queries,
            stats=calibration_stats, calibration_margin=calibration_margin,
            calibration_validation_queries=calibration_validation_queries,
            budget_hint=calibration_budget_hint,
        )
        return ivf_search(
            index, queries, k, distance=distance, qid_col=qid_col,
            qvec_col=qvec_col, round_to=round_to, max_probes=max_probes,
            probe_budget=budget, k_reorder=k_reorder,
            rerank_base=rerank_base, rerank_queries=rerank_queries,
            where=where, router=router, router_candidates=router_candidates,
            max_query_block=max_query_block, deadline=deadline,
        )
    if probe_budget is not None:
        if epsilon_bp is not None:
            raise ValueError("probe_budget is mutually exclusive with epsilon_bp")
        if probe_budget < 1:
            raise ValueError("probe_budget must be >= 1")
    qvec_col = qvec_col or index.vec_col
    batch = None
    if k_reorder is not None:
        if max_query_block is not None:
            raise ValueError("max_query_block does not compose with k_reorder")
        # one collect serves the search and its re-rank
        batch = collect_queries(queries, qid_col, qvec_col)
    inner_k = k if k_reorder is None else max(k_reorder, k)
    out = search_blocks(
        queries, qid_col, qvec_col, inner_k, is_similarity(distance),
        lambda qids, Q: _ivf_search_block(
            index, qids, Q, inner_k, distance, round_to, where, deadline,
            probe_plan(
                Q, index.model.centroids, distance, n_probes, epsilon_bp,
                max_probes, probe_budget, router, router_candidates,
            ),
        ),
        max_query_block, batch,
    )
    if k_reorder is not None:
        if rerank_base is None:
            raise ValueError("k_reorder requires rerank_base (full-precision vectors)")
        rows = rerank_base.select(
            F.col(index.id_col).cast("long").alias("neighbor_id"),
            F.col(index.vec_col).alias("__bv"),
        )
        if rerank_queries is not None:
            batch = collect_queries(rerank_queries, qid_col, qvec_col)
        out = _rerank_reconstruction(out, rows, None, k, distance, round_to, query_batch=batch)
    return out.select("qid", "rank", "neighbor_id", "distance")


def _ivf_search_block(
    index: IVFIndex,
    qids: np.ndarray,
    Q: np.ndarray,
    k: int,
    distance: str,
    round_to: int | None,
    where,
    deadline: float | None,
    probe_of: dict[int, np.ndarray],
) -> tuple[DataFrame, object]:
    """One query block's member scan over its probe plan: the block's
    unranked (qid, neighbor_id, distance) candidates, k per query per
    partition, and its broadcast."""
    probed_union = [int(c) for c in sorted(probe_of)]
    clustered = index.clustered
    if where is not None:
        clustered = clustered.filter(where)
    scan = (
        clustered
        # probed-cluster filter FIRST: becomes partition pruning on a
        # cluster-partitioned layout, row-group skipping otherwise
        .filter(F.col("cluster_id").isin(probed_union))
        .select(
            F.col(index.id_col).cast("long").alias("__id"),
            F.col(index.vec_col).alias("__vec"),
            F.col("cluster_id").alias("__cid"),
        )
    )

    sc = index.clustered.sparkSession.sparkContext
    bc = sc.broadcast((qids, Q, probe_of))
    cand = scan.mapInArrow(_ivf_kernel(bc, distance, k, round_to, deadline), RESULT_SCHEMA)
    return cand, bc


def save_clustered(index: IVFIndex, path: str, n_buckets: int = 256) -> None:
    """Persist the clustered layout partitioned by a bounded bucket of
    cluster_id, so probed-cluster filters prune whole partitions at scale
    (32k clusters -> 256 dirs, not 32k)."""
    (
        index.clustered.withColumn(
            "cluster_bucket", F.pmod(F.col("cluster_id"), F.lit(n_buckets))
        )
        .repartition("cluster_bucket")
        .write.mode("overwrite")
        .partitionBy("cluster_bucket")
        .parquet(path)
    )
