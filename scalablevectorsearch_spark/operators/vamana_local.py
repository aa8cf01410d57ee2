"""Vamana graph construction + search — the per-shard local kernel
(pure numpy, no Spark imports; runs inside applyInPandas and, for the
centroid router, on the driver).

One kernel of each kind, batched; every caller runs the same one:
 - :func:`batch_greedy_search` — best-first traversal with a bounded
   search window (include/svs/index/vamana/greedy_search.h:124-203),
   frontier-synchronous across a query block. Build, insert, shard
   search (:func:`search_graph`) and the centroid router
   (operators/router.py) run it.
 - :func:`alpha_prune_batch` — the MRNG alpha-prune (iterative alpha
   relaxation, Added state kept across rounds; vamana/prune.h:92-172),
   one lockstep state machine per node. Build, insert and
   :func:`consolidate_graph` run it; :func:`alpha_prune` is its
   one-node form.
 - :func:`_dot_distance` — the one l2/ip/cosine rule from a dot
   product and two squared norms, shared by every GEMM / gemv distance
   (:func:`batch_distances`, the lazy traversal, pool and kill rows).
 - batch-synchronous construction (search -> prune -> apply updates ->
   reverse edges -> re-prune overfull): vamana_build.h:233-312
   (:328 generate_neighbors, :483 add_reverse_edges); build parameters:
   build_params.h:29-68.

The distributed engine shards the base table and builds one independent
graph per shard (operators/vamana.py) — each shard's kernel is this
module. Distances here are float64; ordering ties break by ascending id
(neighbor.h id-ordered comparators).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass
class VamanaParams:
    """build_params.h:29-68 (+ test-scale defaults from
    data/test_dataset/reference/vamana_reference.toml: degree=32,
    alpha=1.2, window=100)."""

    alpha: float = 1.2
    graph_max_degree: int = 32
    window_size: int = 100
    max_candidate_pool_size: int = 750
    #: None -> reference default (index.h:1066-1070): degree - 4 when
    #: degree >= 16, else degree. Pruning BELOW the max degree frees
    #: slots, so overfull nodes are re-pruned ~deg/4x less often during
    #: reverse-edge insertion — "can result in significant speedups in
    #: index building" (build_params.h:65-67)
    prune_to: int | None = None
    #: build_params.h:69-74: prune each node against EVERY node its
    #: construction search visited, not just the final search buffer.
    #: The reference defaults to True (preprocessor.h:181) — "may yield
    #: a slightly better graph at the cost of more [build] time"; this
    #: engine defaults to False because the visited pool is several
    #: times the buffer and the alpha-prune is the build's hot spot.
    use_full_search_history: bool = False
    #: kernel dtype for GRAPH CONSTRUCTION only (search always runs
    #: float64 for oracle determinism). "float32" halves the build's
    #: memory traffic — measured ~40% faster under full executor
    #: concurrency (the build is bandwidth-bound there), matching the
    #: reference's float32 build kernels; graph quality is unaffected
    #: (only exact-tie prune decisions can differ).
    build_dtype: str = "float64"
    #: construction sweeps over the data (index.h:428-429: the
    #: reference always runs construct(1.0) then construct(alpha) — two
    #: full passes; the first's backedge prune uses alpha=1.0, the
    #: second re-links every node over the completed graph). 2 is
    #: reference parity and what the published recall curves assume
    #: (single-pass measured ~20pp under the example_vamana golden
    #: curve); 1 halves build cost for bulk tiers that buy recall with
    #: calibrated probe fan-out instead.
    build_passes: int = 2
    #: fraction of nodes the re-link passes (pass 2+) sweep, lowest
    #: local ids first. Pass 2's value concentrates in the EARLY nodes — they
    #: were linked against a mostly-empty graph; late nodes already
    #: searched a near-complete graph in pass 1, so re-linking them
    #: buys almost nothing. 1.0 = the reference's full re-sweep
    #: (index.h:428-429). Measured on the example_vamana golden
    #: fixture (BENCH_HISTORY pass2-fraction-ab row, 10k x 128d,
    #: degree 64, window 128): with the r11 expanded-only tracker fix in place,
    #: even build_passes=1 sits inside the example's +-0.05 of the
    #: published curve, and "single-pass schedule + re-link the
    #: earliest 30%" (this default) measures WITHIN 0.003 of the full
    #: two-pass at sws 10/20 and ABOVE it at sws 30/40 —
    #: 0.5326/0.7128/0.8091/0.8712 vs full's
    #: 0.5355/0.7129/0.8068/0.8652, all inside the published epsilon —
    #: at ~0.7x the build wall (pass-2 cost is linear in the swept
    #: fraction). Set 1.0 for the reference's exact schedule. NOTE:
    #: any frac < 1.0 switches pass 1's backedge prune to params.alpha
    #: (single-pass semantics): with the reference's 1.0-alpha
    #: scaffolding pass, the never-re-linked majority measured BELOW
    #: the single-pass curve. (Narrowing pass 1's search window
    #: instead held the curve but saved only 1-7% of the wall: the
    #: per-round cost is the window-independent GEMM + lockstep prune;
    #: same BENCH_HISTORY row.)
    build_pass2_fraction: float = 0.3

    @property
    def prune_target(self) -> int:
        if self.prune_to is not None:
            return self.prune_to
        if self.graph_max_degree >= 16:
            return self.graph_max_degree - 4
        return self.graph_max_degree


def _dists(X: np.ndarray, q: np.ndarray, idx: np.ndarray, distance: str) -> np.ndarray:
    V = X[idx]
    if distance == "l2":
        diff = V - q
        return np.einsum("ij,ij->i", diff, diff)
    v_sq = None if distance == "ip" else np.einsum("ij,ij->i", V, V)
    return _dot_distance(V @ q, v_sq, q @ q, distance)


def medioid(X: np.ndarray) -> int:
    """core/medioid.h:275-292 — argmin L2 to the component-wise mean."""
    m = X.mean(axis=0)
    d = np.einsum("ij,ij->i", X - m, X - m)
    return int(np.argmin(d))  # first minimum = smallest id among ties


def _dot_distance(
    dot: np.ndarray,
    x_sq: np.ndarray | None,
    q_sq: np.ndarray | None,
    distance: str,
) -> np.ndarray:
    """The one l2/ip/cosine rule over dot products ``dot`` and the two
    sides' squared norms (arrays broadcast together; ip reads neither):
    ``max((x_sq + q_sq) - 2*dot, 0)``, ``-dot`` and ``-dot / (|q|*|x|)``
    (0 where a norm is 0). Every GEMM / gemv distance of this module
    goes through it, so the dense, lazy, pool and kill-row forms share
    one IEEE op order; only :func:`_dists`' l2 (the difference form
    that defines pool distances) computes its own."""
    if distance == "l2":
        return np.maximum(x_sq + q_sq - 2.0 * dot, 0.0)
    if distance == "ip":
        return -dot  # negate: smaller = better, uniform minimize convention
    if distance == "cosine":
        denom = np.sqrt(q_sq) * np.sqrt(x_sq)
        with np.errstate(divide="ignore", invalid="ignore"):
            return -np.where(denom > 0, dot / denom, 0.0)
    raise ValueError(f"unknown distance {distance!r}")


def batch_distances(
    X: np.ndarray,
    Q: np.ndarray,
    distance: str,
    x_sq: np.ndarray | None = None,
) -> np.ndarray:
    """(nq, n) distance matrix in one GEMM — the batch analog of the
    reference keeping the fixed query in registers across a traversal,
    amortized across the whole query block. ``x_sq``: optional
    precomputed per-row squared norms of ``X``."""
    QD = Q @ X.T
    q_sq = None
    if distance != "ip":
        if x_sq is None:
            x_sq = np.einsum("ij,ij->i", X, X)
        x_sq, q_sq = x_sq[None, :], np.einsum("ij,ij->i", Q, Q)[:, None]
    return _dot_distance(QD, x_sq, q_sq, distance)


def _pad_graph(graph: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(n, max_deg) int64 neighbor matrix padded with -1 + (n,) degree
    vector — the gatherable form of the ragged adjacency."""
    n = len(graph)
    lens = np.fromiter((len(a) for a in graph), dtype=np.int64, count=n)
    md = int(lens.max()) if n else 0
    NB = np.full((n, max(md, 1)), -1, dtype=np.int64)
    total = int(lens.sum())
    if total:
        rows = np.repeat(np.arange(n), lens)
        # per-row 0..len-1 ramps without n tiny aranges
        starts = np.cumsum(lens) - lens
        cols = np.arange(total) - np.repeat(starts, lens)
        NB[rows, cols] = np.concatenate(graph)
    return NB, lens


#: above this base size the dense (nq, n) distance block costs more
#: than on-demand per-round evaluation: a traversal visits only
#: O(window * degree) of the n rows, so lazy mode does ~n*visits*d
#: work instead of the O(n^2 * d) all-pairs GEMM (the build's
#: dominant cost at shard sizes >= ~10k)
LAZY_N = 4096


def batch_greedy_search(
    X: np.ndarray,
    graph: list[np.ndarray],
    entry_points: list[int],
    Q: np.ndarray,
    window_size: int,
    distance: str = "l2",
    capacity: int | None = None,
    D: np.ndarray | None = None,
    NB: np.ndarray | None = None,
    lazy: bool = False,
    x_sq: np.ndarray | None = None,
    track: bool = False,
    deadline: float | None = None,
):
    """Best-first traversal (greedy_search.h:124-203), frontier-
    synchronous across the batch: every query expands its best
    unexpanded in-window node each round, vectorized across the batch.
    Queries are independent (rounds only interleave them), so each row
    is the sequential traversal of its query; the batch form amortizes
    the Python-loop overhead, which dominates the per-shard kernels
    (vamana_build.h's batch-synchronous generate_neighbors searches a
    frozen graph, so whole batches can traverse in lockstep).

    Split buffer (search_buffer.h:39-60): ``capacity`` >= window_size
    keeps extra sorted candidates beyond the exploration window —
    termination only consults the first window_size entries, but up to
    ``capacity`` results are returned. Default: capacity == window_size.

    ``D``: optional precomputed (nq, n) distances (the chunked-GEMM
    block batch callers already hold). ``NB``: optional pre-padded
    adjacency from :func:`_pad_graph`, amortized across chunks.
    ``lazy``: evaluate distances on demand per round, for VISITED nodes
    only (gathered rows + one batched gemv) instead of a dense (nq, n)
    block — O(window · degree · d) per query instead of O(n · d), the
    sublinear mode the centroid router depends on; same
    :func:`_dot_distance` rule as :func:`batch_distances`, at most 1 ULP
    apart from the GEMM path (different accumulation blocking); use
    above :data:`LAZY_N`. Ignored when ``D`` is supplied.
    ``track``: additionally return the EXPANDED-node history (entry
    points + every node popped and expanded — the DiskANN visited set
    V; greedy_search.h:85,165) as (offsets, ids, dists) — per-query
    segments ids[offsets[q]:offsets[q+1]] sorted by (distance, id); the
    OptionalTracker of vamana_build.h:353 that feeds
    use_full_search_history pruning. Enqueued-but-never-expanded
    candidates are NOT tracked: they crowd the pool with the node's
    immediate neighborhood and the alpha-prune then drops the
    long-range edges the graph's navigability depends on.
    Returns (ids, dists) as (nq, cap) arrays padded with id -1 / inf,
    each row sorted best-first by (distance, id); with ``track`` a
    third element carries the history."""
    nq = Q.shape[0]
    n = X.shape[0]
    cap = max(capacity or window_size, window_size)
    q_sq = None
    if D is None and not lazy:
        D = batch_distances(X, Q, distance)
    if D is None and distance != "ip":
        # per-query/per-row squared norms for the on-demand distances
        if x_sq is None:
            x_sq = np.einsum("ij,ij->i", X, X)
        q_sq = np.einsum("ij,ij->i", Q, Q)
    if NB is None:
        NB, _ = _pad_graph(graph)
    eps = np.unique(np.asarray(list(entry_points), dtype=np.int64))
    ne = len(eps)

    def _pair_d(qidx: np.ndarray, nodes: np.ndarray) -> np.ndarray:
        """(a, m) distances of Q[qidx[i]] to X[nodes[i, j]] — the lazy
        analog of one D gather, same IEEE shape as batch_distances."""
        V = X[nodes]  # (a, m, d)
        # batched gemv (BLAS) — same dot as einsum, ~3x faster here
        QD = np.matmul(V, Q[qidx][:, :, None])[:, :, 0]
        if q_sq is None:  # ip reads no norms
            return _dot_distance(QD, None, None, distance)
        return _dot_distance(QD, x_sq[nodes], q_sq[qidx][:, None], distance)

    buf_ids = np.full((nq, cap + NB.shape[1]), -1, dtype=np.int64)
    buf_d = np.full((nq, cap + NB.shape[1]), np.inf, dtype=np.float64)
    seen = np.zeros((nq, n), dtype=bool)
    expanded = np.zeros((nq, n), dtype=bool)
    # init: entry points sorted by (dist, id) per query
    if D is not None:
        d0 = D[:, eps]
    else:
        d0 = _pair_d(np.arange(nq), np.broadcast_to(eps, (nq, ne)))
    order = np.lexsort((np.broadcast_to(eps, d0.shape), d0), axis=-1)
    buf_ids[:, :ne] = eps[order]
    buf_d[:, :ne] = np.take_along_axis(d0, order, axis=-1)
    seen[:, eps] = True
    log: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    if track:
        log.append(
            (
                np.repeat(np.arange(nq), ne),
                np.tile(eps, nq),
                d0.reshape(-1),
            )
        )

    w = min(window_size, cap)
    # active-set compaction: a query whose window holds no unexpanded
    # candidate is DONE forever (its buffer only changes when it expands)
    # — dropping finished rows keeps late straggler rounds cheap
    alive = np.arange(nq)
    while len(alive):
        if deadline is not None:
            import time as _time

            if _time.time() > deadline:
                # per-round cancel predicate (greedy_search.h:154-157)
                raise TimeoutError(
                    f"search deadline exceeded mid-traversal (deadline={deadline})"
                )
        # next(): nearest unexpanded inside each query's window
        win_ids = buf_ids[alive, :w]
        flags = expanded[alive[:, None], np.maximum(win_ids, 0)] | (win_ids < 0)
        has = ~flags.all(axis=1)
        alive = alive[has]
        if not len(alive):
            break
        act = alive
        pos = np.argmax(~flags[has], axis=1)
        node = buf_ids[act, pos]
        expanded[act, node] = True
        if track:
            # the tracker records EXPANDED nodes only (greedy_search.h:
            # 165 — the DiskANN "visited set V"), NOT every enqueued
            # candidate: a pool of all-seen candidates is dominated by
            # the node's immediate neighborhood and the alpha-prune then
            # keeps mostly short edges, costing the graph its long-range
            # navigability (measured ~17pp recall on the example_vamana
            # golden curve before this fix)
            log.append((act, node, buf_d[act, pos]))
        nbrs = NB[node]  # (a, md)
        ok = (nbrs >= 0) & ~seen[act[:, None], np.maximum(nbrs, 0)]
        if not ok.any():
            continue
        # a row with no unseen neighbors leaves its buffer untouched —
        # restricting the (expensive) merge sort to rows that actually
        # gained candidates is exact and skips most late-round work
        rowm = ok.any(axis=1)
        sub = act[rowm]
        ok = ok[rowm]
        nbrs = nbrs[rowm]
        safe = np.where(ok, nbrs, 0)
        # scatter only the True positions: a buffered |= through `safe`
        # would write pad slots (mapped to column 0) LAST, clobbering a
        # real neighbor-0 update in the same row
        ai, aj = np.nonzero(ok)
        seen[sub[ai], nbrs[ai, aj]] = True
        if D is not None:
            nd = np.where(ok, D[sub[:, None], safe], np.inf)
        else:
            nd = np.where(ok, _pair_d(sub, safe), np.inf)
        nid = np.where(ok, nbrs, -1)
        # merge: buffer keeps (cap) best by (dist, id); padded slots
        # (inf, -1) sort last and are never expanded
        md = NB.shape[1]
        buf_ids[sub, cap:cap + md] = nid
        buf_d[sub, cap:cap + md] = nd
        bi, bd = buf_ids[sub], buf_d[sub]
        # single-key stable sort (≈2x a 2-key lexsort), exact-(d, id)
        # repaired per row: equal-d runs are contiguous after a stable
        # d-sort, so any id misorder shows as an adjacent inversion —
        # those (rare: duplicate points) rows re-sort with the full
        # lexsort. Pad slots are (inf, -1) everywhere, tying cleanly.
        order = np.argsort(bd, axis=-1, kind="stable")
        # direct fancy gather — same values as take_along_axis without
        # its per-call index-tuple construction (merge hot path)
        ar = np.arange(len(sub))[:, None]
        sd = bd[ar, order]
        si = bi[ar, order]
        bad = ((sd[:, 1:] == sd[:, :-1]) & (si[:, 1:] < si[:, :-1])).any(axis=1)
        if bad.any():
            rows = np.nonzero(bad)[0]
            o2 = np.lexsort((bi[rows], bd[rows]), axis=-1)
            ar2 = np.arange(len(rows))[:, None]
            si[rows] = bi[rows][ar2, o2]
            sd[rows] = bd[rows][ar2, o2]
        si[:, cap:] = -1
        sd[:, cap:] = np.inf
        buf_ids[sub] = si
        buf_d[sub] = sd
    if not track:
        return buf_ids[:, :cap], buf_d[:, :cap]
    rows = np.concatenate([r for r, _, _ in log])
    vids = np.concatenate([i for _, i, _ in log])
    vds = np.concatenate([d for _, _, d in log])
    order = np.lexsort((vids, vds, rows))
    rows, vids, vds = rows[order], vids[order], vds[order]
    offsets = np.searchsorted(rows, np.arange(nq + 1))
    return buf_ids[:, :cap], buf_d[:, :cap], (offsets, vids, vds)


#: worker GEMM budget in MB (r12, VERDICT r11 task 2): every transient
#: per-chunk block in the build kernels — the dense (chunk, n) f64
#: distance block, the lazy (chunk, n) visit masks, and the (m, P, d)
#: prune gather tensor — is sized from ONE memory budget instead of
#: hard-coded cell counts, so an operator (or a stress driver that
#: knows available-mem / concurrent-workers) can bound the worker
#: high-water instead of getting SIGKILLed by the host OOM killer.
#: Read at import time in the WORKER (env is inherited from the JVM's
#: fork environment — set it before get_spark()). Default 64 MB keeps
#: the r11 chunk sizes bit-identical.
_GEMM_BUDGET_MB = max(8, int(os.environ.get("SVS_GEMM_BUDGET_MB", "64")))

#: cap on m*P*d cells for one alpha_prune_batch chunk — bounds the
#: (m, P, d) gathered-candidate tensor to ~1.5x the budget of f64
#: (96 MB at the 64 MB default, the pre-r12 constant)
_PRUNE_BATCH_CELLS = _GEMM_BUDGET_MB * 187_500


def alpha_prune_batch(
    X: np.ndarray,
    nodes: np.ndarray,
    pools: np.ndarray,
    pool_d: np.ndarray,
    alpha: float,
    max_result: int,
    distance: str = "l2",
) -> list[np.ndarray]:
    """MRNG/alpha prune (prune.h:92-172), lockstep-batched: one state
    machine per node, all ``m`` nodes advanced together (prunes of
    different nodes are independent, so the sequential per-candidate
    dependency is within a row only). Each row is the sequential
    machine — keep candidate c only while no kept neighbor r has
    ``current_alpha * d(r, c) < d(node, c)`` (strict), candidates
    visited in pool order, current_alpha relaxed geometrically up to
    alpha, Added persists across alpha rounds, Pruned resets.

    Each lockstep step jumps every row to ITS next available candidate
    (argmax over the availability mask) instead of sweeping all P pool
    positions, and the kill row d(added, pool) is computed lazily for
    the stepped rows only — O(adds · P · d) work per row like the
    reference's per-kept-neighbor scan (prune.h:128-150), not the
    O(P² · d) of a dense pairwise matrix. Rows run their alpha rounds
    independently (``alpha_row``), which is exactly the per-node
    round schedule of the sequential machine.

    ``pools``: (m, P) int64 padded with -1; ``pool_d``: (m, P) float64
    padded with +inf; both sorted by (distance, id) per row like every
    caller sorts. Trailing all-pad columns are trimmed (a pad is never
    addable), so the call — and each chunk of it — runs at its own
    widest pool; callers with very uneven pools sort rows by width
    (:func:`consolidate_graph`). Returns one add-ordered int64
    adjacency per node."""
    valid = pools >= 0
    cols = np.flatnonzero(valid.any(axis=0))
    m, P = len(pools), int(cols[-1]) + 1 if len(cols) else 0
    if m == 0 or P == 0 or not (1.0 <= alpha + 1e-12):
        return [np.empty(0, dtype=np.int64) for _ in range(m)]
    pools, pool_d, valid = pools[:, :P], pool_d[:, :P], valid[:, :P]
    d = X.shape[1]
    chunk = max(1, _PRUNE_BATCH_CELLS // max(P * d, 1))
    if m > chunk:
        out: list[np.ndarray] = []
        for c0 in range(0, m, chunk):
            out.extend(
                alpha_prune_batch(
                    X, nodes[c0 : c0 + chunk], pools[c0 : c0 + chunk],
                    pool_d[c0 : c0 + chunk], alpha, max_result, distance,
                )
            )
        return out
    # pad slots (-1) wrap to row 0 — garbage distances, but pads are
    # never addable and only ever appear as (harmless) kill victims
    V = X[np.maximum(pools, 0)]  # (m, P, d)
    sqP = None if distance == "ip" else np.einsum("mpd,mpd->mp", V, V)
    # r12: incremental availability. The old int8 state machine
    # recomputed `avail = (state==AVAILABLE) & addable & active &
    # (counts<max)` from scratch every lockstep iteration (~6 (m, P)
    # ops); `avail` only ever changes at a step (one slot), a kill
    # (mask out), an alpha-round reset (recompute for those rows) or a
    # row finishing (zero its row), so it is maintained in place —
    # `added` tracks the ADDED slots the resets must skip. Identical
    # state machine: avail == (state==AVAILABLE) & addable for active
    # rows at every iteration boundary, and the kill arithmetic below
    # is untouched.
    addable = valid & (pools != nodes[:, None])
    avail = addable.copy()
    added = np.zeros((m, P), dtype=bool)
    counts = np.zeros(m, dtype=np.int64)
    res = np.full((m, max_result), -1, dtype=np.int64)
    alpha_row = np.ones(m, dtype=np.float64)
    active = np.ones(m, dtype=bool)
    pos_idx = np.arange(P)
    # r12: active-row compaction. Rows finish their adds at different
    # times, but every lockstep iteration's (m, P[, d]) ops — the
    # avail/kill masks and especially the full-batch kill-row matmul —
    # pay for ALL m rows. Rows are independent, and the batched gemv /
    # einsum results are row-independent (one gemv per row), so slicing
    # every per-row array down to the survivors is BIT-identical — it
    # only removes dead work. Compact when ≥3/4 of rows are done: the
    # survivor copy is O(n_act·P·d) against an O(m·P·d) per-iteration
    # saving, and the 3/4 threshold A/B-measured never-slower across
    # n∈{250,530,2000,8192} builds where the half-done trigger LOST ~7%
    # at n=2000 (uniform pools → few iterations left to amortize the
    # copy). Finished rows' adjacencies are finalized into `final` as
    # they drop out.
    final: list = [None] * m
    orig = np.arange(m)

    def _finalize(rows_mask: np.ndarray) -> None:
        for j in np.nonzero(rows_mask)[0]:
            final[int(orig[j])] = res[j, : counts[j]].copy()

    while active.any():
        n_act = int(active.sum())
        if n_act <= len(active) // 4 and len(active) > 16:
            _finalize(~active)
            keep = np.nonzero(active)[0]
            orig = orig[keep]
            V = V[keep]
            if sqP is not None:
                sqP = sqP[keep]
            pools = pools[keep]
            pool_d = pool_d[keep]
            nodes = nodes[keep]
            avail = avail[keep]
            added = added[keep]
            addable = addable[keep]
            counts = counts[keep]
            res = res[keep]
            alpha_row = alpha_row[keep]
            active = np.ones(len(keep), dtype=bool)
            m = len(keep)
        has = avail.any(axis=1)
        done_rows = np.nonzero(active & ~has)[0]
        if len(done_rows):
            if alpha == 1.0:
                active[done_rows] = False
            else:
                na = alpha_row[done_rows] * alpha
                cont = (counts[done_rows] < max_result) & (na <= alpha + 1e-12)
                active[done_rows[~cont]] = False
                go = done_rows[cont]
                if len(go):
                    alpha_row[go] = na[cont]
                    avail[go] = addable[go] & ~added[go]
        if not has.any():
            continue
        rows = np.nonzero(has)[0]
        # full-width step (no per-row gather copies of V): stepped rows
        # advance to their next candidate; non-stepped rows are masked
        # out of the kill (p_full = P makes `pos > p` empty for them)
        p_full = np.where(has, avail.argmax(axis=1), P)
        p = p_full[rows]
        cand = pools[rows, p]
        res[rows, counts[rows]] = cand
        counts[rows] += 1
        added[rows, p] = True
        avail[rows, p] = False
        maxed = rows[counts[rows] >= max_result]
        if len(maxed):
            avail[maxed] = False
        # lazy kill row: d(added, pool_j), computed over the full batch
        # in one einsum. Kill results are only used for rows that
        # stepped (p_full = P empties the mask for the rest), but at the
        # dispatch-bound batch sizes the build produces (~200 x 64 x 64)
        # the full-batch matmul beats any gathered-row variant — an
        # adaptive gather branch A/B-measured SLOWER here.
        cand_full = np.zeros(m, dtype=np.int64)
        cand_full[rows] = cand
        Vr = X[cand_full]  # (m, d)
        # batched gemv (BLAS) — same per-pair dot as the scalar path's
        # dgemm row, ~3x c_einsum for this contraction
        ip = np.matmul(V, Vr[:, :, None])[:, :, 0]
        sq_r = None if sqP is None else np.einsum("md,md->m", Vr, Vr)[:, None]
        Drow = _dot_distance(ip, sqP, sq_r, distance)
        kill = (alpha_row[:, None] * Drow < pool_d) & avail
        kill &= pos_idx[None, :] > p_full[:, None]
        avail[kill] = False
    _finalize(np.ones(len(active), dtype=bool))
    return final


def alpha_prune(X, node, pool_ids, pool_d, alpha, max_result, distance="l2"):
    """:func:`alpha_prune_batch` for one node's (distance, id)-sorted pool."""
    return alpha_prune_batch(
        X, np.asarray([node], dtype=np.int64), np.asarray(pool_ids, dtype=np.int64)[None],
        np.asarray(pool_d, dtype=np.float64)[None], alpha, max_result, distance,
    )[0]


def _pool_dists(
    X: np.ndarray, nodes: np.ndarray, pools: np.ndarray, distance: str
) -> np.ndarray:
    """(m, P) distances of X[nodes[i]] to X[pools[i, j]] in one batched
    einsum — the multi-node analog of :func:`_dists`; pad slots
    (pools < 0) come back +inf so they sort last."""
    V = X[np.maximum(pools, 0)]  # (m, P, d)
    Qn = X[nodes]  # (m, d)
    # batched gemv (BLAS) — c_einsum doesn't dispatch to BLAS for this
    # contraction and is ~3x slower (same dot, same accumulation shape
    # as _pair_d / alpha_prune_batch's kill row)
    QD = np.matmul(V, Qn[:, :, None])[:, :, 0]
    v_sq = q_sq = None
    if distance != "ip":
        v_sq = np.einsum("mpd,mpd->mp", V, V)
        q_sq = np.einsum("md,md->m", Qn, Qn)[:, None]
    return np.where(pools >= 0, _dot_distance(QD, v_sq, q_sq, distance), np.inf)


def _node_pool_batch(
    X: np.ndarray,
    graph: list[np.ndarray],
    nodes: np.ndarray,
    pool_ids: np.ndarray,
    pool_d: np.ndarray,
    params: VamanaParams,
    distance: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Batched pool assembly of generate_neighbors (vamana_build.h:
    424-441): merge each node's search pool with its current neighbors,
    sort by (distance, id), cap at max_candidate_pool_size — the whole
    chunk at once (r12: the per-node loop of setdiff + lexsort + pad
    was pure numpy-dispatch overhead, ~0.1ms x chunk per linking round).

    ``pool_ids``/``pool_d``: (m, W) rows already sorted by (distance,
    id) with pad slots (-1, inf) as a SUFFIX (both the search buffer
    and the tracker segments satisfy this). Node-for-node identical to
    the old per-node path: the setdiff is integer key arithmetic, the
    leftover-neighbor distances go through the SAME per-node
    :func:`_dists` call, and one row-wise lexsort reproduces each
    node's (distance, id) order with pads sorting last. Returns padded
    (m, P) matrices ready for :func:`alpha_prune_batch`."""
    m, W = pool_ids.shape
    pool_len = (pool_ids >= 0).sum(axis=1)
    lens = np.fromiter(
        (len(graph[int(u)]) for u in nodes), dtype=np.int64, count=m
    )
    kj = np.empty(0, dtype=np.int64)
    kv = kj
    if lens.sum():
        big = np.int64(len(graph) + 1)
        js = np.repeat(np.arange(m, dtype=np.int64), lens)
        vs = np.concatenate(
            [np.asarray(graph[int(u)], dtype=np.int64) for u in nodes if len(graph[int(u)])]
        )
        # sorted-unique (node, neighbor) keys, then drop pairs already
        # in the pool — same set the per-node setdiff produced, and the
        # key order (j major, id minor) IS the old per-node ascending-id
        # order
        keys = np.unique(js * big + vs)
        valid = pool_ids >= 0
        pkeys = (np.arange(m, dtype=np.int64)[:, None] * big + pool_ids)[valid]
        keep = ~np.isin(keys, pkeys)
        kj = keys[keep] // big
        kv = keys[keep] % big
    ecnt = (
        np.bincount(kj, minlength=m) if len(kj) else np.zeros(m, dtype=np.int64)
    )
    P = int(max(W, (pool_len + ecnt).max())) if m else 0
    out_ids = np.full((m, P), -1, dtype=np.int64)
    out_d = np.full((m, P), np.inf, dtype=np.float64)
    out_ids[:, :W] = pool_ids
    out_d[:, :W] = pool_d
    if len(kj):
        starts = np.searchsorted(kj, np.arange(m, dtype=np.int64))
        colpos = pool_len[kj] + (np.arange(len(kj), dtype=np.int64) - starts[kj])
        ed = np.empty(len(kj), dtype=np.float64)
        bounds = np.append(starts, len(kj))
        for j in np.unique(kj):
            lo, hi = bounds[j], bounds[j + 1]
            # same per-node _dists call (bit-identical arithmetic) as
            # the old loop — only the bookkeeping around it is batched
            ed[lo:hi] = _dists(X, X[int(nodes[j])], kv[lo:hi], distance)
        out_ids[kj, colpos] = kv
        out_d[kj, colpos] = ed
    order = np.lexsort((out_ids, out_d), axis=-1)
    # trim to the widest row (pads sort last, so no real entry is cut)
    # and the candidate-pool cap — the same width the per-node path's
    # max-length padding produced
    maxw = int(min(int((pool_len + ecnt).max()) if m else 0,
                   params.max_candidate_pool_size))
    if P > maxw:
        order = order[:, :maxw]
    ar = np.arange(m)[:, None]
    return out_ids[ar, order], out_d[ar, order]


def _link_nodes(
    X: np.ndarray,
    graph: list[np.ndarray],
    entry_points: list[int],
    nodes: np.ndarray,
    params: VamanaParams,
    distance: str,
    x_sq: np.ndarray,
    reverse_alpha: float | None = None,
) -> None:
    """One batch-synchronous linking round — the shared body of a
    construction batch (vamana_build.h:233-312) and of incremental
    insertion (dynamic_index.h:631-700): greedy-search the FROZEN graph
    for every node in ``nodes``, alpha-prune each pool into that node's
    adjacency, apply all updates, then add reverse edges (re-pruned on
    overflow). Mutates ``graph`` in place.

    ``reverse_alpha``: the alpha used when an overfull BACKEDGE target
    is re-pruned (vamana_build.h:280 passes the construct PASS's alpha
    here while generate_neighbors at :275 "purposely" keeps
    params_.alpha for the forward prune) — the two-pass build's first
    pass prunes backedges at 1.0, the second at params.alpha. Defaults
    to params.alpha (the single-pass / insert behavior).

    Distances for the batch's searches come from chunked GEMMs (chunk
    bounds the (chunk, n) f64 block); lazy mode above :data:`LAZY_N`
    evaluates visited nodes only."""
    n = X.shape[0]
    deg = params.graph_max_degree
    lazy = n > LAZY_N
    # dense mode: chunk bounds the (chunk, n) f64 distance block to the
    # GEMM budget; lazy mode: the (chunk, n) bool visit masks (1 B/cell)
    # are the footprint, so the same byte budget allows 8x the cells
    cs = max(
        1,
        (_GEMM_BUDGET_MB * (1_000_000 if lazy else 125_000)) // max(n, 1),
    )
    NB, _ = _pad_graph(graph)  # frozen for the whole batch

    updates: list[tuple[int, np.ndarray]] = []
    full = params.use_full_search_history
    for c0 in range(0, len(nodes), cs):
        chunk = nodes[c0 : c0 + cs]
        blk = None if lazy else batch_distances(X, X[chunk], distance, x_sq=x_sq)
        out = batch_greedy_search(
            X, graph, entry_points, X[chunk], params.window_size, distance,
            D=blk, NB=NB, lazy=lazy, x_sq=x_sq if distance != "ip" else None,
            track=full,
        )
        if full:
            # prune against the whole visited history, not just the
            # final buffer (vamana_build.h:353 OptionalTracker,
            # reference default use_full_search_history=true) — the
            # per-query segments unpack into one padded (m, W) matrix
            # (each segment is already (distance, id)-sorted, pads are
            # a suffix by construction)
            bids, bds, (offs, vids, vds) = out
            seg_len = np.diff(offs)
            W = int(seg_len.max()) if len(seg_len) else 0
            grid = offs[:-1, None] + np.arange(W)[None, :]
            ok = np.arange(W)[None, :] < seg_len[:, None]
            grid = np.where(ok, grid, 0)
            pool_ids = np.where(ok, vids[grid], -1)
            pool_d = np.where(ok, vds[grid], np.inf)
        else:
            bids, bds = out
            pool_ids, pool_d = bids, bds
        # one batched pool assembly + one lockstep prune for the whole
        # chunk instead of one Python loop iteration per node (the
        # profiled build hot spots)
        pids, pds = _node_pool_batch(
            X, graph, chunk, pool_ids, pool_d, params, distance
        )
        adjs = alpha_prune_batch(
            X, chunk.astype(np.int64), pids, pds,
            params.alpha, params.graph_max_degree, distance,
        )
        updates.extend(zip((int(v) for v in chunk), adjs))
    for node, adj in updates:
        graph[node] = adj

    # add_reverse_edges (vamana_build.h:483-560). The adjacency is a
    # SET: a backedge that already exists is a no-op (graph_.add_edge
    # set semantics) — short-circuiting it avoids a pointless
    # re-prune of a full node that gained nothing. Vectorized: since
    # every backedge added this phase points at a DIFFERENT batch node
    # and (dst, src) pairs are unique, membership tests depend only on
    # the pre-phase adjacency, and an overfull node's candidate set
    # (its adjacency at re-prune time ∪ its overflow backedges) equals
    # pre-phase adjacency ∪ ALL its new backedges regardless of how
    # many were appended before it overflowed.
    srcs = np.fromiter((int(v) for v in nodes), dtype=np.int64, count=len(nodes))
    out_lens = np.fromiter((len(graph[s]) for s in srcs), dtype=np.int64, count=len(srcs))
    if out_lens.sum():
        pair_src = np.repeat(srcs, out_lens)
        pair_dst = np.concatenate([graph[s] for s in srcs if len(graph[s])])
        NB2, _ = _pad_graph(graph)
        present = (NB2[pair_dst] == pair_src[:, None]).any(axis=1)
        pair_src, pair_dst = pair_src[~present], pair_dst[~present]
        if len(pair_dst):
            # stable sort groups pairs by dst, preserving batch order
            # of sources within each dst (the sequential append order)
            order = np.argsort(pair_dst, kind="stable")
            pair_src, pair_dst = pair_src[order], pair_dst[order]
            dsts, starts = np.unique(pair_dst, return_index=True)
            bounds = np.append(starts, len(pair_dst))
            over_nodes: list[int] = []
            over_cands: list[np.ndarray] = []
            for i, dst in enumerate(dsts):
                dst = int(dst)
                news = pair_src[bounds[i] : bounds[i + 1]]
                adj = graph[dst]
                if len(adj) + len(news) <= deg:
                    graph[dst] = np.concatenate([adj, news])
                else:
                    cand = np.unique(np.concatenate([adj, news]))
                    over_nodes.append(dst)
                    over_cands.append(cand[cand != dst])
            if over_nodes:
                ow = max(len(c) for c in over_cands)
                onodes = np.asarray(over_nodes, dtype=np.int64)
                ocand = np.full((len(over_nodes), ow), -1, dtype=np.int64)
                for i, c in enumerate(over_cands):
                    ocand[i, : len(c)] = c
                # distances dst -> candidates, one batched einsum
                od = _pool_dists(X, onodes, ocand, distance)
                oorder = np.lexsort((ocand, od), axis=-1)
                ocand = np.take_along_axis(ocand, oorder, axis=-1)
                od = np.take_along_axis(od, oorder, axis=-1)
                r_alpha = params.alpha if reverse_alpha is None else reverse_alpha
                pruned = alpha_prune_batch(
                    X, onodes, ocand, od, r_alpha, params.prune_target, distance
                )
                for dst, adj in zip(over_nodes, pruned):
                    graph[dst] = adj


#: geometric batch-ramp bounds (r12 optimization round, guide §1.2
#: "per-task work"): the batch-synchronous build splits each pass into
#: frozen-graph rounds. The pre-r12 schedule was a FIXED 40 rounds
#: (ceil(n/4096) above 164k rows) — at routed-cell shard sizes
#: (250-500 rows) that means 7-13-node rounds whose lockstep kernels
#: are pure numpy-dispatch overhead: measured 0.81s -> 0.44s at n=250
#: and 1.75s -> 0.97s at n=500 (BENCH_HISTORY build-batch-ramp-ab
#: row). The ramp
#: doubles from BUILD_BATCH_MIN (early rounds stay small — CLOSER to
#: the reference's strictly sequential insert order than fixed-40 was,
#: since the opening rounds see the emptiest graph) up to a cap that
#: reproduces the old steady state at scale: max(256, min(4096,
#: ceil(n/40))) — at n=10k the cap is 256 vs fixed-40's 250-node
#: rounds, at n>=164k both schedules run ~n/4096 rounds of 4096.
#: Quality gate: the example_vamana golden curve measures
#: 0.5322/0.7169/0.8115/0.8721 under the ramp vs 0.5326/0.7128/
#: 0.8091/0.8712 under fixed-40 — equal-or-better at every window,
#: inside the example's ±0.05 (BENCH_HISTORY build-batch-ramp-ab
#: row; tests/test_golden_curve.py still gates it).
BUILD_BATCH_MIN = 8
BUILD_BATCH_CAP = 256


def _build_batch_bounds(n: int) -> list[int]:
    """Start offsets of the construction's frozen-graph rounds: sizes
    double from BUILD_BATCH_MIN to max(BUILD_BATCH_CAP, min(4096,
    ceil(n/40))) — few rounds for small shards, the pre-r12 steady
    state (~40 rounds, 4096-node cap) for large ones. The small opening
    rounds matter beyond quality: round sizes past the entry point's
    degree concentrate backedges on the young graph's few nodes and the
    overflow re-prune can orphan a node (no remaining in-edge) — a
    32-node opening round measurably disconnects 1-2 nodes per few
    hundred builds, which the exhaustive-window gates would surface as
    missing exact-kNN rows. The ramp keeps opening rounds tiny AND
    :func:`_repair_reachability` guarantees the invariant regardless."""
    cap = max(BUILD_BATCH_CAP, min(4096, -(-n // 40)))
    bounds = [0]
    s = min(BUILD_BATCH_MIN, n)
    while bounds[-1] + s < n:
        bounds.append(bounds[-1] + int(s))
        s = min(s * 2, cap)
    return bounds


def _reachable_mask(graph: list[np.ndarray], entry: int) -> np.ndarray:
    """(n,) bool: reachable from ``entry`` — vectorized frontier BFS
    over the padded adjacency (O(E) gathers)."""
    n = len(graph)
    NB, _ = _pad_graph(graph)
    seen = np.zeros(n, dtype=bool)
    frontier = np.asarray([entry], dtype=np.int64)
    seen[frontier] = True
    while len(frontier):
        nxt = NB[frontier].reshape(-1)
        nxt = nxt[nxt >= 0]
        nxt = nxt[~seen[nxt]]
        if not len(nxt):
            break
        nxt = np.unique(nxt)
        seen[nxt] = True
        frontier = nxt
    return seen


def _repair_reachability(
    X: np.ndarray,
    graph: list[np.ndarray],
    entry: int,
    params: VamanaParams,
    distance: str,
    x_sq: np.ndarray,
) -> None:
    """Deterministic connectivity repair: any node unreachable from the
    entry point is re-linked (its backedges restore in-edges); a node
    still orphaned after the re-link rounds is attached under its
    nearest reachable node, replacing that node's worst edge when full
    (only an edge whose target keeps another in-edge, so the repair
    never orphans a third node). No-op on a connected graph.

    Vamana's backedge overflow prune can drop a node's LAST in-edge —
    the reference has the same exposure (prune.h keeps no in-degree
    invariant) and merely makes it unlikely via its strictly sequential
    insert order; the batch ramp makes it a measured 1-in-a-few-hundred
    event, and the engine's exhaustive-window searches (= exact k-NN
    oracles) require every node reachable, so the invariant is enforced
    here rather than left to schedule luck."""
    deg = params.graph_max_degree
    for _ in range(3):
        seen = _reachable_mask(graph, entry)
        orphans = np.nonzero(~seen)[0]
        if not len(orphans):
            return
        _link_nodes(
            X, graph, [entry], orphans.astype(np.int64), params, distance, x_sq
        )
    seen = _reachable_mask(graph, entry)
    orphans = np.nonzero(~seen)[0]
    if not len(orphans):
        return
    # in-degree over the current adjacency (pre-repair; each attach below
    # only ever ADDS an in-edge to its orphan and removes one from a
    # target we verified keeps >= 2)
    n = len(graph)
    indeg = np.zeros(n, dtype=np.int64)
    for adj in graph:
        if len(adj):
            np.add.at(indeg, adj, 1)
    for u in orphans.tolist():
        reached = np.nonzero(seen)[0]
        d = _dists(X, X[u], reached, distance)
        order = np.lexsort((reached, d))
        attached = False
        for ri in order:
            r = int(reached[ri])
            adj = graph[r]
            if u in adj:
                continue
            if len(adj) < deg:
                graph[r] = np.concatenate([adj, np.asarray([u], dtype=np.int64)])
                attached = True
            else:
                # replace r's worst edge whose target keeps another
                # in-edge (worst by (distance desc, id desc))
                ad = _dists(X, X[r], adj, distance)
                worst = np.lexsort((-adj, -ad))
                for wi in worst:
                    tgt = int(adj[wi])
                    if indeg[tgt] >= 2:
                        indeg[tgt] -= 1
                        new_adj = adj.copy()
                        new_adj[wi] = u
                        graph[r] = new_adj
                        attached = True
                        break
            if attached:
                indeg[u] += 1
                seen[u] = True
                break


def build_graph(
    X: np.ndarray,
    params: VamanaParams,
    distance: str = "l2",
) -> tuple[list[np.ndarray], int]:
    """Batch-synchronous construct (vamana_build.h:233-312), run as the
    reference's TWO-PASS schedule (index.h:428-429, dynamic_index.h:
    257-258: ``construct(1.0)`` then ``construct(alpha)``): both passes
    sweep every node — greedy search, forward prune at params.alpha
    (vamana_build.h:271-275 keeps params_.alpha for generate_neighbors
    in BOTH passes), backedge overflow prune at the PASS alpha (1.0
    then params.alpha). The second pass re-links each node over the
    now-complete graph, merging its existing adjacency into the
    candidate pool (vamana_build.h:424-441) — this is where the graph
    earns its published recall curve: a single pass leaves early nodes
    linked against a mostly-empty graph and measured ~20pp below the
    reference's golden recall numbers on the example_vamana fixture
    (tools/golden_curve.py). ``params.build_passes=1`` restores the
    cheap single sweep for callers that buy recall with probe fan-out
    instead of graph quality.

    Returns (adjacency lists indexed by local id, entry_point local
    id)."""
    n = X.shape[0]
    entry = medioid(X)
    graph: list[np.ndarray] = [np.empty(0, dtype=np.int64) for _ in range(n)]
    bounds = _build_batch_bounds(n)
    x_sq = np.einsum("ij,ij->i", X, X)  # shared across every node's search

    passes = max(1, int(params.build_passes))
    frac = float(params.build_pass2_fraction)
    pass_alphas = [1.0] * (passes - 1) + [params.alpha]
    if frac < 1.0:
        # fractional re-link schedule: nodes OUTSIDE the re-linked
        # fraction keep their pass-1 adjacency forever, so pass 1 must
        # leave single-pass-at-alpha quality behind (backedge prune at
        # params.alpha), not the reference two-pass's 1.0-alpha
        # scaffolding — measured: 1.0-alpha scaffolding left the
        # un-relinked 70% BELOW the single-pass curve
        # (BENCH_HISTORY pass2-fraction-ab row: frac* vs single_pass)
        pass_alphas = [params.alpha] * passes
    for pass_no, pass_alpha in enumerate(pass_alphas):
        # re-link passes may sweep only the earliest-linked fraction of
        # nodes (build_pass2_fraction) — their reverse edges still reach
        # every node, and the skipped late nodes keep their pass-1
        # adjacency (searched against a near-complete graph already)
        limit = n
        if pass_no > 0 and frac < 1.0:
            limit = min(n, max(1, int(np.ceil(n * frac))))
        for b, start in enumerate(bounds):
            stop = min(limit, bounds[b + 1] if b + 1 < len(bounds) else n)
            if start >= stop:
                break
            # generate_neighbors: search + prune, updates applied after
            # the whole batch (batch-synchronous, vamana_build.h:469-476)
            _link_nodes(
                X, graph, [entry], np.arange(start, stop, dtype=np.int64),
                params, distance, x_sq, reverse_alpha=pass_alpha,
            )
    # every node must stay reachable from the entry point (the
    # exhaustive-window searches are exact-kNN oracles) — enforced, not
    # left to the batch schedule (see _repair_reachability)
    _repair_reachability(X, graph, entry, params, distance, x_sq)
    return graph, entry


#: incremental-insert linking rounds process at most this many new nodes
#: per frozen-graph batch, so later inserts in a large batch can reach
#: earlier ones (build bootstraps with much smaller batches because it
#: starts from an empty graph; inserts start from a full one)
INSERT_BATCH = 4096


def insert_points(
    X: np.ndarray,
    graph: list[np.ndarray],
    entry: int,
    new_nodes: np.ndarray,
    params: VamanaParams,
    distance: str = "l2",
    batch_size: int | None = None,
) -> None:
    """Incremental insertion (dynamic_index.h:631-700): link each new
    node by greedy-searching the EXISTING graph from the entry point,
    alpha-pruning the search pool into the node's adjacency, then adding
    reverse edges (pruned on overflow) — per-batch cost
    O(batch · window · degree · d), independent of graph size, vs the
    O(n) of a rebuild. ``X`` holds old and new rows; ``graph`` has the
    old adjacency (empty arrays at ``new_nodes``) and is mutated in
    place; the entry point is unchanged (the reference keeps the
    medioid of the original load until consolidation).

    ``batch_size`` (default :data:`INSERT_BATCH`): nodes linked per
    frozen-graph round. Measured on a 16k-row shard at amplification 2
    (8k inserts into an 8k graph): per-round cost is SUPERLINEAR in the
    round size — the lockstep greedy search pays for its slowest
    straggler across the whole chunk, so 4096-node rounds cost 2.1x the
    ~205-node (build-sized) rounds (31.8s vs 13.5s; sweep in the
    closure_link_replicas A/B tooling). Bulk closure linking passes a
    build-sized batch; the dynamic add_points default stays at 4096,
    where round boundaries are also reachability semantics."""
    x_sq = np.einsum("ij,ij->i", X, X)
    new_nodes = np.asarray(new_nodes, dtype=np.int64)
    bs = batch_size if batch_size is not None else INSERT_BATCH
    for b0 in range(0, len(new_nodes), bs):
        _link_nodes(
            X, graph, [entry], new_nodes[b0 : b0 + bs],
            params, distance, x_sq,
        )


def consolidate_graph(
    X: np.ndarray,
    graph: list[np.ndarray],
    deleted: np.ndarray,
    entry: int,
    params: VamanaParams,
    distance: str = "l2",
) -> int:
    """Physically remove deleted nodes by repairing adjacency THROUGH
    their neighborhoods (consolidate.h:357 semantics): every live node
    with >= 1 deleted neighbor replaces those edges with the deleted
    nodes' own live neighbors and alpha-prunes the merged pool — cost
    O(affected nodes · degree² · d), independent of shard size. Deleted
    nodes' adjacency rows are emptied; callers drop them from the
    emitted graph. Mutates ``graph``; returns the (possibly moved) entry
    point — if the entry was deleted, the medioid of the live rows
    (dynamic_index.h consolidate entry-point repair).

    All affected nodes are pruned by :func:`alpha_prune_batch`, rows
    ordered by pool width: the widths are uneven (one deleted
    neighbor vs several), and the batch pays its widest row on every
    row of a chunk — padding every chunk to the one widest pool
    measured slower than pruning node by node."""
    deleted = np.asarray(deleted, dtype=bool)
    nodes: list[int] = []
    pool_ids: list[np.ndarray] = []
    pool_d: list[np.ndarray] = []
    for u, adj in enumerate(graph):
        if deleted[u] or not len(adj) or not deleted[adj].any():
            continue
        # live adjacency ∪ live neighbors of the deleted neighbors,
        # without self, ascending id, then sorted by (distance, id)
        cand = np.concatenate([adj] + [graph[int(v)] for v in adj[deleted[adj]]])
        cand = np.unique(cand[~deleted[cand]])
        cand = cand[cand != u]
        cd = _dists(X, X[u], cand, distance)
        order = np.lexsort((cand, cd))
        nodes.append(u)
        pool_ids.append(cand[order])
        pool_d.append(cd[order])
    by_width = sorted(range(len(nodes)), key=lambda i: len(pool_ids[i]))
    pools, _ = _pad_graph([pool_ids[i] for i in by_width])
    pds = np.full(pools.shape, np.inf)
    if len(by_width):
        pds[pools >= 0] = np.concatenate([pool_d[i] for i in by_width])
    order_nodes = np.asarray([nodes[i] for i in by_width], dtype=np.int64)
    adjs = alpha_prune_batch(
        X, order_nodes, pools, pds, params.alpha, params.graph_max_degree, distance
    )
    for u, adj in zip(order_nodes.tolist(), adjs):
        graph[u] = adj
    for dnode in np.nonzero(deleted)[0]:
        graph[dnode] = np.empty(0, dtype=np.int64)
    if deleted[entry]:
        live = np.nonzero(~deleted)[0]
        entry = int(live[medioid(X[live])]) if len(live) else -1
    return entry


def search_graph(
    X: np.ndarray,
    graph: list[np.ndarray],
    entry: int,
    Q: np.ndarray,
    k: int,
    window_size: int,
    distance: str = "l2",
    valid: np.ndarray | None = None,
    capacity: int | None = None,
    deadline: float | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Batch search (index.h:557-600): :func:`batch_greedy_search` over
    query chunks sized under the GEMM budget — dense GEMM distances up
    to :data:`LAZY_N` rows, lazy above. The buffer CAPACITY is raised
    to >= k while the exploration window stays window_size
    (index.h:583-585 split-buffer behavior), then the best k are
    sliced. Returns (ids, dists) each (nq, <=k); short rows padded with
    id -1.

    ``valid``: optional (n,) bool — tombstoned nodes (False) are
    traversed but excluded from results, matching the dynamic index's
    skip-deleted buffer (dynamic_search_buffer.h). The reference buffer
    does not count deleted entries toward the window target, so the
    traversal keeps exploring until enough LIVE candidates settle; this
    batch kernel emulates that by re-searching any query that yielded
    fewer than k live results with a doubled window+capacity, until it
    finds k or the window covers the whole set (then the traversal has
    seen the entire reachable component). A fixed widening of
    min(#deleted, k) can starve when deletions crowd the buffer top."""
    nq = Q.shape[0]
    w = window_size
    cap = max(capacity or window_size, window_size, k)
    if valid is not None:
        # first guess: widen by the smaller of (#deleted, cap); the
        # retry loop below guarantees correctness when this undershoots
        cap = cap + int(min((~valid).sum(), cap))
    out_ids = np.full((nq, k), -1, dtype=np.int64)
    out_d = np.full((nq, k), np.inf, dtype=np.float64)
    x_sq = np.einsum("ij,ij->i", X, X) if distance in ("l2", "cosine") else None
    n = X.shape[0]
    NB, _ = _pad_graph(graph)
    lazy = n > LAZY_N
    # dense mode: one GEMM per query chunk (the (chunk, n) f64 block is
    # the footprint); lazy mode: distances evaluated per round for
    # visited nodes only, masks are the footprint
    chunk = max(
        1,
        min(nq, (_GEMM_BUDGET_MB * (1_000_000 if lazy else 125_000)) // max(n, 1)),
    )
    remaining = np.arange(nq, dtype=np.int64)
    while len(remaining):
        deficient: list[np.ndarray] = []
        for c0 in range(0, len(remaining), chunk):
            idx = remaining[c0 : c0 + chunk]
            D = None if lazy else batch_distances(X, Q[idx], distance, x_sq=x_sq)
            bids, bds = batch_greedy_search(
                X, graph, [entry], Q[idx], w, distance,
                capacity=cap, D=D, NB=NB, lazy=lazy, x_sq=x_sq,
                deadline=deadline,
            )
            keep = bids >= 0
            if valid is not None:
                keep &= valid[np.maximum(bids, 0)]
            live_counts = keep.sum(axis=1)
            # first k kept entries per row (rows are sorted best-first)
            keep &= np.cumsum(keep, axis=1) <= k
            out_ids[idx] = -1
            out_d[idx] = np.inf
            r, c = np.nonzero(keep)
            dest = (np.cumsum(keep, axis=1) - 1)[keep]
            out_ids[idx[r], dest] = bids[keep]
            out_d[idx[r], dest] = bds[keep]
            short = live_counts < k
            if short.any():
                deficient.append(idx[short])
        # w >= n => the settled buffer held every reachable node; the
        # remaining shortfall means the live component is just < k
        if not deficient or w >= n:
            break
        remaining = np.concatenate(deficient)
        w = min(n, w * 2)
        cap = max(cap * 2, w)
    return out_ids, out_d
