"""Sequential reference forms of the two graph kernels, for tests only.

The package runs one batched traversal (``batch_greedy_search``) and one
batched prune (``alpha_prune_batch``). These are the one-query and
one-node state machines they must reproduce row for row: the
equivalence tests in test_properties.py, test_vamana_local.py,
test_vamana.py and test_router.py compare against them.
"""

from __future__ import annotations

import numpy as np

from scalablevectorsearch_spark.operators.vamana_local import _dists, batch_distances


def greedy_search(
    X: np.ndarray,
    graph: list[np.ndarray],
    entry_points: list[int],
    q: np.ndarray,
    window_size: int,
    distance: str = "l2",
    capacity: int | None = None,
    lazy: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Best-first traversal of one query (greedy_search.h:124-203).
    Returns the final search-buffer contents (ids, dists) sorted
    best-first by (distance, id), at most ``capacity`` (default
    ``window_size``) entries; termination only consults the first
    ``window_size``. ``lazy``: distances of visited nodes only, through
    ``_dists``, instead of one dense row of ``batch_distances``."""
    cap = max(capacity or window_size, window_size)
    n = X.shape[0]
    all_d = None if lazy else batch_distances(X, q[None, :], distance)[0]

    def _d_of(ids: np.ndarray) -> np.ndarray:
        if all_d is not None:
            return all_d[ids]
        return _dists(X, q, ids, distance)

    seen = np.zeros(n, dtype=bool)
    expanded = np.zeros(n, dtype=bool)
    eps = np.unique(np.asarray(list(entry_points), dtype=np.int64))
    seen[eps] = True
    d0 = _d_of(eps)
    order = np.lexsort((eps, d0))
    buf_ids = eps[order]
    buf_d = d0[order]
    while True:
        # next(): nearest unexpanded inside the window
        w = min(len(buf_ids), window_size)
        cand = np.nonzero(~expanded[buf_ids[:w]])[0]
        if len(cand) == 0:
            break
        node = int(buf_ids[cand[0]])
        expanded[node] = True
        nb = graph[node]
        if len(nb):
            nb = nb[~seen[nb]]
        if len(nb) == 0:
            continue
        seen[nb] = True
        ids = np.concatenate([buf_ids, nb])
        ds = np.concatenate([buf_d, _d_of(nb)])
        order = np.lexsort((ids, ds))[:cap]
        buf_ids, buf_d = ids[order], ds[order]
    return buf_ids, buf_d


def alpha_prune(
    X: np.ndarray,
    node: int,
    pool_ids: np.ndarray,
    pool_d: np.ndarray,
    alpha: float,
    max_result: int,
    distance: str = "l2",
) -> np.ndarray:
    """MRNG/alpha prune of one node (prune.h:92-172): keep candidate c
    only while no kept neighbor r has current_alpha * d(r, c) <
    d(node, c); relax current_alpha geometrically up to alpha; Added
    state persists across rounds, Pruned state resets. Candidate-pair
    distances come from one dense pool GEMM."""
    n = len(pool_ids)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    P = X[pool_ids]
    if distance == "l2":
        ip = P @ P.T
        sq = np.einsum("ij,ij->i", P, P)
        D = np.maximum(sq[:, None] + sq[None, :] - 2.0 * ip, 0.0)
    elif distance == "ip":
        D = -(P @ P.T)
    else:  # cosine
        nrm = np.sqrt(np.einsum("ij,ij->i", P, P))
        denom = nrm[:, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            D = -np.where(denom > 0, (P @ P.T) / denom, 0.0)
    AVAILABLE, ADDED, PRUNED = 0, 1, 2
    state = np.full(n, AVAILABLE, dtype=np.int8)
    is_self = pool_ids == node
    result: list[int] = []
    current_alpha = 1.0
    while len(result) < max_result and current_alpha <= alpha + 1e-12:
        for start in range(n):
            if len(result) >= max_result:
                break
            if state[start] != AVAILABLE or is_self[start]:
                continue
            state[start] = ADDED
            result.append(int(pool_ids[start]))
            kill = current_alpha * D[start] < pool_d
            kill &= state == AVAILABLE
            kill[: start + 1] = False
            state[kill] = PRUNED
        if alpha == 1.0:
            break
        state[state == PRUNED] = AVAILABLE
        current_alpha *= alpha
    return np.asarray(result, dtype=np.int64)
