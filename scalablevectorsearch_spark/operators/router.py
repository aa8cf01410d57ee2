"""Centroid router — a Vamana graph over the cluster centroids, used to
pick probe clusters sublinearly when the cluster count is large.

Parity: the reference's two-level Inverted index builds its "primary
index" as a Vamana over the centroid subset
(/root/reference/include/svs/index/inverted/clustering.h:786-809
``build_primary_index`` -> ``vamana::auto_build``;
memory_based.h:577-586 routes every query/cluster-assignment through
it). This module is the same idea applied to probe selection for the
kmeans-sharded Vamana and the IVF index.

Scale rationale: exact probe selection is a brute-force argmin over all
C centroids — O(C·d) per query, fine at C ≤ ~10^4 but the bottleneck of
a SPANN-style layout at C ~ 10^6 (100 TB base / ~100 MB cells). The
router's greedy traversal touches O(window · degree) centroids per
query instead, and the centroid table (C × d — a few GB at worst) stays
driver/executor-resident exactly like the reference keeps the primary
index in memory beside the clustered data.

:func:`route` runs the shard search's kernel,
:func:`~scalablevectorsearch_spark.operators.vamana_local.search_graph`,
once per query block. Above ``LAZY_N`` centroids its distances are
lazy — computed for visited nodes only, which is what makes routing
sublinear; at or below it one dense (block, C) GEMM per query chunk is
cheaper than the gathers.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from scalablevectorsearch_spark.operators.vamana_local import (
    VamanaParams,
    build_graph,
    search_graph,
)


@dataclass
class CentroidRouter:
    """An in-memory Vamana over the (C, d) centroid matrix. Local node
    id == cluster id (centroids are dense-indexed by construction)."""

    centroids: np.ndarray
    graph: list[np.ndarray]
    entry: int
    distance: str
    params: VamanaParams

    @property
    def n_clusters(self) -> int:
        return int(self.centroids.shape[0])


def build_centroid_router(
    centroids,
    params: VamanaParams | None = None,
    distance: str = "l2",
) -> CentroidRouter:
    """Build the routing graph. ``centroids`` is a (C, d) array or a
    KMeansModel/shard_model exposing ``.centroids``."""
    C = np.asarray(getattr(centroids, "centroids", centroids), dtype=np.float64)
    if C.ndim != 2 or C.shape[0] < 1:
        raise ValueError(f"centroids must be (C, d), got shape {C.shape}")
    params = params or VamanaParams(
        graph_max_degree=min(32, max(4, C.shape[0] - 1)), window_size=64
    )
    graph, entry = build_graph(C, params, distance)
    return CentroidRouter(
        centroids=C, graph=graph, entry=entry, distance=distance, params=params
    )


def route(
    router: CentroidRouter,
    Q: np.ndarray,
    n_probes: int,
    window_size: int | None = None,
) -> np.ndarray:
    """(nq, n_probes) probed cluster ids per query, nearest-first.

    The exploration window defaults to ``max(2 * n_probes,
    router.params.window_size)`` — the routing analog of the reference's
    ``primary_parameters_`` search window (memory_based.h:401). Wider
    windows raise probe recall at O(window · degree) distance
    evaluations per query."""
    Q = np.asarray(Q, dtype=np.float64)
    if Q.ndim == 1:
        Q = Q[None, :]
    n_probes = min(n_probes, router.n_clusters)
    sws = max(window_size or 0, 2 * n_probes, router.params.window_size)
    ids, _ = search_graph(
        router.centroids, router.graph, router.entry, Q, n_probes, sws,
        router.distance, capacity=max(sws, n_probes),
    )
    out = ids.astype(np.int32)
    short = np.flatnonzero((out < 0).any(axis=1))
    if len(short):
        # degenerate tiny-C case: pad with the unvisited clusters, in
        # ascending id, so every row has n_probes valid probes
        sub = out[short]
        have = np.zeros((len(short), router.n_clusters), dtype=bool)
        r, c = np.nonzero(sub >= 0)
        have[r, sub[r, c]] = True
        rest = np.argsort(have, axis=1, kind="stable").astype(np.int32)
        m = (sub >= 0).sum(axis=1, keepdims=True)
        j = np.arange(n_probes)
        fill = np.take_along_axis(rest, np.maximum(j - m, 0), axis=1)
        out[short] = np.where(j < m, sub, fill)
    return out
