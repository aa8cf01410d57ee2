"""k-means (Lloyd) training and assignment — the clustering aggregate
behind IVF and the LLM-pipeline embedding clustering.

Parity: /root/reference/include/svs/core/kmeans.h:88-247 (KMeansParameters
+ train loop), /root/reference/include/svs/index/ivf/kmeans.h:47-123
(IVF build: init -> train -> final assignment -> grouping).

Spark plan (scale-first):
 - Centroids are the SMALL side (k x d — a few MB even at 32k x 768):
   broadcast each iteration. The base table — the 100 TB side — is
   scanned once per Lloyd iteration and never shuffled.
 - Each iteration is ONE ``mapInPandas`` pass: every partition assigns
   its rows to the nearest broadcast centroid (numpy BLAS argmin — the
   map-side combine) and emits per-partition partial sums
   ``(cluster_id, cnt, sums)``. Only k x P tiny rows reach the driver,
   which merges them and re-rounds the centroids. This is the classic
   tree-free two-level aggregation; at extreme k x P a treeAggregate
   layer can be inserted without changing semantics.
 - Final assignment is the same pass emitting ``(id, cluster_id)``.

Determinism (oracle protocol): init = vectors of the k smallest ids;
fixed iteration count; after every mean update each centroid component
is rounded via ``floor(x*1e6 + 0.5)/1e6`` (round-half-up — identical in
numpy and DuckDB); empty clusters keep their previous centroid; argmin
ties break to the smallest cluster id. A DuckDB oracle unrolling the
same loop reproduces assignments exactly (oracles.kmeans_ctes).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType, StructField, StructType

from scalablevectorsearch_spark.functions.arrowio import map_stamp
from scalablevectorsearch_spark.functions.distances import is_similarity, pairwise_distances
from scalablevectorsearch_spark.placement import by_key

PARTIAL_SCHEMA = StructType(
    [
        StructField("cluster_id", IntegerType()),
        StructField("cnt", LongType()),
        StructField("sums", ArrayType(DoubleType())),
    ]
)


@dataclass
class KMeansModel:
    """Trained centroids. ``centroids`` is (k, d) float64, already rounded
    to ``round_decimals`` — the canonical values shared with the oracle."""

    centroids: np.ndarray
    n_iters: int
    round_decimals: int = 6
    init_ids: list[int] = field(default_factory=list)

    def centroids_df(self, spark) -> DataFrame:
        rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)]
        return spark.createDataFrame(rows, "cluster_id int, centroid array<double>")


def _round_half_up(x: np.ndarray, decimals: int) -> np.ndarray:
    s = 10.0**decimals
    return np.floor(x * s + 0.5) / s


def _nearest_centroid(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Argmin squared-L2 row-wise; np.argmin takes the first (= smallest
    cluster id) among exact ties, matching the oracle's (dist, cid) order.

    Computes in float64 — the SAME dtype as the grouped triangle-pruned
    stamp (nearest_centroid_grouped) and the oracle, so a float32 input
    near an exact tie cannot assign differently between the flat and
    grouped paths (they would otherwise promote differently against the
    centroid matrix); f32 -> f64 is exact, so this never changes a
    non-tie assignment.

    EXACT-duplicate centroid rows are collapsed to their smallest cid
    before the GEMM — the same structural rule group_centroids applies:
    two bit-identical columns at different positions of one GEMM can
    produce last-ulp-DIFFERENT outputs (blocking/microkernel edge
    effects), so an argmin tie-break over duplicate columns is not
    reproducible across matrix shapes or BLAS builds. The collapse
    makes smallest-cid-wins structural on the flat path too, so flat
    and grouped stamps agree even on degenerate centroid sets. The
    np.unique row-sort is O(C·d log C) per call — noise next to the
    O(n·C·d) GEMM it precedes."""
    V = np.asarray(V, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    U, first_idx = np.unique(C, axis=0, return_index=True)
    rep = None
    if U.shape[0] < C.shape[0]:
        # stamp against the deduped matrix ordered by rep cid (ties
        # between DISTINCT rows then still resolve to the smallest cid)
        rep = np.sort(first_idx).astype(np.int64)
        C = U[np.argsort(first_idx)]
    ip = V @ C.T
    v2 = np.einsum("ij,ij->i", V, V)[:, None]
    c2 = np.einsum("ij,ij->i", C, C)[None, :]
    a = np.argmin(v2 + c2 - 2.0 * ip, axis=1)
    if rep is not None:
        return rep[a].astype(np.int32)
    return a.astype(np.int32)


def _cell_keys(Q: np.ndarray, C: np.ndarray, distance: str = "l2") -> np.ndarray:
    """The e4 centroid key of every (query, cell) pair, the one ranking
    that probe selection, the epsilon/closure cutoffs and their fits
    share with the DuckDB oracle: ``floor(d*1e4 + 0.5)`` as int64,
    negated for similarities so a smaller key is always nearer. Runs
    through ``pairwise_distances``, so registered custom distances key
    the same way."""
    key = np.floor(pairwise_distances(Q, C, distance) * 1e4 + 0.5).astype(np.int64)
    return -key if is_similarity(distance) else key


def _within_bp(key, best, bp):
    """The basis-point cutoff of epsilon probing and closure replication
    (the Inverted index's refinement_epsilon_, memory_based.h:407-460,
    :508): a cell qualifies iff ``key*10000 <= best*10000 + |best|*bp``,
    exact integer arithmetic in both engines. The additive ``|best|``
    slack equals the reference's multiplicative (1 + bp/1e4) rule for
    non-negative keys (the L2 case the oracle gates) and stays
    sign-correct when the best key is negative (negated similarity
    keys), where a pure multiplicative cutoff would shrink BELOW the
    best key and select nothing. The best cell always qualifies for
    ``bp >= 0``. A Python-int ``best`` keeps the right-hand side in
    unbounded integers; array operands are int64."""
    return key * 10000 <= best * 10000 + abs(best) * bp


def _scan(base: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return base.select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__vec")
    )


def _partial_sums_fn(stamp_fn, k: int, d: int):
    def fn(batches) -> Iterator:
        import pyarrow as pa

        from scalablevectorsearch_spark.functions.arrowio import batch_matrix

        cnt = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype=np.float64)
        seen = False
        for rb in batches:
            if rb.num_rows == 0:
                continue
            seen = True
            V = batch_matrix(rb.column(1))
            a = stamp_fn(V)
            cnt += np.bincount(a, minlength=k)
            np.add.at(sums, a, V)
        if not seen:
            return
        nz = np.nonzero(cnt)[0]
        if len(nz) == 0:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(nz.astype(np.int32), type=pa.int32()),
                pa.array(cnt[nz], type=pa.int64()),
                pa.array(sums[nz].tolist(), type=pa.list_(pa.float64())),
            ],
            names=["cluster_id", "cnt", "sums"],
        )

    return fn


def init_centroids(base: DataFrame, k: int, id_col: str = "id", vec_col: str = "vector") -> np.ndarray:
    """Deterministic init: the vectors of the k smallest ids (the oracle
    mirrors this with ORDER BY id LIMIT k). The reference samples a
    training fraction with a seeded RNG (ivf/kmeans.h:47-74); a fixed
    id-ordered prefix is the cross-engine-reproducible analog."""
    rows = (
        _scan(base, id_col, vec_col)
        .orderBy(F.col("__id").asc())
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least {k} rows to init {k} centroids")
    return np.stack([np.asarray(r["__vec"], dtype=np.float64) for r in rows])


def train_kmeans(
    base: DataFrame,
    n_clusters: int,
    n_iters: int = 2,
    id_col: str = "id",
    vec_col: str = "vector",
    round_decimals: int = 6,
    stamp_via: str = "auto",
) -> KMeansModel:
    """Lloyd iterations; one base scan per iteration, centroids broadcast.

    ``stamp_via``: each iteration's per-row nearest-centroid assignment
    is the SAME O(N*C) pass as the build stamp — at large C the grouped
    triangle-pruned assign (see group_centroids) cuts it to
    ~O(N*sqrt(C)) with identical assignments, so partial sums and the
    resulting centroids are unchanged; the centroid grouping is redone
    driver-side each iteration (O(C*sqrt(C)*d), trivial)."""
    sc = base.sparkSession.sparkContext
    scan = _scan(base, id_col, vec_col)
    C = _round_half_up(init_centroids(base, n_clusters, id_col, vec_col), round_decimals)
    d = C.shape[1]
    for _ in range(n_iters):
        fn = make_stamp_fn(sc, C, stamp_via)
        part = scan.mapInArrow(
            _partial_sums_fn(fn, n_clusters, d), PARTIAL_SCHEMA
        ).toPandas()
        cnt = np.zeros(n_clusters, dtype=np.int64)
        sums = np.zeros_like(C)
        # merge partials in sorted order for a stable summation order
        part = part.sort_values(["cluster_id"], kind="stable")
        for cid, grp in part.groupby("cluster_id", sort=True):
            cnt[cid] = grp["cnt"].sum()
            sums[cid] = np.sum(np.stack(grp["sums"].to_numpy()), axis=0)
        newC = C.copy()  # empty clusters keep their previous centroid
        nz = cnt > 0
        newC[nz] = sums[nz] / cnt[nz, None]
        C = _round_half_up(newC, round_decimals)
    return KMeansModel(centroids=C, n_iters=n_iters, round_decimals=round_decimals)


def _resolve_stamp_via(stamp_via: str, n_centroids: int) -> bool:
    """True = grouped (triangle-pruned) stamp. ``auto`` switches at
    HIERARCHICAL_STAMP_THRESHOLD centroids; the result is the same
    either way (the grouped stamp is exact) — only the per-row cost
    changes from O(S) to ~O(sqrt(S))."""
    if stamp_via == "flat":
        return False
    if stamp_via == "hierarchical":
        return True
    if stamp_via == "auto":
        return n_centroids >= HIERARCHICAL_STAMP_THRESHOLD
    raise ValueError(
        f"stamp_via must be 'auto', 'flat' or 'hierarchical', got {stamp_via!r}"
    )


def make_stamp_fn(
    sc, centroids: np.ndarray, stamp_via: str = "auto", closure_bp: int | None = None
):
    """The one broadcast-backed cell stamp of k-means training, cluster
    assignment, the IVF build and insert, and the Vamana shard layout:
    ``V -> cluster_id`` (for ``map_stamp``), or with ``closure_bp``
    (SPANN closure assignment) ``V -> (row, cid)`` pairs for every cell
    within the basis-point cutoff of the row's nearest (for
    ``map_stamp_replicate``). ``stamp_via`` picks the flat BLAS pass
    over all C centroids or the grouped triangle-pruned one (see
    _resolve_stamp_via): same assignments and replica sets
    (GroupedCentroids invariant) at ~2*sqrt(C) distance rows per input
    row instead of C, the measured >=5e7-row build wall of the flat pass
    (r8: 7105.8s at 5e7 rows / 6103 shards)."""
    if _resolve_stamp_via(stamp_via, centroids.shape[0]):
        bcg = sc.broadcast(group_centroids(centroids))
        if closure_bp is not None:
            return lambda V: centroids_within_grouped(V, bcg.value, closure_bp)
        return lambda V: nearest_centroid_grouped(V, bcg.value)
    bc = sc.broadcast(centroids)
    if closure_bp is not None:

        def expand(V: np.ndarray):
            key = _cell_keys(V, bc.value, "l2")
            return np.nonzero(_within_bp(key, key.min(axis=1, keepdims=True), closure_bp))

        return expand
    return lambda V: _nearest_centroid(V, bc.value)


def assign_clusters(
    base: DataFrame,
    model: KMeansModel,
    id_col: str = "id",
    vec_col: str = "vector",
    stamp_via: str = "auto",
) -> DataFrame:
    """(id, cluster_id) under the model's (final, rounded) centroids."""
    fn = make_stamp_fn(base.sparkSession.sparkContext, model.centroids, stamp_via)
    return map_stamp(_scan(base, id_col, vec_col), "__vec", "cluster_id", fn).select(
        F.col("__id").alias("id"), "cluster_id"
    )


def stamp_clusters(
    base: DataFrame,
    model: KMeansModel,
    vec_col: str = "vector",
    stamp_via: str = "auto",
) -> DataFrame:
    """``base`` + a ``cluster_id`` column, stamped map-side against the
    broadcast centroids — no join back on id (the assign-then-join shape
    shuffles the base twice; this is one pass, zero shuffles)."""
    sc = base.sparkSession.sparkContext
    return map_stamp(
        base, vec_col, "cluster_id", make_stamp_fn(sc, model.centroids, stamp_via)
    )


def _local_lloyd(
    X: np.ndarray, k: int, n_iters: int, round_decimals: int = 6
) -> np.ndarray:
    """In-memory Lloyd with the SAME deterministic protocol as
    train_kmeans (init = first k rows, which the caller must have sorted
    by id; per-iteration floor-half-up rounding; empty clusters keep
    their centroid). Used for the per-parent stage of hierarchical
    k-means, where each parent's members fit one task."""
    k = min(k, len(X))
    C = _round_half_up(X[:k], round_decimals)
    for _ in range(n_iters):
        a = _nearest_centroid(X, C)
        newC = C.copy()
        for j in range(k):
            m = a == j
            if m.any():
                newC[j] = X[m].mean(axis=0)
        C = _round_half_up(newC, round_decimals)
    return C


HIER_SCHEMA = StructType(
    [
        StructField("parent_cid", IntegerType()),
        StructField("child_cid", IntegerType()),
        StructField("centroid", ArrayType(DoubleType())),
    ]
)

HIER_ASSIGN_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("parent_cid", IntegerType()),
        StructField("child_cid", IntegerType()),
    ]
)


def train_hierarchical_kmeans(
    base: DataFrame,
    n_parents: int,
    n_children: int,
    n_iters: int = 2,
    id_col: str = "id",
    vec_col: str = "vector",
) -> tuple[KMeansModel, DataFrame]:
    """Two-level clustering (hierarchical_kmeans.h:61-68): a global
    parent Lloyd, then an independent child Lloyd INSIDE each parent —
    the child stage is one applyInPandas over parent groups (each
    parent's members fit a task; the parent count bounds parallelism).
    Returns (parent_model, children(parent_cid, child_cid, centroid))."""
    parent = train_kmeans(base, n_parents, n_iters, id_col, vec_col)
    pa = assign_clusters(base, parent, id_col, vec_col).withColumnRenamed(
        "cluster_id", "parent_cid"
    )
    scan = _scan(base, id_col, vec_col).withColumnRenamed("__id", "id")
    members = scan.join(pa, "id")

    def child_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        X = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        C = _local_lloyd(X, n_children, n_iters)
        pcid = int(pdf["parent_cid"].iloc[0])
        return pd.DataFrame(
            {
                "parent_cid": pcid,
                "child_cid": np.arange(len(C), dtype=np.int32),
                "centroid": [c.tolist() for c in C],
            }
        )

    # per-parent Lloyd is compute-heavy but byte-light: by_key gives
    # each parent its own task instead of AQE coalescing the exchange
    # to one task that runs the child builds in sequence
    children = (
        by_key(members, "parent_cid", n_parents)
        .groupBy("parent_cid")
        .applyInPandas(child_fn, HIER_SCHEMA)
    )
    return parent, children


def assign_hierarchical(
    base: DataFrame,
    parent_model: KMeansModel,
    children: DataFrame,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """(id, parent_cid, child_cid): parent argmin, then child argmin
    within that parent's children (ties to the smallest id in both)."""
    rows = children.orderBy("parent_cid", "child_cid").collect()
    child_map: dict[int, np.ndarray] = {}
    for r in rows:
        child_map.setdefault(int(r["parent_cid"]), []).append(
            np.asarray(r["centroid"], dtype=np.float64)
        )
    child_map = {p: np.stack(cs) for p, cs in child_map.items()}
    sc = base.sparkSession.sparkContext
    bc = sc.broadcast((parent_model.centroids, child_map))

    def fn(batches) -> Iterator:
        import pyarrow as arrow

        from scalablevectorsearch_spark.functions.arrowio import batch_matrix

        P, CM = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = batch_matrix(rb.column(1))
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            pa = _nearest_centroid(V, P)
            ca = np.zeros(len(V), dtype=np.int32)
            for p in np.unique(pa):
                rows_ = pa == p
                # a parent empty at training time has no child model
                # (children are trained per non-empty parent only);
                # assigning NEW data can still land on it — fall back
                # to child 0 (= the parent centroid's whole cell)
                cm = CM.get(int(p))
                if cm is not None:
                    ca[rows_] = _nearest_centroid(V[rows_], cm)
            yield arrow.RecordBatch.from_arrays(
                [
                    arrow.array(ids.astype(np.int64, copy=False), type=arrow.int64()),
                    arrow.array(pa.astype(np.int32), type=arrow.int32()),
                    arrow.array(ca, type=arrow.int32()),
                ],
                names=["id", "parent_cid", "child_cid"],
            )

    return _scan(base, id_col, vec_col).mapInArrow(fn, HIER_ASSIGN_SCHEMA)


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    """Per-cluster membership counts (ivf/kmeans.h:94-123 group step)."""
    return assignments.groupBy("cluster_id").agg(F.count("*").alias("n_members"))


#: centroid count at/above which ``stamp_via="auto"`` switches the
#: nearest-centroid stamp from the flat O(N*S) argmin to the grouped
#: triangle-inequality-pruned one. Measured crossover (64d, 20k rows):
#: grouped is ~1.0x flat at S=256 on UNIFORM centroids (its worst
#: case — nothing prunes) and 4-6x on clustered ones; below 256 the
#: flat BLAS pass wins on loop overhead. Small-S gates stay
#: byte-identical on the flat path.
HIERARCHICAL_STAMP_THRESHOLD = 256


@dataclass
class GroupedCentroids:
    """Two-level view of a flat (S, d) centroid matrix for EXACT
    pruned nearest-centroid stamping at large S.

    The flat stamp is O(N*S) and measured memory-bound (~1.9 ms/row at
    S=6103) — superlinear in N whenever S grows with N, the measured
    wall that capped the r8 routed-Vamana build at 5e7 rows. This is
    the build-time analog of the reference's two-level clustering
    (/root/reference/include/svs/index/ivf/hierarchical_kmeans.h:61-68):
    the S centroids are themselves Lloyd-clustered into ~sqrt(S) groups;
    a stamp then computes distances to the ~sqrt(S) group centers and
    visits only groups whose TRIANGLE-INEQUALITY lower bound
    ``max(0, |v - g| - radius_g)^2`` can beat the best member distance
    found so far — every pruned group provably contains no nearer
    centroid, so the assignment equals the flat argmin (unlike a
    probe-limited approximate router). Per-row distance work drops from
    S to ~2*sqrt(S) on clusterable centroid sets.

    ``member_cids`` are ascending within each group, so the per-group
    argmin's first-index tie-break reproduces the flat stamp's
    smallest-cluster-id-wins rule. EXACT-duplicate centroid rows are
    collapsed to their smallest cid at construction (``dup_cids`` keeps
    the full sets for closure expansion): two bit-identical columns at
    different positions of a GEMM can produce last-ulp-DIFFERENT
    outputs (blocking/microkernel edge effects), so an argmin tie-break
    over duplicates is not reproducible across matrix shapes — the
    collapse makes the smallest-cid rule structural instead of
    numerical."""

    centers: np.ndarray  # (P, d) group centers (non-empty groups only)
    radius: np.ndarray  # (P,) max true-L2 distance center -> member
    member_cids: list  # per group: ascending (int64) centroid ids
    member_vecs: list  # per group: (m_g, d) member centroid rows
    n_centroids: int
    #: rep cid -> ascending array of ALL cids sharing that exact
    #: centroid row; None when every centroid is distinct
    dup_cids: dict | None = None


def group_centroids(
    C: np.ndarray, n_groups: int | None = None, n_iters: int = 4
) -> GroupedCentroids:
    """Cluster the centroid matrix itself into ``n_groups`` (default
    ceil(sqrt(S))) groups via the deterministic local Lloyd; driver-side
    (S rows — small even at S=100k)."""
    C = np.asarray(C, dtype=np.float64)
    S = C.shape[0]
    # collapse exact-duplicate rows to their smallest cid (see the
    # GroupedCentroids docstring): np.unique's return_index is the
    # FIRST occurrence = the smallest duplicate cid
    U, first_idx, inverse = np.unique(
        C, axis=0, return_index=True, return_inverse=True
    )
    dup_cids = None
    if len(U) < S:
        dup_cids = {}
        for u, rep in enumerate(first_idx):
            members = np.nonzero(inverse == u)[0].astype(np.int64)
            if len(members) > 1:
                dup_cids[int(rep)] = members
        # cluster/stamp over the deduped matrix, keyed by rep cids
        rep_order = np.argsort(first_idx)
        C_work = U[rep_order]
        rep_cids = np.sort(first_idx).astype(np.int64)
    else:
        C_work = C
        rep_cids = np.arange(S, dtype=np.int64)
    Sw = C_work.shape[0]
    P = min(int(n_groups) if n_groups else max(1, int(np.ceil(np.sqrt(S)))), Sw)
    G = _local_lloyd(C_work, P, n_iters)
    a = _nearest_centroid(C_work, G)
    centers, radius, mc, mv = [], [], [], []
    for g in range(G.shape[0]):
        rows = np.nonzero(a == g)[0]
        if len(rows) == 0:
            continue
        M = C_work[rows]
        diff = M - G[g][None, :]
        r = float(np.sqrt(np.maximum(np.einsum("ij,ij->i", diff, diff), 0.0)).max())
        centers.append(G[g])
        radius.append(r)
        mc.append(rep_cids[rows])  # ascending: rows asc, rep_cids sorted
        mv.append(M)
    return GroupedCentroids(
        centers=np.stack(centers),
        radius=np.asarray(radius, dtype=np.float64),
        member_cids=mc,
        member_vecs=mv,
        n_centroids=S,
        dup_cids=dup_cids,
    )


def _sq_dists(V: np.ndarray, M: np.ndarray) -> np.ndarray:
    """Unclamped squared L2 — the exact expression _nearest_centroid
    argmins over, so grouped and flat stamps compare like with like."""
    return (
        np.einsum("ij,ij->i", V, V)[:, None]
        + np.einsum("ij,ij->i", M, M)[None, :]
        - 2.0 * (V @ M.T)
    )


def _group_bounds(V: np.ndarray, gc: GroupedCentroids):
    """(squared dists to group centers, squared triangle lower bound per
    (row, group)): lb = max(0, |v-g| - radius_g)^2 <= d2(v, any member)."""
    D2g = _sq_dists(V, gc.centers)
    Dg = np.sqrt(np.maximum(D2g, 0.0))
    lb = np.maximum(Dg - gc.radius[None, :], 0.0)
    return D2g, lb * lb


def nearest_centroid_grouped(V: np.ndarray, gc: GroupedCentroids) -> np.ndarray:
    """Exact nearest-centroid assignment via group pruning — same
    result as ``_nearest_centroid(V, C)`` (argmin winner and
    smallest-cid tie-break), at ~2*sqrt(S) distance rows per input row.
    A tiny relative margin keeps the candidate set a superset under
    float rounding of the bound itself."""
    V = np.asarray(V, dtype=np.float64)
    n = V.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int32)
    D2g, lb2 = _group_bounds(V, gc)
    g0 = np.argmin(D2g, axis=1)
    best = np.full(n, np.inf)
    bcid = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for g in np.unique(g0):
        rows = np.nonzero(g0 == g)[0]
        d2 = _sq_dists(V[rows], gc.member_vecs[g])
        j = np.argmin(d2, axis=1)  # first index = smallest cid (sorted)
        best[rows] = d2[np.arange(len(rows)), j]
        bcid[rows] = gc.member_cids[g][j]
    cand = lb2 <= (best + 1e-9 * (1.0 + np.abs(best)))[:, None]
    cand[np.arange(n), g0] = False
    for g in np.nonzero(cand.any(axis=0))[0]:
        rows = np.nonzero(cand[:, g])[0]
        d2 = _sq_dists(V[rows], gc.member_vecs[g])
        j = np.argmin(d2, axis=1)
        d = d2[np.arange(len(rows)), j]
        c = gc.member_cids[g][j]
        upd = (d < best[rows]) | ((d == best[rows]) & (c < bcid[rows]))
        r = rows[upd]
        best[r] = d[upd]
        bcid[r] = c[upd]
    return bcid.astype(np.int32)


def centroids_within_grouped(
    V: np.ndarray, gc: GroupedCentroids, closure_bp: int
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped SPANN closure expansion: all (row, cid) pairs whose e4
    squared-distance key passes ``_within_bp`` against the row's best
    key at ``closure_bp`` — the exact integer cutoff of the flat
    expander in ``make_stamp_fn``, reproduced with group pruning:
    a group is visited only if its lower-bound key could pass the cut.
    Keys quantize d2 at 1e-4, far above gemm float noise, so grouped
    and flat emit identical replica sets. Pairs return row-major
    (row asc, cid asc within row), matching flat np.nonzero order."""
    V = np.asarray(V, dtype=np.float64)
    n = V.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    D2g, lb2 = _group_bounds(V, gc)
    g0 = np.argmin(D2g, axis=1)
    # exact best (clamped — the flat expander's l2 keys clamp at 0) via pruning
    best = np.full(n, np.inf)
    for g in np.unique(g0):
        rows = np.nonzero(g0 == g)[0]
        d2 = np.maximum(_sq_dists(V[rows], gc.member_vecs[g]), 0.0)
        best[rows] = d2.min(axis=1)
    cand = lb2 <= (best + 1e-9 * (1.0 + best))[:, None]
    cand[np.arange(n), g0] = False
    for g in np.nonzero(cand.any(axis=0))[0]:
        rows = np.nonzero(cand[:, g])[0]
        d2 = np.maximum(_sq_dists(V[rows], gc.member_vecs[g]), 0.0)
        best[rows] = np.minimum(best[rows], d2.min(axis=1))
    key_best = np.floor(best * 1e4 + 0.5).astype(np.int64)
    cut = key_best * 10000 + np.abs(key_best) * int(closure_bp)
    # a member with key k qualifies iff k*10000 <= cut, i.e. its d2 is
    # below T2 = (floor(cut/10000) + 0.5)/1e4; prune groups whose lb2
    # cannot reach T2 (small slack absorbs the bound's own rounding)
    T2 = (np.floor_divide(cut, 10000).astype(np.float64) + 0.5) / 1e4
    keep = lb2 <= (T2 + 1e-9 * (1.0 + T2))[:, None]
    rows_out: list[np.ndarray] = []
    cids_out: list[np.ndarray] = []
    for g in np.nonzero(keep.any(axis=0))[0]:
        rows = np.nonzero(keep[:, g])[0]
        d2 = np.maximum(_sq_dists(V[rows], gc.member_vecs[g]), 0.0)
        key = np.floor(d2 * 1e4 + 0.5).astype(np.int64)
        ri, mi = np.nonzero(_within_bp(key, key_best[rows, None], int(closure_bp)))
        if len(ri):
            rows_out.append(rows[ri])
            cids_out.append(gc.member_cids[g][mi])
    if not rows_out:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    rows_all = np.concatenate(rows_out)
    cids_all = np.concatenate(cids_out)
    if gc.dup_cids:
        # collapsed duplicates share their rep's distance key exactly
        # (one row of one GEMM) — re-expand so every duplicate cid
        # appears in the replica set, as in the flat pass
        extra_r, extra_c = [], []
        for rep, members in gc.dup_cids.items():
            hit = np.nonzero(cids_all == rep)[0]
            if len(hit):
                for m in members[1:]:  # members[0] == rep, already present
                    extra_r.append(rows_all[hit])
                    extra_c.append(np.full(len(hit), m, dtype=np.int64))
        if extra_r:
            rows_all = np.concatenate([rows_all, *extra_r])
            cids_all = np.concatenate([cids_all, *extra_c])
    order = np.lexsort((cids_all, rows_all))
    return rows_all[order], cids_all[order]
