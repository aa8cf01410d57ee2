"""Vamana proximity-graph index — distributed sharded build + search.

Parity: the Vamana index family (/root/reference/include/svs/index/
vamana/index.h:557 batch search, vamana_build.h:233-312 construct,
orchestrators/vamana.h) with the per-shard kernel in
operators/vamana_local.py: one batched traversal (greedy_search.h) and
one batched alpha-prune (prune.h) serve build, insert, consolidate and
search.

Spark architecture (scale-first — this is deliberately NOT a
pointer-chasing port):
 - The base table is hash-sharded by id into ``n_shards`` independent
   sub-indexes. BUILD is one ``applyInPandas`` over the shard groups —
   embarrassingly parallel, one shuffle to co-locate each shard, and
   each shard's graph build fits executor memory by construction
   (shards are sized like the reference's single-node datasets). At
   100 TB this is the SPANN/DiskANN-cluster pattern: thousands of
   shards, each built independently; optionally route queries to a
   subset of shards with the IVF centroids (operators/ivf) instead of
   searching all shards.
 - SEARCH cogroups (vectors, graph) by shard and runs the greedy
   traversal per shard against the broadcast query batch, emitting each
   shard's top-k; a final window merge keeps the global top-k — the
   same O(Q·k·S)-row shuffle bound as the flat/IVF operators. The
   vector side reads the index's PERSISTED shard-partitioned ``layout``
   (built once at build time, like the reference index's materialized
   ``data_`` copy), so a search batch never re-shuffles the base: the
   only search-time exchanges are the tiny graph repartition and the
   bounded merge. A search
   over S shards with window w has the recall of single-graph searches
   with effective window S·w ≥ w, at S× the compute — the
   scale/recall trade is explicit and tunable via n_shards.
 - The graph is a plain DataFrame ``(shard_id, src, neighbors)`` with
   global ids — persistable as Parquet (index_store), joinable for
   degree stats, consolidatable for dynamic ops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.arrowio import map_stamp, map_stamp_replicate
from scalablevectorsearch_spark.functions.distances import is_similarity
from scalablevectorsearch_spark.operators.flat import RESULT_SCHEMA, search_blocks
from scalablevectorsearch_spark.operators.ivf import _check_probe_args, probe_plan
from scalablevectorsearch_spark.operators.kmeans import (
    _resolve_stamp_via,
    make_stamp_fn,
    train_kmeans,
)
from scalablevectorsearch_spark.operators.vamana_local import (
    VamanaParams,
    build_graph,
    insert_points,
    medioid,
    search_graph,
)
from scalablevectorsearch_spark.pins import Pins
from scalablevectorsearch_spark.placement import by_key

GRAPH_SCHEMA = "shard_id int, src long, neighbors array<long>, is_entry boolean"
#: the GRAPH_SCHEMA frame of a shard kernel that emits no rows
EMPTY_GRAPH = pd.DataFrame({"shard_id": [], "src": [], "neighbors": [], "is_entry": []})

#: selectivity at/below which vamana_search(where=..., fallback_below=
#: "auto") serves the exact filtered flat scan instead of traversing
#: the graph. Measured crossover (tools/stress_filtered.py, 10M rows):
#: at 1% selectivity the exact pool scan is 245x faster than the
#: waypoint traversal AND exact; at 50% the graph path wins. 2% keeps
#: the auto default safely on the winning side of that span — and
#: selectivity (not an absolute row count) is the scale-free criterion:
#: both path costs grow linearly in N at fixed selectivity, so the
#: crossover does not move with data size.
AUTO_FALLBACK_SELECTIVITY = 0.02


def _decode_adjacency(
    gids: np.ndarray, gdf: pd.DataFrame
) -> tuple[list[np.ndarray], int | None]:
    """Vectorized global->local adjacency decode shared by the search
    and incremental-insert kernels: ``gids`` is the shard's sorted
    global-id vector, ``gdf`` its (src, neighbors, is_entry) rows. A
    single searchsorted over the flattened adjacency replaces
    per-element dict lookups (the decode was the search hot spot, not
    BLAS). Edges or sources referencing ids absent from ``gids`` are
    dropped (stale rows). Returns (local adjacency lists, entry local id
    or None if no is_entry row survived)."""
    n_local = len(gids)
    src = gdf["src"].to_numpy(dtype=np.int64)
    nbr_lists = gdf["neighbors"].to_numpy()
    lens = np.fromiter((len(v) for v in nbr_lists), dtype=np.int64, count=len(src))
    flat = (
        np.concatenate([np.asarray(v, dtype=np.int64) for v in nbr_lists])
        if lens.sum()
        else np.empty(0, dtype=np.int64)
    )
    pos = np.searchsorted(gids, flat)
    posc = np.minimum(pos, n_local - 1)
    ok = gids[posc] == flat
    spos = np.searchsorted(gids, src)
    sposc = np.minimum(spos, n_local - 1)
    sok = gids[sposc] == src
    offs = np.zeros(len(src) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    is_ep = gdf["is_entry"].to_numpy(dtype=bool)
    graph = [np.empty(0, dtype=np.int64) for _ in range(n_local)]
    entry: int | None = None
    for i in range(len(src)):
        if not sok[i]:
            continue
        s = int(sposc[i])
        sl = slice(offs[i], offs[i + 1])
        graph[s] = posc[sl][ok[sl]]
        if is_ep[i]:
            entry = s
    return graph, entry


def _shard_rows(
    pdf: pd.DataFrame, dtype, vec_decode=None
) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """A shard kernel's input: the shard's rows sorted by id (local id
    i is the i-th smallest global id), their global ids, and the
    decoded vector matrix at ``dtype`` — float64 for search,
    ``params.build_dtype`` for build, link and repair."""
    pdf = pdf.sort_values("__id").reset_index(drop=True)
    gids = pdf["__id"].to_numpy(dtype=np.int64)
    X = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
    if vec_decode is not None:
        X = vec_decode(X)
    return pdf, gids, X.astype(dtype, copy=False)


def _graph_rows(
    shard, gids: np.ndarray, graph: list[np.ndarray], entry: int, keep=None
) -> pd.DataFrame:
    """A shard's local adjacency as GRAPH_SCHEMA rows in global ids;
    ``keep`` (local ids) emits only those rows — a consolidate's
    survivors."""
    nodes = np.arange(len(gids)) if keep is None else keep
    if len(nodes) == 0:
        return EMPTY_GRAPH
    return pd.DataFrame(
        {
            "shard_id": int(shard),
            "src": gids[nodes],
            "neighbors": [gids[graph[i]].tolist() for i in nodes],
            "is_entry": [int(i) == entry for i in nodes],
        }
    )


def _graph_cogroup(vside: DataFrame, gside: DataFrame, n_shards: int, fn) -> DataFrame:
    """The graph-producing shard cogroup of the closure link, the
    insert link and the consolidate repair: ``fn(key, vdf, gdf)`` runs
    once per shard over its layout rows ``vside`` and its adjacency
    rows ``gside`` and returns GRAPH_SCHEMA rows. ``vside`` arrives
    placed by shard_id (``placement.by_key``, or a fresh persisted
    layout, whose placement the planner only sees once materialized);
    ``gside`` is placed here."""
    return (
        vside.groupBy("shard_id")
        .cogroup(by_key(gside, "shard_id", n_shards).groupBy("shard_id"))
        .applyInPandas(fn, GRAPH_SCHEMA)
    )


def _relink_fn(params: VamanaParams, distance: str, vec_decode, batch_size):
    """The shard kernel that links a shard's new rows into its existing
    graph — the reference's incremental insert (dynamic_index.h:631-700:
    greedy search on the frozen graph + alpha-prune + reverse edges),
    shared by ``closure_link_replicas`` and ``dynamic.add_points``.

    A row is OLD when it has an adjacency row in ``gdf`` (a revived id's
    row was dropped from ``gdf``, a new id never had one). A shard with
    no old row is built from scratch; a shard whose entry row did not
    survive enters at the medioid of its old rows. The new rows are then
    inserted in ascending id order (deterministic graphs), in rounds of
    ``batch_size(n_new)`` nodes."""

    def link_fn(key, vdf: pd.DataFrame, gdf: pd.DataFrame) -> pd.DataFrame:
        if len(vdf) == 0:
            return EMPTY_GRAPH
        _, gids, X = _shard_rows(vdf, params.build_dtype, vec_decode)
        old = np.isin(gids, gdf["src"].to_numpy(dtype=np.int64))
        if not old.any():
            graph, entry = build_graph(X, params, distance)
        else:
            graph, entry = _decode_adjacency(gids, gdf)
            if entry is None:
                entry = int(np.nonzero(old)[0][medioid(X[old])])
            new = np.nonzero(~old)[0]
            if len(new):
                insert_points(
                    X, graph, entry, new, params, distance,
                    batch_size=batch_size(len(new)),
                )
        return _graph_rows(key[0], gids, graph, entry)

    return link_fn


@dataclass
class VamanaIndex:
    graph: DataFrame  # (shard_id, src, neighbors, is_entry), global ids
    base: DataFrame
    params: VamanaParams
    distance: str
    n_shards: int
    id_col: str = "id"
    vec_col: str = "vector"
    #: set for cluster-sharded (SPANN-style) indexes: shards are k-means
    #: cells, searches can route to the n_probes nearest shards
    shard_model: object | None = None
    #: SPANN closure assignment (basis points): rows replicate into
    #: every cell within (1 + closure_bp/1e4) of their nearest centroid;
    #: searches dedup by (qid, neighbor_id) before the merge
    closure_bp: int | None = None
    #: the index's OWN data layout: (shard_id, __id, __vec), persisted
    #: partitioned by shard_id (placement.by_key). The reference's index
    #: materializes a reordered copy of the data (vamana/index.h data_
    #: member); the Spark analog is this persisted shard-partitioned
    #: table — without it every search batch would re-shuffle the full
    #: base to co-locate shards, a per-query-batch full-base shuffle at
    #: 100 TB. Every search reads it; only an index about to be saved
    #: may drop it.
    layout: DataFrame | None = None
    #: the storage codec (operators.codec: SQ / LVQ / LeanVec) when the
    #: index holds compressed vectors — the reference's compressed
    #: dataset plugged into Vamana (extensions/vamana/*.h). Set by the
    #: codec_vamana_build driver, persisted by save_vamana.
    codec: object | None = None
    #: optional vectorized storage decoder: the layout's ``__vec`` rows
    #: are PACKED storage (e.g. LVQ codes at 0.5-1 byte/component) and
    #: every kernel decodes (n, w) -> (n, d) at entry — the reference's
    #: compressed dataset plugged into the graph index
    #: (extensions/vamana/*.h). Ships in task closures; set from
    #: ``codec.decode`` at build and at load.
    vec_decode: object | None = None
    #: True when the build stamped shards via the grouped
    #: (triangle-pruned) nearest-centroid pass — recorded so every later
    #: re-stamp of the base (filtered scans, layout rebuilds) runs the
    #: SAME code path and stays deterministic wrt the build's assignment
    stamp_hierarchical: bool = False
    #: calibration-sample groundtruth cache (see IVFIndex.cal_cache):
    #: re-calibration on the same index skips the exact flat scan
    cal_cache: dict = field(default_factory=dict)

    # read-only views over ``codec`` under the names saved indexes,
    # tests and tools use
    sq_params = property(lambda self: _view(self.codec, "sq", "params"))
    lvq_params = property(lambda self: _view(self.codec, "lvq", "params"))
    leanvec_model = property(lambda self: _view(self.codec, "leanvec", "model"))
    leanvec_distance = property(lambda self: _view(self.codec, "leanvec", "distance"))


def _view(codec, kind: str, attr: str):
    if kind == "lvq" and getattr(codec, "kind", None) == "leanvec":
        codec = codec.primary  # a LeanVec index's LVQ primary
    return getattr(codec, attr) if getattr(codec, "kind", None) == kind else None


def _sharded(df: DataFrame, index: VamanaIndex) -> DataFrame:
    if index.shard_model is None:
        return df.withColumn(
            "shard_id",
            F.pmod(F.col(index.id_col).cast("long"), F.lit(index.n_shards)).cast("int"),
        )
    # cluster sharding: shard = nearest k-means centroid, stamped
    # map-side. With ``closure_bp`` (SPANN closure assignment), a row is
    # ADDITIONALLY replicated into every cell whose e4 centroid key is
    # within (1 + closure_bp/1e4) of its nearest — boundary vectors
    # become reachable from each nearby cell's graph, trading bounded
    # storage amplification for routed recall at a fixed probe count.
    # The build resolved flat vs grouped once (stamp_hierarchical), so
    # every re-stamp runs the same code path.
    fn = make_stamp_fn(
        df.sparkSession.sparkContext, index.shard_model.centroids,
        "hierarchical" if index.stamp_hierarchical else "flat", index.closure_bp,
    )
    # dispatch on 'is not None' (the same test the search path uses) so a
    # zero/None mix can never pick different code paths; vamana_build
    # validates closure_bp > 0 before it gets here
    stamp = map_stamp if index.closure_bp is None else map_stamp_replicate
    return stamp(df, index.vec_col, "shard_id", fn, vec_decode=index.vec_decode)


def _layout_rows(df: DataFrame, index: VamanaIndex, extra=()) -> DataFrame:
    """The one shard layout format: ``df``'s rows stamped under
    ``index``'s sharding (id mod n_shards, or nearest k-means cell plus
    closure replicas, in the decoded geometry) as unplaced
    ``(shard_id, __id, __vec, *extra)`` rows. Build, closure link,
    filtered scan, insert and load all stamp through here, so a row
    lands in the same shard(s) on every path; callers that need the
    rows co-located place them with ``placement.by_key``."""
    return _sharded(df, index).select(
        "shard_id",
        F.col(index.id_col).cast("long").alias("__id"),
        F.col(index.vec_col).alias("__vec"),
        *extra,
    )


def vamana_build(
    base: DataFrame,
    params: VamanaParams | None = None,
    n_shards: int = 8,
    distance: str = "l2",
    id_col: str = "id",
    vec_col: str = "vector",
    shard_by: str = "hash",
    kmeans_iters: int = 2,
    closure_bp: int | None = None,
    shard_model=None,
    vec_decode=None,
    stamp_via: str = "auto",
    layout_storage=None,
) -> VamanaIndex:
    """Build one Vamana graph per shard (deterministic: per-shard rows
    processed in ascending id order).

    ``shard_by="hash"``: shard = id mod n_shards — uniform, supports the
    dynamic mutation ops, searches fan to every shard.
    ``shard_by="kmeans"``: SPANN-style cluster shards — a k-means model
    partitions the space, one graph per cell, and ``vamana_search`` can
    route each query to its ``n_probes`` nearest cells (compute scales
    with probed fraction, not shard count — the 100 TB search path).
    ``closure_bp`` (kmeans sharding only): SPANN closure assignment —
    replicate each row into every cell whose centroid is within
    (1 + closure_bp/1e4) of its nearest, so boundary vectors are
    findable from neighboring cells' graphs; raises routed recall at a
    fixed probe count for bounded storage amplification. Pick
    ``closure_bp`` with :func:`~scalablevectorsearch_spark.operators.
    ivf.fit_closure_bp` (storage budget -> basis points) rather than a
    constant — safe constants don't transfer across geometries.
    ``shard_model``: pass a pre-trained KMeansModel to skip the
    (deterministic) retrain — e.g. when the centroids were already
    trained to FIT closure/epsilon parameters against budgets.
    ``vec_decode``: vectorized storage decoder — ``base[vec_col]``
    rows are packed storage and every kernel (shard stamp, graph
    build, search) decodes (n, w) -> (n, d) at entry; the persisted
    layout then holds the COMPRESSED rows (the point of a compressed
    index at 100 TB). kmeans sharding requires an explicit
    ``shard_model`` in this mode (centroids live in the decoded
    geometry).
    ``stamp_via`` (kmeans sharding): how rows are assigned to their
    nearest shard centroid — ``"flat"`` = one BLAS argmin over all S
    centroids (O(N*S), the measured wall when S grows with N: 7105.8s
    at 5e7 rows/6103 shards), ``"hierarchical"`` = grouped
    triangle-inequality-pruned stamp (~O(N*sqrt(S)), EXACT — same
    assignments and closure replica sets, see kmeans.group_centroids),
    ``"auto"`` = hierarchical at >= kmeans.HIERARCHICAL_STAMP_THRESHOLD
    centroids, flat below (small-S builds byte-identical to pre-r9).
    The decision is recorded on the index so filtered scans re-stamp
    through the same code path.
    ``layout_storage``: StorageLevel for the persisted shard layout
    (default MEMORY_AND_DISK). At >=5e7 rows pass
    ``StorageLevel.DISK_ONLY``: the serialized blocks are ~data-sized
    on disk with no heap pressure, where a deserialized in-memory
    layout (2-3x the data) evicts into spill alongside the build
    shuffle — the r8 50M search died on exactly that disk peak."""
    params = params or VamanaParams()
    if shard_by == "kmeans":
        if shard_model is None:
            if vec_decode is not None:
                raise ValueError(
                    "vec_decode with shard_by='kmeans' requires a pre-trained "
                    "shard_model over the DECODED vectors"
                )
            shard_model = train_kmeans(base, n_shards, kmeans_iters, id_col, vec_col)
        if shard_model.centroids.shape[0] != n_shards:
            raise ValueError(
                f"shard_model has {shard_model.centroids.shape[0]} centroids, "
                f"expected n_shards={n_shards}"
            )
    elif shard_by != "hash":
        raise ValueError(f"shard_by must be 'hash' or 'kmeans', got {shard_by!r}")
    elif shard_model is not None:
        raise ValueError("shard_model requires shard_by='kmeans'")
    if closure_bp is not None:
        if shard_model is None:
            raise ValueError("closure_bp requires shard_by='kmeans'")
        if closure_bp <= 0:
            # closure_bp <= 0 would make the closure cutoff
            # cut < best*10000 for every row — the layout silently builds
            # (nearly) empty. Fail loudly instead.
            raise ValueError(f"closure_bp must be positive, got {closure_bp}")

    def build_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, gids, X = _shard_rows(pdf, params.build_dtype, vec_decode)
        graph, entry = build_graph(X, params, distance)
        return _graph_rows(pdf["shard_id"].iloc[0], gids, graph, entry)

    from pyspark.storagelevel import StorageLevel

    stamp_hier = shard_model is not None and _resolve_stamp_via(
        stamp_via, shard_model.centroids.shape[0]
    )
    index = VamanaIndex(
        graph=None, base=base, params=params, distance=distance,
        n_shards=n_shards, id_col=id_col, vec_col=vec_col, shard_model=shard_model,
        closure_bp=closure_bp, vec_decode=vec_decode, stamp_hierarchical=stamp_hier,
    )
    # the index's data layout: stamp + one co-locating shuffle, persisted
    # so build AND every later search read the shard-partitioned copy
    # instead of re-shuffling the base (index.h's materialized data_)
    index.layout = by_key(_layout_rows(base, index), "shard_id", n_shards).persist(
        layout_storage or StorageLevel.MEMORY_AND_DISK
    )
    index.graph = index.layout.groupBy("shard_id").applyInPandas(build_fn, GRAPH_SCHEMA)
    return index


def closure_link_replicas(index: VamanaIndex, closure_bp: int) -> VamanaIndex:
    """Incremental closure build: upgrade a plain kmeans-sharded index
    to a SPANN-closure index by INSERT-LINKING each shard's replica
    rows into its existing graph instead of rebuilding the shard's
    graph over base+replicas from scratch.

    ``vamana_build(closure_bp=...)`` re-links every row of the
    base+replica union (at amplification A, that is A·n link
    operations). The plain shard graphs already linked the n primary
    rows — this path keeps them (including their entry points) and runs
    only the (A-1)·n replica insertions through the reference's
    incremental insert (dynamic_index.h:631-700: greedy search on the
    frozen graph + alpha-prune + reverse edges, the same kernel as
    add_points), bounding new work to the replica fraction of the union
    build. Insert-linked graphs prune in a different order than
    batch-built ones (vamana_build.h:280 reverse-edge timing), so the
    resulting graph is NOT bit-identical to the batch closure build —
    searched at an exhaustive window it is still exact, and recall
    floors are A/B-gated in tests and the 10M stress.

    The plain index's per-shard rows are exactly the closure layout's
    primary rows (same shard_model, same deterministic nearest-centroid
    stamp), so every plain graph row re-appears in its shard's closure
    rows; shards that gained only replicas keep their plain entry
    point. A closure shard with NO plain graph (possible only when the
    plain shard was empty) falls back to a scratch build of its rows.

    Cites: /root/reference/include/svs/index/vamana/dynamic_index.h:631
    (insert path), SPANN closure assignment (vamana_build closure_bp
    docstring)."""
    if index.shard_model is None:
        raise ValueError("closure_link_replicas requires a kmeans-sharded index")
    if index.closure_bp is not None:
        raise ValueError("index already has closure replication")
    if closure_bp <= 0:
        raise ValueError(f"closure_bp must be positive, got {closure_bp}")
    from pyspark.storagelevel import StorageLevel

    out = VamanaIndex(
        graph=None, base=index.base, params=index.params, distance=index.distance,
        n_shards=index.n_shards, id_col=index.id_col, vec_col=index.vec_col,
        shard_model=index.shard_model, closure_bp=closure_bp,
        vec_decode=index.vec_decode, stamp_hierarchical=index.stamp_hierarchical,
    )
    out.layout = by_key(_layout_rows(out.base, out), "shard_id", out.n_shards).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # build-sized insert rounds (vamana_build.h:241's max(40, ceil(n/4096))
    # batching): the lockstep search cost is superlinear in round size
    # (see insert_points), and 4096-node rounds measured 2.1x slower
    out.graph = _graph_cogroup(
        out.layout, index.graph, out.n_shards,
        _relink_fn(
            out.params, out.distance, out.vec_decode,
            lambda n: -(-n // max(40, -(-n // 4096))),
        ),
    )
    return out


def vamana_search(
    index: VamanaIndex,
    queries: DataFrame,
    k: int,
    search_window_size: int | None = None,
    qid_col: str = "qid",
    qvec_col: str | None = None,
    round_to: int | None = 4,
    exclude_ids: list[int] | None = None,
    exclude_df: DataFrame | None = None,
    buffer_capacity: int | None = None,
    n_probes: int | None = None,
    epsilon_bp: int | None = None,
    max_probes: int | None = None,
    probe_budget: float | None = None,
    router=None,
    max_query_block: int | None = None,
    deadline: float | None = None,
    target_recall: float | None = None,
    calibration_queries: int | str = 32,
    calibration_groundtruth: DataFrame | None = None,
    where=None,
    scan_override: DataFrame | None = None,
    calibration_stats: dict | None = None,
    fallback_below: int | str | None = "auto",
    calibration_margin: float | str | None = "ci",
    calibration_validation_queries: int = 0,
    calibration_budget_hint: float | None = None,
) -> DataFrame:
    """Greedy graph search per shard + global top-k merge. Returns
    (qid, rank, neighbor_id, distance) like flat_knn.

    ``where``: hybrid filtered graph search — the predicate (a Column
    or SQL string over ``index.base``'s columns, flat.h:290-295
    semantics like flat_knn/ivf_search's ``where=``) restricts which
    nodes may be RETURNED; the graph is still traversed through
    non-matching nodes (they remain waypoints — dropping them would
    disconnect the graph), exactly the tombstone mechanism. The
    predicate is evaluated on ``index.base`` where the metadata columns
    live (so it pushes down to the parquet scan) and shard-stamped
    map-side through the same deterministic ``_sharded`` assignment the
    build used — no id join, one exchange by shard_id (the exchange the
    per-shard kernels need anyway; the persisted metadata-free layout
    is bypassed for the filtered scan). Recall under a selective filter
    needs a wider exploration window: with selectivity s, size
    ``search_window_size`` toward ~window/s so the buffer still holds k
    matching candidates (at an exhaustive window the result is EXACTLY
    the filtered k-NN, same as flat_knn(where=)).
    ``scan_override``: a pre-built (usually persisted) filtered scan
    (from ``_filtered_scan``) to reuse instead of re-stamping the base —
    callers that search the same ``where=`` repeatedly (the calibration
    fit loop, block iteration) share one; the caller owns its lifecycle.
    ``fallback_below``: with ``where``, count the matching pool once
    (a pushed-down parquet count) and, when it holds at most this many
    rows, serve the EXACT filtered flat k-NN over the pool instead of
    traversing the graph. At ~1% selectivity the waypoint traversal
    must expand ~window/s nodes per probed shard to keep k matching
    candidates, while the exact scan touches only the pool — measured
    at 10M rows/1% the flat path wins by 245x AND is exact (see
    tools/stress_filtered.py). Exact results satisfy every recall
    floor, so this composes with target_recall (the calibration is
    skipped). Not applied when exclusions are set. Default ``"auto"``:
    fall back when the pool's SELECTIVITY is at most
    ``AUTO_FALLBACK_SELECTIVITY`` (2% — safely inside the measured
    crossover; both counts are pushed-down scans, cached on the
    index). Pass an int for an absolute row threshold, or None to
    never fall back.

    ``exclude_ids``: tombstoned ids — traversed but never returned
    (dynamic_search_buffer.h skip-deleted semantics). ``exclude_df``:
    the same skip-set as an id DataFrame for delete waves too large to
    ship on the driver — stamped onto the scan as a ``__del`` flag via
    a broadcast join, so the set reaches the kernels without ever being
    collected (mutually exclusive with ``exclude_ids``).
    ``buffer_capacity``: split-buffer capacity >= the exploration window
    (search_buffer.h:39-60); defaults to max(window, k).
    Shard probing (kmeans-sharded indexes only; unprobed shards never
    reach the kernel — partition pruning on the persisted layout, so
    search compute scales with the probed fraction of the base):
    ``n_probes`` (fixed fan-out), ``epsilon_bp`` (adaptive cutoff; cap
    with ``max_probes``; mutually exclusive with ``n_probes``),
    ``probe_budget`` (fitted epsilon with the budget as the invariant;
    mutually exclusive with both) and ``router`` (sublinear centroid
    routing over the shard centroids) are documented once, on
    :func:`operators.ivf.probe_plan`. With none of them every shard is
    searched.
    DEFAULT ROUTING: when ``router`` is given with none of n_probes/
    epsilon_bp/probe_budget, the search uses probe_budget = n_shards/2
    — the epsilon-cutoff default of the reference's two-level Inverted
    index (memory_based.h:508, refinement_epsilon_ = 10.0): at equal
    mean probe cost, adaptive cutoff recalls strictly better than a
    fixed per-query n_probes because boundary queries take the extra
    probes that center queries release.
    ``target_recall``: recall-TARGETED probing — the probe budget is
    fitted against exact groundtruth on a deterministic calibration
    sample (groundtruth excludes tombstoned ids and honors ``where``;
    the fit and validation evals share one persisted filtered scan,
    released even when an eval raises), then the full search runs at
    it: the user asks for recall, the probe cost adapts to the data
    geometry. Requires a kmeans-sharded index; mutually exclusive with
    ``n_probes``/``epsilon_bp``/``probe_budget``. The ``calibration_*``
    arguments are documented once, on
    :func:`operators.calibrate.fit_probe_budget` (the loop ivf_search's
    ``target_recall=`` shares).
    ``max_query_block``: for query tables too large for the driver —
    iterate hash-partitioned blocks (one shard pass per block, each
    block's result materialized before the next block is fetched), as
    in :func:`flat_knn`."""
    _check_probe_args(n_probes, epsilon_bp, max_probes, probe_budget, target_recall)
    params, distance = index.params, index.distance
    sws = search_window_size or params.window_size
    qvec_col = qvec_col or index.vec_col
    sc = queries.sparkSession.sparkContext
    excl = np.asarray(sorted(set(exclude_ids)), dtype=np.int64) if exclude_ids else None
    maximize = is_similarity(distance)
    scale = None if round_to is None else float(10**round_to)
    if (
        fallback_below is not None
        and where is not None
        and exclude_ids is None
        and exclude_df is None
    ):
        # tiny-pool exact fallback: pushed-down counts decide; see the
        # fallback_below docstring for the measured rationale
        w = F.expr(where) if isinstance(where, str) else where
        if fallback_below == "auto":
            pool_key = ("__pool", str(where))
            pool = index.cal_cache.get(pool_key)
            if pool is None:
                pool = index.base.filter(w).count()
                index.cal_cache[pool_key] = pool
            n_base = index.cal_cache.get("__n_base")
            if n_base is None:
                n_base = index.base.count()
                index.cal_cache["__n_base"] = n_base
            do_fallback = pool <= AUTO_FALLBACK_SELECTIVITY * n_base
        else:
            do_fallback = (
                index.base.filter(w).limit(fallback_below + 1).count()
                <= fallback_below
            )
        if do_fallback:
            from scalablevectorsearch_spark.operators.flat import flat_knn

            return flat_knn(
                index.base, queries, k=k, distance=index.distance,
                id_col=index.id_col, vec_col=index.vec_col, qid_col=qid_col,
                qvec_col=qvec_col, where=where, round_to=round_to,
                max_query_block=max_query_block, deadline=deadline,
                decode=index.vec_decode,
            )
    if target_recall is not None:
        # recall-targeted probing: calibrate.fit_probe_budget fits the
        # budget, then the full search runs at it (see docstring)
        if n_probes is not None or epsilon_bp is not None or probe_budget is not None:
            raise ValueError(
                "target_recall is mutually exclusive with "
                "n_probes/epsilon_bp/probe_budget"
            )
        if index.shard_model is None:
            raise ValueError("target_recall requires a kmeans-sharded index")
        from pyspark.storagelevel import StorageLevel

        from scalablevectorsearch_spark.operators.calibrate import fit_probe_budget
        from scalablevectorsearch_spark.operators.flat import flat_knn

        # one persisted filtered scan shared by every fit and validation
        # eval — without it each step re-stamps the full base, the same
        # sharing the block loop below does
        pins = Pins()
        scan = None
        if where is not None:
            scan = pins.persist(
                _filtered_scan(index, where), StorageLevel.MEMORY_AND_DISK
            )

        def search_at(b, q, _qids):
            return vamana_search(
                index, q, k, search_window_size=sws, qid_col=qid_col,
                qvec_col=qvec_col, round_to=4, probe_budget=b, router=router,
                max_probes=max_probes, buffer_capacity=buffer_capacity,
                exclude_ids=exclude_ids, exclude_df=exclude_df, where=where,
                scan_override=scan,
            )

        def gt_scan(q, _qids):
            # excluded (tombstoned) ids can never be returned: grading
            # against them would misstate the achievable recall
            base = index.base
            if where is not None:
                base = base.filter(where)
            if exclude_ids:
                gone = [int(x) for x in exclude_ids]
                base = base.filter(~F.col(index.id_col).cast("long").isin(gone))
            if exclude_df is not None:
                gone = exclude_df.select(
                    F.col(exclude_df.columns[0]).cast("long").alias(index.id_col)
                )
                base = base.join(gone, on=index.id_col, how="anti")
            return flat_knn(
                base, q, k=k, distance=index.distance,
                id_col=index.id_col, vec_col=index.vec_col, qid_col=qid_col,
                qvec_col=qvec_col, round_to=4, decode=index.vec_decode,
            )

        with pins:
            budget = fit_probe_budget(
                queries, k, target_recall, search_at, gt_scan,
                cache=index.cal_cache,
                cache_key=None if exclude_df is not None else (
                    index.distance, str(where),
                    tuple(sorted(int(x) for x in exclude_ids or ())),
                ),
                max_budget=index.n_shards, qid_col=qid_col,
                calibration_queries=calibration_queries,
                calibration_groundtruth=calibration_groundtruth,
                calibration_margin=calibration_margin,
                calibration_validation_queries=calibration_validation_queries,
                calibration_budget_hint=calibration_budget_hint,
                calibration_stats=calibration_stats,
            )
        return vamana_search(
            index, queries, k, search_window_size=sws, qid_col=qid_col,
            qvec_col=qvec_col, round_to=round_to, exclude_ids=exclude_ids,
            exclude_df=exclude_df, buffer_capacity=buffer_capacity,
            max_probes=max_probes, probe_budget=budget, router=router,
            max_query_block=max_query_block, deadline=deadline, where=where,
        )
    if probe_budget is not None:
        if n_probes is not None or epsilon_bp is not None:
            raise ValueError(
                "probe_budget is mutually exclusive with n_probes/epsilon_bp"
            )
        if index.shard_model is None:
            raise ValueError("probe_budget routing requires a kmeans-sharded index")
        if probe_budget < 1:
            raise ValueError("probe_budget must be >= 1")
    elif (
        router is not None
        and n_probes is None
        and epsilon_bp is None
        and index.shard_model is not None
    ):
        # routed default: adaptive epsilon probing at a half-fan-out
        # budget (see docstring) instead of a fixed n_probes. Only when
        # the index is kmeans-sharded — budget probing needs shard
        # centroids; on a hash-sharded index (shard_by="hash") a router
        # keeps the pre-r6 behavior of full fan-out.
        probe_budget = max(1.0, index.n_shards / 2)
    if epsilon_bp is not None:
        if index.shard_model is None:
            raise ValueError("epsilon_bp routing requires a kmeans-sharded index")
        if n_probes is not None:
            raise ValueError("epsilon_bp is mutually exclusive with n_probes")
    elif n_probes is not None and index.shard_model is None:
        raise ValueError("n_probes routing requires a kmeans-sharded index")
    centroids = None if index.shard_model is None else index.shard_model.centroids

    filtered_scan = scan_override
    # a caller's override is the caller's to release; blocks are
    # materialized eagerly under max_query_block, so nothing downstream
    # re-reads an own scan released at the end of the loop
    with Pins() as pins:
        if filtered_scan is None and where is not None and max_query_block is not None:
            # the filtered scan re-stamps the base (the metadata-free
            # persisted layout is bypassed, see _vamana_search_block);
            # under query-block iteration each block's job would otherwise
            # re-run that full stamp pass — build it ONCE, persist for the
            # duration of the block loop
            from pyspark.storagelevel import StorageLevel

            filtered_scan = pins.persist(
                _filtered_scan(index, where), StorageLevel.MEMORY_AND_DISK
            )
        out = search_blocks(
            queries, qid_col, qvec_col, k, maximize,
            lambda qids, Q: _vamana_search_block(
                index, qids, Q, k, sws, excl, exclude_df, buffer_capacity,
                probe_plan(
                    Q, centroids, distance, n_probes, epsilon_bp, max_probes,
                    probe_budget, router,
                ),
                maximize, scale, sc, deadline, where=where,
                scan_override=filtered_scan,
            ),
            max_query_block,
        )
    return out.select("qid", "rank", "neighbor_id", "distance")


def _filtered_scan(index: VamanaIndex, where) -> DataFrame:
    """The where= scan: base re-sharded map-side (same deterministic
    assignment the build used, no id join) with the predicate evaluated
    as a __keep flag at the parquet scan — the metadata-free persisted
    layout cannot carry the predicate's columns."""
    w = F.expr(where) if isinstance(where, str) else where
    return by_key(
        _layout_rows(index.base, index, extra=(w.cast("boolean").alias("__keep"),)),
        "shard_id",
        index.n_shards,
    )


def _vamana_search_block(
    index: VamanaIndex,
    qids: np.ndarray,
    Q: np.ndarray,
    k: int,
    sws: int,
    excl,
    exclude_df: DataFrame | None,
    buffer_capacity: int | None,
    probe_of: dict[int, np.ndarray] | None,
    maximize: bool,
    scale: float | None,
    sc,
    deadline: float | None = None,
    where=None,
    scan_override: DataFrame | None = None,
) -> tuple[DataFrame, object]:
    """One query block's shard-cogroup search over its probe plan
    (``None`` = every shard): the block's unranked (qid, neighbor_id,
    distance) candidates, closure replicas deduplicated, and its
    broadcast. ``scan_override``: a pre-built (usually persisted)
    filtered scan shared across query blocks."""
    distance, vec_decode = index.distance, index.vec_decode
    bc = sc.broadcast((qids, Q, excl, probe_of))

    def search_fn(key, vdf: pd.DataFrame, gdf: pd.DataFrame) -> pd.DataFrame:
        if len(vdf) == 0 or len(gdf) == 0:
            return pd.DataFrame({"qid": [], "neighbor_id": [], "distance": []})
        vdf, gids, X = _shard_rows(vdf, np.float64, vec_decode)
        del_flag = (
            vdf["__del"].to_numpy(dtype=bool) if "__del" in vdf.columns else None
        )
        graph, entry = _decode_adjacency(gids, gdf)
        if entry is None:
            entry = 0
        mqids, mQ, mexcl, mprobe = bc.value
        if mprobe is not None:
            qsel = mprobe.get(int(key[0]))
            if qsel is None or len(qsel) == 0:
                return pd.DataFrame({"qid": [], "neighbor_id": [], "distance": []})
            mqids, mQ = mqids[qsel], mQ[qsel]
        valid = None
        if "__keep" in vdf.columns:
            # where= predicate flag: non-matching nodes stay traversable
            # waypoints but are never emitted (tombstone mechanism);
            # a NULL predicate result is NOT a match (SQL semantics)
            keep = vdf["__keep"].to_numpy()
            valid = np.where(pd.isna(keep), False, keep).astype(bool)
        if mexcl is not None and len(mexcl):
            m = ~np.isin(gids, mexcl)
            valid = m if valid is None else (valid & m)
        if del_flag is not None and del_flag.any():
            m = ~del_flag
            valid = m if valid is None else (valid & m)
        ids, ds = search_graph(
            X, graph, entry, mQ, k, sws, distance, valid=valid,
            capacity=buffer_capacity, deadline=deadline,
        )
        nq, kk = ids.shape
        mask = ids.reshape(-1) >= 0
        dist = ds.reshape(-1)
        if maximize:
            dist = -dist  # local kernel minimizes; restore similarity sign
        if scale is not None:
            dist = np.floor(dist * scale + 0.5) / scale
        return pd.DataFrame(
            {
                "qid": np.repeat(mqids, kk)[mask],
                "neighbor_id": gids[ids.reshape(-1)[mask]],
                "distance": dist[mask],
            }
        )

    if scan_override is not None:
        scan = scan_override
    elif where is not None:
        # filtered search: the predicate needs the base's metadata
        # columns, which the persisted (id, vec)-only layout dropped —
        # re-shard the base map-side with a __keep flag (_filtered_scan;
        # one exchange by shard_id, which the per-shard kernels need
        # anyway)
        scan = _filtered_scan(index, where)
    else:
        # persisted shard-partitioned layout: no base shuffle at search
        scan = index.layout
    # placed before the probe filter below, so by_key's placement check
    # reads the persisted graph's cached plan (the planner pushes the
    # filter under the exchange)
    graph = by_key(index.graph, "shard_id", index.n_shards)
    if exclude_df is not None:
        if excl is not None:
            raise ValueError("pass exclude_ids or exclude_df, not both")
        # broadcast-join flag stamp: narrow op, the scan's shard
        # partitioning survives and the skip-set never touches the driver
        flags = exclude_df.select(
            F.col(exclude_df.columns[0]).cast("long").alias("__id"),
            F.lit(True).alias("__del"),
        )
        scan = scan.join(F.broadcast(flags), "__id", "left").withColumn(
            "__del", F.coalesce(F.col("__del"), F.lit(False))
        )
    if probe_of is not None:
        # unprobed shards never reach the kernel (pruning on a persisted
        # shard-partitioned layout)
        probed = sorted(probe_of)
        scan = scan.filter(F.col("shard_id").isin(probed))
        graph = graph.filter(F.col("shard_id").isin(probed))
    cand = (
        scan.groupBy("shard_id")
        .cogroup(graph.groupBy("shard_id"))
        .applyInPandas(search_fn, RESULT_SCHEMA)
    )
    if index.closure_bp is not None:
        # closure replicas: the same neighbor can surface from several
        # cells; distances come from BLAS over differently-shaped shard
        # matrices, so last-ulp jitter is possible — keep the BEST
        # distance per (qid, neighbor_id) so the survivor is
        # deterministic regardless of float jitter
        keep = F.max("distance") if maximize else F.min("distance")
        cand = cand.groupBy("qid", "neighbor_id").agg(keep.alias("distance"))
    return cand, bc


def graph_degree_stats(graph: DataFrame) -> DataFrame:
    """Degree histogram (utils/graph_stat.cpp parity)."""
    return (
        graph.select(F.size("neighbors").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )
