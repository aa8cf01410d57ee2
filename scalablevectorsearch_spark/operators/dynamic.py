"""Dynamic index operators — add_points, lazy tombstone deletes,
consolidate, compact.

Parity: /root/reference/include/svs/index/vamana/dynamic_index.h —
:631-700 (add_points: id validation, slot assignment, search+prune link),
:617-630/:747 (delete_entries = lazy tombstone; deleted ids excluded
from results immediately, physically removed at consolidate),
:950-970 + consolidate.h:357 (consolidate: remove deleted vertices,
repair adjacency), :791-810 + core/compact.h (compact: id defrag);
include/svs/index/flat/dynamic_flat.h:65 (Dynamic Flat is the same
mutation surface with no graph).

Spark shape (bulk-synchronous, scale-first):
 - The Vamana tombstone set is DRIVER-RESIDENT (exact parity: the
   reference keeps deleted slots in an in-memory set,
   dynamic_index.h:617-630 ``status_ == SlotMetadata::Deleted``) —
   between consolidations it is bounded and small by design, so
   tombstone checks are pure driver work and search-time exclusion is
   a broadcast skip-set.
 - Membership (does an id exist?) is read from the index's pinned,
   shard-placed ``layout`` — the analog of the reference's in-memory
   slot status — never from ``base``, a plan that grows with every
   mutation. A check is one collect of the layout ids in the batch
   (a pushed-down ``isin`` or broadcast semi-join), so its cost does
   not grow with the mutation chain. The base is never read by a
   mutation: additions are a union, deletes are a filter.
 - ``add_points`` links new points INCREMENTALLY into the touched
   shards' existing graphs (greedy search + alpha-prune + reverse
   edges, dynamic_index.h:631-700) via a cogroup of the persisted
   layout with the adjacency — the kernel's work is O(batch),
   independent of shard size; untouched shards' adjacency is reused
   verbatim. The data movement is not O(batch): pinning a new
   generation re-partitions EVERY layout and graph row, because a
   union with a ``repartitionById``-placed frame reports unknown
   partitioning, so ``by_key`` shuffles the whole union again.
 - ``consolidate`` = filter tombstoned rows + rebuild the shards that
   contained them (graph repair-through-deleted-neighborhoods collapses
   to a shard-local rebuild in the bulk model); ``compact`` = dense id
   remap via ``row_number`` + adjacency remap join.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.arrowio import map_stamp
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.kmeans import make_stamp_fn
from scalablevectorsearch_spark.operators.vamana import (
    EMPTY_GRAPH,
    VamanaIndex,
    _graph_cogroup,
    _graph_rows,
    _layout_rows,
    _relink_fn,
    _shard_rows,
    vamana_search,
)
from scalablevectorsearch_spark.operators.vamana_local import INSERT_BATCH
from scalablevectorsearch_spark.pins import Pins
from scalablevectorsearch_spark.placement import by_key


# ------------------------------------------------------------ dynamic flat


def dynamic_flat_knn(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    added: DataFrame | None = None,
    deleted_ids: DataFrame | None = None,
    distance: str = "l2",
    id_col: str = "id",
    **kwargs,
) -> DataFrame:
    """Exact k-NN over (base + added - deleted) — dynamic_flat.h:65.
    Deletes are an anti-join (never a base rewrite); additions union in."""
    cur = base
    if added is not None:
        cur = cur.unionByName(added.select(*base.columns))
    if deleted_ids is not None:
        cur = cur.join(
            F.broadcast(deleted_ids.select(F.col(id_col).cast("long").alias(id_col))),
            id_col,
            "left_anti",
        )
    return flat_knn(cur, queries, k=k, distance=distance, id_col=id_col, **kwargs)


# ------------------------------------------------------------ dynamic ivf


@dataclass
class DynamicIVF:
    """An IVF index + mutation state (dynamic_ivf.h / dynamic_ivf.cpp
    parity): additions are stamped into their nearest existing cluster
    (append — no retrain), deletes are tombstones, and ``recluster``
    is the full-retrain maintenance job for when the clustering has
    drifted."""

    index: "IVFIndex"
    tombstones: DataFrame


def dynamic_ivf(index) -> DynamicIVF:
    spark = index.clustered.sparkSession
    return DynamicIVF(index=index, tombstones=spark.createDataFrame([], "id long"))


def ivf_add_points(dyn: DynamicIVF, new_rows: DataFrame) -> DynamicIVF:
    """Stamp new rows with their nearest EXISTING centroid and append —
    the cluster layout absorbs inserts without retraining (the
    reference's dynamic IVF append path). Raises on live-id collision."""
    idx = dyn.index
    id_col, vec_col = idx.id_col, idx.vec_col
    live = idx.clustered.select(id_col).join(
        F.broadcast(dyn.tombstones.select(F.col("id").alias(id_col))),
        id_col,
        "left_anti",
    )
    # broadcast the (small) insert batch so the clustered base never
    # shuffles for the collision check
    n_dup = live.join(
        F.broadcast(new_rows.select(id_col)), id_col, "left_semi"
    ).count()
    if n_dup:
        raise ValueError(f"{n_dup} ids already exist in the index")

    # the build's own stamp (grouped at >= HIERARCHICAL_STAMP_THRESHOLD
    # centroids, same assignments as the flat pass)
    stamped = map_stamp(
        new_rows.select(*[c for c in idx.clustered.columns if c != "cluster_id"]),
        vec_col, "cluster_id",
        make_stamp_fn(new_rows.sparkSession.sparkContext, idx.model.centroids),
    )
    return DynamicIVF(
        # fresh cal_cache: cached calibration groundtruth belongs to the
        # pre-insert clustered base
        index=replace(
            idx, clustered=idx.clustered.unionByName(stamped), cal_cache={}
        ),
        tombstones=dyn.tombstones,
    )


def ivf_delete_entries(dyn: DynamicIVF, ids: DataFrame) -> DynamicIVF:
    idx = dyn.index
    ids = ids.select(F.col(idx.id_col).cast("long").alias("id")).distinct()
    live = idx.clustered.select(F.col(idx.id_col).cast("long").alias("id")).join(
        F.broadcast(dyn.tombstones), "id", "left_anti"
    )
    # flip the membership check so the big side probes a broadcast of
    # the (small) delete batch: unknown = |ids| - |ids ∩ live|
    n_ids = ids.count()
    matched = live.join(F.broadcast(ids), "id", "left_semi").count()
    if matched < n_ids:
        raise ValueError(f"{n_ids - matched} ids are unknown or already deleted")
    return DynamicIVF(index=idx, tombstones=dyn.tombstones.unionByName(ids).distinct())


def ivf_dynamic_search(dyn: DynamicIVF, queries: DataFrame, k: int, **kw) -> DataFrame:
    """Search over (clustered + appended - tombstoned)."""
    from scalablevectorsearch_spark.operators.ivf import ivf_search

    idx = dyn.index
    tomb = dyn.tombstones.select(F.col("id").alias(idx.id_col))
    cur = idx.clustered.join(F.broadcast(tomb), idx.id_col, "left_anti")
    # fresh cal_cache: the ephemeral tombstone-filtered view must not
    # read (or write) calibration groundtruth keyed to the unfiltered
    # clustered base
    return ivf_search(replace(idx, clustered=cur, cal_cache={}), queries, k=k, **kw)


def ivf_recluster(dyn: DynamicIVF, n_clusters: int | None = None, n_iters: int = 2) -> DynamicIVF:
    """Full retrain over the live rows — the maintenance job for drifted
    clusterings (skew from appends)."""
    from scalablevectorsearch_spark.operators.ivf import ivf_build

    idx = dyn.index
    tomb = dyn.tombstones.select(F.col("id").alias(idx.id_col))
    live = idx.clustered.drop("cluster_id").join(F.broadcast(tomb), idx.id_col, "left_anti")
    k = n_clusters or idx.n_clusters
    rebuilt = ivf_build(live, k, n_iters, idx.id_col, idx.vec_col)
    rebuilt.clustered.cache().count()
    spark = live.sparkSession
    return DynamicIVF(index=rebuilt, tombstones=spark.createDataFrame([], "id long"))


# ------------------------------------------------------------ dynamic vamana


#: above this size an ``isin`` literal list would bloat the plan; use a
#: broadcast-join DataFrame instead (the set is still executor-memory
#: sized — consolidate() is the pressure valve, as in the reference)
_ISIN_MAX = 10_000


def _in_layout(layout: DataFrame, ids) -> set:
    """The ids of ``ids`` present in a pinned ``layout``: one collect of
    its matching ``__id`` rows, made distinct on the driver (closure
    replicas put one id in several shards)."""
    hits = _without_ids(layout.select("__id"), "__id", tuple(sorted(ids)), keep=True)
    return {r[0] for r in hits.collect()}


def _without_ids(df: DataFrame, col: str, ids: tuple, keep: bool = False) -> DataFrame:
    """Filter ``df`` by membership of ``col`` in a driver-side id set,
    without ever shuffling ``df``: small sets become a pushed-down
    ``isin`` predicate (partition-prunable at the scan), larger ones a
    broadcast semi/anti join."""
    if not ids:
        return df if not keep else df.limit(0)
    if len(ids) <= _ISIN_MAX:
        cond = F.col(col).cast("long").isin(list(ids))
        return df.filter(cond if keep else ~cond)
    ids_df = df.sparkSession.createDataFrame([(int(i),) for i in ids], f"{col} long")
    return df.join(F.broadcast(ids_df), col, "left_semi" if keep else "left_anti")


#: delete waves up to this size stay driver-resident (the reference's
#: in-memory status-vector parity — fast isin/broadcast paths); larger
#: waves switch to a tombstone DataFrame that only ever lives
#: executor-side (anti-joins + broadcast flag stamps)
_TOMB_DRIVER_MAX = 100_000


@dataclass
class DynamicVamana:
    """A Vamana index + a tombstone set (lazy deletes).

    Small delete sets are DRIVER-RESIDENT (``tomb_ids`` — exact parity
    with the reference, which tracks deleted slots in an in-memory
    status vector, dynamic_index.h:617-630): tombstone checks are
    driver work, search exclusion ships in the query broadcast, and no
    Spark job ever reads the base because of a delete. A delete wave larger
    than the driver threshold flips the representation to ``tomb_df``,
    an id DataFrame that is anti-joined / flag-stamped executor-side —
    the wave is never collect()ed. Exactly one representation is active
    (``tomb_df is not None`` wins).

    Ownership. The reference mutates one in-memory graph in place; here
    every generation is a persisted frame whose lineage is cut now and
    then, and a handle owns that state through three :class:`Pins`
    scopes (the CacheManager keeps a persisted plan until it is
    unpersisted, so nothing is freed by garbage collection):

    - ``pins``: this generation's persisted graph and layout. The next
      ``add_points``/``consolidate`` releases them once its own
      generation is materialized.
    - ``cut``: the last lineage cut's checkpoint RDDs. Every generation
      up to the next cut recomputes through them, so the next cut
      releases them; handles older than that cut become invalid.
    - ``tombs``: the large-wave tombstone checkpoints. A consolidate's
      base anti-joins them for good, so they live until ``close()``.

    Every mutation MOVES all three into the handle it returns. A
    consumed handle owns nothing and its ``close()`` is a no-op: after
    ``live = delete_entries(stale, ids); stale.close()`` the live handle
    still searches its persisted graph. ``close()`` on the live handle
    releases everything, when a maintenance loop retires the index."""

    index: VamanaIndex
    tomb_ids: tuple = ()  # sorted tombstoned ids (small path)
    tomb_df: DataFrame | None = None  # authoritative when not None
    pins: Pins = field(default_factory=Pins)
    cut: Pins = field(default_factory=Pins)
    tombs: Pins = field(default_factory=Pins)
    #: mutations since the last lineage cut (see _CKPT_EVERY)
    gens_since_ckpt: int = 0

    def close(self) -> None:
        """Release everything this handle owns; idempotent."""
        for owner in (self.pins, self.cut, self.tombs):
            owner.release()

    def _moved(self, **changes) -> "DynamicVamana":
        """The handle that takes over this one's owners."""
        return replace(
            self, pins=self.pins.move(), cut=self.cut.move(),
            tombs=self.tombs.move(), **changes,
        )

    @property
    def spark(self):
        return self.index.base.sparkSession

    @property
    def tombstones(self) -> DataFrame:
        """The tombstone set as an id DataFrame (joinable API surface)."""
        if self.tomb_df is not None:
            return self.tomb_df
        return self.spark.createDataFrame([(int(i),) for i in self.tomb_ids], "id long")

    def n_tombstones(self) -> int:
        if self.tomb_df is not None:
            return self.tomb_df.count()
        return len(self.tomb_ids)


def dynamic_vamana(index: VamanaIndex) -> DynamicVamana:
    """Wrap an index for mutation. Hash-sharded AND kmeans-routed
    (cluster-sharded) indexes are supported (r11): routed inserts stamp
    to their nearest cell through the SAME deterministic ``_sharded``
    assignment the build and every search use — closure replicas
    included — so post-mutation routed searches (n_probes /
    probe_budget / target_recall) keep pruning unprobed shards
    correctly. One routed-only contract: reinserting a TOMBSTONED id
    requires ``consolidate()`` first (see add_points)."""
    if getattr(index, "vec_decode", None) is not None:
        raise ValueError(
            "dynamic mutations are not supported on packed-storage indexes; "
            "build the LVQ index over the reconstruction (vec_decode=None) "
            "for mutation workloads"
        )
    return DynamicVamana(index=index, tomb_ids=())


#: mutations between lineage cuts. Every mutation embeds the previous
#: graph's plan at least twice, so plan size doubles per generation; a
#: cut every 4th mutation bounds the plan at 2^4 = 16 leaf-plan copies
#: — far under the measured ~15-generation Catalyst blowup — while
#: skipping 3 of 4 checkpoint writes (per-mutation eager checkpoints
#: measured +27-36% on dynamic_cycle in r9).
_CKPT_EVERY = 4


def _next_generation(
    dyn: DynamicVamana, graph_df: DataFrame, layout_df: DataFrame,
    base: DataFrame, **tombstones,
) -> DynamicVamana:
    """Materialize the generation that supersedes ``dyn`` (add_points
    and consolidate) and hand it ``dyn``'s owners.

    The graph and layout are pinned partitioned by shard_id
    (``placement.by_key``) — the Spark analog of the reference's in-place
    ``graph_.replace_node``: without it every downstream search re-runs
    the shard rebuild, and the InMemoryRelation carries that
    partitioning, so searches cogroup off it exchange-free. Every
    ``_CKPT_EVERY``-th generation an eager localCheckpoint first cuts
    the lineage: each mutation embeds the previous graph's plan at least
    twice, so an uncut chain doubles the logical plan per mutation
    (measured blowing past Catalyst's
    plan-string cap ~15 batches into a maintenance loop). The cut alone
    is not enough — a LogicalRDD reports unknown partitioning, so every
    post-mutation search would re-shuffle it — hence checkpoint THEN
    re-partition and persist. The two pin jobs are independent and run
    concurrently (the scheduler back-fills one job's straggler tail
    with the other's tasks). If a pin job raises, the new pins are
    released and ``dyn`` keeps its owners. On a real cluster executor
    loss invalidates local checkpoints, so a maintenance service should
    save the index to storage periodically instead of chaining
    forever."""
    from concurrent.futures import ThreadPoolExecutor

    idx = dyn.index
    ckpt = dyn.gens_since_ckpt + 1 >= _CKPT_EVERY
    with Pins() as pins, Pins() as cut:

        def pin(df):
            if ckpt:
                df = cut.checkpoint(df)
            pinned = pins.persist(by_key(df, "shard_id", idx.n_shards))
            pinned.count()
            return pinned

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(pin, df) for df in (graph_df, layout_df)]
        graph, layout = [f.result() for f in futs]
        # fresh cal_cache: the cached groundtruth / pool / base counts
        # were computed against the PRE-mutation base
        nxt = dyn._moved(
            index=replace(idx, base=base, graph=graph, layout=layout, cal_cache={}),
            gens_since_ckpt=0 if ckpt else dyn.gens_since_ckpt + 1,
            **tombstones,
        )
        # retire the superseded generation's pins, and the previous cut
        # when this generation cut a newer one
        nxt.pins.release()
        nxt.pins = pins.move()
        if ckpt:
            nxt.cut.release()
            nxt.cut = cut.move()
        return nxt


def add_points(dyn: DynamicVamana, new_rows: DataFrame) -> DynamicVamana:
    """Insert rows; raises on id collision with live rows
    (dynamic_index.h:640-656 id validation). New points are linked
    INCREMENTALLY into the touched shards' existing graphs — greedy
    search + alpha-prune + reverse edges, the reference's insert path
    (dynamic_index.h:631-700) — so the link kernel's work is O(batch ·
    window · degree · d), not O(shard size), and untouched shards'
    adjacency is reused verbatim (insert batches are broadcast-sized by
    contract — bulk loads go through ``vamana_build``). Ids are checked
    against the pinned layout, never the base. Pinning the new
    generation still re-partitions every layout and graph row (see the
    module docstring). Reinserting a tombstoned id revives the slot with
    the new vector (reuse_empty semantics): its old adjacency row is
    dropped and it re-links as a new point; edges INTO the slot remain
    until consolidate, now pointing at the new vector — the reference's
    lazy repair contract."""
    idx = dyn.index
    id_col, vec_col = idx.id_col, idx.vec_col
    new_rows = new_rows.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    )
    # stamp each new row through the SAME deterministic assignment the
    # build used — id mod n_shards, or (routed) its nearest cell plus
    # closure replicas, so routed searches keep pruning unprobed shards
    # correctly after the mutation. The routed stamp re-runs per
    # downstream job (3 jobs x a broadcast-sized batch — negligible)
    # rather than being checkpointed: it is deterministic, so every job
    # sees the same assignment, and no pin outlives the mutation.
    new_layout = _layout_rows(new_rows, idx)
    # one collect over the (small) insert batch: touched shards + new ids
    pairs = new_layout.select("shard_id", "__id").collect()
    touched = sorted({r[0] for r in pairs})
    new_ids = {r[1] for r in pairs}
    if dyn.tomb_df is not None:
        # large-wave tombstones: revived = tomb ∩ batch, bounded by the
        # broadcast-sized batch even though the tombstone set is not
        batch_ids = F.broadcast(new_rows.sparkSession.createDataFrame(
            [(int(i),) for i in sorted(new_ids)], "id long"
        ))
        revived = tuple(sorted(
            r[0] for r in dyn.tomb_df.join(batch_ids, "id", "left_semi").collect()
        ))
        tomb = ()
        tomb_df_after = (
            dyn.tomb_df.join(batch_ids, "id", "left_anti") if revived else dyn.tomb_df
        )
    else:
        # reinserting a tombstoned id revives the slot (reuse_empty
        # semantics, dynamic_index.h:631) — pure driver set work
        revived = tuple(sorted(new_ids & set(dyn.tomb_ids)))
        tomb = tuple(i for i in dyn.tomb_ids if i not in new_ids)
        tomb_df_after = None
    if idx.shard_model is not None and revived:
        # a tombstoned id's OLD replicas sit wherever its old vector
        # routed; the new vector may route elsewhere, so an in-place
        # slot revive would leave in-edges in the old shards dangling
        # (hash sharding never moves a slot, so revive is safe there).
        # Routed contract: consolidate() physically removes the
        # tombstoned rows (repairing in-edges), then the id is free.
        raise ValueError(
            f"{len(revived)} ids are tombstoned on a cluster-routed index; "
            "run consolidate() before reinserting them (routed slot "
            "placement follows the vector, so revive-in-place would "
            "dangle the old replicas' in-edges)"
        )
    # collision check against the pinned layout (live ids plus
    # tombstoned ones; a revived id is free), before any pin
    n_dup = len(_in_layout(idx.layout, new_ids) - set(revived))
    if n_dup:
        raise ValueError(f"{n_dup} ids already exist in the index")
    base = _without_ids(
        idx.base.select(id_col, vec_col), id_col, revived
    ).unionByName(new_rows)

    # vector side of the link cogroup: the touched shards' PERSISTED
    # layout rows (minus revived slots, whose vectors are replaced)
    # plus the new rows — only touched shards ever reach the kernel,
    # and the old layout is read from cache, not the base
    vside = _without_ids(
        idx.layout.filter(F.col("shard_id").isin(touched)), "__id", revived
    ).unionByName(new_layout)
    # graph side: touched shards' adjacency; revived slots re-link as
    # new points, so their outgoing rows are dropped
    gside = _without_ids(
        idx.graph.filter(F.col("shard_id").isin(touched)), "src", revived
    )
    linked = _graph_cogroup(
        by_key(vside, "shard_id", idx.n_shards), gside, idx.n_shards,
        _relink_fn(idx.params, idx.distance, None, lambda n: INSERT_BATCH),
    )
    return _next_generation(
        dyn,
        idx.graph.filter(~F.col("shard_id").isin(touched)).unionByName(linked),
        _without_ids(idx.layout, "__id", revived).unionByName(new_layout),
        base, tomb_ids=tomb, tomb_df=tomb_df_after,
    )


def delete_entries(dyn: DynamicVamana, ids: DataFrame) -> DynamicVamana:
    """Lazy tombstone (dynamic_index.h:747): ids vanish from results
    immediately, stay in the graph until consolidate. Raises on unknown
    or already-deleted ids (:617-630).

    Waves that keep the total tombstone count <= ``_TOMB_DRIVER_MAX``
    (100k ids = ~800 KB broadcast, read at call time) stay
    driver-resident — they ship inside the query broadcast and its isin
    filters; beyond that the set becomes a DataFrame and every
    membership/validation below is a join — the ids are never
    materialized on the driver. Existence is read from the pinned
    layout, never the base."""
    idx = dyn.index
    ids = ids.select(F.col(idx.id_col).cast("long").alias("id")).distinct()
    if dyn.tomb_df is None:
        # one job decides the path: pull at most one id past the driver
        # budget, so the driver never holds more than budget+1 ids
        budget = max(0, _TOMB_DRIVER_MAX - len(dyn.tomb_ids))
        probe = ids.limit(budget + 1).collect()
        if len(dyn.tomb_ids) + len(probe) <= _TOMB_DRIVER_MAX:
            wave = {r[0] for r in probe}
            already = len(wave & set(dyn.tomb_ids))
            if already:
                raise ValueError(f"{already} ids are unknown or already deleted")
            missing = len(wave) - len(_in_layout(idx.layout, wave))
            if missing:
                raise ValueError(f"{missing} ids are unknown or already deleted")
            return dyn._moved(tomb_ids=tuple(sorted(set(dyn.tomb_ids) | wave)))
    # large-wave path: all joins, zero driver materialization. One job
    # counts the wave's ids that are missing from the layout (dead=0)
    # or already tombstoned (dead=1); the layout join shuffles only its
    # id column — unavoidable when the wave exceeds broadcast size.
    tomb = dyn.tombstones
    layout_ids = idx.layout.select(F.col("__id").alias("id"))
    bad = (
        ids.join(layout_ids, "id", "left_anti").select(F.lit(0).alias("dead"))
        .unionByName(ids.join(tomb, "id", "left_semi").select(F.lit(1).alias("dead")))
    )
    n_bad, already = bad.agg(F.count("*"), F.coalesce(F.sum("dead"), F.lit(0))).first()
    if already:
        raise ValueError(f"{already} ids are unknown or already deleted")
    if n_bad:
        raise ValueError(f"{n_bad} ids are unknown or already deleted")
    # a checkpoint, not a cache: tombstone waves chain (each wave unions
    # the previous set), so an uncut chain grows the plan per wave; the
    # eager cut materializes a leaf, owned by ``tombs`` until close()
    new_tomb = dyn.tombs.checkpoint(tomb.unionByName(ids))
    return dyn._moved(tomb_ids=(), tomb_df=new_tomb)


def dynamic_search(
    dyn: DynamicVamana, queries: DataFrame, k: int, search_window_size: int | None = None, **kw
) -> DataFrame:
    """Search skipping tombstoned ids (traversed, never returned) —
    zero extra jobs: a small skip-set ships inside the query broadcast;
    a large one is flag-stamped onto the scan via broadcast join."""
    if dyn.tomb_df is not None:
        return vamana_search(
            dyn.index, queries, k=k, search_window_size=search_window_size,
            exclude_df=dyn.tomb_df, **kw,
        )
    return vamana_search(
        dyn.index, queries, k=k, search_window_size=search_window_size,
        exclude_ids=list(dyn.tomb_ids) or None, **kw,
    )


def consolidate(dyn: DynamicVamana) -> DynamicVamana:
    """Physically remove tombstones by REPAIRING the affected shards'
    adjacency through the deleted neighborhoods (consolidate.h:357):
    each live node with deleted neighbors inherits their live neighbors
    and re-prunes — O(affected nodes), independent of shard size, via
    the same layout×graph cogroup as the insert path. Untouched shards
    are reused verbatim. Touched shards: hash-sharded indexes derive
    them driver-side (shard = id mod n_shards); ROUTED (kmeans-sharded)
    indexes read them from the persisted layout — placement followed
    the vector and closure replicas put one id in several shards, so
    the layout is the authority and every replica's shard is repaired
    (see the routed branch below)."""
    import numpy as np

    from scalablevectorsearch_spark.operators.vamana import _decode_adjacency
    from scalablevectorsearch_spark.operators.vamana_local import consolidate_graph

    idx = dyn.index
    if not dyn.tomb_ids and dyn.tomb_df is None:
        return dyn
    params, distance = idx.params, idx.distance
    large = dyn.tomb_df is not None
    routed = idx.shard_model is not None
    if large:
        base = idx.base.join(
            dyn.tomb_df.withColumnRenamed("id", idx.id_col), idx.id_col, "left_anti"
        )
        bc = None
    else:
        base = _without_ids(idx.base, idx.id_col, dyn.tomb_ids)
        tomb_arr = np.asarray(sorted(dyn.tomb_ids), dtype=np.int64)
        bc = idx.base.sparkSession.sparkContext.broadcast(tomb_arr)
    # touched-shard list is bounded by n_shards — safe to collect.
    # Routed indexes can't derive it from id arithmetic (placement
    # followed the vector; closure replicas put one id in SEVERAL
    # shards), so the persisted layout is the authority there — every
    # replica's shard is repaired, preserving routing + closure across
    # the consolidate.
    if routed:
        if large:
            hit = idx.layout.join(
                dyn.tomb_df.withColumnRenamed("id", "__id"), "__id", "left_semi"
            )
        else:
            hit = _without_ids(idx.layout, "__id", dyn.tomb_ids, keep=True)
        touched = sorted(r[0] for r in hit.select("shard_id").distinct().collect())
    elif large:
        touched = sorted(
            r[0]
            for r in dyn.tomb_df.select(
                F.pmod(F.col("id"), F.lit(idx.n_shards)).cast("int")
            )
            .distinct()
            .collect()
        )
    else:
        touched = sorted({int(i) % idx.n_shards for i in dyn.tomb_ids})

    def repair_fn(key, vdf, gdf):
        if len(vdf) == 0 or len(gdf) == 0:
            return EMPTY_GRAPH
        vdf, gids, X = _shard_rows(vdf, params.build_dtype)
        graph, entry = _decode_adjacency(gids, gdf)
        if "__del" in vdf.columns:
            deleted = vdf["__del"].to_numpy(dtype=bool)
        else:
            deleted = np.isin(gids, bc.value)
        entry = consolidate_graph(
            X, graph, deleted, 0 if entry is None else entry, params, distance
        )
        return _graph_rows(key[0], gids, graph, entry, keep=np.nonzero(~deleted)[0])

    vside = idx.layout.filter(F.col("shard_id").isin(touched))
    if large:
        # the deleted mask reaches the kernel as a joined flag column —
        # the wave never lands on the driver (by_key repartitions
        # vside next, so the join shape doesn't disturb the cogroup)
        vside = vside.join(
            dyn.tomb_df.select(
                F.col("id").alias("__id"), F.lit(True).alias("__del")
            ),
            "__id",
            "left",
        ).withColumn("__del", F.coalesce(F.col("__del"), F.lit(False)))
    repaired = _graph_cogroup(
        by_key(vside, "shard_id", idx.n_shards),
        idx.graph.filter(F.col("shard_id").isin(touched)),
        idx.n_shards, repair_fn,
    )
    if large:
        new_layout = idx.layout.join(
            dyn.tomb_df.withColumnRenamed("id", "__id"), "__id", "left_anti"
        )
    else:
        new_layout = _without_ids(idx.layout, "__id", dyn.tomb_ids)
    return _next_generation(
        dyn,
        idx.graph.filter(~F.col("shard_id").isin(touched)).unionByName(repaired),
        new_layout, base, tomb_ids=(), tomb_df=None,
    )


def _dense_ids(base: DataFrame, id_col: str) -> DataFrame:
    """Distributed dense rank over ascending id: range-partition the id
    column, sort within partitions, broadcast per-partition cumulative
    offsets, and stamp ``offset + local position`` per batch — the
    zipWithIndex shape. A global ``Window.orderBy`` would funnel the
    ENTIRE base through one WindowExec partition (the textbook
    single-partition sort); this plan's widest stage is the range
    exchange, which scales with the cluster. Returns (old_id, new_id)."""
    import numpy as np

    spark = base.sparkSession
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ids = (
        base.select(F.col(id_col).cast("long").alias("old_id"))
        .repartitionByRange(sp, F.col("old_id").asc())
        .sortWithinPartitions("old_id")
        .withColumn("__pid", F.spark_partition_id())
        # pin the (sampled) range partitioning so the count pass and the
        # numbering pass see identical partitions
        .persist()
    )
    counts = {
        int(r["__pid"]): int(r["n"])
        for r in ids.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):  # range partitions are ordered by id range
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)

    def number(batches):
        seen, off = 0, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if off is None:
                off = bc.value[int(pdf["__pid"].iloc[0])]
            out = pdf[["old_id"]].copy()
            out["new_id"] = np.arange(off + seen, off + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield out

    return ids.mapInPandas(number, "old_id long, new_id long")


def compact(base: DataFrame, graph: DataFrame, id_col: str = "id") -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dense id remap (compact.h / dynamic_index.h:791-810): new ids are
    the rank of the old id in ascending order, computed DISTRIBUTED (see
    _dense_ids — no single-partition window). Returns (base', graph',
    mapping) where mapping = (old_id, new_id)."""
    mapping = _dense_ids(base, id_col)
    new_base = (
        base.join(mapping, base[id_col] == mapping["old_id"])
        .drop(id_col, "old_id")
        .withColumnRenamed("new_id", id_col)
    )
    # mapping is base-sized — no broadcast hint; these are plain
    # shuffle joins on ids (AQE still picks broadcast when it fits)
    m = mapping
    exploded = graph.select(
        "shard_id", "src", "is_entry", F.explode_outer("neighbors").alias("nbr")
    )
    remapped = (
        exploded.join(m, exploded["nbr"] == mapping["old_id"], "left")
        .groupBy("shard_id", "src", "is_entry")
        .agg(F.sort_array(F.collect_list("new_id")).alias("neighbors"))
    )
    new_graph = (
        remapped.join(m.withColumnRenamed("new_id", "src_new"), remapped["src"] == F.col("old_id"))
        .select(
            "shard_id",
            F.col("src_new").alias("src"),
            "neighbors",
            "is_entry",
        )
    )
    return new_base, new_graph, mapping


def compact_index(index: VamanaIndex) -> tuple[VamanaIndex, DataFrame]:
    """Compact a WHOLE Vamana index to a dense id space and keep it
    searchable (dynamic_index.h:791-810 — the reference's compact leaves
    the index servable, not just the tables): base, graph, AND the
    persisted shard layout are remapped with the same dense mapping, so
    the compacted index's graph shard stamps still agree with its
    layout and a search needs no re-sharding. The dense rank itself is
    the distributed _dense_ids plan (no single-partition window); the
    layout remap is one shuffle join on ids. Returns
    (compacted_index, mapping) with mapping = (old_id, new_id)."""
    from pyspark.storagelevel import StorageLevel

    new_base, new_graph, mapping = compact(index.base, index.graph, index.id_col)
    new_layout = None
    if index.layout is not None:
        new_layout = by_key(
            index.layout.join(mapping, index.layout["__id"] == mapping["old_id"])
            .select("shard_id", F.col("new_id").alias("__id"), "__vec"),
            "shard_id",
            index.n_shards,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    return (
        replace(
            index, base=new_base, graph=new_graph, layout=new_layout,
            cal_cache={},
        ),
        mapping,
    )
