"""Dynamic index tests (reference parity: dynamic_index.h add/delete/
consolidate, bindings/python/tests/dynamic.py metamorphic cycles)."""

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from scalablevectorsearch_spark.operators import dynamic
from scalablevectorsearch_spark.operators.dynamic import (
    _CKPT_EVERY,
    add_points,
    compact,
    consolidate,
    delete_entries,
    dynamic_flat_knn,
    dynamic_search,
    dynamic_vamana,
)
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.vamana import VamanaParams, vamana_build


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector")


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")


@pytest.fixture(scope="module")
def dyn(base):
    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    return dynamic_vamana(idx)


def test_dynamic_flat_delete_excludes(base, queries):
    deleted = base.filter(F.col("id") < 5).select("id")
    res = dynamic_flat_knn(base, queries, k=5, deleted_ids=deleted)
    got_ids = {r["neighbor_id"] for r in res.collect()}
    assert got_ids.isdisjoint(set(range(5)))


def test_dynamic_flat_add_appears(base, queries):
    # add an exact copy of query 0's vector under a new id: it must be
    # that query's nearest (or tied-nearest) neighbor
    added = base.filter(F.col("id") == 0).select(
        (F.col("id") + 50000).alias("id"), "vector"
    )
    res = dynamic_flat_knn(base, queries, k=3, added=added)
    top = {(r["qid"], r["rank"]): r["neighbor_id"] for r in res.collect()}
    assert top[(0, 1)] == 0 and top[(0, 2)] == 50000  # id tie-break: 0 first


def test_delete_unknown_id_raises(dyn):
    spark = dyn.spark
    bogus = spark.createDataFrame([(999999,)], "id long")
    with pytest.raises(ValueError, match="unknown"):
        delete_entries(dyn, bogus)


def test_add_duplicate_id_raises(dyn, base):
    dup = base.filter(F.col("id") == 1).select("id", "vector")
    with pytest.raises(ValueError, match="already exist"):
        add_points(dyn, dup)


def test_failed_duplicate_count_releases_new_pins(spark, base, monkeypatch):
    """When add_points' membership read (the collision check against
    the pinned layout) fails, no new graph/layout pin or lineage cut
    survives the failed mutation."""
    import dataclasses

    from scalablevectorsearch_spark.operators import dynamic as dyn_mod

    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)

    def batch(offset):
        return base.filter(F.col("id") < 3).select(
            (F.col("id") + offset).alias("id"), "vector"
        )

    d1 = add_points(dynamic_vamana(idx), batch(70000))
    # the next mutation cuts a checkpoint too
    d1 = dataclasses.replace(d1, gens_since_ckpt=dyn_mod._CKPT_EVERY - 1)

    def n_pinned():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_pinned()

    class _FailingCount:
        def collect(self):
            raise RuntimeError("injected membership-read failure")

    real = dyn_mod._without_ids
    monkeypatch.setattr(
        dyn_mod, "_without_ids",
        lambda df, col, ids, keep=False: (
            _FailingCount() if keep else real(df, col, ids, keep)
        ),
    )
    with pytest.raises(RuntimeError, match="injected"):
        add_points(d1, batch(80000))
    monkeypatch.undo()
    assert n_pinned() == before
    d1.close()


def test_mutations_never_read_the_base(spark, base):
    """add, delete, consolidate and search check membership against the
    pinned layout: with a base whose every read raises, the chain runs
    and returns what it returns on the real base."""
    import dataclasses

    sub = base.filter(F.col("id") < 200)
    idx = vamana_build(sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    poisoned = sub.withColumn(
        "id", F.coalesce(F.raise_error(F.lit("base read")).cast("long"), F.col("id"))
    )
    added = base.filter(F.col("id") < 4).select((F.col("id") + 90000).alias("id"), "vector")
    queries = sub.filter(F.col("id") < 5).selectExpr("id as qid", "vector")

    def chain(index):
        d = add_points(dynamic_vamana(index), added)
        d = consolidate(delete_entries(d, spark.range(10, 14)))
        got = sorted(
            (r["qid"], r["rank"], r["neighbor_id"])
            for r in dynamic_search(d, queries, k=5).collect()
        )
        d.close()
        return got

    assert chain(dataclasses.replace(idx, base=poisoned)) == chain(idx)


# ---------------------------------------------- ownership of persisted state


def test_mutation_loop_pin_count_stays_flat(spark, embeddings):
    """VERDICT r10 task 7: each mutation must release its predecessor's
    persisted graph/layout blocks — the CacheManager's registered-plan
    count may not grow with the mutation chain (the r9 storage leak,
    fixed in r10 by add_points/consolidate calling close() on their
    input; this test pins the invariant so a refactor can't silently
    reintroduce it). Loop length >= 2 * _CKPT_EVERY so both the
    checkpointed and non-checkpointed mutation variants are covered."""
    from scalablevectorsearch_spark.operators.dynamic import (
        _CKPT_EVERY,
        add_points,
        consolidate,
        delete_entries,
        dynamic_vamana,
    )
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    dyn = dynamic_vamana(idx)

    def n_pinned() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    baseline = None
    peak = 0
    for i in range(2 * _CKPT_EVERY + 1):
        lo = 90000 + i * 10
        added = base.filter(F.col("id") < 10).select(
            (F.col("id") + lo).alias("id"), "vector"
        )
        dyn = add_points(dyn, added)
        dyn = delete_entries(
            dyn, spark.range(lo, lo + 10).select(F.col("id").cast("long"))
        )
        if i % 3 == 2:
            dyn = consolidate(dyn)
        if baseline is None:
            # warm-up: the first mutation materializes the STATIC
            # index's lazily-persisted layout (owned by the wrapped
            # index, not the mutation chain) — baseline after it
            baseline = n_pinned()
        peak = max(peak, n_pinned() - baseline)
    # steady state above the warm-up baseline: the current generation's
    # graph+layout pins plus the last lineage cut's checkpoint pair —
    # the count must NOT grow with chain length (the r9 leak grew +2
    # per mutation; the untracked-checkpoint leak grew +2 per cut)
    assert peak <= 2, f"pin count grew with the mutation chain: peak +{peak}"
    n_before_close = n_pinned()
    dyn.close()
    # close() releases the final generation's pins AND its checkpoint
    assert n_pinned() <= n_before_close - 2


def _persisted_ids(spark):
    jsc = spark.sparkContext._jsc.sc()
    out, it = set(), jsc.getPersistentRDDs().iterator()
    while it.hasNext():
        out.add(int(it.next()._1()))
    return out


def test_stale_handle_close_keeps_live_checkpoint(spark, embeddings):
    """ADVICE r11 (medium): `d2 = delete_entries(d); d.close()` must NOT
    destroy the localCheckpoint the live generation's lineage recomputes
    through — each mutation moves the checkpoint's owner (``cut``) into
    the handle it returns, so only the latest owner's close() releases
    the RDDs."""
    from pyspark.sql import functions as F

    from scalablevectorsearch_spark.operators.dynamic import (
        _CKPT_EVERY,
        add_points,
        delete_entries,
        dynamic_vamana,
    )
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    dyn = dynamic_vamana(idx)
    # enough mutations to land one lineage cut
    for i in range(_CKPT_EVERY):
        added = base.filter(F.col("id") < 5).select(
            (F.col("id") + 90000 + i * 10).alias("id"), "vector"
        )
        dyn = add_points(dyn, added)
    assert dyn.cut.rdd_ids, "expected a lineage cut after _CKPT_EVERY"
    ck_ids = set(dyn.cut.rdd_ids)
    assert ck_ids <= _persisted_ids(spark)

    stale = dyn
    live = delete_entries(
        stale, spark.range(90000, 90005).select(F.col("id").cast("long"))
    )
    stale.close()  # must be a checkpoint no-op: ownership moved to `live`
    assert ck_ids <= _persisted_ids(spark), (
        "stale close() destroyed the live generation's checkpoint"
    )
    live.close()  # the owner destroys
    assert not (ck_ids & _persisted_ids(spark))


def test_local_ckpt_attributes_only_its_own_rdd(spark, embeddings):
    """ADVICE r11 (low): the pinned ids come from the checkpointed frame
    itself (single precise id), not a global persistent-RDD set diff
    that could swallow a concurrently persisted unrelated frame."""
    from scalablevectorsearch_spark.pins import Pins

    unrelated = embeddings.limit(10).persist()
    unrelated.count()
    unrelated_ids = _persisted_ids(spark)

    pins = Pins()
    pins.checkpoint(embeddings.limit(5))
    ids = tuple(pins.rdd_ids)
    assert len(ids) == 1, f"expected precise single-RDD attribution, got {ids}"
    assert set(ids) <= _persisted_ids(spark)
    assert not (set(ids) & unrelated_ids)
    pins.release()
    # the unrelated persist must survive the release
    assert unrelated.count() == 10
    unrelated.unpersist()


def test_pins_concurrent_persist_loses_no_frame():
    """A mutation's two pin jobs record into the same scope from two
    threads; no recorded frame may be lost."""
    import sys
    import threading

    from scalablevectorsearch_spark.pins import Pins

    class _Frame:
        is_cached = False

        def persist(self, level):
            return self

    pins, n_threads, per_thread = Pins(), 16, 500
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [
            threading.Thread(
                target=lambda: [pins.persist(_Frame()) for _ in range(per_thread)]
            )
            for _ in range(n_threads)
        ]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
        assert not any(w.is_alive() for w in workers)
    finally:
        sys.setswitchinterval(interval)
    assert len(pins.move().frames) == n_threads * per_thread

def test_stale_close_after_delete_keeps_live_pins(spark, base):
    """A delete moves the handle's owners into the handle it returns:
    closing the consumed handle must not unpersist the graph and layout
    the live handle still searches."""
    from pyspark.storagelevel import StorageLevel

    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    stale = add_points(
        dynamic_vamana(idx),
        base.filter(F.col("id") < 3).select((F.col("id") + 60000).alias("id"), "vector"),
    )
    live = delete_entries(stale, spark.range(60000, 60002))
    stale.close()
    assert live.index.graph.storageLevel != StorageLevel.NONE
    assert live.index.layout.storageLevel != StorageLevel.NONE
    live.close()


def test_large_wave_tombstones_released_on_close(spark, base, monkeypatch):
    """The large-wave tombstone checkpoint is owned by the handle chain:
    delete wave, consolidate, close() returns the persisted-RDD count
    to its pre-delete baseline."""
    monkeypatch.setattr(dynamic, "_TOMB_DRIVER_MAX", 10)
    sub = base.filter(F.col("id") < 300)
    idx = vamana_build(sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    # the static index's own pins, outside the mutation chain
    idx.graph.count()
    idx.layout.count()

    def n_pinned():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    baseline = n_pinned()
    wave = sub.filter((F.col("id") % 7 == 0) & (F.col("id") >= 50)).select("id")
    d = delete_entries(dynamic_vamana(idx), wave)
    assert d.tomb_df is not None
    d = consolidate(d)
    d.close()
    assert n_pinned() == baseline


def test_dynamic_cycle_recall(base, queries, dyn):
    """B6: add 1% + delete 1% + consolidate; recall vs exact flat over
    the mutated base stays high."""
    n = base.count()
    n_mod = max(1, n // 100)
    added = base.filter(F.col("id") < n_mod).select(
        (F.col("id") + 50000).alias("id"), "vector"
    )
    deleted = base.filter((F.col("id") >= 20) & (F.col("id") < 20 + n_mod)).select("id")

    d = add_points(dyn, added)
    d = delete_entries(d, deleted)
    # tombstoned ids excluded pre-consolidate
    res0 = dynamic_search(d, queries, k=5, search_window_size=20)
    del_set = {r["id"] for r in deleted.collect()}
    assert {r["neighbor_id"] for r in res0.collect()}.isdisjoint(del_set)

    d = consolidate(d)
    assert d.n_tombstones() == 0
    res = dynamic_search(d, queries, k=10, search_window_size=30).select(
        "qid", "neighbor_id"
    )
    gt = dynamic_flat_knn(
        base, queries, k=10, added=added, deleted_ids=deleted
    ).select("qid", "neighbor_id")
    matched = res.join(gt, ["qid", "neighbor_id"], "left_semi").count()
    recall = matched / gt.count()
    assert recall >= 0.80, f"post-cycle recall {recall}"


def test_dynamic_ivf_cycle(base, queries):
    from scalablevectorsearch_spark.operators.dynamic import (
        dynamic_ivf,
        ivf_add_points,
        ivf_delete_entries,
        ivf_dynamic_search,
        ivf_recluster,
    )
    from scalablevectorsearch_spark.operators.ivf import ivf_build

    idx = ivf_build(base.withColumn("label", F.lit(0)), 8, 2)
    d = dynamic_ivf(idx)
    added = base.filter(F.col("id") < 5).select(
        (F.col("id") + 70000).alias("id"), "vector", F.lit(0).alias("label")
    )
    d = ivf_add_points(d, added)
    deleted = base.filter((F.col("id") >= 30) & (F.col("id") < 35)).select("id")
    d = ivf_delete_entries(d, deleted)

    res = ivf_dynamic_search(d, queries, k=3, n_probes=8)
    got = {r["neighbor_id"] for r in res.collect()}
    assert got.isdisjoint(set(range(30, 35)))  # tombstoned gone
    # an added exact copy of query 0 surfaces as its neighbor
    top = {(r["qid"], r["rank"]): r["neighbor_id"] for r in res.collect()}
    assert top[(0, 2)] == 70000  # copy right after the original (id tiebreak)

    d2 = ivf_recluster(d)
    assert d2.tombstones.count() == 0
    assert d2.index.clustered.count() == base.count()  # +5 added -5 deleted


def test_compact_remaps_dense(base):
    idx = vamana_build(
        base.filter(F.col("id") % 3 == 0),
        VamanaParams(graph_max_degree=8, window_size=20),
        n_shards=2,
    )
    nb, ng, mapping = compact(idx.base, idx.graph)
    n = nb.count()
    ids = sorted(r["id"] for r in nb.select("id").collect())
    assert ids == list(range(n))  # dense 0..n-1
    # every graph src/neighbor is a valid new id
    max_nbr = ng.select(F.max(F.array_max("neighbors"))).collect()[0][0]
    assert max_nbr is None or max_nbr < n


def test_compact_index_stays_searchable(base, queries):
    """compact_index remaps base + graph + layout consistently: an
    exhaustive-window search over the COMPACTED index equals exact flat
    k-NN over the survivors with neighbor ids remapped to their dense
    rank (dynamic_index.h:791-810 — compact leaves the index servable)."""
    from scalablevectorsearch_spark.operators.dynamic import compact_index
    from scalablevectorsearch_spark.operators.vamana import vamana_search

    sub = base.filter(F.col("id") < 1000)
    idx = vamana_build(
        sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    deleted = sub.filter((F.col("id") >= 5) & (F.col("id") < 15)).select("id")
    d = consolidate(delete_entries(dynamic_vamana(idx), deleted))
    cidx, mapping = compact_index(d.index)
    res = vamana_search(cidx, queries, k=5, search_window_size=2000)
    gt = flat_knn(
        sub.join(deleted.withColumnRenamed("id", "del_id"),
                 F.col("id") == F.col("del_id"), "left_anti"),
        queries, k=5,
    )
    remap = {r["old_id"]: r["new_id"] for r in mapping.collect()}
    want = sorted(
        (r["qid"], r["rank"], remap[r["neighbor_id"]])
        for r in gt.select("qid", "rank", "neighbor_id").collect()
    )
    got = sorted(
        map(tuple, res.select("qid", "rank", "neighbor_id").collect())
    )
    assert got == want
    # layout remap preserved the shard stamps' row counts
    assert cidx.layout.count() == sub.count() - deleted.count()


def test_incremental_add_degree_and_exactness(base, queries):
    """add_points links new points incrementally (dynamic_index.h:631-700):
    the degree bound survives reverse-edge insertion, and an
    exhaustive-window search over the mutated index equals the exact
    flat result over (base + added) — i.e. every inserted node is
    reachable and correctly linked."""
    sub = base.filter(F.col("id") < 1000)
    idx = vamana_build(
        sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    added = base.filter((F.col("id") >= 1000) & (F.col("id") < 1050)).select(
        (F.col("id") + 60000).alias("id"), "vector"
    )
    d = add_points(dynamic_vamana(idx), added)
    assert (
        d.index.graph.select(F.max(F.size("neighbors"))).first()[0] <= 8
    ), "degree bound violated after incremental insert"
    res = dynamic_search(d, queries, k=5, search_window_size=2000)
    gt = flat_knn(sub.unionByName(added), queries, k=5)
    assert sorted(map(tuple, res.select("qid", "rank", "neighbor_id").collect())) == sorted(
        map(tuple, gt.select("qid", "rank", "neighbor_id").collect())
    )


def test_revive_entry_point(base, queries):
    """Deleting every entry point and reinserting those ids exercises
    the revived-entry fallback (medioid of surviving old nodes) in the
    incremental link kernel; exhaustive search stays exact."""
    sub = base.filter(F.col("id") < 500)
    idx = vamana_build(
        sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    d = dynamic_vamana(idx)
    entries = idx.graph.filter("is_entry").select(F.col("src").alias("id"))
    d = delete_entries(d, entries)
    revived = sub.join(F.broadcast(entries), "id", "left_semi").select("id", "vector")
    d = add_points(d, revived)
    assert d.n_tombstones() == 0
    res = dynamic_search(d, queries, k=5, search_window_size=1000)
    gt = flat_knn(sub, queries, k=5)
    assert sorted(map(tuple, res.select("qid", "rank", "neighbor_id").collect())) == sorted(
        map(tuple, gt.select("qid", "rank", "neighbor_id").collect())
    )


def test_large_delete_wave_dataframe_tombstones(base, queries, monkeypatch):
    """A delete wave above the driver threshold flips to DataFrame
    tombstones: exclusion, consolidate, and the post-consolidate result
    all behave identically to the driver-resident path, with no
    driver-side id materialization (a lowered _TOMB_DRIVER_MAX forces
    the flip)."""
    monkeypatch.setattr(dynamic, "_TOMB_DRIVER_MAX", 10)
    sub = base.filter(F.col("id") < 1000)
    idx = vamana_build(
        sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    wave = sub.filter((F.col("id") % 7 == 0) & (F.col("id") >= 50)).select("id")
    d = delete_entries(dynamic_vamana(idx), wave)
    assert d.tomb_df is not None and d.tomb_ids == ()
    live = sub.join(F.broadcast(wave), "id", "left_anti")
    gt = sorted(
        map(
            tuple,
            flat_knn(live, queries, k=5)
            .select("qid", "rank", "neighbor_id")
            .collect(),
        )
    )
    # pre-consolidate: tombstones excluded from results (exhaustive
    # window -> exact equality with flat over the live rows)
    res = dynamic_search(d, queries, k=5, search_window_size=1200)
    assert sorted(map(tuple, res.select("qid", "rank", "neighbor_id").collect())) == gt
    # consolidate drains the wave via repair, not rebuild
    d = consolidate(d)
    assert d.n_tombstones() == 0 and d.tomb_df is None
    res2 = dynamic_search(d, queries, k=5, search_window_size=1200)
    assert sorted(map(tuple, res2.select("qid", "rank", "neighbor_id").collect())) == gt


def test_add_points_with_dataframe_tombstones(base, queries, monkeypatch):
    """add_points against an active DataFrame tombstone set: revived ids
    leave the set (join-only), fresh ids collide correctly."""
    monkeypatch.setattr(dynamic, "_TOMB_DRIVER_MAX", 10)
    import pytest as _pytest

    sub = base.filter(F.col("id") < 500)
    idx = vamana_build(
        sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    wave = sub.filter((F.col("id") >= 100) & (F.col("id") < 200)).select("id")
    d = delete_entries(dynamic_vamana(idx), wave)
    assert d.tomb_df is not None
    # reviving 5 tombstoned ids shrinks the set to 95
    revive = sub.filter((F.col("id") >= 100) & (F.col("id") < 105)).select(
        "id", "vector"
    )
    d = add_points(d, revive)
    assert d.tomb_df is not None and d.n_tombstones() == 95
    # adding a live id still raises
    with _pytest.raises(ValueError, match="already exist"):
        add_points(d, sub.filter(F.col("id") == 0).select("id", "vector"))
    live = sub.filter((F.col("id") < 105) | (F.col("id") >= 200))
    gt = sorted(
        map(
            tuple,
            flat_knn(live, queries, k=5)
            .select("qid", "rank", "neighbor_id")
            .collect(),
        )
    )
    res = dynamic_search(d, queries, k=5, search_window_size=600)
    assert sorted(map(tuple, res.select("qid", "rank", "neighbor_id").collect())) == gt


def test_compact_dense_ids_distributed(base):
    """The dense remap must (a) exactly reproduce rank-by-ascending-id
    and (b) plan with no single-partition exchange / WindowExec (the
    100 TB constraint: tools/explain_audit.py section 6)."""
    import io
    from contextlib import redirect_stdout

    from scalablevectorsearch_spark.operators.dynamic import _dense_ids

    sub = base.filter((F.col("id") % 7 == 0) | (F.col("id") % 11 == 0))
    mapping = _dense_ids(sub, "id")
    got = {r["old_id"]: r["new_id"] for r in mapping.collect()}
    want = {oid: i for i, oid in enumerate(sorted(got))}
    assert got == want
    buf = io.StringIO()
    with redirect_stdout(buf):
        mapping.explain("formatted")
    plan = buf.getvalue()
    assert "SinglePartition" not in plan
    assert "Window" not in plan.replace("WindowGroupLimit", "")


def test_delete_entries_threshold_crossover(base, queries, monkeypatch):
    """The exact driver->DataFrame representation crossover: wave 1
    stays driver-resident (tomb_ids), wave 2 pushes the total past
    _TOMB_DRIVER_MAX so the set flips to tomb_df — search exclusion and
    consolidate must behave identically across the flip, and the
    already-deleted validation must keep working against the OTHER
    representation."""
    monkeypatch.setattr(dynamic, "_TOMB_DRIVER_MAX", 10)
    sub = base.filter(F.col("id") < 1000)
    idx = vamana_build(
        sub, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    dyn = dynamic_vamana(idx)
    w1 = sub.filter(F.col("id") < 6).select("id")
    w2 = sub.filter((F.col("id") >= 6) & (F.col("id") < 14)).select("id")
    dyn = delete_entries(dyn, w1)
    assert dyn.tomb_df is None and len(dyn.tomb_ids) == 6
    dyn = delete_entries(dyn, w2)  # 6+8 > 10 -> flips
    assert dyn.tomb_df is not None and dyn.tomb_ids == ()
    assert dyn.n_tombstones() == 14
    # re-deleting across the flip must raise (validated via tomb_df now)
    with pytest.raises(ValueError, match="already deleted"):
        delete_entries(dyn, w1)
    got = {r["neighbor_id"] for r in
           dynamic_search(dyn, queries, k=5, search_window_size=4096).collect()}
    assert got.isdisjoint(set(range(14)))
    dyn2 = consolidate(dyn)
    assert dyn2.n_tombstones() == 0
    assert dyn2.index.layout.filter(F.col("__id") < 14).count() == 0
    exact = flat_knn(
        sub.filter(F.col("id") >= 14), queries, k=5, round_to=4
    ).select("qid", "neighbor_id")
    post = dynamic_search(dyn2, queries, k=5, search_window_size=4096).select(
        "qid", "neighbor_id"
    )
    assert post.exceptAll(exact).count() == 0 and exact.exceptAll(post).count() == 0


def _is_persisted(df):
    return df.storageLevel != StorageLevel.NONE


class TestDynamicGenerations:
    def test_mutation_releases_previous_generation(self, spark, embeddings):
        base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
            "vec_id < 300"
        )
        idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20),
                           n_shards=2)
        dyn = dynamic_vamana(idx)
        fresh = embeddings.selectExpr(
            "vec_id + 100000 as id", "embedding as vector"
        ).filter("id < 100020")
        d1 = add_points(dyn, fresh)
        assert _is_persisted(d1.index.graph) and _is_persisted(d1.index.layout)
        g1, l1 = d1.index.graph, d1.index.layout
        d2 = delete_entries(d1, fresh.limit(5).select("id"))
        d3 = consolidate(d2)
        # the consolidate superseded generation 1 -> its pins released
        assert not _is_persisted(g1) and not _is_persisted(l1)
        assert _is_persisted(d3.index.graph) and _is_persisted(d3.index.layout)
        # close() releases the live generation
        d3.close()
        assert not _is_persisted(d3.index.graph)

    def test_checkpoint_cadence_and_correctness(self, spark, embeddings):
        """_CKPT_EVERY mutations between lineage cuts: after a chain of
        2*_CKPT_EVERY+1 mutations the search still matches the batch
        rebuild exactly (exhaustive window) and the plan stayed
        analyzable (the chain itself would have blown up unguarded)."""
        base = embeddings.selectExpr("vec_id as id", "embedding as vector").filter(
            "vec_id < 250"
        ).cache()
        base.count()
        queries = base.filter("id < 5").selectExpr("id as qid", "vector")
        idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20),
                           n_shards=2)
        dyn = dynamic_vamana(idx)
        spark_df = embeddings.selectExpr(
            "vec_id + 200000 as id", "embedding as vector"
        )
        live_extra = []
        ckpt_gens = []
        for i in range(2 * _CKPT_EVERY + 1):
            batch = spark_df.filter(
                (F.col("id") >= 200000 + 10 * i) & (F.col("id") < 200010 + 10 * i)
            )
            dyn = add_points(dyn, batch)
            ckpt_gens.append(dyn.gens_since_ckpt)
            live_extra.append(batch)
        # the counter actually cycles (cuts happened, but not every time)
        assert 0 in ckpt_gens and max(ckpt_gens) == _CKPT_EVERY - 1
        got = dynamic_search(dyn, queries, k=5, search_window_size=4096)
        full = base
        for b in live_extra:
            full = full.unionByName(b)
        want = flat_knn(full, queries, k=5, distance="l2", round_to=4)
        assert sorted(
            (r["qid"], r["rank"], r["neighbor_id"]) for r in got.collect()
        ) == sorted((r["qid"], r["rank"], r["neighbor_id"]) for r in want.collect())
        dyn.close()
        base.unpersist()


def test_dynamic_vamana_mutations_get_fresh_cal_cache(spark, embeddings):
    """add_points/consolidate must not share cal_cache with the
    pre-mutation index: stale __pool/__n_base counts would mis-route
    the auto exact-fallback after the base changes (ADVICE r10)."""
    from scalablevectorsearch_spark.operators.dynamic import (
        add_points,
        consolidate,
        delete_entries,
        dynamic_vamana,
    )
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    dyn = dynamic_vamana(idx)
    dyn.index.cal_cache["__n_base"] = 12345  # sentinel
    added = base.filter(F.col("id") < 3).select(
        (F.col("id") + 90000).alias("id"), "vector"
    )
    d2 = add_points(dyn, added)
    assert d2.index.cal_cache == {}
    assert d2.index.cal_cache is not dyn.index.cal_cache
    d2.index.cal_cache["__n_base"] = 777
    d3 = delete_entries(d2, base.filter(F.col("id") < 2).select("id"))
    d4 = consolidate(d3)
    assert d4.index.cal_cache == {}
    assert d4.index.cal_cache is not d2.index.cal_cache
