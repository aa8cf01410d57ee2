"""Reference-API façade (scalablevectorsearch_spark/api.py): the
``svs.*`` orchestrator surface a reference user ports to — numpy in,
(I, D) numpy out, name-for-name classes. Parity:
bindings/python/src/svs/__init__.py, orchestrators/{vamana,
dynamic_vamana,flat,ivf}.h, examples/python/example_vamana*.py."""

import numpy as np
import pytest

from pyspark.sql import functions as F
from scalablevectorsearch_spark import api as svs


@pytest.fixture(scope="module")
def dataset(spark):
    rng = np.random.default_rng(11)
    X = rng.standard_normal((600, 16)).astype(np.float32)
    Q = X[:20]
    # brute-force l2 groundtruth
    D = ((Q[:, None, :].astype(np.float64) - X[None].astype(np.float64)) ** 2).sum(-1)
    order = np.lexsort((np.broadcast_to(np.arange(600), D.shape), D), axis=1)
    return X, Q, order[:, :10]


def test_flat_search_numpy_shape(spark, dataset):
    X, Q, gt = dataset
    index = svs.Flat(X, distance=svs.DistanceType.L2)
    assert index.size == 600 and index.dimensions == 16
    I, D = index.search(Q, 10)
    assert I.shape == (20, 10) and D.shape == (20, 10)
    assert svs.k_recall_at(gt, I, 10, 10) == 1.0  # exact scan
    assert (np.diff(D, axis=1) >= 0).all()  # sorted per query


def test_vamana_build_search_save_load(spark, dataset, tmp_path):
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    index = svs.Vamana.build(params, X, svs.DistanceType.L2, num_threads=4,
                             n_shards=4)
    index.search_window_size = 40
    I, D = index.search(Q, 10)
    rec = svs.k_recall_at(gt, I, 10, 10)
    assert rec >= 0.9
    # reference 3-dir save signature; standalone copies must be loadable
    cfg, g, d = str(tmp_path / "cfg"), str(tmp_path / "graph"), str(tmp_path / "data")
    index.save(cfg, g, d)
    loaded = svs.Vamana(
        cfg, svs.GraphLoader(g),
        svs.VectorDataLoader(d, svs.DataType.float32, dims=16),
        svs.DistanceType.L2,
    )
    loaded.search_window_size = 40
    I2, _ = loaded.search(Q, 10)
    assert np.array_equal(I, I2)


def test_vamana_batch_iterator_and_calibrate(spark, dataset):
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    index = svs.Vamana.build(params, X, svs.DistanceType.L2, n_shards=4)
    index.search_window_size = 64
    it = index.batch_iterator(Q, batch_size=5)
    p1 = it.next_batch().toPandas()
    p2 = it.next_batch().toPandas()
    assert set(p1["rank"]) == set(range(1, 6))
    assert set(p2["rank"]) == set(range(6, 11))
    w = index.experimental_calibrate(Q, gt, k=10, target_recall=0.9)
    assert w == index.search_window_size
    I, _ = index.search(Q, 10)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.9


def test_dynamic_vamana_chain(spark, dataset):
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    n = 500
    dyn = svs.DynamicVamana.build(params, X[:n], np.arange(n), svs.DistanceType.L2,
                                  n_shards=4)
    dyn.add(X[n:], np.arange(n, 600))
    dyn.delete(np.arange(50))
    dyn.search_window_size = 64
    I, _ = dyn.search(Q, 10)
    assert not (I < 50).any()  # tombstoned ids never returned
    dyn.consolidate().compact(1000)
    live = dyn.all_ids()
    assert len(live) == 550
    assert np.array_equal(live, np.arange(550))  # compact = dense remap
    I2, _ = dyn.search(Q, 10)
    assert I2.shape == (20, 10)


def test_dynamic_vamana_compact_hands_over_owners(spark, dataset):
    """compact() moves the consolidated generation's persisted graph and
    layout, and the layout compact_index persists, into the new handle:
    the next mutation and close() release all three."""
    from pyspark.storagelevel import StorageLevel

    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    dyn = svs.DynamicVamana.build(
        params, X[:200], np.arange(200), svs.DistanceType.L2, n_shards=2
    )
    dyn.delete(np.arange(10))
    dyn.consolidate()
    held = [dyn.dyn.index.graph, dyn.dyn.index.layout]
    dyn.compact()
    held.append(dyn.index.layout)
    dyn.add(X[200:210], np.arange(190, 200))
    dyn.dyn.close()
    assert [df.storageLevel for df in held] == [StorageLevel.NONE] * 3


def test_driver_bound_methods_documented_and_df_alternative(spark, dataset):
    """VERDICT r5 #7: full-materialization facade calls must say they
    are driver-bound parity API and name the DataFrame-native
    alternative — and that alternative must actually work distributed
    (DataFrame-in -> DataFrame-out, no driver collect)."""
    from pyspark.sql import DataFrame

    doc = svs.DynamicVamana.all_ids.__doc__
    assert "DRIVER-BOUND" in doc and "tombstones" in doc

    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    dyn = svs.DynamicVamana.build(
        params, X[:200], np.arange(200), svs.DistanceType.L2, n_shards=2
    )
    dyn.delete(np.arange(10))
    # the documented DataFrame-native live-id set
    live_df = dyn.dyn.index.base.select(
        F.col(dyn.dyn.index.id_col).alias("id")
    ).join(dyn.dyn.tombstones, "id", "left_anti")
    assert isinstance(live_df, DataFrame)
    assert live_df.count() == len(dyn.all_ids()) == 190
    # DataFrame-in search returns a DataFrame (never a driver matrix)
    qdf = spark.createDataFrame(
        [(int(i), [float(v) for v in Q[i]]) for i in range(3)],
        "qid long, vector array<float>",
    )
    res = dyn.search(qdf, 5)
    assert isinstance(res, DataFrame)


def test_ivf_clustering_assemble(spark, dataset):
    X, Q, gt = dataset
    bp = svs.IVFBuildParameters(num_centroids=8, max_iterations=2)
    clustering = svs.Clustering.build(bp, X, svs.DistanceType.L2)
    index = svs.IVF.assemble_from_clustering(clustering, X, svs.DistanceType.L2)
    assert index.size == 600
    index.search_parameters = svs.IVFSearchParameters(n_probes=8)  # all cells
    I, D = index.search(Q, 10)
    assert svs.k_recall_at(gt, I, 10, 10) == 1.0  # full probe = exact
    index.search_parameters = svs.IVFSearchParameters(n_probes=2)
    I3, _ = index.search(Q, 10)
    assert svs.k_recall_at(gt, I3, 10, 10) >= 0.5


def test_vector_data_loader_rejects_bad_dims(spark, dataset, tmp_path):
    X, _, _ = dataset
    path = str(tmp_path / "data.fvecs")
    svs.write_vecs(path, X)
    assert np.allclose(svs.read_vecs(path), X)
    with pytest.raises(Exception):
        svs.VectorDataLoader(path, svs.DataType.float32, dims=99).load(spark)


def test_lvq_loader_build_search(spark, dataset):
    """svs.Vamana.build over an LVQLoader (the reference's
    vamana_with_compression_lvq.py flow): 4-bit primary + 8-bit
    residual, search re-ranks on the two-level reconstruction."""
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    flat = svs.Flat(X)  # reuse the fixture via a DataFrame
    loader = svs.LVQLoader(flat.data, primary=4, residual=8)
    index = svs.Vamana.build(params, loader, svs.DistanceType.L2, n_shards=2)
    index.search_window_size = 40
    I, D = index.search(Q, 10)
    assert I.shape == (20, 10)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.85


def test_lvq_loader_validation():
    with pytest.raises(ValueError):
        svs.LVQLoader(None, primary=5)
    with pytest.raises(ValueError):
        svs.LVQLoader(None, primary=8, residual=2)
    with pytest.raises(ValueError):
        svs.LeanVecLoader(None, 8, primary_kind="lvq2")
    with pytest.raises(ValueError):
        svs.LeanVecLoader(None, 8, secondary_kind="lvq8")


def test_leanvec_loader_build_search(spark, dataset):
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    flat = svs.Flat(X)
    loader = svs.LeanVecLoader(flat.data, leanvec_dims=12, primary_kind="lvq8")
    index = svs.Vamana.build(params, loader, svs.DistanceType.L2, n_shards=2)
    index.search_window_size = 60
    I, D = index.search(Q, 10)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.85


def test_lvq_index_save_load_roundtrip(spark, dataset, tmp_path):
    """LVQ params persist in the manifest: a reloaded index carries
    them and searches the saved reconstruction (primary distances)."""
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    flat = svs.Flat(X)
    loader = svs.LVQLoader(flat.data, primary=8)
    index = svs.Vamana.build(params, loader, svs.DistanceType.L2, n_shards=2)
    path = str(tmp_path / "lvq_idx")
    index.save(path)
    loaded = svs.Vamana(path)
    assert loaded.index.lvq_params.primary_bits == 8
    assert loaded.index.lvq_params.mean == index.index.lvq_params.mean
    loaded.search_window_size = 40
    I, D = loaded.search(Q, 10)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.85


def test_leanvec_index_save_load_requires_rerank_base(spark, dataset, tmp_path):
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    flat = svs.Flat(X)
    loader = svs.LeanVecLoader(flat.data, leanvec_dims=12)
    index = svs.Vamana.build(params, loader, svs.DistanceType.L2, n_shards=2)
    path = str(tmp_path / "lv_idx")
    index.save(path)
    loaded = svs.Vamana(path)
    m = loaded.index.leanvec_model
    assert m is not None and m.leanvec_dims == 12
    assert np.array_equal(m.data_matrix, index.index.leanvec_model.data_matrix)
    with pytest.raises(ValueError):
        loaded.search(Q, 10)
    loaded.search_window_size = 60
    I, D = loaded.search(Q, 10, rerank_base=X)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.85


def test_search_buffer_config_and_parameters(spark, dataset):
    with pytest.raises(svs.ANNException):
        svs.SearchBufferConfig(10, 5)
    cfg = svs.SearchBufferConfig(20, 40)
    assert cfg.search_window_size == 20 and cfg.search_buffer_capacity == 40
    assert cfg == svs.SearchBufferConfig(20, 40)
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    index = svs.Vamana.build(params, X, svs.DistanceType.L2, n_shards=2)
    index.search_parameters = svs.VamanaSearchParameters(cfg)
    assert index.search_window_size == 20
    got = index.search_parameters
    assert got.buffer_config.search_buffer_capacity == 40
    I, D = index.search(Q, 10)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.9


def test_dynamic_flat(spark, dataset):
    X, Q, gt = dataset
    index = svs.DynamicFlat.build(X)
    n = len(X)
    index.add(X[:5] + 10.0, np.arange(n, n + 5))
    index.delete(np.arange(3))
    I, D = index.search(Q, 10)
    assert I.shape == (20, 10)
    assert not set(I.ravel().tolist()) & {0, 1, 2}  # deleted never returned
    exact = svs.Flat(X).search(Q, 13)[0]  # superset check on survivors
    for q in range(20):
        kept = [i for i in exact[q] if i not in (0, 1, 2)][:10]
        got = [i for i in I[q] if i < n]
        assert got == [i for i in kept if i in got]  # order preserved


def test_dynamic_ivf(spark, dataset):
    X, Q, gt = dataset
    bp = svs.IVFBuildParameters(num_centroids=16, max_iterations=2)
    index = svs.DynamicIVF.build(bp, X)
    n = len(X)
    index.add(X[:5], np.arange(n, n + 5)).delete(np.arange(5))
    index = index.recluster()
    index.search_parameters.n_probes = 12
    I, D = index.search(Q, 10)
    assert I.shape == (20, 10)
    assert not set(I.ravel().tolist()) & set(range(5))
    # recall vs exact over the mutated set
    mut = np.vstack([X, X[:5]])
    live = np.ones(len(mut), bool); live[:5] = False
    D2 = ((Q[:, None, :].astype(np.float64) - mut[None].astype(np.float64)) ** 2).sum(-1)
    D2[:, ~live] = np.inf
    order = np.lexsort((np.broadcast_to(np.arange(len(mut)), D2.shape), D2), axis=1)
    gt2 = order[:, :10]
    assert svs.k_recall_at(gt2, I, 10, 10) >= 0.8


def test_upgrader_alias(tmp_path, spark, dataset):
    import json, os
    X, Q, gt = dataset
    params = svs.VamanaBuildParameters(graph_max_degree=16, window_size=40)
    index = svs.Vamana.build(params, X, svs.DistanceType.L2, n_shards=2)
    path = str(tmp_path / "upg_idx")
    index.save(path)
    mpath = os.path.join(path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["tables"] = sorted(m["tables"])
    m["__version__"] = [0, 1, 0]
    with open(mpath, "w") as f:
        json.dump(m, f)
    svs.upgrader.upgrade(path)
    loaded = svs.Vamana(path)
    loaded.search_window_size = 40
    I, _ = loaded.search(Q, 10)
    assert svs.k_recall_at(gt, I, 10, 10) >= 0.9


def test_facade_keeps_live_session_conf(spark):
    """The facade reuses the caller's session as is: re-applying the
    engine defaults reset shuffle.partitions to the core count and
    broke later tests' layouts."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert svs._spark().conf.get(key) == "7"
    finally:
        spark.conf.set(key, old)
