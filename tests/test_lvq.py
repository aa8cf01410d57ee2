"""LVQ tests (reference parity: the LVQ4x0/8x0/4x4/4x8 storage kinds,
api_defs.h:98-109; svs.LVQLoader(primary=, residual=) surface,
vamana_with_compression_lvq.py:63-71). Scheme documented in
operators/lvq.py; DuckDB hash gates in __spark_entry__ (lvq_*)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.lvq import (
    LVQParams,
    lvq_compress,
    lvq_decompress,
    lvq_knn,
    lvq_train,
    lvq_vamana_build,
    lvq_vamana_search,
)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector").cache()


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 20).selectExpr("id as qid", "vector")


@pytest.fixture(scope="module")
def p48(base):
    return lvq_train(base, primary_bits=4, residual_bits=8)


def _max_err(df, a, b):
    return df.select(
        F.max(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
        ).alias("e")
    ).collect()[0]["e"]


def test_lvq_params_validation():
    with pytest.raises(ValueError):
        LVQParams(mean=(0.0,), dims=1, primary_bits=5)
    with pytest.raises(ValueError):
        LVQParams(mean=(0.0,), dims=1, primary_bits=8, residual_bits=3)
    with pytest.raises(ValueError):
        LVQParams(mean=(0.0, 0.0), dims=1, primary_bits=8)


def test_lvq_roundtrip_error_bounded(base, p48):
    """Primary error <= step/2 per element; two-level <= step2/2 + eps
    (per-vector bounds — THE property that distinguishes LVQ from
    global SQ)."""
    comp = lvq_compress(base, p48)
    dec = lvq_decompress(comp, p48, out_col="r1", level=1)
    dec = lvq_decompress(dec, p48, out_col="r2", level=2).cache()
    # per-row: max |x - r1| <= step/2 (mean rounding adds <= 5e-7)
    viol = dec.select(
        F.aggregate(
            F.zip_with("vector", "r1", lambda x, y: F.abs(x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("e1"),
        F.aggregate(
            F.zip_with("vector", "r2", lambda x, y: F.abs(x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("e2"),
        (F.col("lvq_step") / 2 + 1e-6).alias("b1"),
        (F.col("lvq_step") / 2 / 255.0 + F.col("lvq_step") / 2 * 0 + 1e-6).alias("b2"),
    ).filter((F.col("e1") > F.col("b1")) | (F.col("e2") > F.col("b2")))
    assert viol.count() == 0
    dec.unpersist()


def test_lvq_4bit_packing_shape(base, p48):
    d = p48.dims
    row = lvq_compress(base, p48).select(
        F.size("lvq_codes").alias("nc"), F.size("lvq_rcodes").alias("nr")
    ).first()
    assert row["nc"] == (d + 1) // 2  # two nibbles per byte
    assert row["nr"] == d  # 8-bit residual: one byte per component


def test_lvq_odd_dims_packing(spark):
    """Nibble packing pads the odd tail; decompress slices it off."""
    rows = [(i, [float(i), 0.5 * i, -1.0 + i, 2.0, 0.25]) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    p = lvq_train(df, primary_bits=4)
    comp = lvq_compress(df, p)
    assert comp.select(F.size("lvq_codes")).first()[0] == 3
    dec = lvq_decompress(comp, p, out_col="r1", level=1)
    assert dec.select(F.size("r1")).first()[0] == 5
    step = comp.agg(F.max("lvq_step")).collect()[0][0]
    assert _max_err(dec, "vector", "r1") <= step / 2 + 1e-6


def test_lvq_constant_vector(spark):
    """step == 0 (constant centered vector) reconstructs exactly."""
    rows = [(0, [1.0, 1.0, 1.0, 1.0]), (1, [1.0, 1.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    p = lvq_train(df, primary_bits=8, residual_bits=8)
    dec = lvq_decompress(lvq_compress(df, p), p, out_col="r2", level=2)
    assert _max_err(dec, "vector", "r2") <= 1e-6


def test_lvq8_knn_recall(base, queries):
    """One-level LVQ8 recall@10 vs exact flat >= 0.9 (the paper's
    operating point: 8 bits/component is near-lossless for search)."""
    p = lvq_train(base, primary_bits=8)
    k = 10
    gt = flat_knn(base, queries, k=k, distance="l2").select("qid", "neighbor_id")
    res = lvq_knn(base, queries, p, k=k, distance="l2").select("qid", "neighbor_id")
    matched = res.join(gt, ["qid", "neighbor_id"]).count()
    assert matched / gt.count() >= 0.9


def test_lvq4x8_rerank_beats_primary(base, queries):
    """Two-level re-rank recall >= packed-4-bit primary-only recall."""
    p = lvq_train(base, primary_bits=4, residual_bits=8)
    k = 10
    gt = flat_knn(base, queries, k=k, distance="l2").select("qid", "neighbor_id")
    prim = lvq_knn(base, queries, p, k=k, distance="l2").select("qid", "neighbor_id")
    rr = lvq_knn(base, queries, p, k=k, distance="l2", k_reorder=30).select(
        "qid", "neighbor_id"
    )
    n = gt.count()
    r_prim = prim.join(gt, ["qid", "neighbor_id"]).count() / n
    r_rr = rr.join(gt, ["qid", "neighbor_id"]).count() / n
    assert r_rr >= r_prim
    assert r_rr >= 0.9


def test_lvq_knn_arg_validation(base, queries, p48):
    with pytest.raises(ValueError):
        lvq_knn(base, queries, p48, k=10, k_reorder=5)
    with pytest.raises(ValueError):
        lvq_decompress(
            lvq_compress(base, lvq_train(base, primary_bits=8)),
            lvq_train(base, primary_bits=8),
            level=2,
        )


def test_lvq_vamana_production_window(base, queries, p48):
    """LVQ4x8 Vamana at a production window + two-level rerank: recall
    vs exact flat >= 0.85."""
    storage = lvq_compress(base, p48)
    idx = lvq_vamana_build(storage, p48, n_shards=2, base_compressed=True)
    res = lvq_vamana_search(
        idx, queries, k=10, search_window_size=40, k_reorder=30, compressed=storage
    ).select("qid", "neighbor_id")
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    assert res.join(gt, ["qid", "neighbor_id"]).count() / gt.count() >= 0.85


def test_lvq_vamana_requires_lvq_index(base, queries):
    from scalablevectorsearch_spark.operators.vamana import vamana_build

    idx = vamana_build(base, n_shards=2)
    with pytest.raises(ValueError):
        lvq_vamana_search(idx, queries, k=5)


def test_lvq_ivf_composition(base, queries, p48):
    """extensions/ivf/lvq.h shape: IVF built over the LVQ primary
    reconstruction, probed search + exact re-rank against the original
    vectors (k_reorder) — recall vs exact flat >= 0.85."""
    from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search

    recon = lvq_decompress(lvq_compress(base, p48), p48, out_col="rv", level=1).select(
        "id", F.col("rv").alias("vector")
    )
    index = ivf_build(recon, 8, 2)
    res = ivf_search(
        index, queries, k=10, n_probes=6, distance="l2",
        k_reorder=30, rerank_base=base, rerank_queries=queries,
    ).select("qid", "neighbor_id")
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    assert res.join(gt, ["qid", "neighbor_id"]).count() / gt.count() >= 0.85


def test_lvq_vamana_packed_layout(base, queries, p48):
    """packed=True (default): the persisted layout holds [lo, step,
    nibble bytes] rows (2 + ceil(d/2) doubles), kernels decode at
    entry, and results EQUAL the reconstruction-layout build."""
    idx_p = lvq_vamana_build(base, p48, n_shards=2)
    w = idx_p.layout.select(F.size("__vec")).first()[0]
    assert w == 2 + (p48.dims + 1) // 2
    idx_r = lvq_vamana_build(base, p48, n_shards=2, packed=False)
    assert idx_r.layout.select(F.size("__vec")).first()[0] == p48.dims
    rp = lvq_vamana_search(idx_p, queries, k=10, search_window_size=4096)
    rr = lvq_vamana_search(idx_r, queries, k=10, search_window_size=4096)
    a = {tuple(r) for r in rp.select("qid", "rank", "neighbor_id").collect()}
    b = {tuple(r) for r in rr.select("qid", "rank", "neighbor_id").collect()}
    assert a == b


def test_lvq_vamana_packed_kmeans_routing(base, queries, p48):
    """packed layout composes with kmeans sharding + epsilon probing
    (shard model trained on the reconstruction automatically)."""
    idx = lvq_vamana_build(base, p48, n_shards=4, shard_by="kmeans")
    res = lvq_vamana_search(
        idx, queries, k=10, search_window_size=40, epsilon_bp=2000
    ).select("qid", "neighbor_id")
    gt = flat_knn(base, queries, k=10, distance="l2").select("qid", "neighbor_id")
    assert res.join(gt, ["qid", "neighbor_id"]).count() / gt.count() >= 0.8


def test_lvq_vamana_packed_dynamic_rejected(base, p48):
    from scalablevectorsearch_spark.operators.dynamic import dynamic_vamana

    idx = lvq_vamana_build(base, p48, n_shards=2)
    with pytest.raises(ValueError):
        dynamic_vamana(idx)


def test_lvq_decoder2_matches_decompress(spark, embeddings):
    """lvq_packed2_col + lvq_decoder2 must reproduce lvq_decompress
    level 2 bit-for-bit (same elementwise IEEE ops)."""
    from scalablevectorsearch_spark.operators.lvq import (
        lvq_compress,
        lvq_decoder2,
        lvq_decompress,
        lvq_packed2_col,
        lvq_train,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    p = lvq_train(base, primary_bits=4, residual_bits=8)
    comp = lvq_compress(base, p)
    ref = (
        lvq_decompress(comp, p, out_col="__rv", level=2)
        .select("id", "__rv")
        .orderBy("id")
        .collect()
    )
    packed = comp.select("id", lvq_packed2_col(p).alias("m")).orderBy("id").collect()
    dec = lvq_decoder2(p)
    M = np.stack([np.asarray(r["m"], dtype=np.float64) for r in packed])
    got = dec(M)
    exp = np.stack([np.asarray(r["__rv"], dtype=np.float64) for r in ref])
    assert np.array_equal(got, exp)
