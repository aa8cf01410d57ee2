"""float16/bfloat16 packed storage, binary matrix io, and search
timeout tests."""

import os
import shutil
import time
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.functions.precision import (
    compress_vectors,
    decompress_vectors,
    f16_knn,
    pack_bf16,
    pack_f16,
    unpack_bf16,
    unpack_f16,
)
from scalablevectorsearch_spark.operators.cancel import SearchTimeout, run_with_timeout
from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.sources.vecs import (
    read_binary_matrix,
    write_binary_matrix,
)

ART = str(Path(__file__).resolve().parents[1] / "_artifacts" / "test_precision")


@pytest.fixture(scope="module", autouse=True)
def art_dir():
    shutil.rmtree(ART, ignore_errors=True)
    os.makedirs(ART, exist_ok=True)
    yield
    shutil.rmtree(ART, ignore_errors=True)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector")


def test_f16_pack_roundtrip_numpy():
    X = np.random.default_rng(3).normal(size=(10, 16))
    packed = pack_f16(X)
    for i in range(10):
        back = unpack_f16(packed[i])
        assert np.allclose(back, X[i], atol=2e-3)  # f16 has ~3 decimal digits


def test_bf16_pack_roundtrip_numpy():
    X = np.random.default_rng(4).normal(size=(10, 16)).astype(np.float32)
    packed = pack_bf16(X)
    for i in range(10):
        back = unpack_bf16(packed[i])
        assert np.allclose(back, X[i], rtol=2 ** -7)  # bf16: 8-bit mantissa


def test_compress_halves_footprint(base):
    packed = compress_vectors(base, "float16")
    row = packed.select(F.length("packed").alias("b"), F.size("vector").alias("d")).first()
    assert row["b"] == 2 * row["d"]


@pytest.mark.parametrize("dtype", ["float16", "bfloat16"])
def test_spark_roundtrip_and_mixed_knn(base, dtype):
    packed = compress_vectors(base, dtype).select("id", "packed")
    dec = decompress_vectors(packed, dtype)
    err = (
        dec.join(base.withColumnRenamed("vector", "orig"), "id")
        .select(
            F.max(
                F.aggregate(
                    F.zip_with("vector", "orig", lambda a, b: F.abs(a - b.cast("double"))),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, x),
                )
            ).alias("e")
        )
        .first()["e"]
    )
    assert err < 5e-3

    # mixed-precision search ranks ~like full precision
    queries = base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")
    exact = flat_knn(base, queries, k=5).select("qid", "neighbor_id")
    approx = f16_knn(packed, queries, k=5, dtype=dtype).select("qid", "neighbor_id")
    overlap = approx.join(exact, ["qid", "neighbor_id"], "left_semi").count()
    assert overlap >= 0.9 * exact.count()


def test_binary_matrix_roundtrip():
    X = np.random.default_rng(5).normal(size=(7, 9)).astype(np.float32)
    p = f"{ART}/m.bin"
    write_binary_matrix(p, X)
    assert np.array_equal(read_binary_matrix(p, np.float32), X)
    with pytest.raises(ValueError):
        read_binary_matrix(p, np.float64)  # wrong dtype -> size mismatch


def test_timeout_cancels_long_job(spark, base):
    from scalablevectorsearch_spark.functions.distances import l2sq_expr

    big = (
        base.crossJoin(base.selectExpr("id as id2", "vector as v2"))
        .crossJoin(base.selectExpr("id as id3"))
        .select(l2sq_expr(F.col("vector"), F.col("v2")).alias("d"))
        .agg(F.sum("d"))
    )
    t0 = time.time()
    with pytest.raises(SearchTimeout):
        run_with_timeout(spark, lambda: big.collect(), timeout_s=2.0)
    assert time.time() - t0 < 30


def test_timeout_returns_fast_result(spark, base):
    assert run_with_timeout(spark, lambda: base.count(), timeout_s=60) == base.count()


def test_deadline_interrupts_flat_scan_mid_partition(embeddings):
    """Inner-loop cancellation (flat.h:344-346): an expired deadline
    fails the scan kernel at the next Arrow batch, not after the
    partition completes — the error surfaces through collect()."""
    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 5").selectExpr("id as qid", "vector")
    df = flat_knn(base, queries, k=3, deadline=time.time() - 1.0)
    with pytest.raises(Exception, match="deadline exceeded"):
        df.collect()


def test_deadline_interrupts_vamana_traversal(embeddings):
    """greedy_search.h:154-157 parity: the per-round deadline check
    aborts the batch traversal inside the shard kernel."""
    from scalablevectorsearch_spark.operators.vamana import (
        VamanaParams,
        vamana_build,
        vamana_search,
    )

    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 5").selectExpr("id as qid", "vector")
    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2
    )
    df = vamana_search(
        idx, queries, k=3, search_window_size=10, deadline=time.time() - 1.0
    )
    with pytest.raises(Exception, match="deadline exceeded"):
        df.collect()


def test_live_deadline_allows_completion(embeddings):
    base = embeddings.selectExpr("vec_id as id", "embedding as vector")
    queries = base.filter("id < 5").selectExpr("id as qid", "vector")
    res = flat_knn(base, queries, k=3, deadline=time.time() + 300.0)
    assert res.count() == 15
