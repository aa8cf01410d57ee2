"""*vecs IO + test-data generator tests (vecs.h round-trip, dim checks,
generator groundtruth == flat oracle)."""

import os
import shutil
from pathlib import Path

import numpy as np
import pytest

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.sources.vecs import (
    generate_test_dataset,
    npy_to_df,
    read_npy,
    read_vecs,
    vecs_to_df,
    write_vecs,
)

ART = str(Path(__file__).resolve().parents[1] / "_artifacts" / "test_vecs")


@pytest.fixture(scope="module", autouse=True)
def art_dir():
    shutil.rmtree(ART, ignore_errors=True)
    os.makedirs(ART, exist_ok=True)
    yield
    shutil.rmtree(ART, ignore_errors=True)


@pytest.mark.parametrize(
    "kind,dtype",
    [("fvecs", np.float32), ("ivecs", np.int32), ("bvecs", np.uint8), ("hvecs", np.float16)],
)
def test_vecs_roundtrip(kind, dtype):
    rng = np.random.default_rng(7)
    if dtype == np.uint8:
        X = rng.integers(0, 255, size=(20, 16)).astype(dtype)
    elif dtype == np.int32:
        X = rng.integers(-1000, 1000, size=(20, 16)).astype(dtype)
    else:
        X = rng.normal(size=(20, 16)).astype(dtype)
    path = f"{ART}/t.{kind}"
    write_vecs(path, X)
    Y = read_vecs(path)
    assert Y.dtype == dtype and np.array_equal(X, Y)


def test_convert_vecs_to_svs_roundtrip():
    """python_bindings.cpp convert_vecs_to_svs: fvecs -> .svs preserves
    values; library_version/have_mkl exist on the facade."""
    import scalablevectorsearch_spark.api as svs

    X = np.arange(24, dtype=np.float32).reshape(6, 4)
    fv, fs = f"{ART}/conv.fvecs", f"{ART}/conv.svs"
    svs.write_vecs(fv, X)
    svs.convert_vecs_to_svs(fv, fs)
    assert np.array_equal(svs.read_svs(fs), X)
    assert isinstance(svs.library_version(), str)
    assert svs.have_mkl() is False


def test_vecs_rejects_inconsistent_dims():
    path = f"{ART}/bad.fvecs"
    with open(path, "wb") as f:
        f.write(np.int32(4).tobytes() + np.zeros(4, np.float32).tobytes())
        f.write(np.int32(5).tobytes() + np.zeros(5, np.float32).tobytes())
    with pytest.raises(ValueError):
        read_vecs(path)


def test_vecs_to_df(spark):
    X = np.arange(12, dtype=np.float32).reshape(3, 4)
    path = f"{ART}/df.fvecs"
    write_vecs(path, X)
    df = vecs_to_df(spark, path)
    rows = {r["id"]: r["vector"] for r in df.collect()}
    assert rows[1] == [4.0, 5.0, 6.0, 7.0]


def test_npy_roundtrip(spark):
    X = np.random.default_rng(1).normal(size=(5, 3)).astype(np.float32)
    path = f"{ART}/x.npy"
    np.save(path, X)
    assert np.array_equal(read_npy(path), X)
    assert npy_to_df(spark, path).count() == 5


def test_generator_deterministic_and_consistent(spark):
    m1 = generate_test_dataset(spark, 200, 20, 8, f"{ART}/gen1", seed=11, k=5)
    generate_test_dataset(spark, 200, 20, 8, f"{ART}/gen2", seed=11, k=5)
    d1 = spark.read.parquet(f"{ART}/gen1/data").orderBy("id").collect()
    d2 = spark.read.parquet(f"{ART}/gen2/data").orderBy("id").collect()
    assert [r["vector"] for r in d1] == [r["vector"] for r in d2]
    assert m1["seed"] == 11

    # generator groundtruth must equal the engine's own flat k-NN
    data = spark.read.parquet(f"{ART}/gen1/data")
    queries = spark.read.parquet(f"{ART}/gen1/queries")
    gt = spark.read.parquet(f"{ART}/gen1/groundtruth")
    ours = flat_knn(data, queries, k=5, distance="l2", round_to=None).select(
        "qid", "rank", "neighbor_id"
    )
    assert ours.exceptAll(gt).count() == 0 and gt.exceptAll(ours).count() == 0


def test_distributed_generator(spark):
    """Counter-based distributed generator: values are keyed by
    (seed, id, dim) so they are identical across partition layouts;
    groundtruth (engine flat k-NN) equals an independent numpy brute
    force; distribution is uniform [-1, 1)."""
    from scalablevectorsearch_spark.sources.vecs import (
        _uniform_rows,
        generate_test_dataset_distributed,
    )

    m = generate_test_dataset_distributed(
        spark, 300, 15, 8, f"{ART}/gend", seed=13, k=5
    )
    assert m["generator"] == "distributed-counter"
    data = spark.read.parquet(f"{ART}/gend/data")
    assert data.count() == 300
    # partition-layout independence: kernel rows for an arbitrary id
    # subset equal the written rows
    got = {r["id"]: np.array(r["vector"]) for r in data.filter("id in (0, 7, 299)").collect()}
    want = _uniform_rows(np.array([0, 7, 299]), 8, 13, 0)
    for i, vid in enumerate((0, 7, 299)):
        np.testing.assert_array_equal(got[vid], want[i])
    # groundtruth == independent numpy brute force
    X = np.stack(
        [r["vector"] for r in data.orderBy("id").collect()]
    ).astype(np.float64)
    Q = np.stack(
        [r["vector"] for r in spark.read.parquet(f"{ART}/gend/queries").orderBy("qid").collect()]
    ).astype(np.float64)
    D = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    ids = np.broadcast_to(np.arange(300), D.shape)
    order = np.lexsort((ids, D), axis=1)[:, :5]
    gt = spark.read.parquet(f"{ART}/gend/groundtruth")
    got_gt = {
        (r["qid"], r["rank"]): r["neighbor_id"] for r in gt.collect()
    }
    for qi in range(15):
        for rk in range(5):
            assert got_gt[(qi, rk + 1)] == order[qi, rk]
    # crude uniformity: mean ~0, |values| <= 1
    V = np.stack(list(got.values()))
    assert np.all(np.abs(V) < 1.0) and abs(X.mean()) < 0.05


def test_svs_native_roundtrip(tmp_path):
    """V1 native file (native.h:310-344): header magic/counts honored,
    row-major payload intact, wrong magic rejected."""
    import numpy as np

    from scalablevectorsearch_spark.sources.vecs import (
        SVS_HEADER_SIZE,
        read_svs,
        write_svs,
    )

    X = np.arange(24, dtype=np.float32).reshape(6, 4)
    p = str(tmp_path / "data.svs")
    write_svs(p, X)
    import os

    assert os.path.getsize(p) == SVS_HEADER_SIZE + X.nbytes
    Y = read_svs(p, np.float32)
    np.testing.assert_array_equal(X, Y)
    # reference binding offsets: nvectors at byte 24, dims at byte 32
    raw = open(p, "rb").read(40)
    n, d = np.frombuffer(raw[24:40], dtype=np.uint64)
    assert (int(n), int(d)) == (6, 4)

    with open(p, "r+b") as f:
        f.write(b"\x00" * 8)  # clobber the magic
    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        read_svs(p)


def test_svs_to_df_and_random_dataset(spark, tmp_path):
    import numpy as np

    from scalablevectorsearch_spark.sources.vecs import (
        random_dataset,
        svs_to_df,
        write_svs,
    )

    X = random_dataset(10, 8, seed=7)
    assert X.shape == (10, 8) and X.dtype == np.float32
    np.testing.assert_array_equal(X, random_dataset(10, 8, seed=7))
    p = str(tmp_path / "r.svs")
    write_svs(p, X)
    df = svs_to_df(spark, p)
    assert df.count() == 10
    got = np.array(
        df.orderBy("id").toPandas()["vector"].tolist(), dtype=np.float32
    )
    np.testing.assert_allclose(got, X, rtol=1e-6)
