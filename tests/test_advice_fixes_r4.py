"""Regression tests for the round-4 ADVICE findings.

1 (high, leanvec.py): a LeanVec-Vamana index built with an LVQ primary
   (LeanVec4x*/8x8 storage kinds) must persist its primary-LVQ params so
   the loaded index can decode its packed layout — previously
   save_vamana saw no ``lvq_params`` and the loaded index crashed at
   search with a matmul shape mismatch.
2 (low, index_store.py): the no-layout_assign load fallback must stamp
   shards in the decoded geometry (tested in test_index_store.py).
3 (low, flat.py): ragged packed rows whose total length divides the
   row count must be rejected, not silently mis-reshaped.
4 (low, api.py): a residual-LVQ facade index loaded from disk must use
   ``rerank_base`` as the compressed storage for the two-level re-rank
   (or raise), never silently fall back to primary-only ranking.
"""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.flat import flat_knn
from scalablevectorsearch_spark.operators.leanvec import (
    leanvec_project,
    leanvec_train,
    leanvec_vamana_build,
    leanvec_vamana_search,
)
from scalablevectorsearch_spark.operators.lvq import lvq_train
from scalablevectorsearch_spark.sources.index_store import load_vamana, save_vamana

ART = str(Path(__file__).resolve().parents[1] / "_artifacts" / "test_advice_r4")


@pytest.fixture(scope="module", autouse=True)
def clean_artifacts():
    shutil.rmtree(ART, ignore_errors=True)
    yield
    shutil.rmtree(ART, ignore_errors=True)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector").cache()


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")


def _rows(df):
    return sorted((r["qid"], r["rank"], r["neighbor_id"]) for r in df.collect())


def _leanvec_lvq_index(base, m=32, bits=4):
    model = leanvec_train(base, m)
    pb = leanvec_project(base, model, "data", out_col="pv").select(
        "id", F.col("pv").alias("vector")
    )
    primary = lvq_train(pb, primary_bits=bits)
    return model, leanvec_vamana_build(base, model, n_shards=2, primary_lvq=primary)


def test_leanvec_primary_lvq_saveload_roundtrip(spark, base, queries):
    """ADVICE #1: save -> load -> search of a primary-LVQ LeanVec index
    must equal the direct search (previously: matmul shape crash)."""
    model, idx = _leanvec_lvq_index(base)
    assert idx.lvq_params is not None  # persisted identity
    direct = _rows(
        leanvec_vamana_search(idx, queries, base, k=5, k_reorder=30,
                              search_window_size=40)
    )
    save_vamana(idx, f"{ART}/lv_lvq")
    loaded = load_vamana(spark, f"{ART}/lv_lvq")
    assert loaded.vec_decode is not None
    assert loaded.lvq_params.primary_bits == 4
    reloaded = _rows(
        leanvec_vamana_search(loaded, queries, base, k=5, k_reorder=30,
                              search_window_size=40)
    )
    assert direct == reloaded


def test_leanvec_primary_lvq_facade_saveload(spark, base, queries):
    """The facade path: Vamana.build(LeanVecLoader(primary_kind='lvq4'))
    -> save -> Vamana(path) -> search(rerank_base=...) must run and
    match the pre-save facade search."""
    from scalablevectorsearch_spark import api as svs

    index = svs.Vamana.build(
        svs.VamanaBuildParameters(graph_max_degree=8, window_size=20),
        svs.LeanVecLoader(base, leanvec_dims=32, primary_kind="lvq4"),
        n_shards=2,
    )
    index.search_window_size = 40
    direct = _rows(index.search(queries, k=5))
    index.save(f"{ART}/lv_lvq_facade")
    loaded = svs.Vamana(f"{ART}/lv_lvq_facade")
    loaded.search_window_size = 40
    reloaded = _rows(loaded.search(queries, k=5, rerank_base=base))
    assert direct == reloaded


def test_ragged_packed_rows_rejected(spark):
    """ADVICE #3: packed rows of differing widths whose total happens to
    divide the row count must raise, not silently mis-reshape."""
    # 2 rows, widths 2 and 4 -> total 6 divisible by n=2 (the trap);
    # one partition so both rows share an Arrow batch
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0, 4.0])], "id long, vector array<double>"
    ).coalesce(1)
    q = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "qid long, vector array<double>")
    with pytest.raises(Exception, match="uniform"):
        flat_knn(df, q, k=1, distance="l2", decode=lambda M: M).collect()


def test_residual_lvq_loaded_facade_requires_storage(spark, base, queries):
    """ADVICE #4: a residual-LVQ facade index loaded from disk raises
    without the storage table and re-ranks on it when supplied via
    rerank_base (matching the build-constructed search)."""
    from scalablevectorsearch_spark import api as svs
    from scalablevectorsearch_spark.operators.lvq import lvq_compress

    index = svs.Vamana.build(
        svs.VamanaBuildParameters(graph_max_degree=8, window_size=20),
        svs.LVQLoader(base, primary=4, residual=8),
        n_shards=2,
    )
    index.search_window_size = 40
    direct = _rows(index.search(queries, k=5))
    index.save(f"{ART}/lvq_resid")
    loaded = svs.Vamana(f"{ART}/lvq_resid")
    loaded.search_window_size = 40
    with pytest.raises(ValueError, match="rerank_base"):
        loaded.search(queries, k=5)
    storage = lvq_compress(base, loaded.index.lvq_params)
    reloaded = _rows(loaded.search(queries, k=5, rerank_base=storage))
    assert direct == reloaded
