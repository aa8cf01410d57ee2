"""The codec seam (operators/codec.py): every codec's saved Vamana index
keeps its manifest keys and searches identically after a reload."""

import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.leanvec import (
    leanvec_project,
    leanvec_train,
    leanvec_vamana_build,
    leanvec_vamana_search,
)
from scalablevectorsearch_spark.operators.lvq import (
    lvq_compress,
    lvq_train,
    lvq_vamana_build,
    lvq_vamana_search,
)
from scalablevectorsearch_spark.operators.sq import (
    sq_train,
    sq_vamana_build,
    sq_vamana_search,
)
from scalablevectorsearch_spark.operators.vamana_local import VamanaParams
from scalablevectorsearch_spark.sources.index_store import load_vamana, save_vamana

PARAMS = VamanaParams(graph_max_degree=8, window_size=20)
SEARCH = dict(k=5, search_window_size=30)

# the manifest params each codec's saved index has always carried
VAMANA_KEYS = {
    "distance", "dims", "n_shards", "shard_by", "alpha", "graph_max_degree",
    "window_size", "max_candidate_pool_size", "prune_to",
    "use_full_search_history", "build_dtype",
}
SQ_KEYS = {"sq_gmin", "sq_gmax"}
LVQ_KEYS = {"lvq_primary_bits", "lvq_residual_bits", "lvq_mean", "lvq_packed"}
LEANVEC_KEYS = {
    "leanvec_mean", "leanvec_data_matrix", "leanvec_query_matrix", "leanvec_distance",
}


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.filter("vec_id < 600").selectExpr(
        "vec_id as id", "embedding as vector"
    ).cache()


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 12).selectExpr("id as qid", "vector")


def _sq(base):
    idx = sq_vamana_build(base, sq_train(base), PARAMS, n_shards=2)
    return idx, lambda ix, q: sq_vamana_search(ix, q, **SEARCH), SQ_KEYS


def _lvq_packed(base):
    idx = lvq_vamana_build(base, lvq_train(base, primary_bits=4), PARAMS, n_shards=2)
    return idx, lambda ix, q: lvq_vamana_search(ix, q, **SEARCH), LVQ_KEYS


def _lvq_unpacked_residual(base):
    p = lvq_train(base, primary_bits=4, residual_bits=8)
    storage = lvq_compress(base, p)
    idx = lvq_vamana_build(
        storage, p, PARAMS, n_shards=2, packed=False, base_compressed=True
    )

    def search(ix, q):
        return lvq_vamana_search(ix, q, k_reorder=15, compressed=storage, **SEARCH)

    return idx, search, LVQ_KEYS


def _leanvec_cosine(base):
    idx = leanvec_vamana_build(
        base, leanvec_train(base, 16), PARAMS, n_shards=2, distance="cosine"
    )
    return idx, lambda ix, q: leanvec_vamana_search(
        ix, q, base, k_reorder=15, **SEARCH
    ), LEANVEC_KEYS


def _leanvec_lvq4(base):
    model = leanvec_train(base, 16)
    projected = leanvec_project(base, model, "data", out_col="pv").select(
        "id", F.col("pv").alias("vector")
    )
    idx = leanvec_vamana_build(
        base, model, PARAMS, n_shards=2,
        primary_lvq=lvq_train(projected, primary_bits=4),
    )
    return idx, lambda ix, q: leanvec_vamana_search(
        ix, q, base, k_reorder=15, **SEARCH
    ), LEANVEC_KEYS | LVQ_KEYS


def _rows(df):
    return sorted(tuple(r) for r in df.select("qid", "rank", "neighbor_id", "distance").collect())


@pytest.mark.parametrize(
    "make",
    [_sq, _lvq_packed, _lvq_unpacked_residual, _leanvec_cosine, _leanvec_lvq4],
    ids=["sq_l2", "lvq_packed", "lvq_unpacked_residual", "leanvec_cosine", "leanvec_lvq4"],
)
def test_codec_index_persistence(spark, base, queries, tmp_path, make):
    """save_vamana -> load_vamana -> search: the manifest params hold
    exactly the keys that codec has always saved (so indexes saved
    before the codec seam still load), and the loaded index returns the
    in-memory index's rows."""
    idx, search, codec_keys = make(base)
    manifest = save_vamana(idx, str(tmp_path / "index"))
    assert set(manifest["params"]) == VAMANA_KEYS | codec_keys
    loaded = load_vamana(spark, str(tmp_path / "index"))
    assert _rows(search(loaded, queries)) == _rows(search(idx, queries))
