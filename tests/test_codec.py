"""The codec seam (operators/codec.py): every codec's saved Vamana index
keeps its manifest keys and searches identically after a reload; the
one exact re-rank folds bit-identically to Catalyst and takes an empty
query batch."""

import numpy as np
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


def test_fold_distances_matches_catalyst(spark):
    """The rerank kernel's fold (vectorized across rows, sequential
    across dims) must be BIT-identical to the Catalyst
    zip_with+aggregate fold it replaced — the property that lets the
    gated rerank queries move off Catalyst at all."""
    from scalablevectorsearch_spark.functions.distances import distance_expr
    from scalablevectorsearch_spark.operators.codec import _fold_distances

    rng = np.random.RandomState(5)
    n, d = 200, 23  # odd dim to exercise non-multiple-of-SIMD tails
    Q = rng.normal(size=(n, d)) * rng.choice([1e-3, 1.0, 1e3], size=(n, 1))
    B = rng.normal(size=(n, d)) * rng.choice([1e-3, 1.0, 1e3], size=(n, 1))
    # zero-norm rows: the ANSI Catalyst fold ERRORS on the cosine
    # division, so they are checked kernel-side only — the kernel must
    # map them to similarity 0.0 (the pairwise_distances convention;
    # r13 ADVICE: inf/nan changed degenerate top-k ordering)
    Bz = B.copy()
    Qz = Q.copy()
    Bz[7] = 0.0
    Qz[11] = 0.0
    gotz, _ = _fold_distances(Qz, Bz, "cosine")
    assert gotz[7] == 0.0 and gotz[11] == 0.0
    assert np.isfinite(gotz).all()
    rows = [
        (int(i), [float(x) for x in Q[i]], [float(x) for x in B[i]])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "i long, q array<double>, b array<double>")
    for dist in ("l2", "ip", "cosine"):
        got, nulls = _fold_distances(Q, B, dist)
        assert nulls is None
        exp_rows = df.select(
            "i", distance_expr(F.col("q"), F.col("b"), dist).alias("d")
        ).collect()
        exp = np.empty(n)
        for r in exp_rows:
            exp[r["i"]] = r["d"]
        assert np.array_equal(got, exp), dist  # exact, not approx


def test_rerank_empty_query_batch(spark):
    """An empty query set returns an empty frame (r13, ADVICE: np.stack
    raised ValueError where the old Catalyst join path was empty).
    Exercised on _rerank_reconstruction directly — inside lvq_knn the
    upstream flat_knn raises its documented 'empty query batch' first."""
    from scalablevectorsearch_spark.operators.codec import _rerank_reconstruction

    cands = spark.createDataFrame([], "qid long, neighbor_id long")
    recon = spark.createDataFrame(
        [(0, [1.0, 2.0])], "neighbor_id long, __bv array<double>"
    )
    empty_q = spark.createDataFrame([], "qid long, vector array<double>")
    out = _rerank_reconstruction(cands, recon, empty_q, 3, "l2", 4)
    assert out.count() == 0
    assert set(out.columns) >= {"qid", "neighbor_id", "distance", "rank"}
