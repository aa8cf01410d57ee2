"""Regression tests for the round-6 ADVICE findings.

1 (low, operators/vamana.py vamana_search): the r6 routed default
   (router given, no n_probes/epsilon_bp/probe_budget) set
   probe_budget = n_shards/2 unconditionally, so a hash-sharded index
   (shard_by="hash" is the build default, shard_model=None) plus a
   router crashed with AttributeError on shard_model.centroids. The
   default now applies only to kmeans-sharded indexes; a router over a
   hash-sharded index keeps the pre-r6 behavior of full fan-out.
2 (low, operators/ivf.py fit_epsilon_bp clamp): with a probe floor of
   ceil(0.75*B), budgets 2 and 3 had floor == budget, so
   clip(raw, floor, cap).mean() >= budget already at bp=0 and the fit
   degenerated to fixed floor probing. budget_probe_clamp now keeps
   the floor STRICTLY below the budget (int(0.75*B), capped at
   ceil(B)-1) so small budgets retain adaptivity. Its tests moved to
   test_probe_clamp.py.
3 (low, pipeline/dedup.py duplicate_spans): the docstring claims
   "with stride == 1 both modes are identical", but merge_gap was
   span_len for sample="content" even at stride=1, merging distinct
   duplicated runs separated by 2..span_len positions that positional
   mode reports separately. merge_gap is span_len only when content
   mode actually subsamples (stride > 1).
"""

import random

import pytest
from pyspark.sql import Row

from scalablevectorsearch_spark.operators.router import build_centroid_router
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)
from scalablevectorsearch_spark.pipeline.dedup import duplicate_spans


class TestRoutedDefaultHashSharded:
    def test_router_on_hash_sharded_index_is_full_fanout(self, spark, embeddings):
        """A router over a hash-sharded index must not crash and must
        return exactly the full-fan-out results (pre-r6 behavior)."""
        base = embeddings.selectExpr("vec_id as id", "embedding as vector").limit(400)
        q = embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(6)
        params = VamanaParams(graph_max_degree=16, window_size=16)
        index = vamana_build(base, params, n_shards=4, shard_by="hash")
        assert index.shard_model is None
        # any centroid set works: the router must be IGNORED on a
        # hash-sharded index (there is nothing meaningful to route to)
        from scalablevectorsearch_spark.operators.kmeans import train_kmeans

        model = train_kmeans(base, 4, n_iters=1)
        router = build_centroid_router(model, distance="l2")
        got = vamana_search(
            index, q, k=5, search_window_size=32, router=router, round_to=4
        )
        want = vamana_search(index, q, k=5, search_window_size=32, round_to=4)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_kmeans_sharded_default_still_budgeted(self, spark, embeddings):
        """The kmeans-sharded routed default still resolves to budget
        probing (not full fan-out): with a budget of n_shards/2 at
        least one query must probe fewer than all shards."""
        base = embeddings.selectExpr("vec_id as id", "embedding as vector").limit(400)
        q = embeddings.selectExpr("vec_id as qid", "embedding as vector").limit(6)
        params = VamanaParams(graph_max_degree=16, window_size=16)
        index = vamana_build(base, params, n_shards=4, shard_by="kmeans")
        router = build_centroid_router(index.shard_model, distance="l2")
        res = vamana_search(
            index, q, k=5, search_window_size=32, router=router, round_to=4
        )
        assert res.count() == 6 * 5  # still a complete result


class TestDuplicateSpansStrideOne:
    @pytest.fixture(scope="class")
    def two_runs(self, spark):
        """Two docs sharing TWO duplicated regions separated by a gap of
        3 junk chars (< span_len): distinct runs that must NOT merge."""
        rng = random.Random(3)

        def junk(n):
            return "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n)
            )

        a = "THE FIRST SHARED BOILERPLATE REGION HERE"
        b = "ANOTHER SHARED BOILERPLATE REGION FOLLOWS"
        gap1, gap2 = junk(3), junk(3)
        return spark.createDataFrame(
            [
                Row(doc_id=1, text=junk(20) + a + gap1 + b + junk(20)),
                Row(doc_id=2, text=junk(25) + a + gap2 + b + junk(15)),
            ]
        )

    def _spans(self, df, sample):
        rows = duplicate_spans(
            df, span_len=20, stride=1, min_count=2, sample=sample
        ).collect()
        return sorted((r.doc_id, r.span_start, r.span_end) for r in rows)

    def test_stride_one_modes_identical(self, two_runs):
        pos = self._spans(two_runs, "positional")
        con = self._spans(two_runs, "content")
        assert pos == con

    def test_stride_one_content_keeps_runs_separate(self, two_runs):
        """Regression: content mode used to merge the two regions
        (separated by 3 < span_len positions) into a single span."""
        con = self._spans(two_runs, "content")
        per_doc = {}
        for d, s, e in con:
            per_doc.setdefault(d, []).append((s, e))
        assert all(len(v) == 2 for v in per_doc.values()), per_doc
