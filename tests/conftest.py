import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# ---------------------------------------------------------------------
# slow-marking: the full suite crossed 11 minutes; the default run
# (pyproject addopts -m "not slow") skips the tests below so the fast
# path stays ~<= 6 min and keeps getting run on every change. Run
# EVERYTHING with:  pytest -q -m "slow or not slow"
# Criteria for this list: >= ~4.5 s in the r8 --durations profile AND
# the behavior has cheaper sibling coverage in the fast path (an
# exhaustive/production-scale variant of an already-tested kernel, a
# save/load roundtrip of a gated format, an example run). Single point
# of maintenance on purpose — markers are applied by nodeid here, not
# scattered across files.
# ---------------------------------------------------------------------
SLOW_FILES = {
    "test_examples.py",  # examples run end-to-end at sf0.001 (~68 s)
}
SLOW_TESTS = {
    "test_leanvec.py::test_train_high_partition_tree_merge",
    "test_leanvec.py::test_cosine_vamana_saveload",
    "test_sq_vamana.py::test_sq_vamana_exhaustive_equals_sq_flat[l2]",
    "test_sq_vamana.py::test_sq_vamana_exhaustive_equals_sq_flat[ip]",
    "test_sq_vamana.py::test_sq_vamana_exhaustive_equals_sq_flat[cosine]",
    "test_sq_vamana.py::test_sq_vamana_save_load_roundtrip",
    "test_sq_vamana.py::test_sq_vamana_kmeans_routing_composes",
    "test_sq_vamana.py::test_sq_vamana_production_window_recall",
    "test_neardup.py::test_cluster_size_cap_bounds_skewed_cell",
    "test_multivector.py::test_dynamic_multivector_label_cycle",
    "test_multivector.py::test_multivector_batch_iterator_pages",
    "test_api.py::test_vamana_batch_iterator_and_calibrate",
    "test_api.py::test_dynamic_ivf",
    "test_api.py::test_dynamic_vamana_chain",
    "test_vamana.py::test_full_search_history_build",
    "test_vamana.py::test_closure_assignment_lifts_routed_recall",
    "test_vamana.py::test_routed_clustered_shards",
    "test_vamana.py::test_closure_survives_save_load",
    "test_dynamic.py::test_dynamic_ivf_cycle",
    "test_dynamic.py::test_add_points_with_dataframe_tombstones",
    "test_dynamic.py::test_delete_entries_threshold_crossover",
    "test_dynamic.py::test_revive_entry_point",
    "test_dynamic.py::test_dynamic_cycle_recall",
    "test_advice_fixes.py::test_assign_hierarchical_empty_parent_fallback",
    "test_advice_fixes_r3.py::test_epsilon_probing_recall_at_least_fixed_probe",
    "test_index_store.py::test_load_fallback_decodes_before_stamping",
    "test_advice_fixes_r4.py::test_leanvec_primary_lvq_saveload_roundtrip",
    "test_advice_fixes_r4.py::test_leanvec_primary_lvq_facade_saveload",
    "test_calibrate_budget.py::TestIvfTargetRecall::test_deterministic",
    "test_calibrate_budget.py::TestVamanaTargetRecall::test_hits_target_on_calibration_sample",
    "test_calibrate_iterator_streaming.py::test_calibrate_hits_target",
    "test_calibrate_iterator_streaming.py::test_calibrate_split_buffer",
    "test_vamana_filtered.py::TestFilteredRecallAndComposition::test_where_composes_with_target_recall",
    "test_flat.py::test_chunked_query_blocks_match_single_batch",
    "test_pipeline_text.py::test_dedup_components_long_chain_log_rounds",
    "test_pipeline_text.py::test_simhash64_xxhash_path",
    "test_pipeline_text.py::test_ngram_jaccard_matches_bruteforce",
    "test_sq.py::test_sq_knn_from_stored_compressed",
    "test_index_store.py::test_kmeans_sharded_vamana_roundtrip",
    "test_index_store.py::test_compacted_vamana_save_load_roundtrip",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        rel = item.nodeid.rsplit("tests/", 1)[-1]
        fname = rel.split("::", 1)[0]
        if fname in SLOW_FILES or rel in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)

from scalablevectorsearch_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("svs-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def mini_docs(spark):
    """Five short documents: an exact duplicate pair, a German one and a
    degenerate bigram repetition."""
    rows = [
        (0, "the cat sat on the mat and the dog sat too"),
        (1, "der hund ist nicht mit der katze und der maus"),
        (2, "completely unique text with no repeats whatsoever here"),
        (3, "the cat sat on the mat and the dog sat too"),
        (4, "a b a b a b a b a b a b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")
