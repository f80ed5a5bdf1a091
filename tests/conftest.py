from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from opengauss_vectordb_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


# ---- default-fast selection (VERDICT r12 item 2; see pytest.ini) ----
# Whole modules that are long-running quality curves / randomized grids:
_SLOW_FILES = {
    "test_ivf_recall.py",       # IVF recall curves, 128-d builds (~4 min)
    "test_hnsw_recall.py",      # HNSW recall curves (~4 min)
    "test_property_range.py",   # randomized range-algebra grid
    "test_property_start_with.py",  # reference-walk property grid
    "test_property_distance.py",    # numpy distance grid
}
# Individually slow tests (index lifecycles, registry-wide sweeps,
# multi-index DDL flows) — each ≥ ~5 s in the r13 full-run profile (the
# IVF entries, here and below, in a later 4-core re-timing):
_SLOW_TESTS = {
    "test_registry_wide_no_batch_eval_python",  # builds all 325 queries
    "test_model_warehouse_lifecycle",
    "test_ivf_append_and_rebuild",
    "test_cosine_lsh_finds_planted_dups",
    "test_vector_text_copy_roundtrip",
    "test_streaming_interval_join_matches_batch",
    "test_engine_sql_compat",
    "test_reindex_statement",
    "test_explain_names_routed_indexes",
    "test_canonical_ann_text_routes_after_create_index",
    "test_create_ivfflat_index_ddl",
    "test_set_guc_workflow",
    "test_gin_incremental_delta_maintenance",
    "test_catalog_views",
    "test_websearch_grammar_corners",
    "test_age_function",
    "test_bpe_vocab_plan_depth_bounded",
    "test_key_level_compaction_and_vacuum",
    "test_knn_matches_brute_force_and_prunes",
    "test_internal_consistent_never_prunes_a_match",
    "test_flashback_random_program_matches_model",
    "test_update_from_and_delete_using",
}
# Oracle-parity rows that rebuild an index INSIDE the query — the same
# write-time set bench.py excludes from the timed loop:
_SLOW_PARITY_PARAMS = {
    "ivf_append_then_search",
    "hnsw_search_bit_exhaustive",
    "hnsw_search_l1_exhaustive",
    "hnsw_search_halfvec_exhaustive",
    "hnsw_search_sparsevec_exhaustive",
    "hnsw_knn_join_exhaustive",
    "hnsw_delete_then_search",
    "hnsw_filtered_search",
}
# Parity rows ≥ ~3.5 s in the r13 full-run profile that are NOT in the
# round's 50-slot driver-gate window (GATE_PRIORITY) — the driver
# re-gates the window rows independently, and each of these keeps a
# faster pin elsewhere (the r12 distance/dsum6 bitwise grids, the
# partition/RLS engine suites).  Full run: -m "".
_SLOW_PARITY_EXTRA = {
    "embedding_dup_pairs_cosine",
    "replace_into_upsert",
    "savepoint_rollback",
    "bpe_learn_merges",
    "interval_partition_autoextend",
    "recursive_series",
    "range_partition_lifecycle",
    "recursive_cycle_detect",
    "split_subpartition",
    "rls_policy_scan",
    "gist_knn_point",
    "grant_revoke_privileges",
    "eval_bootstrap_ci",
    "search_path_resolution",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.fspath.basename
        base = item.name.split("[")[0]
        param = item.name.split("[", 1)[1].rstrip("]") if "[" in item.name else None
        if (
            fname in _SLOW_FILES
            or base in _SLOW_TESTS
            or (base in ("test_oracle_parity", "test_rows_only")
                and param in (_SLOW_PARITY_PARAMS | _SLOW_PARITY_EXTRA))
        ):
            item.add_marker(pytest.mark.slow)
