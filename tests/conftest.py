from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


# ---------------------------------------------------------------------------
# The slow set. Every entry below measured 7.5 s or more per call in
# an instrumented full run (OPTIMIZATION_r14.md). They are SKIPPED by
# default and run with SPARK_GRAFT_FULL_TESTS=1, which stays the local
# release gate. Apart from the 3-SF schema sweep and three
# text-function property sweeps, they test the corpus/LLM-data
# operators. The POI pipeline's pins (streaming token
# bucket, merge sinks, nightly-ops recipe, interval-join property and
# the determinism of c05/c58/c61/c62) are not in the set: they run by
# default. The default set keeps every oracle-gate param and a
# determinism pin for 75 of the 79 registered queries.
# Entries are nodeid fragments: "file::test" marks the whole function
# (all params); "file::test[param]" marks one param.
# ---------------------------------------------------------------------------
SLOW_CALLS = {
    # dedup/similarity brute-force and boundary sweeps
    "test_dedup_similarity.py::test_jaccard_df_cap_boundary_equivalence",
    "test_dedup_similarity.py::test_jaccard_pairs_df_cap_boundary_equivalence",
    "test_dedup_similarity.py::test_ngram_jaccard_topk_matches_bruteforce",
    "test_dedup_similarity.py::test_jaccard_df_cap_safety_check",
    "test_dedup_similarity.py::test_maximal_runs_property_random_corpora",
    # double-run determinism: only the heavy corpus queries
    "test_determinism.py::test_query_is_deterministic[x16_quality_classifier]",
    "test_determinism.py::test_query_is_deterministic[x21_semantic_dedup]",
    "test_determinism.py::test_query_is_deterministic[c42_bm25_topk]",
    "test_determinism.py::test_query_is_deterministic[c39_exact_substring_runs]",
    # 3-SF schema sweep (runs every query at two extra SFs)
    "test_driver_contract.py::test_query_schemas_stable_across_sf",
    # graph algorithm equivalence sweeps
    "test_graph.py::test_shapes_both_algorithms",
    "test_graph.py::test_property_random_graphs",
    # packing/property sweeps
    "test_packing.py::test_spfhp_assignments_random_vs_reference",
    "test_packing.py::test_global_offsets_property_random_frames",
    "test_property_text.py::test_duplicated_spans_match_bruteforce",
    "test_property_text.py::test_trigram_fuzzy_property",
    "test_property_text.py::test_normalize_property",
    "test_quality.py::test_property_token_streams",
    "test_text_selection.py::test_bm25_capped_leg_recall_and_error_bound",
    "test_text_selection.py::test_bm25_df_cap_prunes_hot_terms_exactly",
    "test_text_selection.py::test_stratified_sample_property_random_shapes",
    # the 7.5-10 s band (oracle-gate params are never in the set)
    "test_dedup_similarity.py::test_minhash_verify_legs_agree",
    "test_dedup_similarity.py::test_semantic_dedup_invariants",
    "test_dedup_similarity.py::test_embedding_near_dup_finds_planted_pairs",
    "test_dedup_similarity.py::test_fingerprint_match_pairs_scopes_its_persist",
    "test_dedup_similarity.py::test_ngram_contamination_flags",
    "test_dedup_similarity.py::test_containment_pairs_df_cap_equivalence",
    "test_property_text.py::test_word_ngram_hash_flags_match_string_flags",
    "test_property_text.py::test_dedupe_key_property",
    "test_packing.py::test_chunk_documents_is_streaming_compatible",
}


def pytest_collection_modifyitems(config, items):
    """Skip the slow set (SLOW_CALLS above) unless
    SPARK_GRAFT_FULL_TESTS=1."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(reason="slow (set SPARK_GRAFT_FULL_TESTS=1)")
    for item in items:
        nodeid = item.nodeid.split("/")[-1]  # "file.py::name[param]"
        base = nodeid.split("[", 1)[0]
        if nodeid in SLOW_CALLS or base in SLOW_CALLS:
            item.add_marker(skip)

SMOKE_SF = "/root/testdata/sf0.001"
ORACLE_SF = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from trendr_data_pipeline_spark.session import get_spark

    s = get_spark("pytest", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SMOKE_SF}/{t}.parquet')"
        )
    yield con
    con.close()
