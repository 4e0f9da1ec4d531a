from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from oanda_stream_processor_spark.session import get_spark  # noqa: E402

# --- fast/slow test tiers (r18; VERDICT r17 Next-round #1) -------------------
#
# The full suite is ~31 min wall-clock (measured at r18 HEAD,
# `--durations=80`), dominated by the streaming-store e2e/parity tests
# below (each >= ~10 s; together ~1350 s of the 1857 s total).  The
# driver's verify budget truncated the r17 run at ~80% and recorded
# `tests_ok: false` on a green suite, so the DEFAULT invocation
# (`python -m pytest tests/ -x -q`) now runs the fast tier (~8 min):
# the tests named here are skipped unless SPARK_GRAFT_SLOW_TESTS=1 (or
# --runslow) is set.  Every feature family keeps fast-tier coverage
# (each module's sub-10 s tests still run); the round-record pytest
# runs the FULL suite (SPARK_GRAFT_SLOW_TESTS=1) before any commit of
# record.  The ledger is duration-based (>= ~10 s at r18), central so
# the tier is auditable in one place.
SLOW_TESTS = {
    "test_component_budget.py::test_q167_cold_build_stays_within_job_budget",
    "test_eager_registry.py::test_eager_build_marker_matches_reality",
    "test_incremental_components.py::test_star_contraction_distributed_phase_forced",
    "test_retrieval.py::test_blockmax_gate_three_way_routing",
    "test_retrieval.py::test_gate_memo_persists_next_to_store",
    "test_shard_writer.py::test_writer_file_sizing_knob",
    "test_retrieval.py::test_blockmax_prunes_blocks_and_stays_exact",
    "test_retrieval.py::test_bm25f_blockmax_equals_q177",
    "test_retrieval.py::test_bm25f_blockmax_prunes_blocks_and_stays_exact",
    "test_retrieval.py::test_bm25f_maxscore_equals_q177_and_prunes_on_zipfian",
    "test_retrieval_properties.py::test_blockmax_and_maxscore_exact_on_random_corpora",
    "test_retrieval_properties.py::test_bm25f_blockmax_exact_on_random_corpora",
    "test_retrieval_properties.py::test_theta_bound_sound_on_random_corpora",
    "test_streaming.py::test_stream_stream_join",
    "test_streaming.py::test_streaming_funnel_ttl_evicts_idle_state",
    "test_streaming_bm25.py::test_block_and_prf_reads_survive_store_without_blk",
    "test_streaming_bm25.py::test_block_store_merges_and_serves_blockmax",
    "test_streaming_bm25.py::test_bm25f_served_tracks_appends_and_stream",
    "test_streaming_bm25.py::test_bm25f_store_survives_shifted_field_lengths",
    "test_streaming_bm25.py::test_served_bm25f_blockmax_tracks_appends",
    "test_streaming_bm25.py::test_served_maxscore_gate_and_prune",
    "test_streaming_bm25.py::test_served_pool_tracks_doc_appending_batches",
    "test_streaming_bm25.py::test_served_prf_block_route_on_skewed_store",
    "test_streaming_bm25.py::test_served_prf_equals_q187",
    "test_streaming_bm25.py::test_served_topk_equals_q175_and_replay_is_idempotent",
    "test_streaming_compact.py::test_bm25_store_compaction_preserves_reads",
    "test_streaming_compact.py::test_compact_every_hook_e2e_bounds_files_and_preserves_reads",
    "test_streaming_compact.py::test_field_store_compaction_preserves_reads",
    "test_streaming_compact.py::test_theta_store_guard_survives_compaction",
    "test_streaming_compact.py::test_truth_store_compaction_preserves_reads",
    "test_streaming_incremental.py::test_bloom_prefilter_preserves_verdicts",
    "test_streaming_rrf.py::test_served_fusion_quality_compare_equals_q191",
    "test_streaming_rrf.py::test_served_phrase_filtered_bm25_tracks_appends",
    "test_streaming_rrf.py::test_served_prf_quality_compare_equals_q192",
    "test_streaming_rrf.py::test_served_proximity_boosted_bm25_tracks_appends",
    "test_streaming_rrf.py::test_served_proximity_fused_rrf_tracks_appends",
    "test_streaming_rrf.py::test_served_quality_equals_q185",
    "test_streaming_rrf.py::test_served_quality_gated_fusion_equals_q193",
    "test_streaming_rrf.py::test_served_quality_grades_arbitrary_rankers",
    "test_streaming_rrf.py::test_served_rrf_tracks_appends_and_equals_q176",
    "test_streaming_theta.py::test_bm25f_theta_bound_is_conservative_and_engages",
    "test_streaming_theta.py::test_external_hist_ahead_guard_falls_back_exact",
    "test_streaming_theta.py::test_lockstep_impact_layout_and_default_fold",
    "test_streaming_theta.py::test_served_hist_theta_read_is_exact_per_prefix",
    "test_streaming_theta.py::test_theta_bound_is_conservative_and_engages",
    "test_streaming_theta.py::test_theta_hist_on_flat_route_refuses_loudly",
    "test_streaming_truth.py::test_decision_reads_prefer_truth_store",
    "test_streaming_truth.py::test_truth_side_partial_coverage_falls_back",
    "test_streaming_truth.py::test_truth_side_partials_track_appends",
    "test_streaming_truth.py::test_truth_state_auto_detected",
    "test_streaming_truth.py::test_truth_store_contract_enforced_and_replay",
    "test_streaming_truth.py::test_truth_store_tracks_appends_and_grades",
    "test_streaming_truth.py::test_truth_stream_e2e",
}


def pytest_addoption(parser):
    parser.addoption(
        "--runslow", action="store_true", default=False,
        help="run the slow tier too (same as SPARK_GRAFT_SLOW_TESTS=1)")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: >=10s streaming/e2e tests (skipped by "
        "default; SPARK_GRAFT_SLOW_TESTS=1 or --runslow runs them)")


def pytest_collection_modifyitems(config, items):
    run_slow = (config.getoption("--runslow")
                or os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1")
    skip = pytest.mark.skip(
        reason="slow tier (SPARK_GRAFT_SLOW_TESTS=1 or --runslow)")
    for item in items:
        rel = f"{os.path.basename(item.fspath)}::{item.name}"
        if rel in SLOW_TESTS or "slow" in item.keywords:
            item.add_marker(pytest.mark.slow)
            if not run_slow:
                item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    # get_spark's local default heap is 16g, all the RAM of a 16 GB test
    # host: a full-tier run once had its JVM killed by the OOM killer at
    # 15.6 GB resident, and every later test failed on the dead JVM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tick_capture() -> str:
    return os.path.join(REPO, "tests", "data", "ticks.ndjson")
