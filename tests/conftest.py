from __future__ import annotations

import os
import shlex

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ------------------------------------------------------------------
# Slow-tier marking: the full suite takes ~30 min wall. The ~47
# slowest tests (>= 10 s each in a duration profile, ~890 s
# together — the streaming equality/restart batteries, control-plane
# lifecycles, the e2e binlog chains, the delta property batteries,
# and the two slowest oracle rows) are marked `slow` and DESELECTED
# BY DEFAULT here (pytest_collection_modifyitems), but only when no
# -m expression was given and the test was not named by node id:
# `pytest tests/x.py::test_slow_one` runs it. The default run stays
# the regression gate (~800 tests, < 15 min); the full set is
# reachable with `pytest tests/ -m ""`, slow-only with `-m slow`.
# Names are matched on the base test name so every parametrization
# of a slow family is swept; the two oracle rows match on full id
# (the other ~150 test_oracle_match rows stay in the fast path).
_SLOW_BASES = {
    # tests/test_streaming.py — store equality / restart / retention
    "test_streaming_clustering_chain_merge_and_restart",
    "test_near_dup_emissions_invariant_under_batch_splits",
    "test_streaming_item_cf_matches_batch",
    "test_streaming_search_index_matches_batch",
    "test_streaming_clustering_matches_batch",
    "test_basket_retention_bounds_state",
    "test_streaming_ols_matches_batch_fit",
    "test_streaming_emb_near_dup_index_matches_batch",
    "test_cluster_redirect_replay_regenerates_lost_edges",
    "test_streaming_near_dup_index_matches_batch",
    "test_streaming_sessions_match_batch",
    "test_streaming_item_cf_basket_cap_matches_capped_batch",
    "test_delta_threshold_flip_both_directions",
    "test_streaming_funnel_matches_batch",
    "test_fold_finalize_empty_bucket_slice_still_claims_epoch",
    "test_streaming_attribution_matches_batch",
    "test_delta_tier_state_matches_cow",
    "test_delta_store_rebucket_carries_mode_and_state",
    "test_user_day_store_retention_bounds_state",
    "test_streaming_near_dup_index_restart_resumes",
    "test_streaming_decay_scores_match_batch",
    "test_streaming_incremental_view_on_durable_store",
    "test_manifest_strategy_state_matches_posix",
    "test_streaming_path_trigrams_matches_batch",
    "test_delta_review_fixes",
    "test_session_store_retention_bounds_state",
    # tests/test_control_api.py — full task lifecycles
    "test_near_dup_index_task_lifecycle",
    "test_item_cf_task_lifecycle",
    "test_search_index_task_lifecycle",
    "test_multi_kind_tasks_run_concurrently_isolated",
    "test_event_index_task_lifecycle",
    # tests/test_properties.py — exhaustive schedule batteries
    "test_delta_tier_any_schedule_matches_cow",
    "test_delta_rule_invariant_under_any_batch_split",
    # e2e binlog chains
    "test_reference_shape_pipeline_end_to_end",
    "test_mariadb_reference_shape_chain",
    "test_rich_bytes_through_source_and_projection_decimal_exact",
    "test_unknown_announced_plugin_still_refused",
}
_SLOW_IDS = {
    "test_oracle_match[dedup_embedding_cosine_lsh]",
    "test_oracle_match[similarity_lsh_topk]",
}


def _markexpr_given(config) -> bool:
    """Whether a -m was passed: on the command line, in
    PYTEST_ADDOPTS or in the ini addopts (``-m ""`` included, which
    the parsed option alone cannot tell from no -m at all)."""
    args = [*config.invocation_params.args,
            *shlex.split(os.environ.get("PYTEST_ADDOPTS", "")),
            *config.getini("addopts")]
    return any(a.startswith("-m") for a in args)


def _named_ids(config) -> list[str]:
    """Node ids named on the command line (``path::name``), made
    relative to the rootdir as item node ids are."""
    out = []
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        full = (config.invocation_params.dir / path).resolve()
        if full.is_relative_to(config.rootpath):
            out.append(f"{full.relative_to(config.rootpath).as_posix()}"
                       f"::{rest}")
    return out


def pytest_collection_modifyitems(config, items):
    slow = []
    for item in items:
        if (item.name.split("[")[0] in _SLOW_BASES
                or item.name in _SLOW_IDS):
            item.add_marker(pytest.mark.slow)
            slow.append(item)
    if not slow or _markexpr_given(config):
        return
    named = _named_ids(config)
    drop = {i for i in slow
            if not any(i.nodeid == n or i.nodeid.startswith((n + "[",
                                                              n + "::"))
                       for n in named)}
    if drop:
        config.hook.pytest_deselected(items=list(drop))
        items[:] = [i for i in items if i not in drop]


@pytest.fixture(scope="session")
def spark():
    from galaxy_spark.session import get_spark
    s = get_spark("galaxy_spark-tests", master="local[8]",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()
