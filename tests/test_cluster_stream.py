"""Incremental streaming near-dup clustering: cross-batch merges through
the redirect log, replay idempotency, fresh-session re-registration, and
equality with the batch CC over the union of all pairs."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
    STATE_SPECS,
    _redirects_path,
    drop_state,
    process_cluster_batch,
    resolved_roots,
)
from ai_powered_data_pipeline_assistant_spark.streaming.state_compaction import (
    state_tables,
)


def _roots_table(state_dir):
    return state_tables(state_dir, STATE_SPECS)["roots"]


@pytest.fixture()
def state_dir():
    tmp = tempfile.mkdtemp(prefix="cc_stream_test_")
    yield f"{tmp}/state"
    shutil.rmtree(tmp, ignore_errors=True)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "a_id long, b_id long")


def _resolved(spark, state_dir):
    return {
        r["doc_id"]: r["cluster_id"]
        for r in resolved_roots(spark, state_dir).collect()
    }


def test_cross_batch_merges_resolve_through_redirects(spark, state_dir):
    """Two disjoint components built in separate batches, merged by a
    later pair — the merge lands as ONE redirect row and every member
    resolves to the global min; a second chained merge exercises the
    pointer-doubled flat map."""
    try:
        process_cluster_batch(_pairs(spark, [(1, 2)]), 0, state_dir)
        process_cluster_batch(_pairs(spark, [(3, 4)]), 1, state_dir)
        assert _resolved(spark, state_dir) == {1: 1, 2: 1, 3: 3, 4: 3}
        process_cluster_batch(_pairs(spark, [(2, 4)]), 2, state_dir)
        assert _resolved(spark, state_dir) == {1: 1, 2: 1, 3: 1, 4: 1}
        # chain: {5,6} then 6→4 (whose root already redirected 3→1)
        process_cluster_batch(_pairs(spark, [(5, 6)]), 3, state_dir)
        process_cluster_batch(_pairs(spark, [(4, 6)]), 4, state_dir)
        assert _resolved(spark, state_dir) == {
            1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1
        }
        redirects = spark.read.parquet(_redirects_path(state_dir))
        assert redirects.count() == 2  # 3→1 and 5→1: one row per merge
        olds = {int(r["old_root"]) for r in redirects.collect()}
        assert olds == {3, 5}
        # roots rows are append-only: written once, never rewritten
        roots = spark.table(_roots_table(state_dir))
        assert roots.groupBy("doc_id").count().filter(
            F.col("count") > 1
        ).count() == 0
    finally:
        drop_state(spark, state_dir)


def test_replay_is_idempotent(spark, state_dir):
    """Re-running a completed batch (the crash window) leaves BOTH state
    tables identical — resolution reads strictly pre-batch state, so the
    replay recomputes the same rows and overwrites its own partitions."""
    try:
        process_cluster_batch(_pairs(spark, [(1, 2)]), 0, state_dir)
        process_cluster_batch(_pairs(spark, [(3, 4)]), 1, state_dir)
        merge = _pairs(spark, [(2, 4), (7, 8)])
        process_cluster_batch(merge, 2, state_dir)
        roots1 = sorted(
            tuple(r) for r in spark.table(_roots_table(state_dir)).collect()
        )
        redir1 = sorted(
            tuple(r)
            for r in spark.read.parquet(_redirects_path(state_dir)).collect()
        )
        process_cluster_batch(merge, 2, state_dir)  # replay
        roots2 = sorted(
            tuple(r) for r in spark.table(_roots_table(state_dir)).collect()
        )
        redir2 = sorted(
            tuple(r)
            for r in spark.read.parquet(_redirects_path(state_dir)).collect()
        )
        assert roots1 == roots2
        assert redir1 == redir2
        assert _resolved(spark, state_dir)[8] == 7
    finally:
        drop_state(spark, state_dir)


def test_fresh_session_reregisters_surviving_state(spark, state_dir):
    """Dropping the catalog entry (a restarted session's in-memory
    catalog) must re-register surviving files, not wipe them."""
    try:
        process_cluster_batch(_pairs(spark, [(1, 2)]), 0, state_dir)
        spark.sql(f"DROP TABLE IF EXISTS {_roots_table(state_dir)}")
        process_cluster_batch(_pairs(spark, [(2, 9)]), 1, state_dir)
        assert _resolved(spark, state_dir) == {1: 1, 2: 1, 9: 1}
    finally:
        drop_state(spark, state_dir)


def test_stream_equals_batch_cc_on_random_graph(spark, state_dir):
    """Deterministic pseudo-random pair stream across 4 batches must
    resolve identically to the batch module's connected components over
    the union of all pairs (min-doc-id labels)."""
    from ai_powered_data_pipeline_assistant_spark.operators.neardup_cluster import (
        connected_components,
    )

    rows = []
    for i in range(60):  # chains, stars, and cross-links over 40 nodes
        a = (i * 7) % 40
        b = (i * 13 + 3) % 40
        if a != b:
            rows.append((min(a, b), max(a, b), i % 4))
    all_pairs = _pairs(spark, [(a, b) for a, b, _bi in rows])
    try:
        for bi in range(4):
            process_cluster_batch(
                _pairs(spark, [(a, b) for a, b, x in rows if x == bi]),
                bi,
                state_dir,
            )
        got = _resolved(spark, state_dir)
        want = {
            int(r["node"]): int(r["label"])
            for r in connected_components(all_pairs).collect()
        }
        assert got == want
    finally:
        drop_state(spark, state_dir)


def test_compaction_folds_redirects_and_preserves_assignment(spark, state_dir):
    """`compact_cluster_state` (VERDICT r10 task #3): the resolved
    (doc_id, cluster_id) assignment is IDENTICAL before and after
    compaction; absorbed redirect partitions are gone (only the newest
    batch's merge events remain); folded roots rows carry fully-resolved
    labels in the batch_id = -1 partition while the newest batch's
    partition survives verbatim."""
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        compact_cluster_state,
    )

    try:
        process_cluster_batch(_pairs(spark, [(1, 2), (5, 6)]), 0, state_dir)
        process_cluster_batch(_pairs(spark, [(3, 4)]), 1, state_dir)
        process_cluster_batch(_pairs(spark, [(2, 4)]), 2, state_dir)  # 3→1
        process_cluster_batch(_pairs(spark, [(4, 6)]), 3, state_dir)  # 5→1
        before = _resolved(spark, state_dir)
        assert before == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}

        stats = compact_cluster_state(spark, state_dir)
        assert _resolved(spark, state_dir) == before
        # batch-3 merge event (5→1) is the only redirect left
        redirects = spark.read.parquet(_redirects_path(state_dir))
        assert stats["redirect_rows"] == redirects.count() == 1
        assert stats["redirect_partitions"] == 1
        assert {int(r["old_root"]) for r in redirects.collect()} == {5}
        # folded rows live in -1 resolved through PRE-newest redirects
        # only (batch 2's 3→1 absorbed; batch 3's 5→1 still applies at
        # read time via the kept redirect partition); the newest batch's
        # roots partition is empty here — pair (4,6) introduced no new
        # docs — and no doc appears outside -1
        roots = spark.table(_roots_table(state_dir))
        hist = {
            r["doc_id"]: r["root"]
            for r in roots.filter(F.col("batch_id") == -1).collect()
        }
        assert hist == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
        assert roots.filter(F.col("batch_id") != -1).count() == 0
    finally:
        drop_state(spark, state_dir)


def test_compaction_crash_window_replay_converges(spark, state_dir):
    """The newest batch stays replayable after compaction: replaying it
    against the compacted state must reproduce identical roots/redirect
    rows (its pre-batch reads see the folded history exactly as resolved
    state), and a crash BETWEEN the roots swap and the redirect deletes
    (simulated by re-running compaction over leftover absorbed rows) is
    harmless."""
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        compact_cluster_state,
    )

    try:
        process_cluster_batch(_pairs(spark, [(1, 2)]), 0, state_dir)
        process_cluster_batch(_pairs(spark, [(3, 4)]), 1, state_dir)
        last = _pairs(spark, [(2, 4), (7, 8)])
        process_cluster_batch(last, 2, state_dir)
        compact_cluster_state(spark, state_dir)
        roots1 = sorted(
            tuple(r) for r in spark.table(_roots_table(state_dir)).collect()
        )
        red1 = sorted(
            tuple(r)
            for r in spark.read.parquet(_redirects_path(state_dir)).collect()
        )
        assigned1 = _resolved(spark, state_dir)

        # replay the newest batch against the compacted state
        process_cluster_batch(last, 2, state_dir)
        assert sorted(
            tuple(r) for r in spark.table(_roots_table(state_dir)).collect()
        ) == roots1
        assert sorted(
            tuple(r)
            for r in spark.read.parquet(_redirects_path(state_dir)).collect()
        ) == red1
        assert _resolved(spark, state_dir) == assigned1

        # double-compaction (the crash-between-swap-and-deletes shape:
        # absorbed rows present, fold runs again) is a no-op
        compact_cluster_state(spark, state_dir)
        assert _resolved(spark, state_dir) == assigned1
    finally:
        drop_state(spark, state_dir)
