"""Incremental streaming exact-substring dedup: batch-replay idempotency,
fresh-session state re-registration, and cross-batch gating."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.streaming import (
    state_compaction as sc,
)
from ai_powered_data_pipeline_assistant_spark.streaming.substring_stream import (
    STATE_SPECS,
    compact_substring_state,
    drop_state,
    process_substring_batch,
)


def _state_table(state_dir):
    return sc.state_tables(state_dir, STATE_SPECS)["wins"]


@pytest.fixture()
def tmpdirs():
    tmp = tempfile.mkdtemp(prefix="substr_stream_test_")
    yield f"{tmp}/state", f"{tmp}/acct", tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# 10 tokens → windows at pos 0..2 (K=8); doc 1 repeats doc 0's text so
# every window of doc 1 is a cross-batch duplicate.
_TEXT_A = "a b c d e f g h i j"
_TEXT_B = "x y z q r s t u v w"


def test_cross_batch_gating_and_accounting(spark, tmpdirs):
    state_dir, out_dir, _ = tmpdirs
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        process_substring_batch(
            _mkdocs(spark, [(1, _TEXT_A), (2, _TEXT_B)]), 1, state_dir, out_dir
        )
        acct = {
            r["doc_id"]: r
            for r in spark.read.parquet(out_dir).collect()
        }
        assert acct[0]["tokens_removed"] == 0  # first copy survives
        assert acct[1]["tokens_removed"] == 10  # full repeat excised
        assert acct[1]["dup_windows"] == 3
        assert acct[2]["tokens_removed"] == 0  # fresh text untouched
    finally:
        drop_state(spark, state_dir)


def test_replay_is_idempotent(spark, tmpdirs):
    """Re-running a completed batch (the crash window between the parquet
    commits and the checkpoint commit) must leave accounting AND state
    byte-identical."""
    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        batch1 = _mkdocs(spark, [(1, _TEXT_A), (2, _TEXT_B)])
        process_substring_batch(batch1, 1, state_dir, out_dir)
        acct1 = sorted(
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        )
        state1 = sorted(tuple(r) for r in spark.table(table).collect())
        # replay batch 1
        process_substring_batch(batch1, 1, state_dir, out_dir)
        acct2 = sorted(
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        )
        state2 = sorted(tuple(r) for r in spark.table(table).collect())
        assert acct1 == acct2
        assert state1 == state2
    finally:
        drop_state(spark, state_dir)


def test_fresh_session_reregisters_surviving_state(spark, tmpdirs):
    """Dropping the catalog entry (what a restart into a fresh in-memory
    catalog looks like) must NOT lose the seen-window corpus: the next
    batch re-registers the surviving files and still gates pre-drop
    duplicates."""
    state_dir, out_dir, _ = tmpdirs
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        drop_state(spark, state_dir)  # catalog gone, files survive
        process_substring_batch(
            _mkdocs(spark, [(1, _TEXT_A)]), 1, state_dir, out_dir
        )
        acct = {
            r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()
        }
        assert acct[1]["tokens_removed"] == 10  # batch-0 windows remembered
    finally:
        drop_state(spark, state_dir)


def test_within_batch_first_wins(spark, tmpdirs):
    state_dir, out_dir, _ = tmpdirs
    try:
        process_substring_batch(
            _mkdocs(spark, [(5, _TEXT_A), (6, _TEXT_A)]), 0, state_dir, out_dir
        )
        acct = {
            r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()
        }
        assert acct[5]["tokens_removed"] == 0  # lower doc_id wins
        assert acct[6]["tokens_removed"] == 10
    finally:
        drop_state(spark, state_dir)


def test_compaction_preserves_state_and_still_gates(spark, tmpdirs):
    """Compaction folds per-batch file sets into one bucket-aligned
    partition at the SAME path; the seen-window corpus survives byte-equal
    and the next batch still gates pre-compaction duplicates."""
    from ai_powered_data_pipeline_assistant_spark import hadoop_fs

    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        process_substring_batch(
            _mkdocs(spark, [(1, _TEXT_B)]), 1, state_dir, out_dir
        )
        before = sorted(
            r["h"] for r in spark.table(table).select("h").collect()
        )
        files_before = hadoop_fs.count_parquet(
            spark, f"{state_dir.rstrip('/')}/wins"
        )
        files_after = compact_substring_state(spark, state_dir)
        assert files_after <= files_before
        after = sorted(
            r["h"] for r in spark.table(table).select("h").collect()
        )
        assert before == after
        # post-compaction batches still see the full corpus
        process_substring_batch(
            _mkdocs(spark, [(2, _TEXT_A)]), 2, state_dir, out_dir
        )
        acct = {
            r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()
        }
        assert acct[2]["tokens_removed"] == 10
    finally:
        drop_state(spark, state_dir)


def test_replay_after_compaction_in_crash_window(spark, tmpdirs):
    """Compaction inside the replay window: the compactor keeps the
    newest batch partition un-folded, so a replay of that batch
    dynamic-overwrites its own rows instead of seeing them in -1 as
    'history' (which would rewrite its accounting with everything
    dropped) or duplicating them (round-9 review)."""
    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        batch1 = _mkdocs(spark, [(1, _TEXT_A), (2, _TEXT_B)])
        process_substring_batch(batch1, 1, state_dir, out_dir)
        acct_before = sorted(
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        )
        state_before = sorted(
            r["h"] for r in spark.table(table).select("h").collect()
        )
        compact_substring_state(spark, state_dir)
        # newest partition survives the fold
        assert (
            spark.table(table).filter(F.col("batch_id") == 1).count() > 0
        )
        process_substring_batch(batch1, 1, state_dir, out_dir)  # replay
        acct_after = sorted(
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        )
        state_after = sorted(
            r["h"] for r in spark.table(table).select("h").collect()
        )
        assert acct_after == acct_before
        assert state_after == state_before
    finally:
        drop_state(spark, state_dir)


def test_state_side_reads_exchange_free(spark, tmpdirs):
    """The module's scale claim, plan-asserted (the near-dup module's
    Exchange-free pin, applied to the wins table): joining a probe frame
    against the h-bucketed state shuffles ONLY the probe side — the
    accumulated state scan is bucketed and feeds the join in place."""
    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = spark.createDataFrame(
            [(1, 0, 123)], "doc_id long, pos long, h long"
        )
        j = probe.join(spark.table(table).select("h"), "h", "left_anti")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        drop_state(spark, state_dir)


def test_compaction_collapses_cross_partition_duplicate_hashes(spark, tmpdirs):
    """If a replay interleaving bug ever lands a hash in the newest
    partition that history already owns, compaction must collapse the two
    rows to ONE, assigned to the history side (-1) — so a later replay of
    the newest batch (which overwrites its own partition) cannot erase
    the corpus's memory of that window."""
    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        process_substring_batch(
            _mkdocs(spark, [(1, _TEXT_B)]), 1, state_dir, out_dir
        )
        # inject the bug: one of batch 0's hashes duplicated into batch 1
        h0 = spark.table(table).filter(F.col("batch_id") == 0).first()["h"]
        spark.createDataFrame(
            [(h0, 1)], "h long, batch_id long"
        ).write.insertInto(table, overwrite=False)
        assert (
            spark.table(table).filter(F.col("h") == h0).count() == 2
        )
        compact_substring_state(spark, state_dir)
        rows = spark.table(table).filter(F.col("h") == h0).collect()
        assert len(rows) == 1
        assert rows[0]["batch_id"] == -1  # history side wins
    finally:
        drop_state(spark, state_dir)


def test_state_stores_one_hash_per_distinct_window(spark, tmpdirs):
    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A), (1, _TEXT_A)]), 0, state_dir, out_dir
        )
        state = spark.table(table)
        n = state.count()
        n_distinct = state.select("h").distinct().count()
        assert n == n_distinct == 3  # 3 windows, duplicates not re-stored
    finally:
        drop_state(spark, state_dir)


def test_text_output_rewrites_and_replays_idempotently(spark, tmpdirs):
    """The rewrite leg (round 10): with ``text_out_dir`` the gate lands
    each batch's rewritten documents — cross-batch repeats excised, fresh
    text verbatim — and a replay of a completed batch leaves the text
    table byte-identical (batch-partitioned dynamic overwrite)."""
    state_dir, out_dir, tmp = tmpdirs
    text_dir = f"{tmp}/text"
    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir,
            text_out_dir=text_dir,
        )
        batch1 = _mkdocs(spark, [(1, _TEXT_A), (2, _TEXT_B)])
        process_substring_batch(
            batch1, 1, state_dir, out_dir, text_out_dir=text_dir
        )
        text = {
            r["doc_id"]: r for r in spark.read.parquet(text_dir).collect()
        }
        assert text[0]["kept_text"] == _TEXT_A  # first copy survives whole
        assert text[0]["tokens_kept"] == 10
        assert text[1]["kept_text"] == ""  # full repeat excised
        assert text[1]["tokens_kept"] == 0
        assert text[2]["kept_text"] == _TEXT_B  # fresh text verbatim
        t1 = sorted(tuple(r) for r in spark.read.parquet(text_dir).collect())
        process_substring_batch(  # replay batch 1
            batch1, 1, state_dir, out_dir, text_out_dir=text_dir
        )
        t2 = sorted(tuple(r) for r in spark.read.parquet(text_dir).collect())
        assert t1 == t2
    finally:
        drop_state(spark, state_dir)


def test_compaction_rebuckets_state_to_new_width(spark, tmpdirs):
    """Re-bucketing compaction (round 10): `compact_substring_state`
    with ``n_buckets`` rewrites the state at a new bucket width, the
    width marker swaps in WITH the data, a fresh-session re-registration
    picks the new width up from the marker (not the module constant),
    and post-re-bucket batches still gate the full pre-compaction
    corpus."""
    state_dir, out_dir, _ = tmpdirs
    table = _state_table(state_dir)
    new_width = sc.STATE_BUCKETS * 2

    def width():
        ddl = spark.sql(f"SHOW CREATE TABLE {table}").first()[0]
        return int(ddl.split(" BUCKETS")[0].rsplit("INTO ", 1)[1])

    try:
        process_substring_batch(
            _mkdocs(spark, [(0, _TEXT_A)]), 0, state_dir, out_dir
        )
        process_substring_batch(
            _mkdocs(spark, [(1, _TEXT_B)]), 1, state_dir, out_dir
        )
        before = sorted(
            r["h"] for r in spark.table(table).select("h").collect()
        )
        assert width() == sc.STATE_BUCKETS
        compact_substring_state(spark, state_dir, n_buckets=new_width)
        assert width() == new_width
        # fresh session: drop the catalog entry, force re-registration
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        process_substring_batch(
            _mkdocs(spark, [(2, _TEXT_A)]), 2, state_dir, out_dir
        )
        assert width() == new_width
        acct = {
            r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()
        }
        assert acct[2]["tokens_removed"] == 10  # pre-compaction dup gated
        after = sorted(
            r["h"]
            for r in spark.table(table)
            .filter(F.col("batch_id") < 2)
            .select("h")
            .collect()
        )
        assert before == after  # corpus survived the re-bucket byte-equal
    finally:
        drop_state(spark, state_dir)
