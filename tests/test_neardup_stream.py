"""Streaming incremental near-dup (streaming/neardup.py) ≡ batch LSH.

The parity operator itself is oracle-checked (test_oracle_parity); this
pins the semantics that make it non-vacuous (pairs are actually flagged,
both across batches and within one batch) plus the SCALE properties of
the bucketed state design: the band join reads the accumulated state with
no Exchange, state appends are replay-idempotent, a fresh session
re-registers surviving state files instead of wiping them, and compaction
shrinks the file count without changing rows or the Exchange-free plan."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.operators.stream_parity import (
    NEARDUP_STREAM_BATCHES,
    neardup_stream_parity,
)
from ai_powered_data_pipeline_assistant_spark.streaming import (
    state_compaction as sc,
)
from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
    STATE_SPECS,
)


def _tables(state_dir):
    return sc.state_tables(state_dir, STATE_SPECS)


def test_stream_matches_batch_and_is_nonvacuous(spark, sf_dir):
    row = neardup_stream_parity(spark, sf_dir).collect()[0]
    assert row.n_batches == NEARDUP_STREAM_BATCHES
    assert row.stream_equals_batch and row.n_mismatches == 0
    # non-vacuous: the corpus contains near-dups under the arrival rule,
    # the stream found every one of them
    assert row.n_pairs_stream == row.n_pairs_batch > 0


def test_pairing_rule_covers_within_batch(spark, sf_dir):
    """The within-batch leg must contribute real pairs on this corpus —
    otherwise the extended rule (ADVICE r7: same-batch near-dups were
    permanently invisible) is vacuously tested."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        minhash_lsh_pairs_for,
    )

    nb = NEARDUP_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    within = minhash_lsh_pairs_for(
        docs, pair_cond=lambda a, b: ((a % nb) == (b % nb)) & (a > b)
    ).count()
    assert within > 0


def _run_stream_once(spark, sf_dir, tmp):
    """Replay the corpus as ordered single-file micro-batches through the
    real stream (the parity twin's harness) and leave state/pairs under
    ``tmp`` for the scale-property assertions."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        run_neardup_stream,
    )

    nb = NEARDUP_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = f"{tmp}/src"
    os.makedirs(src)
    for i in range(nb):
        part_dir = f"{tmp}/part{i}"
        docs.filter(F.col("doc_id") % nb == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = f"{src}/batch{i:03d}.parquet"
        shutil.copyfile(f"{part_dir}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_neardup_stream(stream, f"{tmp}/state", f"{tmp}/pairs", f"{tmp}/ckpt")
    assert q.awaitTermination(300), "stream did not finish in 300 s"


def test_state_layout_scale_properties(spark, sf_dir):
    """One stream lifecycle, three scale pins (replay and re-registration
    of the state tables: tests/test_state_lifecycle.py):
    1. the band join against accumulated state runs with the Exchange on
       the BATCH side only — the bucketed state scan re-shuffles nothing;
    2. the overlap-window state reads are catalog partition-pruned;
    3. compaction reduces the file count, preserves rows, and keeps the
       Exchange-free join plan."""
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        compact_neardup_state,
        drop_state,
    )

    tmp = tempfile.mkdtemp(prefix="neardup_layout_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _run_stream_once(spark, sf_dir, tmp)
        state_dir = f"{tmp}/state"
        tables = _tables(state_dir)
        bands_t = tables["bands"]
        n_bands = spark.table(bands_t).count()
        assert n_bands > 0

        # --- 1. Exchange only on the probe/batch side (force SMJ so the
        # assertion is about the bucket layout, not a broadcast) ---
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def _probe():
            # keep the table's exact column types: a probe-side type cast
            # would land on the STATE side and disable the bucketed scan
            rows = [
                (r["doc_id"], r["band"], r["band_key"])
                for r in spark.table(bands_t).limit(50).collect()
            ]
            return spark.createDataFrame(
                rows, "a_id long, band int, band_key string"
            )

        j = _probe().join(
            spark.table(bands_t).select(
                F.col("doc_id").alias("b_id"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # limit() materialization aside, the STATE side scan must feed the
        # join without an Exchange: exactly one hash Exchange (probe side)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)

        last_batch = spark.table(bands_t).agg(F.max("batch_id")).collect()[0][0]

        # --- 2. partition pruning of the overlap-window state reads
        # (ADVICE r12): while a replayed batch's append rewrites the
        # current batch_id partition on a pool thread, the main thread
        # reads state through `.filter(batch_id < current)`. That is safe
        # ONLY because the predicate prunes at the catalog partition level
        # (before file listing). Pin the shape: the filter must appear in
        # the scan's PartitionFilters, not as a post-scan Filter.
        pruned = spark.table(bands_t).filter(F.col("batch_id") < last_batch)
        scan_plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in scan_plan, scan_plan
        import re as _re

        pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", scan_plan).group(1)
        assert "batch_id" in pf, scan_plan

        # --- 3. compaction ---
        rows_before = sorted(
            map(tuple, spark.table(bands_t).drop("batch_id").collect())
        )
        files_before = sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(state_dir)
        )
        files_after_map = compact_neardup_state(spark, state_dir)
        files_after = sum(files_after_map.values())
        assert files_after < files_before
        # two partitions (-1 fold + the preserved newest batch), each
        # pre-shuffled to the bucket layout → ≤ 2×buckets per table
        assert files_after_map["bands"] <= 2 * sc.STATE_BUCKETS
        rows_after = sorted(
            map(tuple, spark.table(bands_t).drop("batch_id").collect())
        )
        assert rows_after == rows_before
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # rebuild the probe: the pre-compaction DataFrame is bound to the
        # dropped table's files
        j2 = _probe().join(
            spark.table(bands_t).select(
                F.col("doc_id").alias("b_id"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan2, plan2
        assert plan2.count("Exchange hashpartitioning") == 1, plan2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        drop_state(spark, f"{tmp}/state")
        shutil.rmtree(tmp, ignore_errors=True)


def test_compaction_rebuckets_state(spark, sf_dir):
    """Bucket-count migration: the count is fixed at table creation, so a
    corpus that outgrows its provisioning re-buckets in the compaction
    pass. Pins: rows preserved; a fresh-session re-registration picks up
    the new width (the catalog claiming the WRONG count would silently
    mis-prune the bucketed join); the next batch's appends are aligned to
    the new width — one file per bucket, not one per (task, bucket); the
    Exchange-free band join holds at the new width; a later compaction
    WITHOUT n_buckets inherits it. 6 does not divide by the creation
    width, so an append repartitioned at the creation width would land
    up to 4 × 6 files per table."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        compact_neardup_state,
        drop_state,
        process_neardup_batch,
    )

    nb = 3
    new_width = 6
    tmp = tempfile.mkdtemp(prefix="neardup_rebucket_")
    state_dir = f"{tmp}/state"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def width(table):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        return int(
            next(r["data_type"] for r in desc if r["col_name"] == "Num Buckets")
        )

    try:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 300)
        )
        for i in range(2):
            process_neardup_batch(
                docs.filter(F.col("doc_id") % nb == i), i, state_dir,
                f"{tmp}/pairs",
            )
        tables = _tables(state_dir)
        bands_t = tables["bands"]
        rows_before = sorted(
            map(tuple, spark.table(bands_t).drop("batch_id").collect())
        )

        files_map = compact_neardup_state(spark, state_dir, n_buckets=new_width)
        # -1 fold + the preserved newest batch partition → ≤ 2×width
        assert 1 <= files_map["bands"] <= 2 * new_width
        assert (
            sorted(map(tuple, spark.table(bands_t).drop("batch_id").collect()))
            == rows_before
        )

        # fresh-session re-registration resolves the re-bucketed layout
        drop_state(spark, state_dir)
        process_neardup_batch(
            docs.filter(F.col("doc_id") % nb == 2), 2, state_dir, f"{tmp}/pairs"
        )
        assert all(width(t) == new_width for t in tables.values())
        assert (
            sorted(
                map(
                    tuple,
                    spark.table(bands_t)
                    .filter(F.col("batch_id") < 2)
                    .drop("batch_id")
                    .collect(),
                )
            )
            == rows_before
        )
        for key in tables:
            part = f"{state_dir}/{key}/batch_id=2"
            n_files = sum(f.endswith(".parquet") for f in os.listdir(part))
            assert 1 <= n_files <= new_width, (key, n_files)

        # the band join is still Exchange-free on the re-bucketed state
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe_rows = [
            (r["doc_id"], r["band"], r["band_key"])
            for r in spark.table(bands_t).limit(20).collect()
        ]
        probe = spark.createDataFrame(
            probe_rows, "a_id long, band int, band_key string"
        )
        j = probe.join(
            spark.table(bands_t).select(
                F.col("doc_id").alias("b_id"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan

        # a later compaction without n_buckets INHERITS the new width
        files_map2 = compact_neardup_state(spark, state_dir)
        assert 1 <= files_map2["bands"] <= 2 * new_width
        assert width(bands_t) == new_width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        drop_state(spark, state_dir)
        shutil.rmtree(tmp, ignore_errors=True)

def test_overcap_partner_fetch_uses_bucketed_semi_join(spark, sf_dir, monkeypatch):
    """VERDICT r8 task #5: above NEARDUP_ISIN_CAP the partner fetch must
    fall back to a LEFT-SEMI join against the candidate-id frame — NOT an
    unpruned full postings scan. Pins (a) plan shape: semi join with the
    bucketed state scan Exchange-free, and (b) parity: pairs under cap=0
    (every batch takes the fallback) equal pairs under the default cap."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming import neardup
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        partner_pruned,
        drop_state,
        process_neardup_batch,
    )

    nb = 3
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    tmp_a = tempfile.mkdtemp(prefix="neardup_cap_a_")
    tmp_b = tempfile.mkdtemp(prefix="neardup_cap_b_")
    try:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 300)
        )

        seed = docs.limit(1).collect()[0]
        copy = spark.createDataFrame(
            [(1_000_007, seed["text"])], "doc_id long, text string"
        )

        def run(tmp):
            for i in range(nb):
                batch = docs.filter(F.col("doc_id") % nb == i)
                if i == nb - 1:  # guarantee ≥1 cross-batch pair
                    batch = batch.unionByName(copy)
                process_neardup_batch(
                    batch, i, f"{tmp}/state", f"{tmp}/pairs"
                )
            return sorted(map(tuple, spark.read.parquet(f"{tmp}/pairs").collect()))

        pairs_default = run(tmp_a)
        monkeypatch.setattr(neardup, "NEARDUP_ISIN_CAP", 0)
        pairs_fallback = run(tmp_b)
        assert pairs_fallback == pairs_default and len(pairs_default) > 0

        # plan shape of the fallback access path against the real bucketed
        # state table: semi join, state side scanned in its bucket layout
        # (Bucketed: true), the only Exchange is the id frame's
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        tables = _tables(f"{tmp_b}/state")
        state_df = spark.table(tables["postings"]).select("doc_id", "h")
        cand_ids = (
            spark.table(tables["postings"]).select("doc_id").distinct().limit(20)
        )
        pruned = partner_pruned(state_df, None, cand_ids)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        drop_state(spark, f"{tmp_a}/state")
        drop_state(spark, f"{tmp_b}/state")
        shutil.rmtree(tmp_a, ignore_errors=True)
        shutil.rmtree(tmp_b, ignore_errors=True)


def test_undercap_partner_fetch_is_pushed_in_with_bucket_pruning(spark, sf_dir):
    """Under the cap the partner fetch is one parsed ``doc_id IN (...)``
    expression, not a per-id ``isin``; it must still plan as a pushed In
    on doc_id that prunes buckets of the doc_id-bucketed state, and return
    the rows ``isin`` returns (an empty list returns none)."""
    import re

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        drop_state,
        partner_pruned,
        process_neardup_batch,
    )

    tmp = tempfile.mkdtemp(prefix="neardup_undercap_")
    state_dir = f"{tmp}/state"
    try:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 60)
        )
        process_neardup_batch(docs, 0, state_dir)
        state_df = spark.table(_tables(state_dir)["postings"]).select(
            "doc_id", "h"
        )
        ids = [int(r["doc_id"]) for r in state_df.select("doc_id").distinct()
               .orderBy("doc_id").limit(2).collect()]
        assert len(ids) == 2
        pruned = partner_pruned(state_df, ids, None)
        # a bare filter needs no bucketed scan, so the planner would drop
        # it and with it the SelectedBucketsCount line; keep it on to
        # read the bucket set the In predicate prunes to
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PushedFilters: \[[^\]]*In\(doc_id", plan), plan
        sel = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert sel and int(sel[1]) < int(sel[2]), plan
        want = state_df.filter(F.col("doc_id").isin(ids))
        assert sorted(map(tuple, pruned.collect())) == sorted(
            map(tuple, want.collect())
        )
        assert partner_pruned(state_df, [], None).count() == 0
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        drop_state(spark, state_dir)
        shutil.rmtree(tmp, ignore_errors=True)


def test_batch_replay_reproduces_identical_pairs_and_state(spark, sf_dir):
    """The crash window, executed: after the stream completes (state
    already contains every batch), re-processing the LAST batch — exactly
    what a checkpoint replay does — must leave pairs AND state
    byte-identical. Pre-fix, the replay read its own rows back from state
    and emitted self-pairs / both-orientation duplicates into its pairs
    partition; the strictly-pre-batch state filter pins that closed."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        drop_state,
        process_neardup_batch,
    )

    nb = NEARDUP_STREAM_BATCHES
    tmp = tempfile.mkdtemp(prefix="neardup_replay_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _run_stream_once(spark, sf_dir, tmp)
        pairs_dir = f"{tmp}/pairs"
        state_dir = f"{tmp}/state"
        tables = _tables(state_dir)
        pairs_before = sorted(
            map(tuple, spark.read.parquet(pairs_dir).collect())
        )
        state_before = {
            k: sorted(map(tuple, spark.table(n).collect()))
            for k, n in tables.items()
        }
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        last = nb - 1
        process_neardup_batch(
            docs.filter(F.col("doc_id") % nb == last), last, state_dir, pairs_dir
        )
        pairs_after = sorted(map(tuple, spark.read.parquet(pairs_dir).collect()))
        assert pairs_after == pairs_before
        for k, n in tables.items():
            assert sorted(map(tuple, spark.table(n).collect())) == state_before[k], k
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        drop_state(spark, f"{tmp}/state")
        shutil.rmtree(tmp, ignore_errors=True)


def test_replay_after_compaction_in_crash_window(spark, sf_dir):
    """Compaction run INSIDE the replay window (stream died after the
    last batch's state commits but before its checkpoint commit; the
    operator compacts the 'stopped' stream, then the restart replays the
    last batch): pairs must stay identical and state must not grow.
    Two defenses pin this: the compactor never folds the newest batch
    partition into -1 (so the replay's dynamic overwrite replaces its own
    rows instead of duplicating folded copies), and the per-batch reader
    excludes the arriving batch's doc ids by IDENTITY, not just by
    batch_id provenance (round-9 review)."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        compact_neardup_state,
        drop_state,
        process_neardup_batch,
    )

    nb = NEARDUP_STREAM_BATCHES
    tmp = tempfile.mkdtemp(prefix="neardup_compact_replay_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _run_stream_once(spark, sf_dir, tmp)
        pairs_dir = f"{tmp}/pairs"
        state_dir = f"{tmp}/state"
        tables = _tables(state_dir)
        pairs_before = sorted(
            map(tuple, spark.read.parquet(pairs_dir).collect())
        )
        state_rows_before = {
            k: sorted(
                map(tuple, spark.table(n).drop("batch_id").collect())
            )
            for k, n in tables.items()
        }
        compact_neardup_state(spark, state_dir)
        # the newest batch partition must survive the fold un-merged
        last = nb - 1
        assert (
            spark.table(tables["bands"])
            .filter(F.col("batch_id") == last)
            .count()
            > 0
        )
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        process_neardup_batch(
            docs.filter(F.col("doc_id") % nb == last), last, state_dir, pairs_dir
        )
        pairs_after = sorted(map(tuple, spark.read.parquet(pairs_dir).collect()))
        assert pairs_after == pairs_before
        for k, n in tables.items():
            assert (
                sorted(map(tuple, spark.table(n).drop("batch_id").collect()))
                == state_rows_before[k]
            ), f"{k}: replay after compaction changed/duplicated state rows"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        drop_state(spark, f"{tmp}/state")
        shutil.rmtree(tmp, ignore_errors=True)


def test_rearrived_doc_id_fails_loudly_but_replay_passes(spark, sf_dir):
    """doc_id-uniqueness enforcement (ADVICE r10): a doc_id resubmitted in
    a LATER batch must raise (its prior version's state would otherwise be
    silently excluded from pairing while duplicate state rows accumulate),
    while a REPLAY of the same batch — same batch_id, the crash-window
    path — stays legal and idempotent."""
    import pytest

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        drop_state,
        process_neardup_batch,
    )

    tmp = tempfile.mkdtemp(prefix="neardup_rearrival_")
    state_dir = f"{tmp}/state"
    pairs_dir = f"{tmp}/pairs"
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 200)
        )
        b0 = docs.filter(F.col("doc_id") % 2 == 0)
        process_neardup_batch(b0, 0, state_dir, pairs_dir)
        tables = _tables(state_dir)
        state_before = {k: spark.table(n).count() for k, n in tables.items()}

        # replay of batch 0 (same batch_id): legal, state unchanged
        process_neardup_batch(b0, 0, state_dir, pairs_dir)
        assert {
            k: spark.table(n).count() for k, n in tables.items()
        } == state_before

        # one already-seen id inside a LATER batch: loud failure, and the
        # failed batch must not have appended state NOR landed any gate
        # output (round 12: the uniqueness gate runs overlapped with the
        # candidate build on a pool thread, but is joined before any
        # write starts — a rejected batch stays entirely write-free)
        b1 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(b0.limit(1))
        with pytest.raises(ValueError, match="already have state"):
            process_neardup_batch(
                b1, 1, state_dir, pairs_dir, decisions_dir=f"{tmp}/decisions"
            )
        assert {
            k: spark.table(n).count() for k, n in tables.items()
        } == state_before
        import os

        assert not os.path.exists(f"{tmp}/decisions/batch_id=1"), (
            "rejected batch must not land gate decisions"
        )
        assert not os.path.exists(f"{pairs_dir}/batch_id=1"), (
            "rejected batch must not land pair output"
        )

        # fresh ids in the later batch: proceeds normally
        process_neardup_batch(
            docs.filter(F.col("doc_id") % 2 == 1), 1, state_dir, pairs_dir
        )
        assert spark.table(tables["sizes"]).count() > state_before["sizes"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        drop_state(spark, state_dir)
        shutil.rmtree(tmp, ignore_errors=True)
