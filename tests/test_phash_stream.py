"""Streaming perceptual gate (streaming/phash_stream.py) ≡ batch banded
pHash. The parity operator is oracle-checked (test_oracle_parity); this
pins the streaming machinery: non-vacuous cross-batch AND within-batch
pairs, replay idempotency, re-arrival enforcement, and compaction row
preservation + post-compaction ingest."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
    media_table,
)
from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
    STATE_SPECS,
    compact_phash_state,
    drop_state,
    process_phash_batch,
)
from ai_powered_data_pipeline_assistant_spark.streaming.state_compaction import (
    state_tables,
)


@pytest.fixture()
def dirs():
    tmp = tempfile.mkdtemp(prefix="phash_stream_test_")
    yield f"{tmp}/state", f"{tmp}/pairs"
    shutil.rmtree(tmp, ignore_errors=True)


def _media(spark, sf_dir, cap=300):
    return media_table(spark, sf_dir).select(
        "media_id", "modality", "payload"
    ).filter(F.col("media_id") < cap)


def test_cross_and_within_batch_pairs(spark, sf_dir, dirs):
    """Both pairing legs fire on the synthetic corpus (it contains exact
    duplicate texts → hamming-0 perceptual pairs on both sides of a batch
    boundary), and every emitted pair respects the arrival orientation."""
    state, pairs_dir = dirs
    nb = 4  # coprime with the 3-way modality split (see stream_parity)
    media = _media(spark, sf_dir, cap=500)
    try:
        for i in range(nb):
            process_phash_batch(
                media.filter(F.col("media_id") % nb == i), i, state, pairs_dir
            )
        pairs = spark.read.parquet(pairs_dir).collect()
        assert pairs, "no perceptual pairs on the fixture corpus"
        cross = [
            r for r in pairs if r["later_id"] % nb != r["earlier_id"] % nb
        ]
        within = [
            r for r in pairs if r["later_id"] % nb == r["earlier_id"] % nb
        ]
        assert cross and within
        for r in within:
            assert r["later_id"] > r["earlier_id"], r
        # the pair batch provenance is the LATER endpoint's arrival batch
        for r in pairs:
            assert r["batch_id"] == r["later_id"] % nb, r
    finally:
        drop_state(spark, state)


def test_replay_and_rearrival(spark, sf_dir, dirs):
    """Replaying the newest batch (crash window) reproduces identical
    pairs and state; a re-arrived media_id in a LATER batch fails loudly
    without touching state."""
    state, pairs_dir = dirs
    media = _media(spark, sf_dir)
    b0 = media.filter(F.col("media_id") % 2 == 0)
    b1 = media.filter(F.col("media_id") % 2 == 1)
    try:
        process_phash_batch(b0, 0, state, pairs_dir)
        process_phash_batch(b1, 1, state, pairs_dir)
        tables = state_tables(state, STATE_SPECS)
        snap = lambda: {  # noqa: E731
            k: sorted(map(tuple, spark.table(n).collect()))
            for k, n in tables.items()
        }
        pairs_snap = lambda: sorted(  # noqa: E731
            map(tuple, spark.read.parquet(pairs_dir).collect())
        )
        s1, p1 = snap(), pairs_snap()
        process_phash_batch(b1, 1, state, pairs_dir)  # replay: legal
        assert snap() == s1 and pairs_snap() == p1

        import os as _os
        import tempfile as _tempfile

        dec_dir = _tempfile.mkdtemp(prefix="phash_dec_") + "/decisions"
        with pytest.raises(ValueError, match="already have state"):
            process_phash_batch(b0.limit(1), 2, state, pairs_dir, dec_dir)
        assert snap() == s1
        # write-free rejection (ADVICE r12): the gate joins the uniqueness
        # check BEFORE any write, so the rejected batch must leave no
        # batch_id=2 partition behind in EITHER output — the state-table
        # snapshot alone does not pin the pairs/decisions sinks
        assert pairs_snap() == p1
        assert not any(
            "batch_id=2" in d for d, _, _ in _os.walk(pairs_dir)
        ), "rejected batch leaked a pairs partition"
        assert not _os.path.exists(dec_dir) or not any(
            "batch_id=" in d for d, _, _ in _os.walk(dec_dir)
        ), "rejected batch leaked a decisions partition"
    finally:
        drop_state(spark, state)


def test_compaction_preserves_state_and_stream_continues(spark, sf_dir, dirs):
    """Compaction folds all but the newest batch partition, preserves
    every row, and later batches ingest against the compacted layout
    (re-registration: tests/test_state_lifecycle.py)."""
    state, pairs_dir = dirs
    media = _media(spark, sf_dir)
    nb = 4
    try:
        for i in range(2):
            process_phash_batch(
                media.filter(F.col("media_id") % nb == i), i, state, pairs_dir
            )
        tables = state_tables(state, STATE_SPECS)
        rows_before = {
            k: sorted(
                map(tuple, spark.table(n).drop("batch_id").collect())
            )
            for k, n in tables.items()
        }
        files = compact_phash_state(spark, state)
        assert all(n > 0 for n in files.values())
        for k, n in tables.items():
            assert sorted(
                map(tuple, spark.table(n).drop("batch_id").collect())
            ) == rows_before[k]
            bids = {
                r["batch_id"]
                for r in spark.table(n).select("batch_id").distinct().collect()
            }
            assert bids == {-1, 1}, (k, bids)  # history + newest

        process_phash_batch(
            media.filter(F.col("media_id") % nb == 2), 2, state, pairs_dir
        )
        assert (
            spark.table(tables["phashes"]).count()
            > len(rows_before["phashes"])
        )
    finally:
        drop_state(spark, state)


def _sentinel_jobs(spark) -> list[int]:
    """Fire a tiny action in a group of its own and return its job ids,
    sorted: job ids are sequential, so two sentinels bracket the jobs
    fired between them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "phash-stream-sentinel"
    before = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, "sentinel")
    try:
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return sorted(set(tracker.getJobIdsForGroup(group)) - before)


def test_run_phash_stream_wiring(spark, sf_dir, dirs):
    """End-to-end through the actual writeStream wiring (round-11 review:
    the parity drives process_phash_batch directly, so a defect confined
    to run_phash_stream's outputMode/checkpoint/trigger plumbing would
    otherwise ship untested): a file-source stream at one file per
    micro-batch must terminate and produce exactly the batch operator's
    banded pair set (unordered — the file order is the source's, not
    ours). Every job the query fires — the overlapped gate, state
    appends and sinks included — lands in the query's job group
    (``runId``, the group ``StreamingQuery.stop()`` cancels), none
    outside any group."""
    import tempfile as _tf

    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        _phash_pairs,
        phash_projection,
    )
    from ai_powered_data_pipeline_assistant_spark.execution import materialize
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        run_phash_stream,
    )

    state, pairs_dir = dirs
    tmp = _tf.mkdtemp(prefix="phash_wire_")
    src = f"{tmp}/src"
    media = _media(spark, sf_dir, cap=200)
    try:
        # 3 input files → 3 micro-batches under maxFilesPerTrigger=1
        media.withColumn("_f", F.col("media_id") % 3).repartition(
            3, "_f"
        ).drop("_f").write.parquet(src)
        stream = (
            spark.readStream.schema(media.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        tracker = spark.sparkContext.statusTracker()
        no_group = set(tracker.getJobIdsForGroup(None))
        first = _sentinel_jobs(spark)[-1] + 1
        q = run_phash_stream(stream, state, pairs_dir, f"{tmp}/ckpt")
        q.awaitTermination(120)
        query_jobs = set(range(first, _sentinel_jobs(spark)[0]))
        assert query_jobs
        assert query_jobs <= set(tracker.getJobIdsForGroup(str(q.runId)))
        assert set(tracker.getJobIdsForGroup(None)) - no_group == set()
        got = {
            (min(r["later_id"], r["earlier_id"]),
             max(r["later_id"], r["earlier_id"]),
             r["hamming"])
            for r in spark.read.parquet(pairs_dir).collect()
        }
        want = {
            (r["a_id"], r["b_id"], r["hamming"])
            for r in _phash_pairs(
                materialize(phash_projection(media))
            ).collect()
        }
        assert got == want and got
    finally:
        drop_state(spark, state)
        shutil.rmtree(tmp, ignore_errors=True)
