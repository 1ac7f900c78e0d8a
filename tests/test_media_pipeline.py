"""Composed media ingest pipeline (streaming/media_pipeline.py) + the
bounded gate outputs (VERDICT r11 "What's wrong #1"). The parity
operators are oracle-checked (test_oracle_parity registers them like
every QUERIES entry); this pins the machinery the oracle can't see:

- hot-blob linearity: >=10^3 copies of ONE payload across batches emit
  O(arrivals) gate output and ONE digest-state row — the quadratic
  pair-storm path is structurally gone;
- bounded decisions == the pair list's keeper aggregate (both gates);
- crash-window replay idempotency WITH the in-pipeline compaction
  cadence armed;
- real Structured Streaming wiring (availableNow, one file per batch).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.streaming.media_pipeline import (
    STATE_SPECS,
    drop_state,
    media_keep_best_state,
    process_media_batch,
    run_media_pipeline,
)
from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
    DECISIONS_SCHEMA,
)
from ai_powered_data_pipeline_assistant_spark.streaming.state_compaction import (
    state_tables,
)

CURATED = "media_id long, modality string, batch_id long"
DROPPED = "media_id long, modality string, keeper_id long, batch_id long"
DEC = f"{DECISIONS_SCHEMA}, batch_id long"

_BASE = "".join(f"{i:04d}" for i in range(64))
_NEAR = _BASE[:100] + "X" + _BASE[101:]  # one-region edit
_OTHER = "".join(f"{i * 7 + 3:04d}" for i in range(64))


@pytest.fixture()
def dirs():
    tmp = tempfile.mkdtemp(prefix="media_pipe_test_")
    yield f"{tmp}/state", f"{tmp}/out", tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, modality string, text string"
    ).select(
        "media_id",
        "modality",
        F.encode("text", "utf-8").cast("binary").alias("payload"),
    )


def _scenario(spark):
    """(batch -> frame) for the 3-batch fixture: within-batch exact dup,
    cross-batch exact dup, perceptual near-dup, modality split."""
    rows = {
        0: [(1, "image", _BASE), (2, "image", _BASE), (3, "image", _OTHER)],
        1: [(10, "image", _BASE), (11, "image", _NEAR), (12, "audio", _BASE)],
        2: [(20, "image", _NEAR), (21, "image", _OTHER)],
    }
    return {b: _frame(spark, r) for b, r in rows.items()}


def test_composed_pipeline_outcomes(spark, dirs):
    state, out, _ = dirs
    batches = _scenario(spark)
    try:
        for b in range(3):
            process_media_batch(batches[b], b, state, out)
        curated = {
            (r.media_id, r.batch_id)
            for r in spark.read.schema(CURATED).parquet(f"{out}/curated").collect()
        }
        # 1 keeps (within-batch keeper), 3 keeps, 11 is a perceptual dup
        # of 1, 12 is a fresh content in audio; batch 2 is all exact dups
        assert curated == {(1, 0), (3, 0), (12, 1)}
        dropped = {
            (r.media_id, r.keeper_id)
            for r in spark.read.schema(DROPPED)
            .parquet(f"{out}/exact_dropped")
            .collect()
        }
        assert dropped == {(2, 1), (10, 1), (20, 11), (21, 3)}
        dec = {
            r.media_id: (r.is_dup, r.best_partner)
            for r in spark.read.schema(DEC).parquet(f"{out}/decisions").collect()
        }
        # decisions exist ONLY for exact survivors; 11's best partner is 1
        assert set(dec) == {1, 3, 11, 12}
        assert dec[11] == (True, 1)
        assert all(not v[0] for k, v in dec.items() if k != 11)
        # no pairs dir without the analysis flag
        assert not os.path.isdir(f"{out}/pairs")
        # incremental keep-best: family {1, 11}, keeper = max bytes tie
        # lowest id
        fams = media_keep_best_state(spark, state).collect()
        assert len(fams) == 1
        f0 = fams[0]
        assert (f0.family_id, f0.family_size, f0.keeper_id) == (1, 2, 1)
    finally:
        drop_state(spark, state)


def test_hot_blob_output_is_linear(spark, dirs):
    """The r11 scale fix, executed: 1200 re-crawls of ONE payload under
    fresh ids across 4 batches (plus two distinct contents) emit exactly
    one gate-output row per arrival — decisions only for the survivors,
    one bounded drop record per copy — and ONE digest state row for the
    hot content. The quadratic regime would be ~1200^2/2 = 720k pair
    rows; the pipeline emits none."""
    state, out, _ = dirs
    n = 1200
    rows = [(i, "image", _BASE) for i in range(n)]
    rows += [(n + 1, "image", _OTHER), (n + 2, "audio", _OTHER)]
    frame = _frame(spark, rows)
    nb = 4
    try:
        for b in range(nb):
            process_media_batch(
                frame.filter(F.col("media_id") % nb == b), b, state, out,
                compact_every=2,
            )
        n_arrivals = len(rows)
        decisions = spark.read.schema(DEC).parquet(f"{out}/decisions")
        dropped = spark.read.schema(DROPPED).parquet(f"{out}/exact_dropped")
        curated = spark.read.schema(CURATED).parquet(f"{out}/curated")
        # one output row per arrival, split survivor/drop — O(arrivals)
        assert decisions.count() == 3  # the three distinct contents
        assert dropped.count() == n_arrivals - 3
        assert curated.count() == 3
        assert not os.path.isdir(f"{out}/pairs")
        tables = state_tables(state, STATE_SPECS)
        # ONE content row for the hot blob: state is bounded by distinct
        # contents, not arrivals
        assert spark.table(tables["mdigest"]).count() == 3
        assert spark.table(tables["msizes"]).count() == 3
        # every copy's drop record points at the hot blob's keeper
        hot_keeper = (
            dropped.filter(F.col("media_id") < n)
            .select("keeper_id")
            .distinct()
            .collect()
        )
        assert [r.keeper_id for r in hot_keeper] == [0]
    finally:
        drop_state(spark, state)


def test_replay_idempotent_with_compaction_cadence(spark, dirs):
    """Crash-window replay of the newest batch AFTER its in-pipeline
    compaction ran (compact_every=2 fires at batch 2) reproduces
    identical outputs and an identical keep-best view."""
    state, out, _ = dirs
    batches = _scenario(spark)
    try:
        for b in range(3):
            process_media_batch(batches[b], b, state, out, compact_every=2)
        read = lambda d, s: sorted(  # noqa: E731
            tuple(r) for r in spark.read.schema(s).parquet(d).collect()
        )
        before = (
            read(f"{out}/curated", CURATED),
            read(f"{out}/exact_dropped", DROPPED),
            read(f"{out}/decisions", DEC),
            sorted(tuple(r) for r in media_keep_best_state(spark, state).collect()),
        )
        process_media_batch(batches[2], 2, state, out, compact_every=2)
        after = (
            read(f"{out}/curated", CURATED),
            read(f"{out}/exact_dropped", DROPPED),
            read(f"{out}/decisions", DEC),
            sorted(tuple(r) for r in media_keep_best_state(spark, state).collect()),
        )
        assert before == after
    finally:
        drop_state(spark, state)


def test_stream_wiring_available_now(spark, dirs):
    """run_media_pipeline over a real file source (one file per
    micro-batch) lands the same outcomes as the direct per-batch calls."""
    state, out, tmp = dirs
    batches = _scenario(spark)
    src = f"{tmp}/src"
    os.makedirs(src)
    for b in range(3):
        part_dir = f"{tmp}/part{b}"
        batches[b].coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = f"{src}/batch{b:03d}.parquet"
        shutil.copyfile(f"{part_dir}/{part}", dst)
        os.utime(dst, (1_700_000_000 + b * 100,) * 2)
    try:
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_media_pipeline(stream, state, out, f"{tmp}/ckpt")
        assert q.awaitTermination(300), "media pipeline stream timed out"
        curated = {
            r.media_id
            for r in spark.read.schema(CURATED).parquet(f"{out}/curated").collect()
        }
        assert curated == {1, 3, 12}
    finally:
        drop_state(spark, state)


def test_neardup_decisions_match_pairs(spark, sf_dir):
    """The bounded near-dup gate output equals the keeper aggregate of
    the full pair list: one row per arriving doc, is_dup == later-side
    membership, best partner = highest jaccard (ties lowest id)."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        drop_state as nd_drop,
        process_neardup_batch,
    )

    tmp = tempfile.mkdtemp(prefix="nd_dec_test_")
    state = f"{tmp}/state"
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 400)
    )
    nb = 3
    try:
        for b in range(nb):
            process_neardup_batch(
                docs.filter(F.col("doc_id") % nb == b), b, state,
                pairs_dir=f"{tmp}/pairs", decisions_dir=f"{tmp}/decisions",
            )
        pairs = spark.read.parquet(f"{tmp}/pairs")
        dec = spark.read.parquet(f"{tmp}/decisions")
        assert dec.count() == docs.count()  # one row per arrival
        want_best = {
            r.later_id: (r.best_jaccard, r.best_partner)
            for r in pairs.groupBy("later_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("jaccard"), (-F.col("earlier_id")).alias("ni")
                    )
                ).alias("b")
            )
            .select(
                "later_id",
                F.col("b.jaccard").alias("best_jaccard"),
                (-F.col("b.ni")).alias("best_partner"),
            )
            .collect()
        }
        assert want_best, "fixture produced no near-dup pairs"
        got = {r.doc_id: r for r in dec.collect()}
        assert {d for d, r in got.items() if r.is_dup} == set(want_best)
        for d, (bj, bp) in want_best.items():
            assert got[d].best_partner == bp
            assert abs(got[d].best_jaccard - bj) < 1e-12
    finally:
        nd_drop(spark, state)
        shutil.rmtree(tmp, ignore_errors=True)


def test_phash_decisions_match_pairs(spark, dirs):
    """Same pin for the perceptual gate: decisions == min(struct(hamming,
    earlier_id)) over the emitted pair list, one row per arriving blob."""
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        drop_state as ph_drop,
        process_phash_batch,
    )

    state, out, tmp = dirs
    rows = [
        (1, "image", _BASE),
        (2, "image", _NEAR),
        (3, "image", _OTHER),
        (4, "image", _BASE),  # hamming-0 vs 1 and near 2
    ]
    frame = _frame(spark, rows)
    try:
        for b in range(2):
            process_phash_batch(
                frame.filter(F.col("media_id") % 2 == b), b, state,
                pairs_dir=f"{out}/pairs", decisions_dir=f"{out}/decisions",
            )
        pairs = spark.read.parquet(f"{out}/pairs")
        dec = spark.read.schema(DEC).parquet(f"{out}/decisions")
        assert dec.count() == len(rows)
        want = {
            r.later_id: (r.h, r.p)
            for r in pairs.groupBy("later_id")
            .agg(F.min(F.struct("hamming", "earlier_id")).alias("b"))
            .select(
                "later_id",
                F.col("b.hamming").alias("h"),
                F.col("b.earlier_id").alias("p"),
            )
            .collect()
        }
        assert want, "probe payloads produced no perceptual pairs"
        got = {r.media_id: r for r in dec.collect()}
        assert {m for m, r in got.items() if r.is_dup} == set(want)
        for m, (h, p) in want.items():
            assert (got[m].best_hamming, got[m].best_partner) == (h, p)
    finally:
        ph_drop(spark, state)
