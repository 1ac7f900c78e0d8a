"""Incremental streaming exact-substring dedup — the span-level gate of a
continuous crawl: each arriving micro-batch of documents has every K-token
window checked against ALL windows seen in earlier batches AND against the
batch itself; repeated spans are accounted (and removable) per document,
and the batch's new windows join the seen state.

Extension lineage: batch twin `operators/substring.py` (Lee et al. 2022);
the state is ONE table on the shared `streaming/state_compaction`
lifecycle (bucketed catalog-backed state, batch_id-partitioned
dynamic-overwrite appends, re-registration in fresh sessions) — exact
window membership needs no bands/postings/sizes split.

State: ``wins (h long, batch_id long)`` — one 60-bit content hash per
DISTINCT window first seen in that batch, BUCKETED on ``h``. Per batch the
arriving documents are tokenized and window-hashed ONCE (O(batch tokens));
membership against history is one LEFT-SEMI/LEFT-ANTI pair against the
h-bucketed state — only the (batch-sized) probe side shuffles into the
bucket layout, the accumulated state is read in place, never re-shuffled
or recomputed. State grows one 8-byte hash per distinct window ever seen —
the hash-keyed design the batch module's 100 TB note prescribes (collision
odds ~1e-18 at 1e12 windows; the parity audit compares against the
text-keyed batch twin, so a collision would surface as a mismatch, not
silent corruption).

Semantics (pinned by `substring_stream_parity`): an occurrence is DROPPED
iff its window was seen in an earlier batch, or earlier within this batch
by (doc_id, pos) — i.e. the batch operator's first-wins under the ARRIVAL
order (batch index, doc_id, pos). Per-batch accounting rows land via the
exactly-once batch-partitioned writer; the state append is a dynamic
overwrite of the batch's own partition, so replays after any partial
write repair both in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.execution import materialize
from ai_powered_data_pipeline_assistant_spark.functions.hashing import md5_int
from ai_powered_data_pipeline_assistant_spark.streaming import (
    state_compaction as sc,
)

STATE_SPECS: sc.StateSpecs = {"wins": ("substr_wins", "h long", ["h"])}


def drop_state(spark: SparkSession, state_dir: str) -> None:
    sc.drop_state(spark, state_dir, STATE_SPECS)


def process_substring_batch(
    docs: DataFrame, batch_id: int, state_dir: str, out_dir: str,
    text_out_dir: str | None = None,
) -> None:
    """One micro-batch of the incremental exact-substring gate —
    module-level so a test can REPLAY a completed batch and pin that the
    replay reproduces identical accounting and state.

    ``text_out_dir`` additionally lands the REWRITTEN documents — each
    arriving doc's text with its duplicate spans excised under the
    arrival first-wins order — as batch_id-partitioned parquet (the same
    exactly-once writer as the accounting): the dedup-at-ingest
    deployment shape, where the crawler emits deduplicated TEXT
    downstream, not just accounting. The excision is the batch module's
    `rewrite_for` over the SAME per-batch dropped intervals, so stream
    and batch rewrites cannot drift (pinned end to end by the rewrite leg
    of `substring_stream_parity`, operators/stream_parity.py). A doc's
    spans are FINAL when its
    batch processes: later batches can only drop their own occurrences
    (first-wins never retroactively edits an earlier doc), so the
    accumulated text table needs no updates — append-only by
    construction."""
    from ai_powered_data_pipeline_assistant_spark.operators.substring import (
        SUBSTR_K,
        accounting_for,
        rewrite_for,
        sized_docs,
        windows_expr,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.jobs import (
        idempotent_append,
    )

    spark = docs.sparkSession
    tables = sc.create_state(spark, state_dir, STATE_SPECS, "substring stream")
    table = tables["wins"]

    sized = materialize(sized_docs(docs.select("doc_id", "text")))
    # Hash ONCE per occurrence; the window text never enters the shuffle
    # or the state (8-byte keys — the batch module's 100 TB note). The
    # window transform itself is the batch module's `windows_expr` — ONE
    # definition shared by every substring surface.
    occ = materialize(
        sized.filter(F.col("n") >= SUBSTR_K)
        .select("doc_id", F.explode(windows_expr(SUBSTR_K)).alias("w"))
        .select(
            "doc_id",
            F.col("w.pos").alias("pos"),
            md5_int(F.col("w.win")).alias("h"),
        )
    )
    # STRICTLY PRE-BATCH state (replays have already landed their own
    # partition; reading it back would drop every occurrence of the batch).
    state_h = (
        spark.table(table)
        .filter(F.col("batch_id") < batch_id)
        .select("h")
    )
    # Within-batch first occurrence per window hash — the map-side-combined
    # min(struct) shape of the batch operator.
    firsts_b = occ.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    # A batch occurrence survives iff it IS its window's within-batch first
    # AND the window is unseen in state; everything else drops. Both state
    # probes are batch-sized against the h-bucketed table (semi/anti join:
    # the probe side shuffles into the bucket layout, state scans in place).
    batch_firsts = (
        occ.join(firsts_b, "h")
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select("doc_id", "pos", "h")
    )
    kept = batch_firsts.join(state_h, "h", "left_anti").select(
        "doc_id", "pos", "h"
    ).transform(materialize)
    dropped = occ.join(
        kept.select("doc_id", "pos"), ["doc_id", "pos"], "left_anti"
    ).select("doc_id", "pos", (F.col("pos") + SUBSTR_K - 1).alias("e"))

    acct = accounting_for(sized, dropped)
    # Exactly-once per-batch accounting: batch_id-partitioned dynamic
    # overwrite (batch docs appear in exactly one batch, so the union of
    # partitions is the per-doc accounting under the arrival order).
    idempotent_append(acct, batch_id, out_dir)
    if text_out_dir is not None:
        # two consumers of `dropped` (accounting above + rewrite) — the
        # shared occ/kept frames are already materialized, and dropped is
        # a cheap anti-join over them, so no extra barrier needed
        idempotent_append(rewrite_for(sized, dropped), batch_id, text_out_dir)
    # State append: the batch's NEW distinct windows (their first
    # occurrence's hash). Dynamic overwrite of the batch partition makes
    # replays self-repairing.
    sc.insert_dynamic(
        spark,
        [
            (
                kept.select("h").distinct().select(
                    "h", F.lit(batch_id).cast("long").alias("batch_id")
                ),
                table,
            )
        ],
    )


def compact_substring_state(
    spark: SparkSession, state_dir: str, n_buckets: int | None = None
) -> int:
    """Offline state compaction (stream stopped) on the shared
    `streaming/state_compaction` lifecycle: fold every batch partition
    EXCEPT the newest into ``batch_id = -1`` — or, with ``n_buckets``,
    RE-BUCKET in the same pass (state grows one hash per distinct window
    forever, so the width that kept buckets at 128 MB–1 GB at bring-up is
    eventually too coarse). The fold hook collapses to ONE row per ``h``,
    assigned to the HISTORY side (min of the folded batch_id): a no-op by
    construction (a window's hash enters state in exactly one batch
    partition), but if a bad replay ever landed a hash in the newest
    partition that history already owns, keeping it in -1 means a later
    replay of the newest batch (which overwrites its own partition)
    cannot erase the corpus's memory of that window; a plain distinct
    over (h, folded id) would keep BOTH copies. Returns the parquet file
    count after compaction."""

    def fold(wins: DataFrame, max_bid: int) -> DataFrame:
        return (
            wins.select("h", sc.fold_expr(max_bid).alias("batch_id"))
            .groupBy("h")
            .agg(F.min("batch_id").alias("batch_id"))
        )

    return sc.compact_bucketed_state(
        spark, state_dir, STATE_SPECS, "substring stream",
        n_buckets=n_buckets, fold=fold,
    )["wins"]


def run_substring_stream(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    text_out_dir: str | None = None,
):
    """Wire the incremental exact-substring gate over a (doc_id, text)
    source; ``text_out_dir`` opts into landing the rewritten documents
    per batch (see `process_substring_batch`). Returns the started
    StreamingQuery (availableNow)."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        process_substring_batch(
            batch_df, batch_id, state_dir, out_dir, text_out_dir=text_out_dir
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_handle)
        .trigger(availableNow=True)
        .start()
    )
