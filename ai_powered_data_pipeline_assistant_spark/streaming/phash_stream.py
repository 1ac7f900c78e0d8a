"""Incremental streaming PERCEPTUAL near-dup detection for media — the
pHash tier's daily-crawl ingest shape: each arriving micro-batch of blobs
is checked against EVERYTHING seen before it AND against itself at
hamming ≤ PHASH_HAMMING_T, then its hashes join the seen state.

Extension lineage: `streaming/neardup.py` (MinHash-LSH over text) is the
template, specialized to the perceptual hash `operators/multimodal.py`
introduced in round 11 — a continuous media crawl needs the incremental
form for the same reason text does: re-banding 10^11 accumulated blobs
per micro-batch is the O(corpus-age) per-batch cost the streaming designs
exist to avoid. The hash itself is the SHARED `phash_projection` (64-bit
chunk-parity over the decoded signal, JVM-side SQL, locality-preserving;
codec decode stays stubbed per multimodal.py), so stream and batch cannot
drift — `media_phash_stream_parity` (operators/stream_parity.py) pins the
accumulated pairs row-equal to the batch banded pipeline under the
arrival pairing rule.

Incrementality: the expensive step — decoding-fake + 64 chunk md5s per
blob — runs exactly once per blob, in the micro-batch that delivers it.
State stores the derived artifacts only, as catalog-backed BUCKETED
tables (the neardup state discipline):

- ``pbands  (media_id, modality, band, band_val, batch_id)`` — the 4
  blocking keys per blob, PRE-BUCKETED on (band, band_val): the
  per-batch candidate join shuffles ONLY the arriving batch's bands into
  the state's bucket layout; the state side is read in place.
- ``phashes (media_id, modality, b0..b3, batch_id)`` — the 4 band values
  per blob, bucketed + sorted on media_id: hamming verification fetches
  ONLY candidate partners' hashes via the doc_id-pruned point-read path
  (`neardup.partner_pruned` — IN-literal bucket pruning under the cap,
  bucketed LEFT-SEMI above it), never a full state scan per batch.

Banding is pigeonhole-exact at the threshold (4 bands, hamming ≤ 3 —
multimodal.py's argument), so the stream misses nothing the batch
operator would find. Pair semantics: a batch emits (later, earlier,
hamming) against all EARLIER batches and within itself (same batch:
later > earlier) — the neardup pairing rule. Gate OUTPUT is bounded by
default (VERDICT r11): per-arrival ``decisions`` rows via a
map-side-combined min-struct aggregate — O(arrivals) regardless of
family size; the full pair list is the opt-in ANALYSIS output
(`process_phash_batch` docstring). All writes (decisions/pairs + two
state tables) are batch_id-partitioned dynamic overwrites; reads are
strictly pre-batch; the media_id-uniqueness contract is ENFORCED exactly
as in neardup.py (a re-arrived id fails loudly; replays of the newest
batch stay legal). `compact_phash_state` folds per-batch file sets via
the shared `state_compaction` core (fold-all-but-newest, swap-in-place
with the remnant guard).

Note the stream does NOT reduce to exact-dedup representatives the way
the batch summary does: at ingest every blob must be gated (an exact
duplicate IS a hamming-0 pair), so rep selection is the consumer's
policy — `streaming/media_pipeline.py` composes the exact sha256 keeper
gate BEFORE this gate, which is what keeps identical-blob storms out of
the band buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.execution import (
    materialize,
    run_concurrently,
)
from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
    PHASH_BANDS,
    PHASH_HAMMING_T,
    phash_projection,
)
from ai_powered_data_pipeline_assistant_spark.streaming import (
    state_compaction as sc,
)
from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
    ids_under_cap,
    partner_pruned,
)

PAIRS_SCHEMA = "later_id long, earlier_id long, hamming long"
DECISIONS_SCHEMA = (
    "media_id long, modality string, is_dup boolean, "
    "best_hamming long, best_partner long"
)

_BAND_COLS = [f"b{k}" for k in range(PHASH_BANDS)]

# (table-name prefix, data columns, bucket columns) per state table:
# bucket layout is the contract the band join and the hash point reads
# depend on (lifecycle: `streaming/state_compaction`).
STATE_SPECS: sc.StateSpecs = {
    "pbands": (
        "phash_bands",
        "media_id long, modality string, band int, band_val long",
        ["band", "band_val"],
    ),
    "phashes": (
        "phash_hashes",
        "media_id long, modality string, "
        + ", ".join(f"{c} long" for c in _BAND_COLS),
        ["media_id"],
    ),
}


def drop_state(spark: SparkSession, state_dir: str) -> None:
    sc.drop_state(spark, state_dir, STATE_SPECS)


def process_phash_batch(
    media: DataFrame,
    batch_id: int,
    state_dir: str,
    pairs_dir: str | None = None,
    decisions_dir: str | None = None,
) -> DataFrame:
    """One micro-batch of the incremental perceptual gate over a
    (media_id, modality, payload) frame — module-level so tests can
    replay a completed batch and pin identical pairs and state (the
    streaming-module convention).

    Outputs (VERDICT r11 "What's wrong #1" — the gate emits a BOUNDED
    decision by default, the full pair list only behind the analysis
    flag):

    - ``decisions_dir`` — one row PER ARRIVING BLOB:
      ``(media_id, is_dup, best_hamming, best_partner)`` where the
      partner is ``min(struct(hamming, earlier_id))`` over the blob's
      verified pairs (the keeper-aggregate discipline: map-side-combined,
      so the per-family pair set collapses before it ever shuffles).
      Output cardinality is exactly O(arrivals) regardless of family
      size — a viral blob re-crawled 10^6 times under fresh ids costs
      10^6 decision rows, never ~10^12 pair rows.
    - ``pairs_dir`` — the ANALYSIS output: every verified (later,
      earlier, hamming) pair. Quadratic in family size by construction
      (each arrival pairs with all earlier family members); opt in only
      where the full pair list is the product (parity audits, offline
      family analysis), and compose the exact sha256 gate upstream
      (`streaming/media_pipeline.py`) so identical-blob storms collapse
      to one representative before the band join.

    Either, both, or neither (pure state build) may be set. Returns the
    verified-pairs DataFrame (lazy) so composed pipelines can feed the
    incremental clusterer without persisting the pair list: its lineage
    reads strictly pre-batch state partitions and excludes the arriving
    ids by identity, so re-evaluating it AFTER this batch's state writes
    still yields this batch's pairs."""
    from ai_powered_data_pipeline_assistant_spark.streaming.jobs import (
        idempotent_append,
    )

    spark = media.sparkSession
    tables = sc.create_state(spark, state_dir, STATE_SPECS, "phash stream")

    # hash ONCE per arriving blob; the frame feeds bands, verify, and
    # both state appends. EAGER: the uniqueness gate and the band build
    # both consume it concurrently — racing two jobs into one lazy
    # localCheckpoint costs block-lock waits (see the neardup twin); one
    # eager pass gives both sides cached blocks.
    hashed_b = materialize(
        phash_projection(media.select("media_id", "modality", "payload")),
        eager=True,
    )
    own_ids = hashed_b.select("media_id")

    # strictly PRE-batch state + identity exclusion (replay rule) — the
    # neardup discipline verbatim
    pre = F.col("batch_id") < batch_id

    def _not_own(state_df: DataFrame) -> DataFrame:
        return state_df.join(
            F.broadcast(own_ids), "media_id", "left_anti"
        )

    # media_id-uniqueness enforcement (module docstring), BOTH directions:
    # (a) WITHIN the batch — a slice delivering the same id twice would
    # write duplicate state rows and fan duplicate pairs through the
    # verify join (round-11 review; neardup's groupBy collapse has no
    # analogue here because the hash frame is already one row per input);
    # (b) against STRICTLY-EARLIER partitions — a re-arrival, never a
    # replay (the newest batch keeps its own partition, excluded by
    # `pre`; compaction never folds the newest batch), via the
    # bucket-pruned point-read path — O(batch), not O(corpus).
    hashes_state = spark.table(tables["phashes"]).filter(pre)

    def _uniqueness_gate() -> None:
        within_dups = (
            hashed_b.groupBy("media_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(5)
            .collect()
        )
        if within_dups:
            raise ValueError(
                "phash stream batch contains duplicate media_ids (sample: "
                f"{sorted(int(r['media_id']) for r in within_dups)}); each "
                "blob must arrive exactly once (module docstring)"
            )
        own_lit = ids_under_cap(own_ids)
        rearrived = (
            partner_pruned(
                hashes_state.withColumnRenamed("media_id", "doc_id"),
                own_lit,
                own_ids.withColumnRenamed("media_id", "doc_id"),
            )
            .select("doc_id")
            .limit(5)
            .collect()
        )
        if rearrived:
            raise ValueError(
                "phash stream received media_ids that already have state "
                f"from an earlier batch (sample: "
                f"{sorted(int(r['doc_id']) for r in rearrived)}); re-crawled "
                "blobs must arrive under fresh (version-suffixed) media_ids "
                "or state must be deduped before ingest (module docstring)"
            )

    bands_b = materialize(
        hashed_b.select(
            "media_id",
            "modality",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("band"),
                            F.col(f"b{k}").alias("band_val"),
                        )
                        for k in range(PHASH_BANDS)
                    ]
                )
            ).alias("bk"),
        ).select("media_id", "modality", "bk.band", "bk.band_val")
    )

    def _candidates() -> tuple[DataFrame, DataFrame, list[int] | None]:
        bands_s = _not_own(spark.table(tables["pbands"]).filter(pre))

        a = bands_b.select(
            F.col("media_id").alias("a_id"), "modality", "band", "band_val"
        )
        # cross-batch candidates: only the batch side shuffles into the
        # state's bucket layout
        b_state = bands_s.select(
            F.col("media_id").alias("b_id"), "modality", "band", "band_val"
        )
        cross = a.join(b_state, ["modality", "band", "band_val"]).select(
            "a_id", "b_id"
        )
        # within-batch: two near-dup blobs arriving together are still caught
        b_self = bands_b.select(
            F.col("media_id").alias("b_id"), "modality", "band", "band_val"
        )
        within = (
            a.join(b_self, ["modality", "band", "band_val"])
            .filter(F.col("a_id") > F.col("b_id"))
            .select("a_id", "b_id")
        )
        candidates = (
            cross.unionByName(within).distinct().transform(materialize)
        )

        # partner hashes: candidate-pruned state point reads + the batch's own
        cand_ids = (
            candidates.select(F.col("b_id").alias("doc_id"))
            .distinct()
            .transform(materialize)
        )
        return candidates, cand_ids, ids_under_cap(cand_ids)

    # Overlap (round 12, guide §2.6 — the neardup twin's two phases):
    # phase 1 runs the gate's bounded driver round-trips beside the
    # candidate build (both sides only READ) and joins the gate before
    # any write starts, so a rejected batch stays write-free
    # (test_phash_stream's contract). Phase 2 runs the state appends —
    # they consume only the already-materialized batch frames, are
    # disjoint idempotent per-partition overwrites, and their commit
    # order was never load-bearing — beside the verify + gate-output
    # writes, and joins both before return so failures propagate ahead
    # of the caller's checkpoint commit.
    _, (candidates, cand_ids, partner_ids) = run_concurrently(
        _uniqueness_gate, _candidates
    )
    bid = F.lit(batch_id).cast("long")

    def _append_state() -> None:
        sc.insert_dynamic(
            spark,
            [
                (
                    bands_b.select(
                        "media_id",
                        "modality",
                        "band",
                        "band_val",
                        bid.alias("batch_id"),
                    ),
                    tables["pbands"],
                ),
                (
                    hashed_b.select(
                        "media_id",
                        "modality",
                        *_BAND_COLS,
                        bid.alias("batch_id"),
                    ),
                    tables["phashes"],
                ),
            ],
        )

    def _verify_and_write() -> DataFrame:
        partners = partner_pruned(
            _not_own(hashes_state)
            .withColumnRenamed("media_id", "doc_id")
            .select("doc_id", *_BAND_COLS),
            partner_ids,
            cand_ids,
        ).unionByName(
            hashed_b.select(
                F.col("media_id").alias("doc_id"), *_BAND_COLS
            )
        )
        ha = hashed_b.select(
            F.col("media_id").alias("a_id"),
            *[F.col(c).alias(f"a_{c}") for c in _BAND_COLS],
        )
        hb = partners.select(
            F.col("doc_id").alias("b_id"),
            *[F.col(c).alias(f"p_{c}") for c in _BAND_COLS],
        )
        hamming = sum(
            F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"p_{c}")))
            for c in _BAND_COLS
        )
        pairs = (
            candidates.join(ha, "a_id")
            .join(hb, "b_id")
            .select(
                F.col("a_id").alias("later_id"),
                F.col("b_id").alias("earlier_id"),
                hamming.cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= PHASH_HAMMING_T)
        )
        if decisions_dir is not None or pairs_dir is not None:
            # the verified set always has a second potential consumer — the
            # returned frame feeds composed pipelines' clusterers — and the
            # lineage behind it (candidate-pruned state point reads + two
            # hash joins) is exactly what must not run twice; cut it once
            # here (round-12 review)
            pairs = materialize(pairs)
        if pairs_dir is not None:
            idempotent_append(pairs, batch_id, pairs_dir)
        if decisions_dir is not None:
            # bounded gate output: ONE row per arriving blob. The min-struct
            # partial-aggregates map-side, so even a degenerate family's pair
            # set collapses inside the scan stage instead of shuffling.
            best = (
                pairs.groupBy("later_id")
                .agg(F.min(F.struct("hamming", "earlier_id")).alias("_b"))
                .select(
                    F.col("later_id").alias("media_id"),
                    F.col("_b.hamming").alias("best_hamming"),
                    F.col("_b.earlier_id").alias("best_partner"),
                )
            )
            decisions = (
                hashed_b.select("media_id", "modality")
                .join(best, "media_id", "left")
                .select(
                    "media_id",
                    "modality",
                    F.col("best_partner").isNotNull().alias("is_dup"),
                    F.col("best_hamming").cast("long").alias("best_hamming"),
                    F.col("best_partner").cast("long").alias("best_partner"),
                )
            )
            idempotent_append(decisions, batch_id, decisions_dir)
        return pairs

    _, pairs = run_concurrently(_append_state, _verify_and_write)
    return pairs


def run_phash_stream(
    media_stream: DataFrame,
    state_dir: str,
    pairs_dir: str | None = None,
    checkpoint: str | None = None,
    decisions_dir: str | None = None,
):
    """Wire the incremental perceptual gate over a (media_id, modality,
    payload) source. ``decisions_dir`` lands the bounded per-arrival gate
    decisions; ``pairs_dir`` the full pair list (analysis flag — see
    `process_phash_batch`). Returns the started StreamingQuery
    (availableNow)."""
    if not checkpoint:
        raise ValueError(
            "run_phash_stream requires a checkpoint location (the "
            "parameter is positional-after-pairs_dir for compatibility)"
        )

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        process_phash_batch(
            batch_df, batch_id, state_dir, pairs_dir, decisions_dir
        )

    return (
        media_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_handle)
        .trigger(availableNow=True)
        .start()
    )


def compact_phash_state(spark: SparkSession, state_dir: str) -> dict[str, int]:
    """Offline state compaction (stream stopped): fold every batch
    partition except the newest into ``batch_id = -1`` per table on the
    shared `state_compaction` lifecycle. Rows are relabeled, never
    collapsed — each blob's band/hash rows are written exactly once, at
    its arrival batch. Returns {table: parquet files after compaction}."""
    return sc.compact_bucketed_state(
        spark, state_dir, STATE_SPECS, "phash stream"
    )
