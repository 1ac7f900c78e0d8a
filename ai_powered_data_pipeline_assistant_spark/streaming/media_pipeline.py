"""Composed media ingest pipeline: EXACT sha256 gate → perceptual pHash
gate → incremental perceptual families (keep-best) — the media twin of
`streaming/crawl_pipeline.py`, built entirely from audited parts
(VERDICT r11 tasks #2b/#3/#5):

1. **Exact tier** (`media_dedup`'s keeper rule, run incrementally): each
   arriving blob is sha256-digested JVM-side; the first-arrival keeper
   per (modality, digest) survives, every other copy — within the batch
   or against the accumulated digest state — is dropped WITH its keeper
   id recorded. State is ONE row per distinct content ever seen
   (digest-bucketed), so a viral blob re-crawled 10^6 times under fresh
   media_ids costs one state row and 10^6 bounded drop records — the
   identical-blob storm never reaches the band buckets below, which is
   what makes the composition the fix for the perceptual gate's
   pair-cardinality hazard (VERDICT r11 "What's wrong #1").
2. **Perceptual tier**: exact survivors flow through the REAL
   `streaming/phash_stream.process_phash_batch` (hash-once, bucketed
   band state read in place, candidate-pruned point reads), emitting the
   BOUNDED per-arrival decisions output; the full pair list stays
   batch-internal (it feeds the clusterer lazily) unless the
   ``emit_pairs`` analysis flag opts in.
3. **Families**: the batch's verified pairs feed the pair-generic
   append-only union-find (`streaming/cluster_stream.process_cluster_batch`)
   — perceptual family labels are maintained INCREMENTALLY, never by
   re-clustering history; `media_keep_best_state` is the read-time
   keep-best view (largest payload, ties → lowest id — exactly
   `media_phash_keep_best`'s policy) over resolved families joined to
   the msizes state.
4. **Curated output**: arrivals that survived both gates, landed
   exactly-once per batch (`jobs.idempotent_append`).

Maintenance cadence (VERDICT r11 task #5): ``compact_every=N`` runs the
state compactors INSIDE the pipeline on a ``batch_id % N`` gate, AFTER
the batch's own writes — the current batch is then the newest partition,
which the shared fold-all-but-newest core never folds, so a crash-window
replay of the batch stays idempotent (its partitions survive every
fold; reads of folded history see ``batch_id = -1 < N``).

Every write is batch_id-partitioned dynamic overwrite; every state read
is strictly pre-batch plus identity exclusion (the replay discipline all
streaming modules share). `media_crawl_parity`
(operators/stream_parity.py) pins the whole composition against the
batch arrival-rule recompute, with the DuckDB oracle recomputing exact
drops, perceptual drops, curated membership, and family keepers from the
shared chunk-parity hash SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.execution import materialize
from ai_powered_data_pipeline_assistant_spark.streaming import (
    state_compaction as sc,
)

CURATED_SCHEMA = "media_id long, modality string"
EXACT_DROPPED_SCHEMA = "media_id long, modality string, keeper_id long"

# (table-name prefix, data columns, bucket columns) per pipeline-local
# state table: mdigest is the exact tier's content registry (one row per
# distinct (modality, digest) ever seen — bounded by distinct contents,
# not arrivals), msizes the keep-best view's per-survivor byte sizes
# (bucketed on media_id so the family join reads it in place).
STATE_SPECS: sc.StateSpecs = {
    "mdigest": (
        "media_digests",
        "digest string, modality string, keeper_id long",
        ["digest"],
    ),
    "msizes": (
        "media_sizes",
        "media_id long, modality string, bytes long",
        ["media_id"],
    ),
}


def _phash_dir(state_dir: str) -> str:
    return f"{state_dir.rstrip('/')}/phash"


def _cluster_dir(state_dir: str) -> str:
    return f"{state_dir.rstrip('/')}/cluster"


def _create_state(spark: SparkSession, state_dir: str) -> dict[str, str]:
    return sc.create_state(spark, state_dir, STATE_SPECS, "media pipeline")


def drop_state(spark: SparkSession, state_dir: str) -> None:
    """Drop every catalog entry the pipeline registered (pipeline-local
    tables plus the delegated phash and cluster stream states)."""
    from ai_powered_data_pipeline_assistant_spark.streaming import (
        cluster_stream,
        phash_stream,
    )

    sc.drop_state(spark, state_dir, STATE_SPECS)
    phash_stream.drop_state(spark, _phash_dir(state_dir))
    cluster_stream.drop_state(spark, _cluster_dir(state_dir))


def process_media_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    compact_every: int | None = None,
    emit_pairs: bool = False,
) -> None:
    """One micro-batch of the composed media ingest over a
    (media_id, modality, payload) frame — module-level so the stream
    wiring, the parity replays, and pytest crash-window replays all run
    the exact same per-batch code path. Outputs under ``out_dir``:
    ``curated/`` (kept blobs), ``exact_dropped/`` (per dropped copy, its
    keeper), ``decisions/`` (the perceptual gate's bounded per-survivor
    verdicts), and — ``emit_pairs`` only — ``pairs/`` (the quadratic
    analysis list). media_ids must be globally unique across the
    stream's lifetime (the phash gate enforces it for survivors; exact
    re-crawls are the expected duplicate class and arrive under fresh
    ids)."""
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        process_cluster_batch,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.jobs import (
        idempotent_append,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        DECISIONS_SCHEMA,
        process_phash_batch,
    )

    spark = batch_df.sparkSession
    tables = _create_state(spark, state_dir)

    media = batch_df.select("media_id", "modality", "payload")
    # digest ONCE per arriving blob (32-byte digests shuffle; payload
    # bytes never leave the scan stage — the media_dedup discipline)
    hashed = materialize(
        media.select(
            "media_id",
            "modality",
            F.sha2("payload", 256).alias("digest"),
            F.octet_length("payload").cast("long").alias("bytes"),
        )
    )
    own_ids = hashed.select("media_id")

    # -- exact tier --------------------------------------------------
    # within-batch keeper candidate: min media_id per (modality, digest)
    # — map-side-combined aggregate, never a window over the digest
    grp = hashed.groupBy("modality", "digest").agg(
        F.min("media_id").alias("keeper_id")
    )
    # strictly pre-batch digest state, identity-excluded BY KEEPER ID: a
    # replayed batch whose rows a mid-window compaction folded into the
    # -1 history partition would otherwise see its own contents as
    # "seen" and drop every keeper (the neardup _not_own rule, keyed on
    # keeper_id because mdigest stores keepers, not arrivals)
    pre = F.col("batch_id") < batch_id
    seen = (
        spark.table(tables["mdigest"])
        .filter(pre)
        .join(
            F.broadcast(own_ids.withColumnRenamed("media_id", "keeper_id")),
            "keeper_id",
            "left_anti",
        )
        .select(
            "modality", "digest", F.col("keeper_id").alias("state_keeper")
        )
    )
    # one row per batch (modality, digest) group: the batch side shuffles
    # into the digest-bucketed state layout; state is read in place
    groups = materialize(
        grp.join(seen, ["modality", "digest"], "left").select(
            "modality",
            "digest",
            F.coalesce("state_keeper", "keeper_id").alias("final_keeper"),
            F.col("state_keeper").isNull().alias("is_new"),
        )
    )
    dropped_exact = (
        hashed.join(groups, ["modality", "digest"])
        .filter(F.col("media_id") != F.col("final_keeper"))
        .select(
            "media_id", "modality", F.col("final_keeper").alias("keeper_id")
        )
    )
    survivor_ids = groups.filter("is_new").select(
        F.col("final_keeper").alias("media_id")
    )
    survivors = media.join(F.broadcast(survivor_ids), "media_id", "left_semi")

    # -- perceptual tier over exact survivors ------------------------
    decisions_dir = f"{out_dir}/decisions"
    pairs = process_phash_batch(
        survivors,
        batch_id,
        _phash_dir(state_dir),
        pairs_dir=f"{out_dir}/pairs" if emit_pairs else None,
        decisions_dir=decisions_dir,
    )
    # -- incremental perceptual families + outputs + state appends ----
    # The four tails below are mutually independent once the perceptual
    # gate has landed its decisions: the union-find consumes the (lazy,
    # post-write-stable) pair frame and touches only the cluster state;
    # the curated/exact_dropped sinks are idempotent batch-partitioned
    # overwrites of disjoint output dirs; the state appends consume only
    # the already-materialized hashed/groups frames. Overlapped from a
    # driver pool (round 12, guide §2.6) so the sinks' commit latency
    # hides under the clusterer's pointer-doubling jobs; every state table
    # carries dynamic partition overwrite in its own options, so the
    # concurrent appends share no session conf. Failures propagate before
    # the checkpoint commit, exactly as sequentially.
    from ai_powered_data_pipeline_assistant_spark.execution import (
        run_concurrently,
    )

    # read back the bounded decisions the gate just landed (explicit
    # schema: a zero-dup batch leaves only _SUCCESS markers)
    dup_ids = (
        spark.read.schema(f"{DECISIONS_SCHEMA}, batch_id long")
        .parquet(decisions_dir)
        .filter((F.col("batch_id") == batch_id) & F.col("is_dup"))
        .select("media_id")
    )
    curated = survivors.select("media_id", "modality").join(
        dup_ids, "media_id", "left_anti"
    )
    bid = F.lit(batch_id).cast("long")
    run_concurrently(
        lambda: process_cluster_batch(
            pairs.select(
                F.col("later_id").alias("a_id"),
                F.col("earlier_id").alias("b_id"),
            ),
            batch_id,
            _cluster_dir(state_dir),
        ),
        lambda: idempotent_append(curated, batch_id, f"{out_dir}/curated"),
        lambda: idempotent_append(
            dropped_exact, batch_id, f"{out_dir}/exact_dropped"
        ),
        lambda: sc.insert_dynamic(
            hashed.sparkSession,
            [
                (
                    groups.filter("is_new").select(
                        "digest",
                        "modality",
                        F.col("final_keeper").alias("keeper_id"),
                        bid.alias("batch_id"),
                    ),
                    tables["mdigest"],
                ),
                (
                    hashed.join(
                        F.broadcast(survivor_ids), "media_id", "left_semi"
                    ).select(
                        "media_id", "modality", "bytes", bid.alias("batch_id")
                    ),
                    tables["msizes"],
                ),
            ],
        ),
    )

    # -- maintenance cadence (VERDICT r11 task #5) --------------------
    # AFTER this batch's writes: the current batch is the newest
    # partition everywhere, which fold-all-but-newest never touches, so
    # a crash-window replay of this batch remains idempotent.
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_media_state(spark, state_dir)


def run_media_pipeline(
    media_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    compact_every: int | None = None,
    emit_pairs: bool = False,
):
    """Wire the composed media ingest over a (media_id, modality, payload)
    source. Returns the started StreamingQuery (availableNow)."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        process_media_batch(
            batch_df, batch_id, state_dir, out_dir,
            compact_every=compact_every, emit_pairs=emit_pairs,
        )

    return (
        media_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_handle)
        .trigger(availableNow=True)
        .start()
    )


def media_keep_best_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read-time keep-best view over the INCREMENTALLY maintained
    perceptual families: resolved union-find labels (roots + pointer-
    doubled redirects — `cluster_stream.resolved_roots`) joined to the
    msizes state, one map-side-combined ``max(struct(bytes, -id))``
    keeper aggregate per family — column-compatible with the batch
    operator `media_phash_keep_best` (family_id, modality, family_size,
    keeper_id, keeper_bytes). Docs never seen in a verified pair are
    singletons, not families, and don't appear — the batch operator's
    rule. Cost is O(clustered docs), independent of corpus age."""
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        resolved_roots,
    )

    tables = _create_state(spark, state_dir)
    fam = resolved_roots(spark, _cluster_dir(state_dir)).join(
        spark.table(tables["msizes"]).select(
            F.col("media_id").alias("doc_id"), "modality", "bytes"
        ),
        "doc_id",
    )
    best = fam.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("family_size"),
        F.max(
            F.struct(F.col("bytes"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("_s"),
        F.min("modality").alias("modality"),
    )
    return best.select(
        F.col("cluster_id").alias("family_id"),
        "modality",
        "family_size",
        (-F.col("_s.neg_id")).cast("long").alias("keeper_id"),
        F.col("_s.bytes").cast("long").alias("keeper_bytes"),
    )


def compact_media_state(spark: SparkSession, state_dir: str) -> dict[str, int]:
    """Compact ALL four state surfaces the pipeline maintains — the two
    pipeline-local tables (mdigest/msizes: per-batch file sets folded
    into ``batch_id = -1`` via the shared `state_compaction` lifecycle),
    the delegated phash state,
    and the cluster stream's redirect log. Safe on the pipeline's
    ``batch_id % N`` cadence: the newest batch partition is never folded
    anywhere, so the one legally replayable batch keeps its partitions.
    Returns per-surface accounting."""
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        compact_cluster_state,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        compact_phash_state,
    )

    out = sc.compact_bucketed_state(
        spark, state_dir, STATE_SPECS, "media pipeline"
    )
    phash_files = compact_phash_state(spark, _phash_dir(state_dir))
    out.update({f"phash_{k}": v for k, v in phash_files.items()})
    cluster = compact_cluster_state(spark, _cluster_dir(state_dir))
    out.update({f"cluster_{k}": v for k, v in cluster.items()})
    return out
