"""Physical table layout: partitioned writes and bucketed joins.

The reference leans on 17+ Postgres B-tree indexes for selective access
(reference Supabase/knowledge_base-RAG.sql:35-40, tasks.sql:20-24,
logs.sql:17-21, chat_history.sql:18-22). A lakehouse replaces those with
LAYOUT (SURVEY §4):

- **Hive-style partition columns** on the coarse filter keys (date,
  source_type): a predicate on the partition column prunes entire
  directories at planning time — the scan never opens excluded files.
- **sortWithinPartitions** on the fine keys (session_id, created_at):
  parquet row-group min/max stats then prune pages within surviving files
  (the poor man's Z-order; one clustering key is usually enough).
- **Bucketing** on a high-cardinality join key: both sides pre-hashed into
  the same bucket count join WITHOUT a shuffle (no Exchange in the plan) —
  the co-located-join answer to the reference's FK joins at fact scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table


def write_partitioned_events(
    spark: SparkSession, sf_dir: str, out_path: str
) -> None:
    """Lay `events` out partitioned by (event_type, day), rows clustered by
    (user_id, ts) within each file for row-group stat pruning."""
    events = load_table(spark, sf_dir, "events")
    (
        events.withColumn("day", F.to_date("ts"))
        .repartition("event_type", "day")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .partitionBy("event_type", "day")
        .parquet(out_path)
    )


def read_pruned(
    spark: SparkSession, out_path: str, event_type: str, day: str
) -> DataFrame:
    """Point-read one (event_type, day) partition; the filter must show up
    as PartitionFilters (directory pruning), not a post-scan Filter."""
    df = spark.read.parquet(out_path)
    return df.filter((F.col("event_type") == event_type) & (F.col("day") == day))


def write_ivf_layout(
    spark: SparkSession, sf_dir: str, out_path: str, n_lists: int = 8
) -> None:
    """Persist `embeddings` as an inverted-file layout: every vector assigned
    to its nearest coarse centroid, written ``partitionBy(list_id)`` — the
    lakehouse analogue of pgvector's ivfflat lists (reference
    Supabase/knowledge_base-RAG.sql:31-33). A probe then reads only its
    lists' directories (PartitionFilters), never touching the rest."""
    from ai_powered_data_pipeline_assistant_spark.operators.vector import (
        assign_lists,
        ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    assigned = assign_lists(
        emb.select("vec_id", "label", "embedding"),
        "embedding",
        ivf_centroids(emb, n_lists),
        "list_id",
        1,
    )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(out_path)


def _source_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Cache key component tying a derived layout to its SOURCE data:
    basename + size + nanosecond mtime + a digest of the parquet footer
    (the tail holds row-group stats + column offsets, which change whenever
    the data does). A fixture regenerated in place (same path, new data)
    changes the fingerprint, so stale cached indexes are never silently
    served — including the whole-second-mtime edge (a fixed-seed generator
    rewriting an identical-size file within the same second) that a
    size+int(mtime) key would miss."""
    import hashlib
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    h = hashlib.sha256()
    if os.path.isdir(path):  # multi-file parquet dataset: hash part tails
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        for part in parts:
            with open(os.path.join(path, part), "rb") as fh:
                fh.seek(max(0, os.path.getsize(fh.name) - 65536))
                h.update(fh.read())
    else:
        with open(path, "rb") as fh:
            fh.seek(max(0, st.st_size - 65536))
            h.update(fh.read())
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"{tag}_{st.st_size}_{st.st_mtime_ns}_{h.hexdigest()[:12]}"


def ensure_ivf_layout(
    spark: SparkSession, sf_dir: str, n_lists: int = 8
) -> str:
    """Idempotently materialize the IVF layout for one sf_dir in a temp
    location; returns the path. Cached on disk across calls (_SUCCESS
    marker), keyed by the source fingerprint — the layout is a write-once
    index build, not per-query work, and is invalidated when the source
    parquet changes."""
    import os
    import tempfile

    tag = _source_fingerprint(sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_{tag}_l{n_lists}")
    if not os.path.isfile(os.path.join(out, "_SUCCESS")):
        write_ivf_layout(spark, sf_dir, out, n_lists)
    return out


def write_ivfpq_layout(
    spark: SparkSession, sf_dir: str, out_path: str
) -> None:
    """Persist the composed IVF-PQ index (operators/ivfpq.py) as a
    lakehouse layout — the on-disk shape a 100 TB deployment actually
    queries:

    - ``codes/``: (vec_id, _c0.._c{M-1}) partitioned by ``list_id`` —
      the 32×-narrow posting lists; a probe reads ONLY its lists'
      directories and never touches raw vectors;
    - ``coarse/``: the routing table (list_id, centroid) — n_lists rows;
    - ``codebooks/``: the PQ residual codebooks (m, code, centroid) —
      M·K rows. Both sidecars are broadcast-sized: a query session reads
      them once, like FAISS loading an index header.

    Raw vectors intentionally stay in the BASE table only: the exact
    re-rank fetches its |Q|·rerank rows by vec_id — point lookups, not a
    scan — so the index adds 1/32nd of the corpus bytes, not a copy.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    write_ivfpq_layout_for(spark, emb, out_path)


def write_ivfpq_layout_for(
    spark: SparkSession, emb: DataFrame, out_path: str,
    batched: bool = False,
) -> None:
    """Frame-level IVF-PQ layout build (see `write_ivfpq_layout`) — also
    the base-index builder for the incremental-maintenance parity, which
    indexes a SUBSET of the corpus and then appends the rest.

    ``batched=True`` lays codes out ``partitionBy(list_id, batch_id)``
    (base build = ``batch_id=-1``) — the STREAM-MAINTAINED flavor: each
    arriving micro-batch then lands in its own (list, batch) partitions
    via dynamic overwrite, so checkpoint replays are idempotent
    (streaming/ann_ingest.py). Probe pruning is unchanged — the
    ``list_id IN (...)`` predicate prunes on the leading partition
    column either way."""
    import os

    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        IVFPQ_N_LISTS,
        _build_index,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.pq import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
    )

    codes, cent_map, pq_cents, _centroids = _build_index(
        emb, IVFPQ_N_LISTS, PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS
    )
    codes_out = codes.drop("raw")
    part_cols = ["list_id"]
    if batched:
        codes_out = codes_out.withColumn("batch_id", F.lit(-1).cast("long"))
        part_cols = ["list_id", "batch_id"]
    # Keyed REBALANCE before the partitioned write (guide §6): without it
    # every build task writes a file into every list dir it routed to —
    # O(tasks × lists) near-empty files that every pruned query re-lists
    # and re-opens. Rebalanced on list_id, each list's codes land in
    # whole, advisory-sized files (~one per list here).
    codes_out.hint("rebalance", "list_id").write.mode("overwrite").partitionBy(
        *part_cols
    ).parquet(os.path.join(out_path, "codes"))
    spark.createDataFrame(
        sorted(cent_map.items()), "list_id long, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_path, "coarse"))
    spark.createDataFrame(
        [
            (m, c, pq_cents[m][c])
            for m in range(PQ_M)
            for c in range(PQ_K)
        ],
        "m int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_path, "codebooks"))
    # At-train list-size baseline for the drift rule (VERDICT r9 task #3):
    # the imbalance comparison needs "max list / mean list AT TRAIN TIME",
    # which appends erase from the unbatched layout — record it as a
    # one-row sidecar next to coarse/codebooks. Read back from the WRITTEN
    # parquet (recomputing `codes` would re-run k-means); only the
    # list_id partition column is scanned.
    sizes = (
        spark.read.parquet(os.path.join(out_path, "codes"))
        .groupBy("list_id")
        .count()
        .agg(
            F.sum("count").cast("long").alias("n_at_train"),
            F.max("count").cast("long").alias("max_list_at_train"),
        )
    )
    sizes.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_path, "train_stats")
    )


def append_ivfpq_layout(
    spark: SparkSession, layout_path: str, new_emb: DataFrame,
    batch_id: int | None = None,
) -> list[int]:
    """Incremental index maintenance — the FAISS ``add()`` analogue for the
    lakehouse layout: route NEW vectors through the STORED coarse
    centroids, encode their residuals with the STORED codebooks (no
    retraining — the published IVFADC maintenance discipline: codebooks
    are fixed after training, arrivals are encoded against them), and
    append the codes to their lists' partitions only. Touches exactly the
    routed lists' directories; every other partition's files are
    untouched (pinned by `ivfpq_incremental_parity`). Returns the sorted
    routed list ids.

    ``batch_id`` targets the BATCHED layout flavor (write_ivfpq_layout_for
    ``batched=True``): the arrivals land in their own
    (list_id, batch_id=N) partitions via dynamic overwrite, so a replay of
    batch N (streaming checkpoint crash window) REPLACES its own output
    instead of duplicating codes — the exactly-once discipline the
    streaming ingest (streaming/ann_ingest.py) relies on. ``None`` keeps
    the plain append onto the unbatched layout.

    Scale: one broadcast-route + encode pass over the ARRIVING batch; the
    existing index is never read, let alone rewritten. Periodic codebook
    retraining (drift) is a full rebuild by design — the write-once
    `ensure_ivfpq_layout` path."""
    import os

    from pyspark.sql import Observation

    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        read_ivfpq_artifacts,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.pq import PQ_M

    art = read_ivfpq_artifacts(spark, layout_path)
    # the index's cached encoder: the same Columns every append reuses
    coded = art.encode(art.route(new_emb.select("vec_id", "embedding")))
    new_codes = coded.select(
        "vec_id", "list_id", *[F.col(f"_c{m}") for m in range(PQ_M)]
    )
    codes_path = os.path.join(layout_path, "codes")
    # REBALANCE keyed on the partition column (round 12, guide §6): the
    # append otherwise writes one file per (task, routed list) — a
    # 32-partition batch into ~n_lists dirs lands hundreds of near-empty
    # files per append, which every later pruned query re-lists. Keyed
    # rebalance groups each list's rows into whole output partitions at
    # AQE's advisory size, so an append lands ~one file per routed list.
    # The routed list ids ride along on the write itself: one observed
    # aggregate instead of a second job over the encoded batch. Observed
    # ABOVE the rebalance — below it, an empty batch's map stage is
    # replaced by an empty relation and its metrics are never reported.
    routed = Observation()
    new_codes = new_codes.hint("rebalance", "list_id").observe(
        routed, F.collect_set("list_id").alias("lists")
    )
    if batch_id is None:
        new_codes.write.mode("append").partitionBy("list_id").parquet(codes_path)
    else:
        (
            new_codes.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("list_id", "batch_id")
            .parquet(codes_path)
        )
    return sorted(int(lid) for lid in routed.get["lists"])


def compact_ivfpq_layout(spark: SparkSession, layout_path: str) -> int:
    """Index maintenance, third leg (after append/delete): appends leave
    one file set per batch per routed list — fold the codes layout back to
    ONE file per partition. The batched flavor's history collapses into
    ``batch_id=-1`` (safe offline: the ingest checkpoint is already past
    the collapsed batches, the same argument as
    `streaming/neardup.compact_neardup_state`). Rows are materialized
    eagerly before the overwrite (the rewrite reads what it replaces);
    a 100 TB deployment with a tight memory budget uses the
    write-new-then-swap variant the near-dup compactor implements — this
    in-place form trades that for zero path churn. Returns the parquet
    file count after compaction."""
    import os

    from ai_powered_data_pipeline_assistant_spark.execution import materialize

    codes_path = os.path.join(layout_path, "codes")
    codes = spark.read.parquet(codes_path)
    batched = "batch_id" in codes.columns
    if batched:
        codes = codes.drop("batch_id").withColumn(
            "batch_id", F.lit(-1).cast("long")
        )
    part_cols = ["list_id", "batch_id"] if batched else ["list_id"]
    data_cols = [c for c in codes.columns if c not in part_cols]
    staged = materialize(
        # hash-align tasks to partition values → one file per directory
        codes.repartition(*[F.col(c) for c in part_cols]),
        eager=True,
    )
    staged.select(*data_cols, *part_cols).write.mode("overwrite").partitionBy(
        *part_cols
    ).parquet(codes_path)
    # Hadoop FS, not os.walk: the codes layout lives on the object store
    # in a deployment, where a local walk would count nothing.
    from ai_powered_data_pipeline_assistant_spark import hadoop_fs

    return hadoop_fs.count_parquet(spark, codes_path)


def delete_from_ivfpq_layout(
    spark: SparkSession, layout_path: str, vec_ids: list[int]
) -> list[int]:
    """Incremental index maintenance — tombstone-free DELETE: find the
    lists holding the victim ids (one narrow codes scan), then rewrite
    ONLY those partitions via dynamic partition overwrite — the other
    n_lists − |affected| directories keep their exact files (pinned by
    `ivfpq_delete_audit`). This is the lakehouse shape of pgvector's
    DELETE + autovacuum (reference Supabase/knowledge_base-RAG.sql):
    partition-local rewrite instead of B-tree page surgery. Returns the
    sorted affected list ids."""
    import os

    codes_path = os.path.join(layout_path, "codes")
    codes = spark.read.parquet(codes_path)
    affected = sorted(
        int(r["list_id"])
        for r in codes.filter(F.col("vec_id").isin(vec_ids))
        .select("list_id")
        .distinct()
        .collect()
    )
    if not affected:
        return []
    from ai_powered_data_pipeline_assistant_spark.execution import materialize

    # eager barrier: the rewrite READS the same partitions it overwrites —
    # survivors are fully materialized (lineage cut) before the overwrite
    # job starts, so the write never races its own input files. Bounded:
    # |affected lists| × list size, not the index.
    kept = codes.filter(
        F.col("list_id").isin(affected) & ~F.col("vec_id").isin(vec_ids)
    ).transform(lambda d: materialize(d, eager=True))
    data_cols = [c for c in codes.columns if c != "list_id"]
    (
        kept.select(*data_cols, "list_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("list_id")
        .parquet(codes_path)
    )
    return affected


def rebuild_ivfpq_layout(
    spark: SparkSession, layout_path: str, emb: DataFrame,
    batched: bool = False,
) -> None:
    """Drift remediation — the full retrain `ivfpq_drift_audit` recommends
    (the FAISS re-train-on-drift discipline: appends never retrain, so
    once the imbalance/staleness rule trips, the codebooks and routing are
    rebuilt from the CURRENT corpus). Write-new-then-swap through the
    Hadoop FileSystem API: the fresh index (coarse routing + codebooks +
    codes) is fully written NEXT TO the live one, two renames are the
    swap, and the old generation is removed last — queries against the
    path see either the old index or the new one, never a half-built mix,
    and the artifact cache self-invalidates (sidecar mtimes + session in
    the key). After the rebuild the drift rule's at-train baseline resets
    by construction (imbalance ratio = 1). Cost: one full index build —
    which is why the DECISION (O(n_lists) statistics, `ivfpq_drift_audit`)
    is a separate, cheap step a deployment runs per maintenance window."""
    import uuid

    from ai_powered_data_pipeline_assistant_spark import hadoop_fs

    token = uuid.uuid4().hex
    tmp = f"{layout_path.rstrip('/')}.rebuild_{token}"
    write_ivfpq_layout_for(spark, emb, tmp, batched=batched)
    # checked two-rename swap with rollback; errors name where the
    # surviving data lives (shared with ParquetTable._rewrite so the two
    # swap paths cannot drift)
    hadoop_fs.swap_dirs(spark, layout_path, tmp)


def ivfpq_drift_decision(
    spark: SparkSession, layout_path: str, exclude_batch_id: int | None = None
) -> dict:
    """The O(n_lists) drift rule from `ivfpq_drift_audit`, evaluated
    against a LIVE layout: compare the current list-imbalance factor
    (max list / mean list) to its at-train baseline in exact integer
    cross-multiplication — ``10·max_now·n_train ≥
    IVFPQ_REBUILD_RATIO_X10·max_train·n_now`` (n_lists cancels). Inputs
    are catalog statistics: the `train_stats` sidecar (one row, written at
    build) plus current per-list counts, a scan of the codes table's
    list_id PARTITION column only — no corpus read, no vector math.

    ``exclude_batch_id`` (batched layouts) removes that batch's
    partitions from the CURRENT counts: the crawl loop evaluates the rule
    while batch N may already hold its OWN partially-appended rows from a
    crashed first attempt (the replay window), and counting them would
    make a replayed decision see rows the clean run never saw —
    non-deterministic replays and, on a borderline imbalance, a rebuild
    the clean run never performed (round-10 review).

    Empty-index edge: a codes table with zero rows (everything deleted,
    or a decision racing a rebuild swap) returns an all-zeros no-op
    decision (rebuild_recommended False) rather than crashing — there are
    no statistics to drift.

    Baseline fallbacks for layouts built before the sidecar existed: the
    batched flavor recovers the exact at-train sizes from the
    ``batch_id=-1`` partitions (the base build); an unbatched layout
    without the sidecar — or a batched one whose base partitions were
    compacted away — treats NOW as the baseline (ratio 1 — never trips)
    because its appends are indistinguishable from the base build.
    """
    import os

    from ai_powered_data_pipeline_assistant_spark import hadoop_fs
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        IVFPQ_REBUILD_RATIO_X10,
    )

    codes_path = os.path.join(layout_path, "codes")
    codes = spark.read.parquet(codes_path)
    counted = codes
    if exclude_batch_id is not None and "batch_id" in codes.columns:
        counted = codes.filter(F.col("batch_id") != exclude_batch_id)
    cur = {
        int(r["list_id"]): int(r["n"])
        for r in counted.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    }  # ≤ n_lists rows
    if not cur:
        return {
            "n_at_train": 0,
            "max_at_train": 0,
            "n_now": 0,
            "max_now": 0,
            "rebuild_recommended": False,
        }
    n_now, max_now = sum(cur.values()), max(cur.values())
    stats_path = os.path.join(layout_path, "train_stats")
    if hadoop_fs.has_parquet(spark, stats_path):
        row = spark.read.parquet(stats_path).first()
        n_train = int(row["n_at_train"])
        max_train = int(row["max_list_at_train"])
    elif "batch_id" in codes.columns:
        base = {
            int(r["list_id"]): int(r["n"])
            for r in codes.filter(F.col("batch_id") == -1)
            .groupBy("list_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        if base:
            n_train, max_train = sum(base.values()), max(base.values())
        else:  # base partitions compacted away: baseline = now, never trips
            n_train, max_train = n_now, max_now
    else:
        n_train, max_train = n_now, max_now
    return {
        "n_at_train": n_train,
        "max_at_train": max_train,
        "n_now": n_now,
        "max_now": max_now,
        "rebuild_recommended": bool(
            10 * max_now * n_train
            >= IVFPQ_REBUILD_RATIO_X10 * max_train * n_now
        ),
    }


def maybe_rebuild_ivfpq_layout(
    spark: SparkSession, layout_path: str, emb: DataFrame,
    batched: bool | None = None,
) -> dict:
    """The closed drift→rebuild loop as a standalone maintenance-window
    entry point (VERDICT r9 task #3): evaluate the O(n_lists) decision and
    execute `rebuild_ivfpq_layout` from ``emb`` (the CURRENT corpus — a
    deployment's vectors table) when it trips. The rebuild writes a fresh
    `train_stats` sidecar, so the baseline resets and the rule disarms
    until the imbalance drifts again. Returns the decision dict plus
    ``rebuilt``. `streaming/crawl_pipeline.process_crawl_batch` runs the
    same rule inline per batch (its per-batch drift record is the
    accounting twin of this call).

    ``batched`` defaults to introspection (``batch_id`` in the live codes
    columns) so calling this on a batched layout — the crawl pipeline's
    shape — cannot silently rebuild codes without batch_id partitioning
    and break later batched appends / the replay ``exclude_batch_id``
    filter (ADVICE r10). Passing it explicitly asserts against the layout.
    """
    import os

    codes_cols = spark.read.parquet(os.path.join(layout_path, "codes")).columns
    layout_batched = "batch_id" in codes_cols
    if batched is None:
        batched = layout_batched
    elif batched != layout_batched:
        raise ValueError(
            f"batched={batched} contradicts the live layout at "
            f"{layout_path} (codes {'have' if layout_batched else 'lack'} "
            "a batch_id column); rebuilding at the wrong shape would "
            "break batched appends and replay exclusion"
        )
    decision = ivfpq_drift_decision(spark, layout_path)
    decision["rebuilt"] = False
    if decision["rebuild_recommended"]:
        rebuild_ivfpq_layout(spark, layout_path, emb, batched=batched)
        decision["rebuilt"] = True
    return decision


def ensure_ivfpq_layout(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently materialize the IVF-PQ layout for one sf_dir (the
    ensure_ivf_layout convention: a write-once index build, cached on the
    codes _SUCCESS marker, keyed by the source fingerprint so a
    regenerated base table invalidates the cached index). The effective
    PQ training-sample fraction is folded into the key — codebook
    training reads $PQ_TRAIN_SAMPLE inside _train_pq (both through
    pq.resolve_train_sample), so changing the knob between runs must not
    silently serve an index trained at the old fraction (ADVICE r8)."""
    import os
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.operators.pq import (
        resolve_train_sample,
    )

    train_sample = resolve_train_sample()
    # v2: codes rebalanced to ~one file per list at build (round 12) —
    # the version bump invalidates cached v1 layouts whose per-list file
    # sprawl the pruned query path would otherwise keep paying.
    tag = f"{_source_fingerprint(sf_dir)}_ts{train_sample:g}_v2"
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_ivfpq_{tag}")
    if not os.path.isfile(os.path.join(out, "codes", "_SUCCESS")):
        write_ivfpq_layout(spark, sf_dir, out)
    return out


def _bucketed_table(
    spark: SparkSession, sf_dir: str, source: str, bucket_col: str,
    n_buckets: int = 8,
) -> str:
    """Idempotently materialize one source table bucketed on ``bucket_col``
    (saveAsTable — bucketing needs catalog metadata so readers learn the
    hash layout). External-path under /tmp so the repo tree stays clean; the
    write is a once-per-layout index build, skipped when the catalog already
    knows the table."""
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    name = f"bkt_{source}_{tag}_{n_buckets}"
    if spark.catalog.tableExists(name):
        return name
    path = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed", name)
    df = load_table(spark, sf_dir, source)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
    return name


def bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located FK join: customer and orders both bucketed (8 buckets) on
    the customer key, joined WITHOUT any Exchange — the shuffle happened
    once at write time and is amortized over every subsequent join, which is
    how a 100 TB fact table joins its dimensions daily without re-shuffling
    100 TB daily. The per-customer aggregate also runs shuffle-free: the
    groupBy key is the bucket column, so partial and final HashAggregate
    collapse onto the bucketed scan (plan-asserted: zero Exchange anywhere
    in tests/test_plans.py).

    merge-hinted so the demonstration holds at test scale too — at fact
    scale neither side broadcasts and SMJ is what Catalyst picks anyway."""
    cust_t = _bucketed_table(spark, sf_dir, "customer", "c_custkey")
    orders_t = _bucketed_table(spark, sf_dir, "orders", "o_custkey")
    cust = spark.table(cust_t).select("c_custkey", "c_name", "c_nationkey")
    orders = spark.table(orders_t)
    joined = cust.hint("merge").join(
        orders.hint("merge"), cust.c_custkey == orders.o_custkey
    )
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count("*").alias("order_cnt"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 2
        ).alias("total_spend"),
    )


def events_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned point read: events laid out partitionBy(event_type,
    day), then one (event_type, day) slice read back. The filter must prune
    at planning time (PartitionFilters in the scan, plan-asserted) — the
    directory layout is the lakehouse replacement for the reference's
    B-tree indexes on (event_type, created_at). The layout build is a
    write-once index; reads open ONLY the matching directory."""
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_evpart_{tag}")
    if not os.path.isfile(os.path.join(out, "_SUCCESS")):
        write_partitioned_events(spark, sf_dir, out)
    pruned = read_pruned(spark, out, "click", "2024-01-01")
    return pruned.select("event_id", "user_id", "ts")


ORACLES: dict[str, str] = {
    "bucketed_join_rollup": """
        SELECT c_custkey, c_name,
               count(*) AS order_cnt,
               round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     / 100.0, 2) AS total_spend
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY 1, 2
    """,
    "events_partition_pruned": """
        SELECT event_id, user_id, ts
        FROM events
        WHERE event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-01'
    """,
}

QUERIES = {
    "bucketed_join_rollup": bucketed_join_rollup,
    "events_partition_pruned": events_partition_pruned,
}


# ------------------------------------------------------------- z-order
ZORDER_BITS = 3  # 8×8 grid → 64 file groups per layout
ZORDER_FILES = 1 << (2 * ZORDER_BITS)
Z_PRED_BAND = 3  # the probed band index on each dimension


def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning bake-off: linear clustering vs Morton (z-order)
    interleaving of (user_id, time) over the events table.

    Rows are assigned to 64 file groups two ways — linear (user_id range
    buckets, the single-column ORDER BY layout) and z-order (bit-interleaved
    user/time buckets, Delta OPTIMIZE ZORDER's layout) — and each group's
    [min, max] zone map of BOTH columns is computed from the data. The
    audit then reports, for a single-dimension predicate on each column,
    how many file groups a stats-based reader must scan: linear prunes
    perfectly on its sort key and not at all on the other column; z-order
    prunes ~√-proportionally on BOTH. This is the planning math behind
    choosing a multi-dimensional layout for a 100 TB table — computed
    exactly (all bucket arithmetic is integer), so the whole audit is
    oracle-checkable without writing files.

    Scale: ONE pass over the facts per layout (map-side-combined groupBy
    on the 64-key group id); the hit test runs on the 128-row stats frame.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.col("user_id").cast("long").alias("u"),
        F.unix_timestamp("ts").alias("t"),
    )
    bounds = base.agg(
        F.min("u").alias("umn"), F.max("u").alias("umx"),
        F.min("t").alias("tmn"), F.max("t").alias("tmx"),
    )
    j = base.crossJoin(F.broadcast(bounds))
    n_b = 1 << ZORDER_BITS
    ub = F.expr(f"((u - umn) * {n_b}) DIV (umx - umn + 1)")
    tb = F.expr(f"((t - tmn) * {n_b}) DIV (tmx - tmn + 1)")
    # Morton interleave of two 3-bit buckets (integer arithmetic only —
    # identical on any engine): z = Σ bit_i(ub)·4^i·2 ... even bits ub,
    # odd bits tb
    def _interleave(a, b):
        z = F.lit(0)
        for i in range(ZORDER_BITS):
            z = (
                z
                + (a / (1 << i)).cast("long") % 2 * (1 << (2 * i))
                + (b / (1 << i)).cast("long") % 2 * (1 << (2 * i + 1))
            )
        return z

    tagged = j.select(
        "u", "t", "umn", "umx", "tmn", "tmx",
        F.expr(f"((u - umn) * {ZORDER_FILES}) DIV (umx - umn + 1)").alias(
            "g_linear"
        ),  # pure ORDER BY user_id layout: 64 user-rank buckets
        _interleave(ub, tb).alias("g_zorder"),
    )
    stats = None
    for layout in ("linear", "zorder"):
        s = (
            tagged.groupBy(F.col(f"g_{layout}").alias("g"))
            .agg(
                F.min("u").alias("min_u"), F.max("u").alias("max_u"),
                F.min("t").alias("min_t"), F.max("t").alias("max_t"),
                F.min("umn").alias("umn"), F.min("umx").alias("umx"),
                F.min("tmn").alias("tmn"), F.min("tmx").alias("tmx"),
            )
            .withColumn("layout", F.lit(layout))
        )
        stats = s if stats is None else stats.unionByName(s)
    # probed ranges: band Z_PRED_BAND of each dimension (half-open)
    u_lo = F.expr(f"umn + ((umx - umn + 1) * {Z_PRED_BAND}) DIV {n_b}")
    u_hi = F.expr(f"umn + ((umx - umn + 1) * {Z_PRED_BAND + 1}) DIV {n_b}")
    t_lo = F.expr(f"tmn + ((tmx - tmn + 1) * {Z_PRED_BAND}) DIV {n_b}")
    t_hi = F.expr(f"tmn + ((tmx - tmn + 1) * {Z_PRED_BAND + 1}) DIV {n_b}")
    hits = stats.select(
        "layout",
        ((F.col("max_u") >= u_lo) & (F.col("min_u") < u_hi))
        .cast("long")
        .alias("hit_user"),
        ((F.col("max_t") >= t_lo) & (F.col("min_t") < t_hi))
        .cast("long")
        .alias("hit_time"),
    )
    agg = hits.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.sum("hit_user").alias("files_hit_user_pred"),
        F.sum("hit_time").alias("files_hit_time_pred"),
    )
    return agg.select(
        "layout",
        "n_files",
        "files_hit_user_pred",
        F.round(F.col("files_hit_user_pred") / F.col("n_files").cast("double"), 6)
        .alias("user_scan_frac"),
        "files_hit_time_pred",
        F.round(F.col("files_hit_time_pred") / F.col("n_files").cast("double"), 6)
        .alias("time_scan_frac"),
    ).orderBy("layout")


QUERIES["zorder_pruning_audit"] = zorder_pruning_audit


def _zorder_oracle() -> str:
    n_b = 1 << ZORDER_BITS
    interleave = " + ".join(
        f"((ub // {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((tb // {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(ZORDER_BITS)
    )
    return f"""
        WITH base AS (
            SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t
            FROM events),
        b AS (
            SELECT min(u) AS umn, max(u) AS umx,
                   min(t) AS tmn, max(t) AS tmx
            FROM base),
        tagged AS (
            SELECT u, t, umn, umx, tmn, tmx,
                   ((u - umn) * {n_b}) // (umx - umn + 1) AS ub,
                   ((t - tmn) * {n_b}) // (tmx - tmn + 1) AS tb
            FROM base CROSS JOIN b),
        grouped AS (
            SELECT 'linear' AS layout,
                   ((u - umn) * {1 << (2 * ZORDER_BITS)}) // (umx - umn + 1) AS g,
                   * FROM tagged
            UNION ALL
            SELECT 'zorder' AS layout, {interleave} AS g, * FROM tagged),
        stats AS (
            SELECT layout, g,
                   min(u) AS min_u, max(u) AS max_u,
                   min(t) AS min_t, max(t) AS max_t,
                   min(umn) AS umn, min(umx) AS umx,
                   min(tmn) AS tmn, min(tmx) AS tmx
            FROM grouped GROUP BY 1, 2),
        hits AS (
            SELECT layout,
                   CASE WHEN max_u >= umn + ((umx - umn + 1) * {Z_PRED_BAND}) // {n_b}
                         AND min_u <  umn + ((umx - umn + 1) * {Z_PRED_BAND + 1}) // {n_b}
                        THEN 1 ELSE 0 END AS hit_user,
                   CASE WHEN max_t >= tmn + ((tmx - tmn + 1) * {Z_PRED_BAND}) // {n_b}
                         AND min_t <  tmn + ((tmx - tmn + 1) * {Z_PRED_BAND + 1}) // {n_b}
                        THEN 1 ELSE 0 END AS hit_time
            FROM stats)
        SELECT layout, count(*) AS n_files,
               CAST(sum(hit_user) AS BIGINT) AS files_hit_user_pred,
               round(CAST(sum(hit_user) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS user_scan_frac,
               CAST(sum(hit_time) AS BIGINT) AS files_hit_time_pred,
               round(CAST(sum(hit_time) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS time_scan_frac
        FROM hits GROUP BY 1 ORDER BY 1
    """


ORACLES["zorder_pruning_audit"] = _zorder_oracle()
