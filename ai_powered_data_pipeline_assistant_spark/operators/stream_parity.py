"""Driver-scorable streaming-vs-batch parity rows.

The streaming layer (T1-T7, S15) is a non-SQL-expressible surface the
DuckDB oracle cannot score directly, so its operators were pytest-only.
These queries convert the pytest equality pins into one-row (or
rows-per-stage) DataFrames the correctness driver CAN hash: each runs the
real Structured Streaming job (availableNow over a parquet snapshot of the
same events the batch twin reads), diffs the stream's final state against
the oracle-checked batch operator DISTRIBUTEDLY (exceptAll both ways), and
emits the counts plus an equality boolean. The oracle recomputes the batch
side in SQL and pins mismatches = 0 — so a drift anywhere in the streaming
path (state layout, emission mode, watermark math) flips the driver hash.

Parity pins promoted from pytest (same fixtures, same comparisons):
- cdc_stream_parity: streaming/stateful.cdc_latest_state ≡
  operators/incremental.cdc_apply (tests/test_stateful_streaming.py:150)
- funnel_stream_parity: streaming/stateful.funnel_conversion_state stage
  totals ≡ operators/behavior.funnel_counts (test_stateful_streaming.py:119)
- session_stream_parity: streaming/sessions.session_counts_stream ≡
  operators/windows.session_window_counts (tests/test_streaming.py:300)

Shared harnesses (private; each audit keeps only its own claims):
- `_audit_scope`: a fresh temp dir at 4 shuffle partitions that drops the
  audit's state tables and removes the dir on exit, also on error;
- `_ordered_arrivals` + `_await`: N frames replayed as N ordered
  micro-batches, and the wait that fails loudly on an unfinished stream;
- `_sym_diff`: the symmetric-difference row count (exceptAll both ways);
- `_state_report`: ingest → count → compact → count over `STATE_SPECS`,
  the spine of the four `*_state_report` rows;
- `_run_to_memory`: one snapshot → one micro-batch → memory sink, for the
  single-operator twins.

Scale notes: the harness is an AUDIT surface — it snapshots the fixture to
a temp directory and uses a memory sink, both bounded by the audit input
(per-key state rows, not raw events). A production parity check would
point the same stream at the live source with a file sink; the comparison
stays the same two exceptAll counts (one shuffle each). Reference has no
streaming layer at all (SURVEY §2.9 derives T1-T7 from its pubnub job
pipeline, backend/jobs/pubnub_job_processor.py); parity here is between
this repo's own streaming and batch duals.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize

# how long an availableNow audit stream may run before it counts as stuck
_STREAM_TIMEOUT_S = 300


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the block, restoring the previous value on
    exit. Session confs are SESSION-GLOBAL, so this races whatever else
    runs on the session at the same time: never enter it from inside an
    `execution.run_concurrently` thunk, where it would change, and then
    restore under, the sibling thunks' jobs."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextmanager
def _audit_scope(spark: SparkSession, drop_state=None):
    """Yield a fresh temp dir for one audit, run at 4 shuffle partitions:
    each stateful batch opens one state-store instance per shuffle
    partition, and the audit inputs are small, so 4 keeps every audit
    seconds-fast (a streaming query bakes the count into its own
    checkpoint only). On exit, also when the audit raises, the state
    tables the audit registered at ``{tmp}/state`` are dropped with
    ``drop_state(spark, state_dir)`` (when the audit has state) and the
    dir is removed — every comparison must materialize inside the block."""
    tmp = tempfile.mkdtemp(prefix="stream_parity_")
    with _session_conf(spark, "spark.sql.shuffle.partitions", "4"):
        try:
            yield tmp
        finally:
            try:
                if drop_state is not None:
                    drop_state(spark, f"{tmp}/state")
            finally:
                shutil.rmtree(tmp, ignore_errors=True)


def _ordered_arrivals(
    spark: SparkSession, tmp: str, frames: list[DataFrame]
) -> DataFrame:
    """Write ``frames`` under ``{tmp}/src`` as one parquet file each, with
    strictly increasing mtimes in frame order, and return the
    ``maxFilesPerTrigger=1`` readStream over them: frame i arrives as
    micro-batch i.

    Arrival-order assumption (ADVICE r9, shared by every ordered replay):
    with ``maxFilesPerTrigger=1`` and utime-staggered files,
    FileStreamSource picks oldest-mtime-first — Spark implementation
    behavior (``latestFirst`` defaults false), not a documented contract.
    If a Spark upgrade ever reorders the batches, the multi-batch audits
    do NOT silently pass: their batch index is content-derived (e.g.
    doc_id % NB), so the stream's accumulated state would diverge from
    the arrival-rule oracle and the parity row fails loudly as
    mismatches > 0."""
    src = f"{tmp}/src"
    os.makedirs(src)
    for i, frame in enumerate(frames):
        part_dir = f"{tmp}/part{i}"
        frame.coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = f"{src}/batch{i:03d}.parquet"
        os.replace(f"{part_dir}/{part}", dst)
        mtime = 1_700_000_000 + i * 100
        os.utime(dst, (mtime, mtime))
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _await(q, what: str) -> None:
    """Wait for an availableNow query to finish. One still running after
    ``_STREAM_TIMEOUT_S`` is stopped (before the audit's dirs are removed)
    and raises TimeoutError: a partial output table would be scored as a
    semantic mismatch — or, for a rerun, as a match."""
    if not q.awaitTermination(_STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{what} did not finish within {_STREAM_TIMEOUT_S} s — parity "
            "cannot be assessed on a partial output"
        )


def _sym_diff(a: DataFrame, b: DataFrame) -> int:
    """Symmetric-difference row count of two same-schema frames (multiset
    semantics via exceptAll, both directions — zero iff the frames are
    equal)."""
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _count_parity(
    spark: SparkSession, got: DataFrame, want: DataFrame, n_stream: str, n_batch: str
) -> DataFrame:
    """One row: both sides' row counts (named ``n_stream``/``n_batch``),
    the symmetric-difference size, and the equality verdict."""
    mismatches = _sym_diff(got, want)
    return spark.range(1).select(
        F.lit(got.count()).cast("long").alias(n_stream),
        F.lit(want.count()).cast("long").alias(n_batch),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


def _state_report(spark: SparkSession, nb: int, ingest, layers, compact):
    """Ingest arrival batches 0..nb-1 via ``ingest(i)``, count the rows and
    committed parquet files of every table in ``layers`` (``(state_dir,
    STATE_SPECS)`` pairs: a composed pipeline keeps delegated state in
    sub-dirs), run ``compact()``, count again. Returns ``(rows after
    compaction per table, rows_preserved, files_not_increased)`` — a row
    the rewrite lost or duplicated changes the reported counts."""
    from ai_powered_data_pipeline_assistant_spark import hadoop_fs
    from ai_powered_data_pipeline_assistant_spark.streaming import (
        state_compaction as sc,
    )

    for i in range(nb):
        ingest(i)
    tables = [
        (k, name, sc.table_path(state_dir, k))
        for state_dir, specs in layers
        for k, name in sc.state_tables(state_dir, specs).items()
    ]

    def counts():
        return (
            {k: spark.table(n).count() for k, n, _p in tables},
            {k: hadoop_fs.count_parquet(spark, p) for k, _n, p in tables},
        )

    pre_rows, pre_files = counts()
    compact()
    post_rows, post_files = counts()
    return (
        post_rows,
        pre_rows == post_rows,
        all(post_files[k] <= pre_files[k] for k in post_files),
    )


def _run_to_memory(
    spark: SparkSession,
    fixture: DataFrame,
    build,
    output_mode: str,
    no_data_batches: bool = True,
) -> DataFrame:
    """Replay `fixture` as one arrival file, run `build(stream)`
    availableNow into a memory sink, and return a materialized snapshot of
    the sink (its temp view is dropped).
    One file → one micro-batch → every key emits exactly once.
    ``no_data_batches=False`` is for ProcessingTimeTimeout queries, which
    otherwise run no-data batches (state-TTL cleanup) forever; append-mode
    queries need them — the no-data batch emits their closed sessions."""
    with _audit_scope(spark) as tmp:
        name = f"parity_{os.path.basename(tmp)}"
        out = build(_ordered_arrivals(spark, tmp, [fixture]))
        try:
            with _session_conf(
                spark,
                "spark.sql.streaming.noDataMicroBatches.enabled",
                str(no_data_batches).lower(),
            ):
                q = (
                    out.writeStream.outputMode(output_mode)
                    .format("memory")
                    .queryName(name)
                    .option("checkpointLocation", f"{tmp}/ckpt")
                    .trigger(availableNow=True)
                    .start()
                )
                _await(q, f"{name} stream")
            return materialize(spark.table(name), eager=True)
        finally:
            # the sink's view holds its rows in driver memory for the
            # session: snapshot them first, then drop it (also on error)
            spark.catalog.dropTempView(name)


def cdc_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization ≡ batch changelog compaction: run
    `cdc_latest_state` over the events changelog, drop tombstoned keys,
    and diff (user_id, last_op, last_value) against `cdc_apply`. One row:
    key counts from both sides, symmetric-difference size, equality."""
    from ai_powered_data_pipeline_assistant_spark.operators.incremental import (
        cdc_apply,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.stateful import (
        cdc_latest_state,
    )

    fixture = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    stream_state = _run_to_memory(
        spark, fixture, cdc_latest_state, "update", no_data_batches=False
    )
    got = (
        stream_state.filter(~F.col("deleted"))
        .select("user_id", "last_op", F.round("last_value", 6).alias("last_value"))
    )
    want = cdc_apply(spark, sf_dir).select("user_id", "last_op", "last_value")
    return _count_parity(spark, got, want, "n_keys_stream", "n_keys_batch")


def funnel_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental funnel state ≡ batch funnel: aggregate the per-user
    stage verdicts `funnel_conversion_state` maintains into stage totals
    and join them against `funnel_counts`. One row per stage with both
    sides and the equality verdict."""
    from ai_powered_data_pipeline_assistant_spark.operators.behavior import (
        funnel_counts,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.stateful import (
        funnel_conversion_state,
    )

    fixture = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    state = _run_to_memory(
        spark, fixture, funnel_conversion_state, "update", no_data_batches=False
    )
    totals = state.agg(
        F.sum(F.col("s1_view").cast("long")).alias("n1"),
        F.sum(F.col("s2_click").cast("long")).alias("n2"),
        F.sum(F.col("s3_purchase").cast("long")).alias("n3"),
    )
    stream_stages = totals.selectExpr(
        "stack(3, 1L, 'view', n1, 2L, 'click', n2, 3L, 'purchase', n3) "
        "AS (stage_idx, stage, n_users_stream)"
    )
    batch = funnel_counts(spark, sf_dir).withColumnRenamed("n_users", "n_users_batch")
    return (
        stream_stages.join(batch, ["stage_idx", "stage"])
        .select(
            "stage_idx",
            "stage",
            "n_users_stream",
            "n_users_batch",
            (F.col("n_users_stream") == F.col("n_users_batch")).alias(
                "stream_equals_batch"
            ),
        )
        .orderBy("stage_idx")
    )


def session_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows ≡ batch session windows: run
    `session_counts_stream` over the events (plus one far-future sentinel
    per user so the watermark closes every real session in append mode;
    sentinel sessions stay open and are never emitted), then diff the
    emitted sessions against `session_window_counts`. One row."""
    from ai_powered_data_pipeline_assistant_spark.operators.windows import (
        session_window_counts,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.sessions import (
        session_counts_stream,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    sentinels = (
        events.select("user_id")
        .distinct()
        .select(
            "user_id", F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts")
        )
    )
    fixture = events.union(sentinels)

    def build(stream: DataFrame) -> DataFrame:
        return session_counts_stream(stream).select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("events").alias("event_cnt"),
        )

    got = _run_to_memory(spark, fixture, build, "append")
    want = session_window_counts(spark, sf_dir).select(
        "user_id",
        F.col("session_start").cast("timestamp").alias("session_start"),
        F.col("session_end").cast("timestamp").alias("session_end"),
        "event_cnt",
    )
    return _count_parity(spark, got, want, "n_sessions_stream", "n_sessions_batch")


def _job_requests(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(base_req, kb): the deterministic request fixture shared by the T2
    (`job_stream_parity`) and T1/T7 (`channel_fanout_parity`) twins — one
    request per event, request_id = event_id, every 11th job_id pointing
    nowhere (no knowledge-base row → the no-context branch)."""
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    job_id = F.when(F.col("event_id") % 11 == 0, F.lit(-1)).otherwise(
        F.col("event_id") % 500
    )
    base_req = events.select(
        F.col("event_id").cast("string").alias("request_id"),
        job_id.cast("long").alias("job_id"),
        F.col("event_type").alias("query"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    return base_req, docs.select("doc_id", "text")


def job_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T3 job pipeline ≡ its batch twin: replay a deterministic request
    set (one request per event, request_id = event_id, some request_ids
    duplicated verbatim, some job_ids pointing nowhere) through the REAL
    streaming pipeline — `dedup_requests` (dropDuplicatesWithinWatermark)
    → `answer_requests` (stream-static context join + template assembly,
    the reference's pubnub_job_processor.py:198-280 chain) — availableNow,
    and exceptAll-diff the answered rows against the same operators run in
    batch mode. One row: request counts both sides, the no-context share,
    symmetric-difference size, equality. Duplicate requests are exact row
    copies, so batch dropDuplicates and streaming state both keep an
    identical row and the comparison is deterministic."""
    from ai_powered_data_pipeline_assistant_spark.streaming.jobs import (
        answer_requests,
        dedup_requests,
    )

    base_req, kb = _job_requests(spark, sf_dir)
    # exact-duplicate retries for every 7th request (the reference's
    # at-least-once redelivery the 300 s seen-map suppresses)
    fixture = base_req.union(
        base_req.filter(F.col("request_id").cast("long") % 7 == 0)
    )

    def build(stream: DataFrame) -> DataFrame:
        return answer_requests(dedup_requests(stream), kb)

    got = _run_to_memory(spark, fixture, build, "append")
    # materialize (the lineage barrier is REQUIRED): exceptAll trips an
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on this left-join + concat plan
    # (Catalyst project-collapse bug); materializing the twin sidesteps it
    # and also stops the batch pipeline re-running for each diff direction
    want = answer_requests(dedup_requests(base_req), kb).transform(materialize)
    n_no_context = got.join(
        kb.select(F.col("doc_id").alias("job_id")), "job_id", "left_anti"
    ).count()
    mismatches = _sym_diff(got, want)
    return spark.range(1).select(
        F.lit(got.count()).cast("long").alias("n_requests_stream"),
        F.lit(want.count()).cast("long").alias("n_requests_batch"),
        F.lit(n_no_context).cast("long").alias("n_no_context"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


def channel_fanout_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T7/S15 twin: run the REAL `publish_channels` stream — one
    foreachBatch fanning each micro-batch into job_responses / tasks /
    logs parquet channel tables (the reference's chat→tasks→logs publish,
    backend/api/routes/chat.py:159-221) — availableNow over the job
    fixture, then verify the landed channels against the batch twin:
    job_responses exceptAll-equals the batch answer set, and tasks / logs
    rows are exactly the per-response derivations the publisher emits.
    One row: per-channel counts, mismatch counts, equality verdict. The
    diffs are computed before the temp channel dirs are removed."""
    from ai_powered_data_pipeline_assistant_spark.streaming.jobs import (
        answer_requests,
        dedup_requests,
        publish_channels,
    )

    base_req, kb = _job_requests(spark, sf_dir)
    with _audit_scope(spark) as tmp:
        stream = _ordered_arrivals(spark, tmp, [base_req])
        answered = answer_requests(dedup_requests(stream), kb)
        q = publish_channels(answered, f"{tmp}/chan", f"{tmp}/ckpt")
        _await(q, "channel fan-out stream")

        got_resp = spark.read.parquet(f"{tmp}/chan/job_responses")
        got_tasks = spark.read.parquet(f"{tmp}/chan/tasks")
        got_logs = spark.read.parquet(f"{tmp}/chan/logs")
        want_resp = answer_requests(dedup_requests(base_req), kb).transform(materialize)
        want_tasks = want_resp.select(
            F.col("request_id").alias("task_name"),
            F.lit("completed").alias("status"),
            F.col("ts"),
        )
        want_logs = want_resp.select(
            F.col("ts").alias("time"),
            F.lit("INFO").alias("level"),
            F.concat(F.lit("answered "), "request_id").alias("message"),
        )
        n_resp = got_resp.count()
        n_tasks = got_tasks.count()
        n_logs = got_logs.count()
        mismatches = sum(
            _sym_diff(want, got.select(*want.columns))
            for want, got in (
                (want_resp, got_resp),
                (want_tasks, got_tasks),
                (want_logs, got_logs),
            )
        )
    return spark.range(1).select(
        F.lit(n_resp).cast("long").alias("n_responses"),
        F.lit(n_tasks).cast("long").alias("n_tasks"),
        F.lit(n_logs).cast("long").alias("n_logs"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("channels_equal_batch"),
    )


NEARDUP_STREAM_BATCHES = 3


def neardup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming near-dup ≡ its batch twin: partition the
    corpus into ``NEARDUP_STREAM_BATCHES`` arrival batches (batch index =
    doc_id % NB — the daily-crawl slices), replay them as ORDERED
    micro-batches (one file per batch, maxFilesPerTrigger=1, monotone
    mtimes) through the REAL `streaming/neardup.run_neardup_stream` —
    foreachBatch incremental LSH over accumulated bucketed band/posting
    state — then exceptAll-diff the accumulated (later, earlier, jaccard)
    pairs against `dedup.minhash_lsh_pairs_for` with the full arrival
    pairing rule: cross-batch ``batch(a) > batch(b)`` PLUS within-batch
    ``batch(a) = batch(b) AND a > b`` (the stream self-joins each batch's
    bands, so two near-dups arriving together are flagged too). One row:
    pair counts both sides, batch count, symmetric-difference size,
    equality. The oracle recomputes the batch side via the shared
    `minhash_lsh_cte` SQL and pins mismatches=0, so any drift in the
    streaming state path (signature math, band keys, verify rounding,
    state layout/replay semantics) flips the driver hash."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        minhash_lsh_pairs_for,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        drop_state,
        run_neardup_stream,
    )

    nb = NEARDUP_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _audit_scope(spark, drop_state) as tmp:
        stream = _ordered_arrivals(
            spark, tmp, [docs.filter(F.col("doc_id") % nb == i) for i in range(nb)]
        )
        q = run_neardup_stream(stream, f"{tmp}/state", f"{tmp}/pairs", f"{tmp}/ckpt")
        _await(q, "neardup stream")
        # pairs land batch_id-partitioned (the exactly-once writer);
        # project the semantic columns
        got = spark.read.parquet(f"{tmp}/pairs").select(
            "later_id", "earlier_id", "jaccard"
        )
        want = minhash_lsh_pairs_for(
            docs,
            pair_cond=lambda a, b: ((a % nb) > (b % nb))
            | (((a % nb) == (b % nb)) & (a > b)),
        ).select(
            F.col("a_id").alias("later_id"),
            F.col("b_id").alias("earlier_id"),
            "jaccard",
        ).transform(materialize)
        n_stream = got.count()
        n_batch = want.count()
        mismatches = _sym_diff(want, got)
    return spark.range(1).select(
        F.lit(n_stream).cast("long").alias("n_pairs_stream"),
        F.lit(n_batch).cast("long").alias("n_pairs_batch"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


SUBSTR_STREAM_BATCHES = 3


def substring_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming exact-substring dedup ≡ its batch twin:
    partition the corpus into ``SUBSTR_STREAM_BATCHES`` arrival batches
    (batch index = doc_id % NB), replay them as ORDERED micro-batches
    through the REAL `streaming/substring_stream.run_substring_stream`
    (hash-keyed window membership against accumulated bucketed state),
    then exceptAll-diff the accumulated per-document accounting against
    `substring.accounting_for` under the ARRIVAL first-wins order
    (batch index, doc_id, pos). The batch twin keys first-wins by window
    TEXT (``hash_keyed=False`` — the engine default went 128-bit-hash in
    round 10, but THIS reference side deliberately keeps text semantics)
    while the stream keys by the 60-bit hash, so a hash collision would
    surface here as a mismatch. One row: doc counts both sides,
    dropped-window and removed-token totals, mismatch count, equality —
    plus (round 10) the REWRITE leg: the stream lands each batch's
    rewritten documents (``text_out_dir``) and the accumulated text table
    must row-equal `rewrite_for` under the arrival order, with the
    kept-token total and bit_xor corpus fingerprint recomputed by the
    oracle from the shared CTE — the dedup-at-ingest deployment emits
    TEXT, and this pins the text, not just the accounting.
    The oracle recomputes the batch side via the shared `_spans_cte` with
    the arrival ordering and pins mismatches = 0 (arrival order: see
    `_ordered_arrivals`)."""
    from ai_powered_data_pipeline_assistant_spark.operators.substring import (
        accounting_for,
        dropped_intervals_for,
        kept_fingerprint_col,
        rewrite_for,
        sized_docs,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.substring_stream import (
        drop_state,
        run_substring_stream,
    )

    nb = SUBSTR_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _audit_scope(spark, drop_state) as tmp:
        stream = _ordered_arrivals(
            spark, tmp, [docs.filter(F.col("doc_id") % nb == i) for i in range(nb)]
        )
        q = run_substring_stream(
            stream, f"{tmp}/state", f"{tmp}/acct", f"{tmp}/ckpt",
            text_out_dir=f"{tmp}/text",
        )
        _await(q, "substring stream")
        got = spark.read.parquet(f"{tmp}/acct").select(
            "doc_id",
            "n_tokens",
            "n_dup_spans",
            "dup_windows",
            "tokens_removed",
            "tokens_kept",
        )
        sized = sized_docs(docs)
        # explicitly TEXT-keyed batch twin (the engine default is the
        # 128-bit hash): this parity's job includes surfacing any hash
        # collision as a mismatch, so the reference side must carry the
        # exact text semantics the oracle recomputes
        dropped_arrival = dropped_intervals_for(
            sized, batch_expr=lambda d: d % nb, hash_keyed=False
        ).transform(materialize)
        want = accounting_for(sized, dropped_arrival).transform(materialize)
        n_stream = got.count()
        n_batch = want.count()
        mismatches = _sym_diff(want, got)
        # rewrite leg (round 10): the per-batch TEXT output accumulated by
        # the stream must equal the batch rewrite under the arrival order
        text_cols = ["doc_id", "tokens_kept", "kept_text"]
        got_text = spark.read.parquet(f"{tmp}/text").select(*text_cols)
        # barriered like `want` above: rewrite_for's left-join + lambda +
        # concat plan feeds two exceptAll directions — the barrier both
        # avoids recomputing the whole pipeline per direction and
        # sidesteps the Catalyst project-collapse class documented at the
        # accounting leg (round-10 review)
        want_text = materialize(
            rewrite_for(sized, dropped_arrival).select(*text_cols)
        )
        rw_mismatch = _sym_diff(got_text, want_text)
        fp_row = got_text.select(
            "tokens_kept", kept_fingerprint_col().alias("fh")
        ).agg(
            F.sum("tokens_kept").cast("long").alias("tk"),
            F.expr("bit_xor(fh)").cast("long").alias("fp"),
        ).first()
        tokens_kept_total = int(fp_row["tk"] or 0)
        corpus_fp = int(fp_row["fp"] or 0)
        # sums are NULL on an empty accounting table (empty corpus /
        # zero-row batches) — coalesce so the parity row reports zeros
        # instead of raising TypeError (ADVICE r9)
        dropped_total = got.agg(F.sum("dup_windows").cast("long")).first()[0] or 0
        removed_total = got.agg(F.sum("tokens_removed").cast("long")).first()[0] or 0
    return spark.range(1).select(
        F.lit(n_stream).cast("long").alias("n_docs_stream"),
        F.lit(n_batch).cast("long").alias("n_docs_batch"),
        F.lit(int(dropped_total)).cast("long").alias("dropped_windows"),
        F.lit(int(removed_total)).cast("long").alias("tokens_removed"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
        F.lit(tokens_kept_total).cast("long").alias("tokens_kept_total"),
        F.lit(corpus_fp).cast("long").alias("corpus_fingerprint"),
        F.lit(rw_mismatch).cast("long").alias("rewrite_mismatches"),
        F.lit(rw_mismatch == 0).alias("rewrite_equals_batch"),
    )


CLUSTER_STREAM_BATCHES = 3


def _replay_lsh_clusters(docs: DataFrame, nb: int, state: str) -> DataFrame:
    """Ingest the corpus's verified LSH pairs through the union-find as
    ``nb`` pair-batches, each pair in the ARRIVAL batch of its LATER
    endpoint (doc_id % nb — a cross-batch pair exists the moment its
    second doc arrives). Returns the barriered pairs."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        minhash_lsh_pairs_for,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        process_cluster_batch,
    )

    pairs = materialize(minhash_lsh_pairs_for(docs).select("a_id", "b_id"))
    arrival = F.greatest(F.col("a_id") % nb, F.col("b_id") % nb)
    for i in range(nb):
        process_cluster_batch(pairs.filter(arrival == i), i, state)
    return pairs


def _cluster_columns(assign: DataFrame) -> list:
    """The membership scalars of a (doc_id, cluster_id) assignment, as the
    four leading literal columns of both clustering audits' rows."""
    agg = assign.agg(
        F.count("*").cast("long"),
        F.countDistinct("cluster_id").cast("long"),
        F.sum("cluster_id").cast("long"),
    ).first()
    largest = assign.groupBy("cluster_id").count().agg(F.max("count")).first()[0]
    return [
        F.lit(int(agg[0])).cast("long").alias("n_docs_clustered"),
        F.lit(int(agg[1])).cast("long").alias("n_clusters"),
        F.lit(int(largest or 0)).cast("long").alias("largest_cluster"),
        F.lit(int(agg[2] or 0)).cast("long").alias("cluster_id_checksum"),
    ]


def neardup_cluster_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming near-dup CLUSTERING ≡ batch connected
    components: generate the corpus's verified LSH pairs once, assign
    each pair the ARRIVAL batch of its LATER endpoint (batch index =
    doc_id % NB — a cross-batch pair exists the moment its second doc
    arrives), replay the ``CLUSTER_STREAM_BATCHES`` pair-batches through
    the REAL `streaming/cluster_stream.process_cluster_batch`
    (append-only union-find: roots + redirect log, pointer-doubled flat
    resolution), then exceptAll-diff the resolved (doc_id, cluster_id)
    assignment against the batch module's `connected_components` over the
    union of all pairs. CC labels are min-doc-id and order-independent,
    so the DuckDB oracle recomputes membership/count/checksum via the
    shared recursive-CTE transitive closure (`_VERIFIED_EDGES_CTE`) and
    pins mismatches = 0 — while the STREAM side's correctness burden is
    exactly the redirect machinery (merges across batches) the replay
    exercises."""
    from ai_powered_data_pipeline_assistant_spark.operators.neardup_cluster import (
        connected_components,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        drop_state,
        resolved_roots,
    )

    nb = CLUSTER_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        pairs = _replay_lsh_clusters(docs, nb, state)
        got = resolved_roots(spark, state).select(
            "doc_id", "cluster_id"
        ).transform(materialize)
        want = materialize(
            connected_components(pairs).select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )
        )
        mismatches = _sym_diff(got, want)
        membership = _cluster_columns(got)
    return spark.range(1).select(
        *membership,
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


# 4 batches, deliberately COPRIME with the 3-way modality split
# (modality = media_id % 3): batching by media_id % 3 would make batch ≡
# modality, so every pair would be within-batch and the cross-batch state
# machinery — the thing the parity exists to pin — would never fire.
PHASH_STREAM_BATCHES = 4


def media_phash_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perceptual gate ≡ batch banded pHash pairs: ingest the
    media table as ``PHASH_STREAM_BATCHES`` arrival batches through the
    real `streaming/phash_stream.process_phash_batch` (hash-once-per-blob,
    bucketed band state read in place, candidate-pruned hash point reads),
    COMPACT mid-stream after the SECOND batch — at that point batch 0
    actually folds into the ``batch_id = -1`` history partition, so
    batches 2+ genuinely read folded state (compacting after batch 0
    would fold nothing: batch 0 IS the newest; round-11 review) — and
    exceptAll-diff the accumulated (later, earlier,
    hamming) pairs against the batch operator's banded pipeline over ALL
    blobs under the arrival pairing rule (cross-batch: later arrived
    later; within-batch: later > earlier). The hash is the SHARED
    `phash_projection`, so the parity burden is exactly the streaming
    machinery: state layout, pre-batch reads, candidate pruning, replay
    discipline. The DuckDB oracle recomputes pair count / hamming sum /
    cross-vs-within split from the same chunk-parity hash (shared SQL
    generator) by brute force — exact at the threshold by pigeonhole —
    and pins mismatches = 0. Note the stream gates ALL blobs (an exact
    duplicate is a hamming-0 pair), unlike the rep-level corpus summary
    `media_phash_neardup`."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        _phash_pairs,
        media_table,
        phash_projection,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        PAIRS_SCHEMA,
        compact_phash_state,
        drop_state,
        process_phash_batch,
    )

    nb = PHASH_STREAM_BATCHES
    media = media_table(spark, sf_dir).select("media_id", "modality", "payload")
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        pairs_dir = f"{tmp}/pairs"
        for i in range(nb):
            process_phash_batch(
                media.filter(F.col("media_id") % nb == i), i, state, pairs_dir
            )
            if i == 1:
                compact_phash_state(spark, state)
        # explicit schema: a zero-pair corpus leaves only _SUCCESS markers
        # in the batch partitions, and schema inference would crash where
        # the oracle correctly reports n_pairs = 0 (round-11 review)
        got = materialize(
            spark.read.schema(f"{PAIRS_SCHEMA}, batch_id long")
            .parquet(pairs_dir)
            .select("later_id", "earlier_id", "hamming")
        )
        batch_pairs = _phash_pairs(phash_projection(media).transform(materialize))
        ba = F.col("a_id") % nb
        bb = F.col("b_id") % nb
        # arrival orientation: later = the endpoint whose batch is later;
        # same batch → the greater id (a_id < b_id in the batch frame)
        want = materialize(
            batch_pairs.select(
                F.when(ba > bb, F.col("a_id"))
                .otherwise(F.col("b_id"))
                .alias("later_id"),
                F.when(ba > bb, F.col("b_id"))
                .otherwise(F.col("a_id"))
                .alias("earlier_id"),
                "hamming",
            )
        )
        mismatches = _sym_diff(got, want)
        agg = got.agg(
            F.count("*").cast("long").alias("np"),
            F.sum("hamming").cast("long").alias("hs"),
            F.sum(
                F.when(
                    F.col("later_id") % nb != F.col("earlier_id") % nb, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("ncross"),
        ).first()
        n_blobs = media.count()
    n_pairs = int(agg["np"] or 0)
    n_cross = int(agg["ncross"] or 0)
    return spark.range(1).select(
        F.lit(n_blobs).cast("long").alias("n_blobs"),
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.lit(int(agg["hs"] or 0)).cast("long").alias("hamming_sum"),
        F.lit(n_cross).cast("long").alias("n_cross_batch"),
        F.lit(n_pairs - n_cross).cast("long").alias("n_within_batch"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


def _phash_stream_parity_sql() -> str:
    """Batch side recomputed by brute force from the shared chunk-parity
    hash SQL — pair totals and the cross/within split are value-exact
    (banding is pigeonhole-exact at the threshold); mismatches pinned 0."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        PHASH_BANDS,
        PHASH_HAMMING_T,
        phash_band_sql,
    )

    nb = PHASH_STREAM_BATCHES
    bands = ",\n                   ".join(
        f"{phash_band_sql(k, 'text', 'duck')} AS b{k}"
        for k in range(PHASH_BANDS)
    )
    hamming = " + ".join(
        f"bit_count(CAST(xor(a.b{k}, b.b{k}) AS BIGINT))"
        for k in range(PHASH_BANDS)
    )
    return f"""
        WITH media AS (
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   text
            FROM documents),
        hashed AS (
            SELECT media_id, modality,
                   {bands}
            FROM media),
        verified AS (
            SELECT a.media_id AS a_id, b.media_id AS b_id,
                   {hamming} AS hamming
            FROM hashed a JOIN hashed b
                 ON a.modality = b.modality AND a.media_id < b.media_id
            WHERE {hamming} <= {PHASH_HAMMING_T})
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM media) AS n_blobs,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(coalesce(sum(hamming), 0) AS BIGINT) AS hamming_sum,
               CAST(coalesce(sum(CASE WHEN a_id % {nb} != b_id % {nb}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_cross_batch,
               CAST(coalesce(sum(CASE WHEN a_id % {nb} = b_id % {nb}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_within_batch,
               CAST({nb} AS INT) AS n_batches,
               CAST(0 AS BIGINT) AS n_mismatches,
               true AS stream_equals_batch
        FROM verified
    """


def phash_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops accounting for the streaming perceptual-gate state — the
    numbers a deployment monitors to schedule phash-state compaction
    (TUNING.md media pHash sizing): ingest the media table as
    ``PHASH_STREAM_BATCHES`` arrival batches through the real per-batch
    handler, COMPACT, and report the state row accounting (all counts
    taken AFTER `compact_phash_state`, the neardup_state_report
    pattern). Driver-pins: pbands holds exactly PHASH_BANDS blocking
    rows per blob ever ingested, phashes exactly one hash row per blob
    (both recomputed by the SQL twin from the corpus), compaction
    preserves every row, and never increases the file count."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        media_table,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        STATE_SPECS,
        compact_phash_state,
        drop_state,
        process_phash_batch,
    )

    nb = PHASH_STREAM_BATCHES
    media = media_table(spark, sf_dir).select("media_id", "modality", "payload")
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        rows, preserved, files_ok = _state_report(
            spark,
            nb,
            lambda i: process_phash_batch(
                media.filter(F.col("media_id") % nb == i), i, state, f"{tmp}/pairs"
            ),
            [(state, STATE_SPECS)],
            lambda: compact_phash_state(spark, state),
        )
        n_blobs = media.count()
    return spark.range(1).select(
        F.lit(n_blobs).cast("long").alias("n_blobs"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(rows["pbands"]).cast("long").alias("pbands_rows"),
        F.lit(rows["phashes"]).cast("long").alias("phashes_rows"),
        F.lit(preserved).alias("rows_preserved"),
        F.lit(files_ok).alias("files_not_increased"),
    )


def _phash_report_sql() -> str:
    """The state accounting recomputed independently: one hash row per
    blob, PHASH_BANDS band rows per blob — structural facts of the
    arrival-time build the fold must preserve."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        PHASH_BANDS,
    )

    return f"""
        SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_blobs,
               CAST({PHASH_STREAM_BATCHES} AS INT) AS n_batches,
               CAST((SELECT count(*) FROM documents) * {PHASH_BANDS}
                    AS BIGINT) AS pbands_rows,
               CAST((SELECT count(*) FROM documents) AS BIGINT)
                   AS phashes_rows,
               true AS rows_preserved,
               true AS files_not_increased
    """


# 4 pair-batches for the media cluster stream — coprime with the 3-way
# modality split for the same reason as PHASH_STREAM_BATCHES.
MEDIA_CLUSTER_BATCHES = 4


def media_cluster_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perceptual FAMILIES ≡ batch keep-best (VERDICT r11 task
    #3): generate the corpus's verified pHash pairs once (banded, over
    exact-dedup reps — the batch operator's own `_phash_pairs`), assign
    each pair the arrival batch of its LATER endpoint (batch = media_id %
    MEDIA_CLUSTER_BATCHES), replay the pair-batches through the
    pair-generic append-only union-find
    (`streaming/cluster_stream.process_cluster_batch`), COMPACT
    mid-stream after the second batch (batch 0's roots genuinely fold
    and its redirects are absorbed — the shared `state_compaction` core
    exercised inside the run), then maintain keep-best INCREMENTALLY:
    resolved family labels joined to payload sizes, one max-struct
    keeper aggregate. The final families are exceptAll-diffed against
    the batch operator `media_phash_keep_best` row-for-row — CC labels
    are min-id and order-independent, so stream ≡ batch exactly, and
    the DuckDB oracle recomputes every scalar via the recursive-CTE
    transitive closure over the shared chunk-parity hash SQL."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        _phash_frame,
        _phash_pairs,
        media_phash_keep_best,
        media_table,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        compact_cluster_state,
        drop_state,
        process_cluster_batch,
        resolved_roots,
    )

    nb = MEDIA_CLUSTER_BATCHES
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        media = media_table(spark, sf_dir)
        pairs = materialize(
            _phash_pairs(_phash_frame(media)).select("a_id", "b_id")
        )
        arrival = F.greatest(F.col("a_id") % nb, F.col("b_id") % nb)
        for i in range(nb):
            process_cluster_batch(pairs.filter(arrival == i), i, state)
            if i == 1:
                compact_cluster_state(spark, state)
        sized = media.select(
            F.col("media_id").alias("doc_id"),
            "modality",
            F.octet_length("payload").cast("long").alias("bytes"),
        )
        fam = resolved_roots(spark, state).join(sized, "doc_id")
        got = materialize(_keep_best(fam, "doc_id", "cluster_id"))
        want = materialize(
            media_phash_keep_best(spark, sf_dir).select(*got.columns)
        )
        mismatches = _sym_diff(got, want)
        agg = got.agg(
            F.count("*").cast("long").alias("nf"),
            F.max("family_size").cast("long").alias("lf"),
            F.sum("keeper_id").cast("long").alias("kc"),
            F.sum("keeper_bytes").cast("long").alias("kb"),
        ).first()
    return spark.range(1).select(
        F.lit(int(agg["nf"] or 0)).cast("long").alias("n_families"),
        F.lit(int(agg["lf"] or 0)).cast("long").alias("largest_family"),
        F.lit(int(agg["kc"] or 0)).cast("long").alias("keeper_id_checksum"),
        F.lit(int(agg["kb"] or 0)).cast("long").alias("keeper_bytes_sum"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


def _media_cluster_parity_sql() -> str:
    """Family scalars recomputed from the batch keep-best oracle (the
    recursive-CTE closure over the shared hash SQL), aggregated; stream
    mismatches pinned 0."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        _phash_keep_best_oracle,
    )

    return f"""
        SELECT CAST(count(*) AS BIGINT) AS n_families,
               CAST(coalesce(max(family_size), 0) AS BIGINT)
                   AS largest_family,
               CAST(coalesce(sum(keeper_id), 0) AS BIGINT)
                   AS keeper_id_checksum,
               CAST(coalesce(sum(keeper_bytes), 0) AS BIGINT)
                   AS keeper_bytes_sum,
               CAST({MEDIA_CLUSTER_BATCHES} AS INT) AS n_batches,
               CAST(0 AS BIGINT) AS n_mismatches,
               true AS stream_equals_batch
        FROM ({_phash_keep_best_oracle()}) t
    """


def _keep_best(members: DataFrame, id_col: str, family_col: str) -> DataFrame:
    """Keep-best per family over (id, family, modality, bytes) member rows:
    family size, the largest member as keeper (ties → the lowest id, one
    max-struct aggregate), in `media_phash_keep_best`'s (family_id,
    modality, family_size, keeper_id, keeper_bytes) shape."""
    return (
        members.groupBy(family_col)
        .agg(
            F.count("*").cast("long").alias("family_size"),
            F.max(F.struct(F.col("bytes"), (-F.col(id_col)).alias("ni"))).alias("_s"),
            F.min("modality").alias("modality"),
        )
        .select(
            F.col(family_col).alias("family_id"),
            "modality",
            "family_size",
            (-F.col("_s.ni")).cast("long").alias("keeper_id"),
            F.col("_s.bytes").cast("long").alias("keeper_bytes"),
        )
    )


# 4 arrival batches for the composed media pipeline — coprime with the
# 3-way modality split (the PHASH_STREAM_BATCHES rationale).
MEDIA_CRAWL_BATCHES = 4


def _media_keep_cte(nb: int) -> str:
    """Shared DuckDB CTE chain for the composed media pipeline oracles:
    arrival-rule EXACT keepers (first batch containing the content, min
    id within it — `min(struct(batch, id))` in the engine), their
    chunk-parity hashes (shared SQL generator), brute-force verified
    pairs, and the distinct later-side ids the perceptual gate drops.
    Text equality stands in for payload-digest equality (payload =
    utf-8(text), the module fixture)."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        PHASH_BANDS,
        PHASH_HAMMING_T,
        phash_band_sql,
    )

    bands = ",\n                   ".join(
        f"{phash_band_sql(k, 'text', 'duck')} AS b{k}"
        for k in range(PHASH_BANDS)
    )
    hamming = " + ".join(
        f"bit_count(CAST(xor(a.b{k}, b.b{k}) AS BIGINT))"
        for k in range(PHASH_BANDS)
    )
    return f"""media AS (
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   text
            FROM documents),
        arr AS (SELECT *, media_id % {nb} AS b FROM media),
        grp AS (SELECT modality, text, min(b) AS b0
                FROM arr GROUP BY 1, 2),
        keep AS (
            SELECT a.modality, a.text, min(a.media_id) AS media_id
            FROM arr a JOIN grp g
                 ON a.modality = g.modality AND a.text = g.text
                    AND a.b = g.b0
            GROUP BY 1, 2),
        hashed AS (
            SELECT k.media_id, k.modality,
                   {bands}
            FROM keep k),
        verified AS (
            SELECT a.media_id AS a_id, b.media_id AS b_id,
                   {hamming} AS hamming
            FROM hashed a JOIN hashed b
                 ON a.modality = b.modality AND a.media_id < b.media_id
            WHERE {hamming} <= {PHASH_HAMMING_T}),
        later AS (
            SELECT DISTINCT CASE WHEN a_id % {nb} > b_id % {nb}
                                 THEN a_id ELSE b_id END AS media_id
            FROM verified)"""


def _media_output(spark: SparkSession, out: str, name: str) -> DataFrame:
    """One batch-partitioned output of the composed media pipeline, read
    with its explicit schema (a batch that lands no rows leaves only
    _SUCCESS markers, which schema inference cannot read)."""
    schema = {
        "curated": "media_id long, modality string",
        "exact_dropped": "media_id long, modality string, keeper_id long",
    }[name]
    return spark.read.schema(f"{schema}, batch_id long").parquet(f"{out}/{name}")


def media_crawl_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED media ingest pipeline
    (`streaming/media_pipeline.py`: exact sha256 keeper gate →
    perceptual pHash gate with BOUNDED decisions → incremental
    union-find families → keep-best) replayed as ``MEDIA_CRAWL_BATCHES``
    ordered micro-batches through the real per-batch handler — with the
    in-pipeline maintenance cadence armed (``compact_every=2``, so all
    four state surfaces compact INSIDE the run at batch 2) — and pinned
    end to end against the batch arrival-rule recompute:

    - curated membership: streamed keep-set ≡ arrival-rule exact keepers
      minus perceptual later-side ids (set equality via exceptAll);
    - families: the incremental keep-best view ≡ CC + max-struct keeper
      over the keepers' verified pairs (set equality);
    - every scalar (exact drops, perceptual drops, curated checksum,
      family keeper checksum) recomputed independently by the DuckDB
      oracle from the shared chunk-parity hash SQL."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        _phash_pairs,
        media_table,
        phash_projection,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.neardup_cluster import (
        connected_components,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.media_pipeline import (
        drop_state,
        media_keep_best_state,
        process_media_batch,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.phash_stream import (
        DECISIONS_SCHEMA,
    )

    nb = MEDIA_CRAWL_BATCHES
    with _audit_scope(spark, drop_state) as tmp:
        state, out = f"{tmp}/state", f"{tmp}/out"
        media = media_table(spark, sf_dir).select(
            "media_id", "modality", "payload"
        )
        for i in range(nb):
            process_media_batch(
                media.filter(F.col("media_id") % nb == i), i, state, out,
                compact_every=2,
            )
        got_curated = materialize(
            _media_output(spark, out, "curated").select("media_id", "modality")
        )
        got_fams = materialize(
            media_keep_best_state(spark, state).select(
                "family_id", "modality", "family_size",
                "keeper_id", "keeper_bytes",
            )
        )
        # batch arrival-rule recompute (Spark side of the pin)
        sized = media.select(
            "media_id",
            "modality",
            F.sha2("payload", 256).alias("d"),
            F.octet_length("payload").cast("long").alias("bytes"),
            (F.col("media_id") % nb).alias("b"),
        )
        keeper_ids = (
            sized.groupBy("modality", "d")
            .agg(F.min(F.struct("b", "media_id")).alias("s"))
            .select(F.col("s.media_id").alias("media_id"))
        )
        keepers = media.join(F.broadcast(keeper_ids), "media_id", "left_semi")
        khash = materialize(phash_projection(keepers))
        kpairs = materialize(_phash_pairs(khash))
        later_ids = kpairs.select(
            F.when(
                F.col("a_id") % nb > F.col("b_id") % nb, F.col("a_id")
            )
            .otherwise(F.col("b_id"))
            .alias("media_id")
        ).distinct()
        want_curated = materialize(
            keepers.select("media_id", "modality").join(
                later_ids, "media_id", "left_anti"
            )
        )
        comp = connected_components(kpairs.select("a_id", "b_id")).select(
            F.col("node").alias("media_id"), F.col("label").alias("family_id")
        )
        want_fams = materialize(
            _keep_best(
                comp.join(sized.select("media_id", "modality", "bytes"), "media_id"),
                "media_id",
                "family_id",
            )
        )
        mismatches = _sym_diff(got_curated, want_curated) + _sym_diff(
            got_fams, want_fams
        )
        n_arrivals = media.count()
        n_exact_dropped = _media_output(spark, out, "exact_dropped").count()
        n_perc_dropped = (
            spark.read.schema(f"{DECISIONS_SCHEMA}, batch_id long")
            .parquet(f"{out}/decisions")
            .filter("is_dup")
            .count()
        )
        cagg = got_curated.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("media_id").cast("long").alias("ck"),
        ).first()
        fagg = got_fams.agg(
            F.count("*").cast("long").alias("nf"),
            F.sum("keeper_id").cast("long").alias("kc"),
        ).first()
    return spark.range(1).select(
        F.lit(n_arrivals).cast("long").alias("n_arrivals"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(n_exact_dropped).cast("long").alias("n_exact_dropped"),
        F.lit(n_perc_dropped).cast("long").alias("n_perceptual_dropped"),
        F.lit(int(cagg["n"] or 0)).cast("long").alias("n_curated"),
        F.lit(int(cagg["ck"] or 0)).cast("long").alias("curated_checksum"),
        F.lit(int(fagg["nf"] or 0)).cast("long").alias("n_families"),
        F.lit(int(fagg["kc"] or 0)).cast("long").alias("keeper_id_checksum"),
        F.lit(mismatches).cast("long").alias("n_mismatches"),
        F.lit(mismatches == 0).alias("stream_equals_batch"),
    )


def _media_crawl_parity_sql() -> str:
    """Every pipeline outcome recomputed independently: arrival-rule
    exact keepers, brute-force perceptual drops, curated set checksum,
    and the family keeper checksum via the recursive closure — all from
    the shared hash SQL. Mismatches pinned 0."""
    nb = MEDIA_CRAWL_BATCHES
    return f"""
        WITH RECURSIVE {_media_keep_cte(nb)},
        curated AS (
            SELECT media_id FROM keep
            WHERE media_id NOT IN (SELECT media_id FROM later)),
        edges AS (SELECT a_id AS src, b_id AS dst FROM verified
                  UNION ALL SELECT b_id, a_id FROM verified),
        reach(src, dst) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM edges)
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS media_id, min(dst) AS family_id
                 FROM reach GROUP BY 1),
        fam AS (
            SELECT c.family_id, k.media_id,
                   CAST(strlen(k.text) AS BIGINT) AS bytes
            FROM comp c JOIN keep k USING (media_id)),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY family_id
                                         ORDER BY bytes DESC, media_id) AS rn
            FROM fam)
        SELECT CAST((SELECT count(*) FROM media) AS BIGINT) AS n_arrivals,
               CAST({nb} AS INT) AS n_batches,
               CAST((SELECT count(*) FROM media)
                    - (SELECT count(*) FROM keep) AS BIGINT)
                   AS n_exact_dropped,
               CAST((SELECT count(*) FROM later) AS BIGINT)
                   AS n_perceptual_dropped,
               CAST((SELECT count(*) FROM curated) AS BIGINT) AS n_curated,
               CAST((SELECT coalesce(sum(media_id), 0) FROM curated)
                    AS BIGINT) AS curated_checksum,
               CAST((SELECT count(DISTINCT family_id) FROM fam) AS BIGINT)
                   AS n_families,
               CAST((SELECT coalesce(sum(media_id), 0) FROM ranked
                     WHERE rn = 1) AS BIGINT) AS keeper_id_checksum,
               CAST(0 AS BIGINT) AS n_mismatches,
               true AS stream_equals_batch
    """


def media_pipeline_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops accounting for the composed media pipeline's four state
    surfaces — the numbers that prove the EXACT-FIRST composition bounds
    state by distinct CONTENTS, not arrivals (the r11 scale fix): after
    ``MEDIA_CRAWL_BATCHES`` arrival batches with the in-pipeline
    compaction cadence armed, mdigest holds one row per distinct
    (modality, content) ever seen, msizes/phashes one row per exact
    survivor, pbands exactly PHASH_BANDS rows per survivor — every count
    recomputed by the DuckDB twin from the corpus — and one more offline
    `compact_media_state` pass preserves every row (rows_preserved)."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        media_table,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming import (
        media_pipeline,
        phash_stream,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.media_pipeline import (
        compact_media_state,
        drop_state,
        process_media_batch,
    )

    nb = MEDIA_CRAWL_BATCHES
    with _audit_scope(spark, drop_state) as tmp:
        state, out = f"{tmp}/state", f"{tmp}/out"
        media = media_table(spark, sf_dir).select("media_id", "modality", "payload")
        rows, preserved, _ = _state_report(
            spark,
            nb,
            lambda i: process_media_batch(
                media.filter(F.col("media_id") % nb == i), i, state, out,
                compact_every=2,
            ),
            [
                (state, media_pipeline.STATE_SPECS),
                (f"{state}/phash", phash_stream.STATE_SPECS),
            ],
            lambda: compact_media_state(spark, state),
        )
        n_curated = _media_output(spark, out, "curated").count()
        n_exact_dropped = _media_output(spark, out, "exact_dropped").count()
        n_arrivals = media.count()
    return spark.range(1).select(
        F.lit(n_arrivals).cast("long").alias("n_arrivals"),
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(rows["mdigest"]).cast("long").alias("mdigest_rows"),
        F.lit(rows["msizes"]).cast("long").alias("msizes_rows"),
        F.lit(rows["pbands"]).cast("long").alias("pbands_rows"),
        F.lit(rows["phashes"]).cast("long").alias("phashes_rows"),
        F.lit(n_curated).cast("long").alias("curated_total"),
        F.lit(n_exact_dropped).cast("long").alias("exact_dropped_total"),
        F.lit(preserved).alias("rows_preserved"),
    )


def _media_report_sql() -> str:
    """State accounting recomputed independently: the exact-first
    composition stores one digest row per distinct (modality, content),
    one size/hash row per arrival-rule keeper, PHASH_BANDS band rows per
    keeper; curated = keepers minus perceptual later-side ids."""
    from ai_powered_data_pipeline_assistant_spark.operators.multimodal import (
        PHASH_BANDS,
    )

    nb = MEDIA_CRAWL_BATCHES
    return f"""
        WITH {_media_keep_cte(nb)}
        SELECT CAST((SELECT count(*) FROM media) AS BIGINT) AS n_arrivals,
               CAST({nb} AS INT) AS n_batches,
               CAST((SELECT count(*) FROM grp) AS BIGINT) AS mdigest_rows,
               CAST((SELECT count(*) FROM keep) AS BIGINT) AS msizes_rows,
               CAST((SELECT count(*) FROM keep) * {PHASH_BANDS} AS BIGINT)
                   AS pbands_rows,
               CAST((SELECT count(*) FROM keep) AS BIGINT) AS phashes_rows,
               CAST((SELECT count(*) FROM keep)
                    - (SELECT count(*) FROM later) AS BIGINT)
                   AS curated_total,
               CAST((SELECT count(*) FROM media)
                    - (SELECT count(*) FROM keep) AS BIGINT)
                   AS exact_dropped_total,
               true AS rows_preserved
    """


def cluster_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops accounting for the incremental-clustering state — the numbers a
    deployment monitors to schedule redirect-log compaction
    (streaming/cluster_stream.py; VERDICT r10 task #3's driver-scorable
    report): ingest the corpus's verified pairs as
    ``CLUSTER_STREAM_BATCHES`` arrival batches through the real per-batch
    handler, COMPACT (`compact_cluster_state` folds resolved redirects
    into the roots partitions), and report the state accounting, all
    scalars taken AFTER compaction.

    Driver-pins four claims at once: the resolved assignment equals the
    batch CC over all pairs (membership scalars recomputed by the shared
    recursive-CTE closure), compaction preserves the assignment
    (`assignment_preserved`: exceptAll-diff before vs after = 0), the
    roots table holds exactly one row per clustered doc, and the redirect
    log shrinks to the NEWEST batch's merge events only — the SQL twin
    recomputes both ``redirect_rows`` (merges the last batch caused:
    pre-last-batch component labels relabeled by the full closure) and
    ``redirects_folded`` (merges at the intermediate batches) from
    per-arrival-prefix transitive closures, so a compactor that dropped a
    live redirect or kept an absorbed one flips the driver hash."""
    from ai_powered_data_pipeline_assistant_spark.streaming.cluster_stream import (
        STATE_SPECS,
        compact_cluster_state,
        drop_state,
        read_redirects,
        resolved_roots,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.state_compaction import (
        state_tables,
    )

    nb = CLUSTER_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        _replay_lsh_clusters(docs, nb, state)
        # EAGER barrier: the compaction below swap-DELETES the roots files
        # this plan reads; a lazy checkpoint would re-read them post-swap
        before = materialize(
            resolved_roots(spark, state).select("doc_id", "cluster_id"),
            eager=True,
        )
        red_before = read_redirects(spark, state).count()
        stats = compact_cluster_state(spark, state)
        after = materialize(
            resolved_roots(spark, state).select("doc_id", "cluster_id")
        )
        preserved = _sym_diff(before, after) == 0
        roots_rows = spark.table(state_tables(state, STATE_SPECS)["roots"]).count()
        membership = _cluster_columns(after)
    return spark.range(1).select(
        *membership,
        F.lit(nb).cast("int").alias("n_batches"),
        F.lit(int(roots_rows)).cast("long").alias("roots_rows"),
        F.lit(int(stats["redirect_rows"])).cast("long").alias("redirect_rows"),
        F.lit(int(red_before - stats["redirect_rows"]))
        .cast("long")
        .alias("redirects_folded"),
        F.lit(bool(preserved)).alias("assignment_preserved"),
    )


def _cluster_report_sql() -> str:
    """The post-compaction state accounting recomputed independently:
    membership scalars via the shared recursive-CTE closure; the merge-
    event counts via per-arrival-prefix closures — a redirect row exists
    for component label L at batch i exactly when the closure over
    arrivals < i labels some doc L while the closure through i relabels
    it (the union-find emits one redirect per losing KNOWN root, and
    every pre-component is known: each member's roots row was written on
    first pairing). ``redirect_rows`` = merges at the partition
    compaction keeps; ``redirects_folded`` = the rest (absorbed into the
    folded roots).

    Which partition compaction keeps is NOT hard-wired to arrival batch
    nb-1 (round-11 review): `compact_cluster_state` keeps the newest
    batch PRESENT IN STATE, and a batch leaves state only if it
    introduced a new doc (a roots partition) or caused a merge (a
    redirects partition) — a trailing batch with no pairs, or whose
    pairs add no docs and no merges, writes nothing. The oracle
    recomputes that rule: new-doc counts per batch from each doc's
    first pair arrival, merge counts from the prefix closures, and
    ``last_state`` = the highest batch where either is non-zero."""
    from ai_powered_data_pipeline_assistant_spark.operators.neardup_cluster import (
        _VERIFIED_EDGES_CTE,
    )

    nb = CLUSTER_STREAM_BATCHES
    arrival = f"greatest(a_id % {nb}, b_id % {nb})"
    # closure over the pairs that have arrived through batch i, per i
    prefix_ctes = []
    for i in range(nb - 1):  # the full closure is `comp` from the shared CTE
        prefix_ctes.append(
            f"""v{i} AS (SELECT a_id, b_id FROM verified
                         WHERE {arrival} <= {i}),
        e{i} AS (SELECT a_id AS src, b_id AS dst FROM v{i}
                 UNION ALL SELECT b_id, a_id FROM v{i}),
        r{i}(src, dst) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e{i})
            UNION
            SELECT r.src, e.dst FROM r{i} r JOIN e{i} e ON r.dst = e.src),
        c{i} AS (SELECT src AS doc_id, min(dst) AS label
                 FROM r{i} GROUP BY 1)"""
        )
    # merges at batch i (1 ≤ i ≤ nb-1): distinct labels of the closure
    # through i-1 that the closure through i relabels
    merge_ctes = []
    for i in range(1, nb):
        newer = (
            "comp" if i == nb - 1 else f"c{i}"
        )
        new_label = "cluster_id" if i == nb - 1 else "label"
        merge_ctes.append(
            f"""m{i} AS (SELECT DISTINCT p.label FROM c{i - 1} p
                         JOIN {newer} n ON p.doc_id = n.doc_id
                         WHERE p.label != n.{new_label})"""
        )
    total_sum = " + ".join(
        f"(SELECT count(*) FROM m{i})" for i in range(1, nb)
    )
    # merges at batch i, as a scalar (m0 does not exist: batch 0 has no
    # known roots and cannot emit redirects)
    m_of = {i: f"(SELECT count(*) FROM m{i})" for i in range(1, nb)}
    m_of[0] = "0"
    # the newest batch PRESENT IN STATE: new docs (first pair arrival)
    # or merges — descending CASE chain
    last_cases = " ".join(
        f"WHEN (SELECT count(*) FROM nd WHERE first_arr = {i}) > 0 "
        f"OR {m_of[i]} > 0 THEN {i}"
        for i in range(nb - 1, 0, -1)
    )
    kept_cases = " ".join(
        f"WHEN {i} THEN {m_of[i]}" for i in range(nb - 1, 0, -1)
    )
    prefix_block = ",\n        ".join(prefix_ctes)
    merge_block = ",\n        ".join(merge_ctes)
    return f"""
        WITH RECURSIVE {_VERIFIED_EDGES_CTE},
        {prefix_block},
        {merge_block},
        arr AS (
            SELECT doc_id, min(arrival) AS first_arr FROM (
                SELECT a_id AS doc_id, {arrival} AS arrival FROM verified
                UNION ALL
                SELECT b_id AS doc_id, {arrival} AS arrival FROM verified)
            GROUP BY 1),
        nd AS (SELECT first_arr, count(*) AS n FROM arr GROUP BY 1),
        last_state AS (
            SELECT CASE {last_cases} ELSE 0 END AS b),
        kept AS (
            SELECT CASE (SELECT b FROM last_state) {kept_cases}
                   ELSE 0 END AS n)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM comp)
                   AS n_docs_clustered,
               (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM comp)
                   AS n_clusters,
               (SELECT CAST(coalesce(max(n), 0) AS BIGINT)
                FROM (SELECT count(*) AS n FROM comp GROUP BY cluster_id))
                   AS largest_cluster,
               (SELECT CAST(coalesce(sum(cluster_id), 0) AS BIGINT) FROM comp)
                   AS cluster_id_checksum,
               CAST({nb} AS INT) AS n_batches,
               (SELECT CAST(count(*) AS BIGINT) FROM comp) AS roots_rows,
               (SELECT CAST(n AS BIGINT) FROM kept) AS redirect_rows,
               CAST(({total_sum}) - (SELECT n FROM kept) AS BIGINT)
                   AS redirects_folded,
               true AS assignment_preserved
    """


def substring_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops accounting for the streaming substring state — the numbers a
    deployment monitors to schedule wins-table compaction (TUNING.md
    "streaming exact-substring gate" sizing): ingest the corpus as
    ``SUBSTR_STREAM_BATCHES`` arrival batches through the real per-batch
    handler, COMPACT, and report the state. Driver-pins three claims:
    the wins table holds exactly one row per DISTINCT window ever seen
    (the SQL twin recomputes the distinct-window count from the corpus —
    a 60-bit hash collision would under-count and flip the driver hash),
    compaction preserves every row, and compaction never increases the
    file count."""
    from ai_powered_data_pipeline_assistant_spark.streaming.substring_stream import (
        STATE_SPECS,
        compact_substring_state,
        drop_state,
        process_substring_batch,
    )

    nb = SUBSTR_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        rows, preserved, files_ok = _state_report(
            spark,
            nb,
            lambda i: process_substring_batch(
                docs.filter(F.col("doc_id") % nb == i), i, state, f"{tmp}/acct"
            ),
            [(state, STATE_SPECS)],
            lambda: compact_substring_state(spark, state),
        )
        n_docs = docs.count()
    return spark.createDataFrame(
        [(n_docs, nb, rows["wins"], preserved, files_ok)],
        "n_docs long, n_batches int, wins_rows long, rows_preserved boolean, "
        "files_not_increased boolean",
    )


def _substring_report_sql() -> str:
    """The wins accounting recomputed independently: one state row per
    distinct K-token window of the corpus (the same sized/occ CTE the
    dedup oracles share)."""
    from ai_powered_data_pipeline_assistant_spark.operators.substring import (
        SUBSTR_K,
    )

    k = SUBSTR_K
    return f"""
        WITH sized AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t,
                   length(string_split_regex(trim(lower(text)), '\\s+')) AS n
            FROM documents),
        occ AS (
            SELECT array_to_string(t[i + 1 : i + {k}], ' ') AS win
            FROM sized, LATERAL (SELECT unnest(range(0, n - {k} + 1)) AS i)
            WHERE n >= {k})
        SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
               CAST({SUBSTR_STREAM_BATCHES} AS INT) AS n_batches,
               (SELECT CAST(count(DISTINCT win) AS BIGINT) FROM occ)
                   AS wins_rows,
               true AS rows_preserved,
               true AS files_not_increased
    """


def _substring_parity_sql() -> str:
    """Batch side recomputed via substring's shared spans CTE under the
    arrival first-wins order; totals SQL-exact, mismatches pinned 0. The
    rewrite leg (round 10) recomputes the kept-text totals AND the
    bit_xor corpus fingerprint from the same CTE — the stream's
    accumulated text table must hash-match a full batch rewrite."""
    from ai_powered_data_pipeline_assistant_spark.operators.substring import (
        _kept_cte,
        _spans_cte,
        kept_fingerprint_sql,
    )

    nb = SUBSTR_STREAM_BATCHES
    cte = _spans_cte(order_sql=f"doc_id % {nb}, doc_id, pos")
    return f"""{cte},{_kept_cte()},
        fp AS (
            SELECT CAST(coalesce(sum(coalesce(k.tokens_kept, 0)), 0)
                        AS BIGINT) AS tokens_kept_total,
                   CAST(coalesce(bit_xor({kept_fingerprint_sql()}), 0)
                        AS BIGINT) AS corpus_fingerprint
            FROM sized z LEFT JOIN kept k USING (doc_id))
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM sized) AS n_docs_stream,
               (SELECT CAST(count(*) AS BIGINT) FROM sized) AS n_docs_batch,
               (SELECT CAST(count(*) AS BIGINT) FROM dropped)
                   AS dropped_windows,
               (SELECT CAST(coalesce(sum(e - s + 1), 0) AS BIGINT)
                FROM spans) AS tokens_removed,
               CAST({nb} AS INT) AS n_batches,
               CAST(0 AS BIGINT) AS n_mismatches,
               true AS stream_equals_batch,
               (SELECT tokens_kept_total FROM fp) AS tokens_kept_total,
               (SELECT corpus_fingerprint FROM fp) AS corpus_fingerprint,
               CAST(0 AS BIGINT) AS rewrite_mismatches,
               true AS rewrite_equals_batch
    """


def _cluster_stream_parity_sql() -> str:
    """Batch side recomputed via the clustering module's shared
    recursive-CTE transitive closure; membership scalars SQL-exact,
    mismatches pinned 0."""
    from ai_powered_data_pipeline_assistant_spark.operators.neardup_cluster import (
        _VERIFIED_EDGES_CTE,
    )

    nb = CLUSTER_STREAM_BATCHES
    return f"""
        WITH RECURSIVE {_VERIFIED_EDGES_CTE}
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM comp)
                   AS n_docs_clustered,
               (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM comp)
                   AS n_clusters,
               (SELECT CAST(coalesce(max(n), 0) AS BIGINT)
                FROM (SELECT count(*) AS n FROM comp GROUP BY cluster_id))
                   AS largest_cluster,
               (SELECT CAST(coalesce(sum(cluster_id), 0) AS BIGINT)
                FROM comp) AS cluster_id_checksum,
               CAST({nb} AS INT) AS n_batches,
               CAST(0 AS BIGINT) AS n_mismatches,
               true AS stream_equals_batch
    """


ANN_INGEST_BATCHES = 2


def _index_codes(spark: SparkSession, layout: str) -> DataFrame:
    """The (vec_id, list_id, _c0.._c{M-1}) rows of an IVF-PQ layout's
    codes table."""
    from ai_powered_data_pipeline_assistant_spark.operators.pq import PQ_M

    return spark.read.parquet(f"{layout}/codes").select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        *[F.col(f"_c{m}") for m in range(PQ_M)],
    )


def _one_pass_codes(spark: SparkSession, layout: str, vecs: DataFrame) -> DataFrame:
    """``vecs`` encoded in one pass against the layout's stored artifacts,
    barriered, in `_index_codes`' shape — what a maintained index must
    equal exactly."""
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        read_ivfpq_artifacts,
        residual_frame,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.pq import (
        PQ_M,
        PQ_SUBDIM,
        assign_codes,
    )

    centroids, _cm, pq_cents, _, _ = read_ivfpq_artifacts(spark, layout)
    return materialize(
        assign_codes(residual_frame(vecs, centroids), pq_cents, PQ_SUBDIM).select(
            "vec_id", "list_id", *[F.col(f"_c{m}") for m in range(PQ_M)]
        )
    )


def ann_ingest_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index ingest ≡ one-pass encode: build the BATCHED
    IVF-PQ layout on the base corpus (vec_id % 4 != 0), replay the
    arrivals (vec_id % 4 == 0) as ``ANN_INGEST_BATCHES`` ordered
    micro-batches through the REAL `streaming/ann_ingest.
    run_ann_ingest_stream` (stored-artifact routing + encoding, dynamic
    overwrite into per-(list, batch) partitions), then pin, one row:

    - ``codes_mismatches`` = 0: the streamed index equals a one-pass
      re-encode of the FULL corpus against the same stored artifacts
      (codebooks fixed after training — parquet roundtrips doubles
      bit-exact, so equality is exact, not approximate);
    - ``replay_idempotent``: re-running a completed batch's append (the
      crash window between parquet commit and checkpoint commit) leaves
      the index byte-identical — the exactly-once claim, executed;
    - ``query_mismatches`` = 0: the probe query over the streamed
      physical index ≡ the logical search (arrivals must find themselves:
      vec_ids 0 and 4 are arrivals and queries)."""
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        IVFPQ_N_PROBE,
        IVFPQ_N_QUERIES,
        IVFPQ_RERANK,
        IVFPQ_TOPK,
        read_ivfpq_artifacts,
        _route_and_luts,
        _score_and_rerank,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.pq import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.vector import (
        _query_vectors,
    )
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
        write_ivfpq_layout_for,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.ann_ingest import (
        run_ann_ingest_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    nb = ANN_INGEST_BATCHES
    with _audit_scope(spark) as tmp:
        layout = f"{tmp}/index"
        write_ivfpq_layout_for(spark, base, layout, batched=True)
        batch_frames = [
            delta.filter((F.col("vec_id") / 4).cast("long") % nb == i)
            for i in range(nb)
        ]
        stream = _ordered_arrivals(spark, tmp, batch_frames)
        q = run_ann_ingest_stream(stream, layout, f"{tmp}/ckpt")
        _await(q, "ANN ingest stream")
        centroids, cent_map, pq_cents, _, _ = read_ivfpq_artifacts(spark, layout)
        ref = _one_pass_codes(spark, layout, emb)
        streamed = materialize(_index_codes(spark, layout))
        codes_mm = _sym_diff(streamed, ref)
        # replay batch 0's append against the finished index: dynamic
        # overwrite of its own partitions must leave the rows identical
        append_ivfpq_layout(spark, layout, batch_frames[0], batch_id=0)
        replayed = _index_codes(spark, layout)
        replay_mm = _sym_diff(replayed, streamed)
        queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
        lut_df, probe_pairs = _route_and_luts(
            spark, queries, centroids, cent_map, pq_cents,
            PQ_M, PQ_SUBDIM, PQ_K, IVFPQ_N_PROBE,
        )
        probe_lists = sorted({lid for _q, lid in probe_pairs})
        raw_df = emb.select("vec_id", F.col("embedding").alias("raw"))
        final_p, _c1, _c2 = _score_and_rerank(
            replayed.filter(F.col("list_id").isin(probe_lists)),
            raw_df, queries, lut_df, PQ_M, IVFPQ_TOPK, IVFPQ_RERANK,
        )
        final_l, _c3, _c4 = _score_and_rerank(
            ref, raw_df, queries, lut_df, PQ_M, IVFPQ_TOPK, IVFPQ_RERANK
        )
        q_mm = _sym_diff(final_p, final_l)
        n_base = base.count()
        n_delta = delta.count()
    return spark.createDataFrame(
        [
            (
                n_base,
                n_delta,
                nb,
                codes_mm,
                codes_mm == 0,
                replay_mm == 0,
                q_mm,
                q_mm == 0,
            )
        ],
        "n_base long, n_delta long, n_batches int, codes_mismatches long, "
        "codes_match boolean, replay_idempotent boolean, "
        "query_mismatches long, query_match boolean",
    )


CRAWL_BATCHES = 3


def _crawl_splits(spark: SparkSession, sf_dir: str):
    """Shared split for the composed crawl pipeline parity: arrivals =
    documents with doc_id % 4 == 0 joined to their vectors (the slice the
    crawler ingests, batched by (doc_id DIV 4) % CRAWL_BATCHES); base =
    the other vectors, which bootstrap the index the stream maintains."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    arrivals = docs.filter(F.col("doc_id") % 4 == 0).join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    base = emb.filter(F.col("vec_id") % 4 != 0)
    return arrivals, base


def crawl_pipeline_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED crawl pipeline (streaming/crawl_pipeline.py: near-dup
    gate → curate → ANN index maintenance) replayed as
    ``CRAWL_BATCHES`` ordered micro-batches, pinned end to end:

    - ``n_curated_stream`` = ``n_curated_batch``: the streamed keep-set
      equals the batch arrival-rule computation — and the ORACLE
      recomputes the batch count in SQL via the shared LSH CTE, so the
      curation OUTCOME is oracle-exact, not a pinned literal;
    - ``curated_mismatches`` = 0: set equality, not just counts;
    - ``index_mismatches`` = 0: the maintained index equals a one-pass
      encode of base ∪ curated arrivals against the stored artifacts
      (dropped docs' vectors must NOT be in the index)."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        minhash_lsh_pairs_for,
    )
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        write_ivfpq_layout_for,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.crawl_pipeline import (
        run_crawl_pipeline,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        drop_state,
    )

    nb = CRAWL_BATCHES
    arrivals, base = _crawl_splits(spark, sf_dir)
    with _audit_scope(spark, drop_state) as tmp:
        layout = f"{tmp}/index"
        write_ivfpq_layout_for(spark, base, layout, batched=True)
        bidx = (F.col("doc_id") / 4).cast("long") % nb
        stream = _ordered_arrivals(
            spark, tmp, [arrivals.filter(bidx == i) for i in range(nb)]
        )
        q = run_crawl_pipeline(
            stream, f"{tmp}/state", layout, f"{tmp}/out", f"{tmp}/ckpt"
        )
        _await(q, "crawl pipeline")

        got_curated = spark.read.parquet(f"{tmp}/out/curated").select("doc_id")
        # batch rule: keep arrivals that are not the LATER side of any
        # verified pair under the arrival order (cross-batch, then doc_id)
        a_b = lambda c: (c / 4).cast("long") % nb  # noqa: E731
        later = minhash_lsh_pairs_for(
            arrivals.select("doc_id", "text"),
            pair_cond=lambda a, b: (a_b(a) > a_b(b))
            | ((a_b(a) == a_b(b)) & (a > b)),
        ).select(F.col("a_id").alias("doc_id")).distinct()
        want_curated = materialize(
            arrivals.select("doc_id").join(later, "doc_id", "left_anti")
        )
        cur_mm = _sym_diff(got_curated, want_curated)
        n_stream = got_curated.count()
        n_batch = want_curated.count()

        kept_vecs = base.unionByName(
            arrivals.join(want_curated, "doc_id").select(
                F.col("doc_id").alias("vec_id"), "embedding"
            )
        )
        ref = _one_pass_codes(spark, layout, kept_vecs)
        streamed = materialize(_index_codes(spark, layout))
        idx_mm = _sym_diff(streamed, ref)
        n_arrivals = arrivals.count()
    return spark.createDataFrame(
        [
            (
                n_arrivals,
                nb,
                n_stream,
                n_batch,
                cur_mm,
                cur_mm == 0 and n_stream == n_batch,
                idx_mm,
                idx_mm == 0,
            )
        ],
        "n_arrivals long, n_batches int, n_curated_stream long, "
        "n_curated_batch long, curated_mismatches long, "
        "curated_match boolean, index_mismatches long, index_match boolean",
    )


def ensure_crawl_state(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently materialize the crawl pipeline's ACCUMULATED state for
    one sf_dir (the `ensure_ivfpq_layout` convention: fingerprint-keyed
    temp root, `_SUCCESS`-markered, write-once): the batched IVF-PQ index
    built on the base corpus plus batches 0..CRAWL_BATCHES-2 already
    ingested through the real per-batch handler. What remains — the FINAL
    batch — is exactly the steady-state unit of work `crawl_steady_batch`
    times. Safe to reuse across sessions (near-dup state re-registers
    surviving files) and across runs (the final batch's writes are
    batch-partitioned dynamic overwrites: replays converge)."""
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        _source_fingerprint,
        write_ivfpq_layout_for,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.crawl_pipeline import (
        process_crawl_batch,
    )

    nb = CRAWL_BATCHES
    # v2: state/index appends land bucket-aligned, rebalanced files
    # (round 12) — bump invalidates cached v1 state whose per-batch file
    # sprawl the timed steady-state reads would otherwise keep paying.
    tag = (
        f"{_source_fingerprint(sf_dir)}_"
        f"{_source_fingerprint(sf_dir, 'documents').rsplit('_', 1)[1]}_v2"
    )
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_crawl_{tag}")
    marker = os.path.join(root, "_SUCCESS")
    if os.path.isfile(marker):
        return root
    shutil.rmtree(root, ignore_errors=True)
    arrivals, base = _crawl_splits(spark, sf_dir)
    write_ivfpq_layout_for(spark, base, f"{root}/index", batched=True)
    bidx = (F.col("doc_id") / 4).cast("long") % nb
    for i in range(nb - 1):
        process_crawl_batch(
            arrivals.filter(bidx == i),
            i,
            f"{root}/state",
            f"{root}/index",
            f"{root}/out",
        )
    with open(marker, "w") as fh:
        fh.write("")
    return root


def crawl_steady_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl operator's PROVISIONING number (VERDICT r8 task #6): the
    composed per-batch latency — near-dup gate + curation + ANN index
    append — for ONE micro-batch arriving against an already-accumulated
    state. `ensure_crawl_state` pre-builds the index and ingests batches
    0..N-2 (write-once, outside the bench timers, like the
    `ann_ivfpq_pruned` warm-up); the timed path here is exactly what a
    deployment pays per crawl slice at steady state: shingle/sign the
    arrivals, bucket-join them against the band state (state side
    Exchange-free), verify candidates via doc_id-pruned point reads,
    route + encode the curated vectors through the stored index
    artifacts, and land three dynamic-overwrite state appends + two
    batch-partitioned outputs. Replays are idempotent, so best-of-N
    timing loops re-run the identical unit of work.

    The summary row is oracle-exact: the DuckDB twin recomputes the final
    batch's drop set via the shared LSH CTE under the arrival rule
    (earlier-batch partners OR within-batch lower ids) — and
    ``n_indexed`` pins that the index append added exactly the curated
    vectors."""
    nb = CRAWL_BATCHES
    root = ensure_crawl_state(spark, sf_dir)
    arrivals, _base = _crawl_splits(spark, sf_dir)
    bidx = (F.col("doc_id") / 4).cast("long") % nb
    final = arrivals.filter(bidx == nb - 1)

    from ai_powered_data_pipeline_assistant_spark.streaming.crawl_pipeline import (
        process_crawl_batch,
    )

    process_crawl_batch(
        final, nb - 1, f"{root}/state", f"{root}/index", f"{root}/out"
    )

    last = F.col("batch_id") == nb - 1
    from ai_powered_data_pipeline_assistant_spark.execution import (
        run_concurrently,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        DECISIONS_SCHEMA,
    )

    # the final batch's drop count from the gate's BOUNDED decisions
    # (round 12 — the pair read-back this replaces was the composed text
    # path's one quadratic output); explicit schema, the stream-output
    # read rule. The four summary counts are independent read-only jobs
    # over already-committed outputs — overlapped (guide §2.6).
    n_arrivals, n_dropped, n_curated, n_indexed = run_concurrently(
        final.count,
        lambda: (
            spark.read.schema(f"{DECISIONS_SCHEMA}, batch_id long")
            .parquet(f"{root}/out/decisions")
            .filter(last & F.col("is_dup"))
            .count()
        ),
        lambda: (
            spark.read.parquet(f"{root}/out/curated").filter(last).count()
        ),
        lambda: (
            spark.read.parquet(f"{root}/index/codes").filter(last).count()
        ),
    )
    return spark.createDataFrame(
        [(n_arrivals, n_dropped, n_curated, n_indexed)],
        "n_batch_arrivals long, n_dropped long, n_curated long, "
        "n_indexed long",
    )


def neardup_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops accounting for the streaming near-dup state — the numbers a
    deployment monitors to schedule compaction and re-bucketing
    (TUNING.md "streaming near-dup state" sizing rules): ingest the
    corpus as ``NEARDUP_STREAM_BATCHES`` arrival batches through the real
    per-batch handler, COMPACT, and report the state's row accounting.
    Driver-pins two claims at once: the state tables hold exactly their
    derivation — bands = docs × N_BANDS (band keys computed once per
    arrival), postings = Σ per-doc distinct shingle hashes (the SQL twin
    recomputes it via the shared shingle CTE), sizes = docs — and
    compaction preserves every row (all counts are taken AFTER
    `compact_neardup_state`, so a row lost or duplicated in the
    compaction rewrite flips the driver hash)."""
    from ai_powered_data_pipeline_assistant_spark.streaming import (
        state_compaction as sc,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        STATE_SPECS,
        compact_neardup_state,
        drop_state,
        process_neardup_batch,
    )

    nb = NEARDUP_STREAM_BATCHES
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _audit_scope(spark, drop_state) as tmp:
        state = f"{tmp}/state"
        rows, preserved, _ = _state_report(
            spark,
            nb,
            lambda i: process_neardup_batch(
                docs.filter(F.col("doc_id") % nb == i), i, state, f"{tmp}/pairs"
            ),
            [(state, STATE_SPECS)],
            lambda: compact_neardup_state(spark, state),
        )
        # copies of the bands table holding data after compaction (the
        # live dir plus any swap asides) — exactly one
        generations = len(sc.state_copies(spark, state, "bands"))
        n_docs = docs.count()
    return spark.createDataFrame(
        [
            (
                n_docs,
                nb,
                rows["bands"],
                rows["postings"],
                rows["sizes"],
                generations,
                preserved,
            )
        ],
        "n_docs long, n_batches int, bands_rows long, postings_rows long, "
        "sizes_rows long, generations int, rows_preserved boolean",
    )


def _neardup_report_sql() -> str:
    """The state accounting recomputed independently: bands/sizes from the
    doc count, postings from the shared shingle CTE (distinct (doc, hash)
    — the same dedup the arrival-time build applies)."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        N_BANDS,
        _shingle_sql,
    )

    return f"""
        WITH postings AS ({_shingle_sql("documents")})
        SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
               CAST({NEARDUP_STREAM_BATCHES} AS INT) AS n_batches,
               CAST((SELECT count(*) FROM documents) * {N_BANDS} AS BIGINT)
                   AS bands_rows,
               CAST((SELECT count(*) FROM postings) AS BIGINT)
                   AS postings_rows,
               CAST((SELECT count(*) FROM documents) AS BIGINT) AS sizes_rows,
               CAST(1 AS INT) AS generations,
               true AS rows_preserved
    """


def _crawl_steady_sql() -> str:
    """The final batch's drop set recomputed in SQL: the shared LSH CTE
    restricted to pairs whose LATER side is in the final batch (earlier
    partner = earlier batch, or same batch with lower doc_id). Curated and
    indexed counts both derive from it — the n_indexed = n_curated
    equality is the index-maintenance pin."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_cte,
    )

    nb = CRAWL_BATCHES
    fb = nb - 1
    b = lambda side: f"(({side}.doc_id // 4) % {nb})"  # noqa: E731
    cond = (
        f"({b('a')} = {fb} AND ({b('b')} < {fb} "
        f"OR ({b('b')} = {fb} AND a.doc_id > b.doc_id)))"
    )
    cte = minhash_lsh_cte("src", cond)
    return f"""
        WITH src AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            WHERE d.doc_id % 4 = 0),
        {cte},
        later AS (
            SELECT DISTINCT c.a_id FROM candidates c JOIN pairs p
              ON (c.a_id = p.a_id AND c.b_id = p.b_id)
              OR (c.a_id = p.b_id AND c.b_id = p.a_id)
            WHERE p.jaccard >= {JACCARD_THRESHOLD}),
        arr AS (SELECT count(*) AS n FROM src
                WHERE (doc_id // 4) % {nb} = {fb})
        SELECT CAST(arr.n AS BIGINT) AS n_batch_arrivals,
               CAST((SELECT count(*) FROM later) AS BIGINT) AS n_dropped,
               CAST(arr.n - (SELECT count(*) FROM later) AS BIGINT)
                   AS n_curated,
               CAST(arr.n - (SELECT count(*) FROM later) AS BIGINT)
                   AS n_indexed
        FROM arr
    """


def trigger_cadence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 rerun throttle, driver-scorable (VERDICT r6 next-round #7): start
    the REAL `run_job_stream` (dedup → answer → idempotent batch-versioned
    sink) availableNow over the job fixture, then RESTART the identical
    stream against the same checkpoint. The restart is the reference's
    "re-run the job" event; the checkpoint is the throttle: the second
    trigger must consume zero input rows and land zero new output rows —
    identical output before and after. One row pins the first run's output
    count (= the batch-dedup cardinality the oracle recomputes), the second
    run's input and output deltas at 0, and the trigger mode."""
    from ai_powered_data_pipeline_assistant_spark.streaming.jobs import (
        run_job_stream,
    )

    base_req, kb = _job_requests(spark, sf_dir)
    # at-least-once redelivery copies, suppressed by T3 dedup
    fixture = base_req.union(
        base_req.filter(F.col("request_id").cast("long") % 7 == 0)
    )
    with _audit_scope(spark) as tmp:
        # one stream plan, started twice against the same checkpoint
        stream = _ordered_arrivals(spark, tmp, [fixture])
        q1 = run_job_stream(stream, kb, f"{tmp}/out", f"{tmp}/ckpt")
        _await(q1, "job stream (first run)")
        n_run1 = spark.read.parquet(f"{tmp}/out").count()
        q2 = run_job_stream(stream, kb, f"{tmp}/out", f"{tmp}/ckpt")
        _await(q2, "job stream (rerun)")
        rows_in_run2 = sum(p["numInputRows"] for p in q2.recentProgress)
        n_run2 = spark.read.parquet(f"{tmp}/out").count()
    return spark.range(1).select(
        F.lit(n_run1).cast("long").alias("n_output_run1"),
        F.lit(rows_in_run2).cast("long").alias("n_input_run2"),
        F.lit(n_run2 - n_run1).cast("long").alias("n_new_output_run2"),
        F.lit(rows_in_run2 == 0 and n_run2 == n_run1).alias("rerun_suppressed"),
        F.lit("availableNow").alias("trigger_mode"),
    )


def _batch_side_sql(name: str) -> str:
    """Reuse the batch twins' own oracle SQL (already driver-green) as the
    parity oracles' source of truth."""
    if name == "cdc":
        from ai_powered_data_pipeline_assistant_spark.operators.incremental import (
            ORACLES as INC,
        )

        return INC["cdc_apply"]
    if name == "session":
        from ai_powered_data_pipeline_assistant_spark.operators.windows import (
            ORACLES as WIN,
        )

        return WIN["session_window_counts"]
    from ai_powered_data_pipeline_assistant_spark.operators.behavior import (
        ORACLES as BEH,
    )

    return BEH["funnel_counts"]


def _oracles() -> dict[str, str]:
    return {
        "cdc_stream_parity": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_keys_stream,
                   CAST(count(*) AS BIGINT) AS n_keys_batch,
                   CAST(0 AS BIGINT) AS n_mismatches,
                   true AS stream_equals_batch
            FROM ({_batch_side_sql("cdc")}) t
        """,
        "funnel_stream_parity": f"""
            SELECT stage_idx, stage,
                   n_users AS n_users_stream, n_users AS n_users_batch,
                   true AS stream_equals_batch
            FROM ({_batch_side_sql("funnel")}) t
            ORDER BY stage_idx
        """,
        "session_stream_parity": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_sessions_stream,
                   CAST(count(*) AS BIGINT) AS n_sessions_batch,
                   CAST(0 AS BIGINT) AS n_mismatches,
                   true AS stream_equals_batch
            FROM ({_batch_side_sql("session")}) t
        """,
        # batch side recomputed from first principles: one request per
        # event (dups are exact copies, so DISTINCT ≡ dedup on request_id),
        # context = LEFT JOIN documents on the derived job_id
        # one response per distinct request; tasks/logs are 1:1 derivations
        "channel_fanout_parity": """
            WITH req AS (SELECT DISTINCT event_id FROM events)
            SELECT CAST(count(*) AS BIGINT) AS n_responses,
                   CAST(count(*) AS BIGINT) AS n_tasks,
                   CAST(count(*) AS BIGINT) AS n_logs,
                   CAST(0 AS BIGINT) AS n_mismatches,
                   true AS channels_equal_batch
            FROM req
        """,
        "job_stream_parity": """
            WITH req AS (
                SELECT DISTINCT CAST(event_id AS VARCHAR) AS request_id,
                       CASE WHEN event_id % 11 = 0 THEN -1
                            ELSE event_id % 500 END AS job_id
                FROM events
            )
            SELECT CAST(count(*) AS BIGINT) AS n_requests_stream,
                   CAST(count(*) AS BIGINT) AS n_requests_batch,
                   CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_no_context,
                   CAST(0 AS BIGINT) AS n_mismatches,
                   true AS stream_equals_batch
            FROM req LEFT JOIN documents d ON d.doc_id = req.job_id
        """,
        # first run answers one response per distinct request_id (= one per
        # event); the throttled rerun contributes exactly nothing
        "trigger_cadence_audit": """
            SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_output_run1,
                   CAST(0 AS BIGINT) AS n_input_run2,
                   CAST(0 AS BIGINT) AS n_new_output_run2,
                   true AS rerun_suppressed,
                   'availableNow' AS trigger_mode
            FROM events
        """,
        "neardup_stream_parity": _neardup_parity_sql(),
        "substring_stream_parity": _substring_parity_sql(),
        "neardup_cluster_stream_parity": _cluster_stream_parity_sql(),
        "substring_state_report": _substring_report_sql(),
        "crawl_pipeline_parity": _crawl_parity_sql(),
        "crawl_steady_batch": _crawl_steady_sql(),
        "neardup_state_report": _neardup_report_sql(),
        "cluster_state_report": _cluster_report_sql(),
        "media_phash_stream_parity": _phash_stream_parity_sql(),
        "phash_state_report": _phash_report_sql(),
        "media_cluster_stream_parity": _media_cluster_parity_sql(),
        "media_crawl_parity": _media_crawl_parity_sql(),
        "media_pipeline_state_report": _media_report_sql(),
        # split sizes SQL-exact; mismatch counters pinned 0, invariants
        # literal true (the maintenance-audit pattern, ivfpq.py)
        "ann_ingest_stream_parity": f"""
            SELECT CAST(sum(CASE WHEN vec_id % 4 <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_base,
                   CAST(sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_delta,
                   CAST({ANN_INGEST_BATCHES} AS INT) AS n_batches,
                   CAST(0 AS BIGINT) AS codes_mismatches,
                   true AS codes_match,
                   true AS replay_idempotent,
                   CAST(0 AS BIGINT) AS query_mismatches,
                   true AS query_match
            FROM embeddings
        """,
    }


def _neardup_parity_sql() -> str:
    """Batch side recomputed via the dedup module's own shared LSH CTE
    chain with the full arrival pairing rule (cross-batch OR within-batch
    later-id); mismatches pinned to 0."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_cte,
    )

    nb = NEARDUP_STREAM_BATCHES
    cte = minhash_lsh_cte(
        "documents",
        f"((a.doc_id % {nb}) > (b.doc_id % {nb}) OR "
        f"((a.doc_id % {nb}) = (b.doc_id % {nb}) AND a.doc_id > b.doc_id))",
    )
    return f"""
        WITH {cte}
        SELECT CAST(count(*) AS BIGINT) AS n_pairs_stream,
               CAST(count(*) AS BIGINT) AS n_pairs_batch,
               CAST({nb} AS INT) AS n_batches,
               CAST(0 AS BIGINT) AS n_mismatches,
               true AS stream_equals_batch
        FROM candidates c JOIN pairs p
          ON (c.a_id = p.a_id AND c.b_id = p.b_id)
          OR (c.a_id = p.b_id AND c.b_id = p.a_id)
        WHERE p.jaccard >= {JACCARD_THRESHOLD}
    """


def _crawl_parity_sql() -> str:
    """The curation OUTCOME recomputed in SQL: arrivals joined to their
    vectors, the shared LSH CTE under the arrival pairing rule, curated =
    arrivals minus distinct later-side ids. Index equality booleans are
    literals (float-training-dependent), but the keep-COUNT the stream
    must reproduce is oracle-exact."""
    from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_cte,
    )

    nb = CRAWL_BATCHES
    cond = (
        f"(((a.doc_id // 4) % {nb}) > ((b.doc_id // 4) % {nb}) OR "
        f"(((a.doc_id // 4) % {nb}) = ((b.doc_id // 4) % {nb}) "
        f"AND a.doc_id > b.doc_id))"
    )
    cte = minhash_lsh_cte("src", cond)
    return f"""
        WITH src AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            WHERE d.doc_id % 4 = 0),
        {cte},
        later AS (
            SELECT DISTINCT c.a_id FROM candidates c JOIN pairs p
              ON (c.a_id = p.a_id AND c.b_id = p.b_id)
              OR (c.a_id = p.b_id AND c.b_id = p.a_id)
            WHERE p.jaccard >= {JACCARD_THRESHOLD})
        SELECT CAST((SELECT count(*) FROM src) AS BIGINT) AS n_arrivals,
               CAST({nb} AS INT) AS n_batches,
               CAST((SELECT count(*) FROM src)
                    - (SELECT count(*) FROM later) AS BIGINT)
                   AS n_curated_stream,
               CAST((SELECT count(*) FROM src)
                    - (SELECT count(*) FROM later) AS BIGINT)
                   AS n_curated_batch,
               CAST(0 AS BIGINT) AS curated_mismatches,
               true AS curated_match,
               CAST(0 AS BIGINT) AS index_mismatches,
               true AS index_match
    """


ORACLES = _oracles()

QUERIES = {
    "cdc_stream_parity": cdc_stream_parity,
    "funnel_stream_parity": funnel_stream_parity,
    "session_stream_parity": session_stream_parity,
    "job_stream_parity": job_stream_parity,
    "channel_fanout_parity": channel_fanout_parity,
    "trigger_cadence_audit": trigger_cadence_audit,
    "neardup_stream_parity": neardup_stream_parity,
    "substring_stream_parity": substring_stream_parity,
    "neardup_cluster_stream_parity": neardup_cluster_stream_parity,
    "substring_state_report": substring_state_report,
    "ann_ingest_stream_parity": ann_ingest_stream_parity,
    "crawl_pipeline_parity": crawl_pipeline_parity,
    "crawl_steady_batch": crawl_steady_batch,
    "neardup_state_report": neardup_state_report,
    "cluster_state_report": cluster_state_report,
    "media_phash_stream_parity": media_phash_stream_parity,
    "phash_state_report": phash_state_report,
    "media_cluster_stream_parity": media_cluster_stream_parity,
    "media_crawl_parity": media_crawl_parity,
    "media_pipeline_state_report": media_pipeline_state_report,
}
