"""Closed drift→rebuild loop inside the composed crawl pipeline (VERDICT
r9 task #3): `process_crawl_batch` evaluates the O(n_lists) imbalance rule
every batch (recorded under out/drift) and, when armed with a
``rebuild_corpus`` source, executes `rebuild_ivfpq_layout` the moment the
rule trips — the FAISS re-train-on-drift discipline, automated (reference
analogue: pgvector ivfflat lists going stale,
Supabase/knowledge_base-RAG.sql:31-33)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
    IVFPQ_N_PROBE,
    IVFPQ_RERANK,
    IVFPQ_TOPK,
    PQ_M,
    PQ_SUBDIM,
    PQ_K,
    _read_codes,
    _route_and_luts,
    _score_and_rerank,
    read_ivfpq_artifacts,
)
from ai_powered_data_pipeline_assistant_spark.sources.layout import (
    ivfpq_drift_decision,
    maybe_rebuild_ivfpq_layout,
    write_ivfpq_layout_for,
)
from ai_powered_data_pipeline_assistant_spark.streaming.crawl_pipeline import (
    process_crawl_batch,
)
from ai_powered_data_pipeline_assistant_spark.streaming.neardup import drop_state

# id space for the skew-injected arrivals: far above any fixture vec_id
_SHIFT = 10_000_000


def _skewed_arrivals(emb, pre_codes, batch: int):
    """One crawl batch engineered to route entirely onto the heaviest
    list: id-shifted copies of that list's members (same vector → same
    stored-centroid argmax), with UNIQUE synthetic texts so the near-dup
    gate keeps every one (tokens derive from the shifted id — no shared
    shingles between documents)."""
    sizes = pre_codes.groupBy("list_id").agg(F.count("*").alias("n"))
    heavy = (
        sizes.orderBy(F.desc("n"), "list_id").first()["list_id"]
    )
    members = emb.join(
        pre_codes.filter(F.col("list_id") == heavy).select("vec_id"),
        "vec_id",
        "left_semi",
    )
    shifted = members.select(
        (F.col("vec_id") + (batch + 1) * _SHIFT).alias("doc_id"),
        "embedding",
    )
    c = F.col("doc_id").cast("string")
    tok = lambda salt: F.md5(F.concat(F.lit(salt), c))  # noqa: E731
    return shifted.select(
        "doc_id",
        # every token after the leading literal is doc-unique (md5 of the
        # salted id), so no two documents share ANY k-shingle — the gate
        # keeps every arrival and the index id-set assertion is exact
        F.concat_ws(
            " ", F.lit("drift"), c, tok("a"), tok("b"), tok("c"), tok("d"),
            tok("e"),
        ).alias("text"),
        "embedding",
    )


def test_crawl_ingest_trips_drift_rule_and_rebuilds(spark, sf_dir):
    """A clustered-crawl ingest sequence (every arrival routing onto one
    list) must: record a per-batch drift decision, trip the imbalance
    rule within a few batches, execute the automated rebuild, reset the
    at-train baseline (post-rebuild decision reads not-tripped), keep the
    index's id set equal to base ∪ ingested arrivals, and keep queries
    recall-green against the rebuilt artifacts (exact self-hits at
    rank 1)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="crawl_drift_")
    layout = os.path.join(tmp, "index")
    state = os.path.join(tmp, "state")
    out = os.path.join(tmp, "out")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    ingested = []  # per-batch (vec_id, embedding) frames, in arrival order
    try:
        write_ivfpq_layout_for(spark, emb, layout, batched=True)

        def corpus_through_prev():
            # the deployment's vectors table as of the PREVIOUS batch
            # (docstring contract: excludes the tripping batch's arrivals)
            cur = emb
            for prior in ingested[:-1]:
                cur = cur.unionByName(prior)
            return cur

        rebuilt_at = None
        for i in range(6):
            pre_codes = _read_codes(spark, os.path.join(layout, "codes"))
            # cut lineage to the codes files (createDataFrame from local
            # rows): the rebuild swap DELETES the old codes generation,
            # and a lazy plan over it would re-read vanished files when
            # the post-rebuild assertions re-evaluate these frames
            arrivals = spark.createDataFrame(
                _skewed_arrivals(emb, pre_codes, i).collect()
            )
            ingested.append(
                arrivals.select(F.col("doc_id").alias("vec_id"), "embedding")
            )
            process_crawl_batch(
                arrivals, i, state, layout, out,
                rebuild_corpus=corpus_through_prev,
            )
            drift = (
                spark.read.parquet(f"{out}/drift")
                .filter(F.col("batch_id") == i)
                .collect()
            )
            assert len(drift) == 1, "one drift record per batch"
            if drift[0]["rebuilt"]:
                assert drift[0]["rebuild_recommended"]
                rebuilt_at = i
                break
            assert not drift[0]["rebuild_recommended"], (
                "tripped rule must execute the rebuild when armed"
            )
        assert rebuilt_at is not None, (
            "skewed ingest never tripped the drift rule in 6 batches"
        )
        assert rebuilt_at > 0, "balanced base must not trip on batch 0"

        # baseline reset: the post-rebuild layout reads not-tripped
        post = ivfpq_drift_decision(spark, layout)
        assert not post["rebuild_recommended"], post
        # fresh sidecar exists (the rebuild rewrote train_stats)
        assert os.path.isdir(os.path.join(layout, "train_stats"))

        # index id set == base ∪ every ingested arrival (the rebuild was
        # trained on corpus-through-prev, then the tripping batch's
        # curated vectors appended against the FRESH artifacts)
        want = emb.select("vec_id")
        for b in ingested:
            want = want.unionByName(b.select("vec_id"))
        got = _read_codes(spark, os.path.join(layout, "codes")).select("vec_id")
        assert (
            got.exceptAll(want).count() + want.exceptAll(got).count() == 0
        ), "rebuilt+appended index must hold exactly base ∪ arrivals"

        # recall-green on the rebuilt artifacts: corpus vectors as queries
        # re-rank to themselves (exact_d = 0 at rank 1; a duplicate copy
        # tying at distance 0 is an equally-correct hit)
        centroids, cent_map, pq_cents, _, _ = read_ivfpq_artifacts(spark, layout)
        queries = spark.createDataFrame(
            [
                (int(r["vec_id"]), [float(v) for v in r["embedding"]])
                for r in emb.orderBy("vec_id").limit(5).collect()
            ],
            "query_id long, query_vec array<double>",
        )
        lut_df, probe_pairs = _route_and_luts(
            spark, queries, centroids, cent_map, pq_cents,
            PQ_M, PQ_SUBDIM, PQ_K, IVFPQ_N_PROBE,
        )
        probe_lists = sorted({lid for _q, lid in probe_pairs})
        coded = spark.read.parquet(f"{layout}/codes").filter(
            F.col("list_id").isin(probe_lists)
        )
        raw_df = emb.select("vec_id", F.col("embedding").alias("raw"))
        for b in ingested:
            raw_df = raw_df.unionByName(
                b.select("vec_id", F.col("embedding").alias("raw"))
            )
        final, _cand, _short = _score_and_rerank(
            coded, raw_df, queries, lut_df, PQ_M, IVFPQ_TOPK, IVFPQ_RERANK
        )
        top1 = {
            int(r["query_id"]): int(r["exact_u"])
            for r in final.filter(F.col("rk") == 1).collect()
        }
        assert len(top1) == 5, "every query must return results"
        assert all(d == 0 for d in top1.values()), (
            f"rebuilt index lost exact self-hits: {top1}"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        drop_state(spark, state)
        shutil.rmtree(tmp, ignore_errors=True)


def test_unarmed_pipeline_records_decision_without_rebuilding(spark, sf_dir):
    """``record_drift=True`` with ``rebuild_corpus=None``: a tripped rule
    is RECORDED but never executes — decision accounting for pipelines
    whose rebuilds are operator-approved. (Fully unarmed pipelines — the
    parity fixtures' mode — skip the check entirely; either way
    `crawl_pipeline_parity`'s index-equals-one-pass-encode claim depends
    on the artifacts staying fixed.)"""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="crawl_drift_unarmed_")
    layout = os.path.join(tmp, "index")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        write_ivfpq_layout_for(spark, emb, layout, batched=True)
        coarse_mtime = max(
            os.path.getmtime(os.path.join(layout, "coarse", f))
            for f in os.listdir(os.path.join(layout, "coarse"))
        )
        for i in range(4):
            pre_codes = _read_codes(spark, os.path.join(layout, "codes"))
            arrivals = _skewed_arrivals(emb, pre_codes, i)
            process_crawl_batch(
                arrivals, i, f"{tmp}/state", layout, f"{tmp}/out",
                record_drift=(i > 0),
            )
            if i == 0:
                # fully unarmed batch: no check, no record, no cost
                assert not os.path.exists(f"{tmp}/out/drift")
        drift = spark.read.parquet(f"{tmp}/out/drift")
        assert drift.filter(F.col("rebuild_recommended")).count() > 0, (
            "the skewed sequence should trip the rule"
        )
        assert drift.filter(F.col("rebuilt")).count() == 0
        # artifacts untouched: no rebuild swapped the coarse sidecar
        assert coarse_mtime == max(
            os.path.getmtime(os.path.join(layout, "coarse", f))
            for f in os.listdir(os.path.join(layout, "coarse"))
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        drop_state(spark, f"{tmp}/state")
        shutil.rmtree(tmp, ignore_errors=True)


def test_maybe_rebuild_standalone_entry_point(spark, sf_dir):
    """`maybe_rebuild_ivfpq_layout` — the maintenance-window form: no-op
    dict on a balanced index, executed rebuild (rebuilt=True + baseline
    reset) once appends skew it."""
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="maybe_rebuild_")
    layout = os.path.join(tmp, "index")
    try:
        write_ivfpq_layout_for(spark, emb, layout)
        first = maybe_rebuild_ivfpq_layout(spark, layout, emb)
        assert not first["rebuild_recommended"] and not first["rebuilt"]

        pre_codes = _read_codes(spark, os.path.join(layout, "codes"))
        sizes = pre_codes.groupBy("list_id").agg(F.count("*").alias("n"))
        heavy = sizes.orderBy(F.desc("n"), "list_id").first()["list_id"]
        # lineage cut (see test 1): the rebuild swap deletes the codes
        # files this join would otherwise re-read post-swap
        members = spark.createDataFrame(
            emb.join(
                pre_codes.filter(F.col("list_id") == heavy).select("vec_id"),
                "vec_id",
                "left_semi",
            ).collect()
        )
        corpus = emb
        for c in range(1, 4):
            shifted = members.select(
                (F.col("vec_id") + c * _SHIFT).alias("vec_id"), "embedding"
            )
            append_ivfpq_layout(spark, layout, shifted)
            corpus = corpus.unionByName(shifted)
        second = maybe_rebuild_ivfpq_layout(spark, layout, corpus)
        assert second["rebuild_recommended"] and second["rebuilt"]
        third = ivfpq_drift_decision(spark, layout)
        assert not third["rebuild_recommended"], third
        assert third["n_now"] == third["n_at_train"] == corpus.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_maybe_rebuild_introspects_batchedness(spark, sf_dir):
    """ADVICE r10: maybe_rebuild on a BATCHED layout (the crawl pipeline's
    shape) must preserve batch_id partitioning by default — the old
    batched=False default silently rebuilt codes unbatched, breaking later
    batched appends and the replay exclude_batch_id filter — and an
    explicitly WRONG flag must be rejected, not obeyed."""
    import pytest

    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="maybe_rebuild_batched_")
    layout = os.path.join(tmp, "index")
    try:
        write_ivfpq_layout_for(spark, emb, layout, batched=True)
        codes_path = os.path.join(layout, "codes")
        # raw read: _read_codes projects the partition column away
        assert "batch_id" in spark.read.parquet(codes_path).columns

        with pytest.raises(ValueError, match="contradicts the live layout"):
            maybe_rebuild_ivfpq_layout(spark, layout, emb, batched=False)

        # force a rebuild through the default (introspected) path
        pre_codes = _read_codes(spark, codes_path)
        sizes = pre_codes.groupBy("list_id").agg(F.count("*").alias("n"))
        heavy = sizes.orderBy(F.desc("n"), "list_id").first()["list_id"]
        members = spark.createDataFrame(
            emb.join(
                pre_codes.filter(F.col("list_id") == heavy).select("vec_id"),
                "vec_id",
                "left_semi",
            ).collect()
        )
        corpus = emb
        for c in range(1, 4):
            shifted = members.select(
                (F.col("vec_id") + c * _SHIFT).alias("vec_id"), "embedding"
            )
            append_ivfpq_layout(spark, layout, shifted, batch_id=c)
            corpus = corpus.unionByName(shifted)
        decision = maybe_rebuild_ivfpq_layout(spark, layout, corpus)
        assert decision["rebuilt"]
        # the rebuilt codes kept the batched shape: batch_id survives and
        # a later batched append still works
        assert "batch_id" in spark.read.parquet(codes_path).columns
        append_ivfpq_layout(
            spark,
            layout,
            members.select((F.col("vec_id") + 9_000_000).alias("vec_id"),
                           "embedding"),
            batch_id=9,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compaction_cadence_inside_pipeline(spark, sf_dir):
    """VERDICT r11 task #5: `compact_every` runs `compact_neardup_state`
    INSIDE the per-batch path (after the batch's writes, so the newest
    partition never folds) without changing any output — curated sets
    equal a cadence-less twin run, and the final batch replayed after
    compaction reproduces itself (replay idempotency through the
    compacted state)."""
    from ai_powered_data_pipeline_assistant_spark.operators.stream_parity import (
        _crawl_splits,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
        STATE_SPECS,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.state_compaction import (
        HISTORY_BATCH_ID,
        state_tables,
    )

    nb = 3
    arrivals, base = _crawl_splits(spark, sf_dir)
    arrivals = arrivals.filter(F.col("doc_id") < 2000)
    base = base.filter(F.col("vec_id") < 2000)
    bidx = (F.col("doc_id") / 4).cast("long") % nb
    tmp = tempfile.mkdtemp(prefix="crawl_cadence_")
    try:
        outs = {}
        for tag, cadence in (("plain", None), ("cadence", 2)):
            root = f"{tmp}/{tag}"
            write_ivfpq_layout_for(
                spark, base, f"{root}/index", batched=True
            )
            for i in range(nb):
                process_crawl_batch(
                    arrivals.filter(bidx == i), i, f"{root}/state",
                    f"{root}/index", f"{root}/out", compact_every=cadence,
                )
            outs[tag] = sorted(
                r.doc_id
                for r in spark.read.parquet(f"{root}/out/curated").collect()
            )
        assert outs["plain"] == outs["cadence"]
        # the cadence run genuinely folded: history partition present
        tables = state_tables(f"{tmp}/cadence/state", STATE_SPECS)
        bids = {
            r.batch_id
            for r in spark.table(tables["bands"])
            .select("batch_id").distinct().collect()
        }
        assert HISTORY_BATCH_ID in bids
        # replay the final batch through the compacted state
        process_crawl_batch(
            arrivals.filter(bidx == nb - 1), nb - 1, f"{tmp}/cadence/state",
            f"{tmp}/cadence/index", f"{tmp}/cadence/out", compact_every=2,
        )
        replay = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{tmp}/cadence/out/curated").collect()
        )
        assert replay == outs["cadence"]
    finally:
        for tag in ("plain", "cadence"):
            drop_state(spark, f"{tmp}/{tag}/state")
        shutil.rmtree(tmp, ignore_errors=True)
