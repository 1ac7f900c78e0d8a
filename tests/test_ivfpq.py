"""Semantic pins for the composed IVF-PQ engine (operators/ivfpq.py):
the full distributed pipeline vs the pure-Python golden replica, the
retrieval-quality bounds, the routing-pruning invariant, and partitioning
invariance of the probe audit."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
    IVFPQ_N_LISTS,
    IVFPQ_N_PROBE,
    IVFPQ_N_QUERIES,
    IVFPQ_PROBE_LISTS,
    IVFPQ_PROBE_QUERIES,
    IVFPQ_PROBE_TOPK,
    IVFPQ_TOPK,
    PQ_M,
    _ivfpq_probe_golden,
    _ivfpq_probe_rows,
    ann_ivfpq_topk,
    ivfpq_probe_audit,
    ivfpq_recall_audit,
)


def test_probe_pipeline_matches_golden_replica(spark, sf_dir):
    """The REAL composed engine (coarse routing → residual PQ training →
    ADC over probed lists → salted shortlist → exact re-rank) must be
    bit-exact against the sequential replica on the integer probes."""
    rows = [tuple(r) for r in ivfpq_probe_audit(spark, sf_dir).collect()]
    assert rows == _ivfpq_probe_golden()
    assert len(rows) == IVFPQ_PROBE_QUERIES * IVFPQ_PROBE_TOPK


def test_probe_golden_self_hits_rank_first(spark, sf_dir):
    """Queries ARE stored vectors: each must come back at rank 1 with
    exact distance 0 — routing cannot lose a vector's own list and the
    exact re-rank restores identity regardless of code collisions."""
    for q, rk, vec, _adc_u, exact_u in _ivfpq_probe_golden():
        if rk == 1:
            assert vec == q and exact_u == 0


def test_probe_blob_margins_dominate_rounding():
    """The golden replica routes with unrounded cosine while the engine
    rounds to 6 decimals; this is sound only while every routing decision
    has a margin far above the rounding grid. Pin the margin itself."""
    import math

    rows = _ivfpq_probe_rows()
    cents = {i: v for i, v in rows[:IVFPQ_PROBE_LISTS]}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    for i, v in rows:
        sims = sorted((cos(v, c) for c in cents.values()), reverse=True)
        # data assignment (keep=1) only needs the top-1 gap: ≫ grid
        assert sims[0] - sims[1] > 1e-2
        if i < IVFPQ_PROBE_QUERIES:
            # query probing (keep=2) also needs the top-2 vs top-3 gap;
            # the tightest measures 2.3e-4 — 230× the 1e-6 rounding grid
            assert sims[1] - sims[2] > 1e-4


def test_probe_audit_partitioning_invariant(spark, sf_dir):
    """Integer vectors make every distributed mean order-free, so the
    probe audit must not depend on how the probe frame is partitioned:
    a single partition (sequential, the replica's order), the default 3,
    and a partition count above the row count must all equal the golden."""
    one = [tuple(r) for r in ivfpq_probe_audit(spark, sf_dir, n_partitions=1).collect()]
    default = [tuple(r) for r in ivfpq_probe_audit(spark, sf_dir).collect()]
    wide = [
        tuple(r) for r in ivfpq_probe_audit(spark, sf_dir, n_partitions=29).collect()
    ]
    assert one == default == wide == _ivfpq_probe_golden()


def test_recall_audit_bounds_hold(spark, sf_dir):
    row = ivfpq_recall_audit(spark, sf_dir).collect()[0]
    assert row.n_queries == IVFPQ_N_QUERIES and row.k == IVFPQ_TOPK
    assert row.recall_ok and row.rerank_ok
    assert row.rerank_no_worse and row.self_hit_all
    assert row.routing_pruned


def test_topk_shape_and_self_hit(spark, sf_dir):
    """Corpus-scale smoke: every query yields exactly k ranked rows,
    ranks are 1..k, exact distances are non-decreasing in rank, and each
    query's own vector is rank 1 with exact_u = 0."""
    rows = ann_ivfpq_topk(spark, sf_dir).collect()
    assert len(rows) == IVFPQ_N_QUERIES * IVFPQ_TOPK
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r.query_id), []).append(r)
    assert len(by_q) == IVFPQ_N_QUERIES
    for qid, qrows in by_q.items():
        qrows.sort(key=lambda r: r.rk)
        assert [r.rk for r in qrows] == list(range(1, IVFPQ_TOPK + 1))
        assert int(qrows[0].vec_id) == qid and int(qrows[0].exact_u) == 0
        ds = [int(r.exact_u) for r in qrows]
        assert ds == sorted(ds)


def test_ivfpq_layout_prunes_partitions_and_matches_logical(spark, sf_dir):
    """The physical-layout path must (a) reach the codes scan as
    PartitionFilters (list_id IN ...) — only probed lists' directories are
    opened, over a codes table 32× narrower than the vectors — and (b)
    return EXACTLY the logical path's rows (same deterministic training,
    roundtripped through parquet doubles; the two share `_score_and_rerank`
    so the scoring stage cannot drift)."""
    import shutil
    import tempfile
    import os

    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        ann_ivfpq_pruned,
    )
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        _source_fingerprint,
    )

    # rebuild the index IN-SESSION: the row-equality claim holds when the
    # build and the logical run share a session/partitioning (float
    # training means are deterministic for a fixed partitioning, not
    # across arbitrary ones), so don't compare against a cached layout
    # trained by some other session
    shutil.rmtree(
        os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_ivfpq_{_source_fingerprint(sf_dir)}",
        ),
        ignore_errors=True,
    )
    df = ann_ivfpq_pruned(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "list_id" in pf and "IN" in pf.upper(), plan

    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, ann_ivfpq_topk(spark, sf_dir).collect()))
    assert got == want


def test_nprobe_sweep_shape_and_full_coverage(spark, sf_dir, duck):
    """The sweep's invariant booleans must hold, candidate counts must be
    strictly increasing in n_probe, at n_probe = n_lists the engine scores
    the whole corpus for every query (routing loss fully gone), and the
    EMPIRICAL recall curve — deliberately not in the driver row, because
    post-re-rank recall is not a guaranteed invariant of n_probe — is
    non-decreasing on this corpus (a fixture change surfaces here as a
    visible pytest failure, not a driver flake)."""
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        IVFPQ_SWEEP_PROBES,
        _nprobe_sweep,
    )

    n_corpus = duck.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    rows, recalls = _nprobe_sweep(spark, sf_dir)
    rows = sorted(rows)
    assert [r[0] for r in rows] == list(IVFPQ_SWEEP_PROBES)
    cands = [r[1] for r in rows]
    assert cands == sorted(cands) and len(set(cands)) == len(cands)
    assert cands[-1] == IVFPQ_N_QUERIES * n_corpus
    assert all(nested and floor for _, _, nested, floor in rows)
    # empirical on this corpus: wider probes have not (yet) displaced true
    # neighbors from the fixed ADC shortlist
    assert recalls == sorted(recalls)
    assert recalls[-1] >= 0.25


def test_routing_scans_only_probed_lists(spark, sf_dir):
    """The scale claim, checked structurally: the candidate frame joins
    codes against n_probe lists per query, so distinct probed lists ≤
    |Q|·n_probe < n_lists·|Q| and candidate rows < |Q|·corpus."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        _ivfpq_search,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.pq import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
    )
    from ai_powered_data_pipeline_assistant_spark.operators.vector import (
        _query_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
    _final, codes, candidates, _shortlist = _ivfpq_search(
        spark,
        emb,
        queries,
        n_lists=IVFPQ_N_LISTS,
        n_probe=IVFPQ_N_PROBE,
        m_count=PQ_M,
        subdim=PQ_SUBDIM,
        k_codes=PQ_K,
        iters=PQ_ITERS,
        k=IVFPQ_TOPK,
        rerank=20,
    )
    n_corpus = emb.count()
    assert candidates.count() < IVFPQ_N_QUERIES * n_corpus
    # every vector is stored in exactly one list
    assert codes.count() == n_corpus
    per_list = codes.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    assert sum(r.n for r in per_list) == n_corpus
    assert len(per_list) <= IVFPQ_N_LISTS


def test_incremental_append_parity(spark, sf_dir):
    """FAISS-add() analogue on the lakehouse layout: appending arrivals
    (stored-artifact routing + encoding) must equal a one-pass re-encode,
    touch only the routed lists' partitions, and serve queries identically
    — including self-hits for appended vectors (vec_ids 0 and 4 are in the
    delta slice)."""
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        ivfpq_incremental_parity,
    )

    row = ivfpq_incremental_parity(spark, sf_dir).collect()[0]
    assert row.n_base > 0 and row.n_delta > 0
    assert row.codes_match and row.codes_mismatches == 0
    assert row.append_partition_local
    assert row.query_match and row.query_mismatches == 0


def test_delete_rewrites_only_affected_partitions(spark, sf_dir):
    """Tombstone-free DELETE: victims gone, survivors byte-identical,
    untouched partitions keep their exact files."""
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        ivfpq_delete_audit,
    )

    row = ivfpq_delete_audit(spark, sf_dir).collect()[0]
    assert row.n_deleted > 0
    assert row.n_after == row.n_before - row.n_deleted
    assert row.victims_gone and row.survivors_intact
    assert row.untouched_partitions_intact and row.delete_partition_local


def test_compaction_folds_appends_to_one_file_per_partition(spark, sf_dir):
    """Maintenance third leg: after a base build + an append, compaction
    must fold each list partition to a single file, preserve rows exactly,
    and keep the probe's PartitionFilters pruning intact."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F2

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
        compact_ivfpq_layout,
        write_ivfpq_layout_for,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    tmp = tempfile.mkdtemp(prefix="ivfpq_compact_")
    try:
        write_ivfpq_layout_for(
            spark, emb.filter(F2.col("vec_id") % 4 != 0), tmp
        )
        append_ivfpq_layout(spark, tmp, emb.filter(F2.col("vec_id") % 4 == 0))
        codes_dir = os.path.join(tmp, "codes")
        before_rows = sorted(
            map(tuple, spark.read.parquet(codes_dir).collect())
        )
        files_before = sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(codes_dir)
        )
        n_files = compact_ivfpq_layout(spark, tmp)
        assert n_files < files_before
        part_dirs = [d for d in os.listdir(codes_dir) if d.startswith("list_id=")]
        for d in part_dirs:
            parts = [
                f
                for f in os.listdir(os.path.join(codes_dir, d))
                if f.endswith(".parquet")
            ]
            assert len(parts) == 1, (d, parts)
        after_rows = sorted(map(tuple, spark.read.parquet(codes_dir).collect()))
        assert after_rows == before_rows
        pruned = spark.read.parquet(codes_dir).filter(
            F2.col("list_id").isin([0, 1])
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_drift_audit_decision_and_retrain_improves_qerr(spark, sf_dir):
    """The drift/rebuild tier (VERDICT r8 task #7). Driver row: the
    engineered skew (3 copies of the heaviest list's members) must trip
    the imbalance-drift rule and the encode-path invariants must hold.
    Empirical tier (not oracle territory — float k-means): RETRAINING the
    PQ codebooks on the drifted corpus must not increase the mean
    quantization error vs encoding it with the STALE base-corpus
    codebooks — the reason the rebuild decision exists."""
    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        IVFPQ_DRIFT_COPIES,
        IVFPQ_DRIFT_ID_OFFSET,
        IVFPQ_N_LISTS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _build_index,
        assign_codes,
        ivfpq_drift_audit,
        residual_frame,
    )
    from pyspark.sql import functions as F2

    row = ivfpq_drift_audit(spark, sf_dir).collect()[0]
    assert row.append_routed_heavy and row.dup_codes_match
    assert row.rebuild_recommended  # the engineered skew trips the rule
    assert row.n_appended == IVFPQ_DRIFT_COPIES * row.max_before

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes_b, cent_map_b, pq_b, centroids_b = _build_index(
        emb, IVFPQ_N_LISTS, PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS
    )
    sizes = {
        int(r["list_id"]): int(r["n"])
        for r in codes_b.groupBy("list_id").agg(F2.count("*").alias("n")).collect()
    }
    max_n = max(sizes.values())
    heavy = min(lid for lid, n in sizes.items() if n == max_n)
    members = emb.join(
        codes_b.filter(F2.col("list_id") == heavy).select("vec_id"),
        "vec_id",
        "left_semi",
    )
    post = emb
    for c in range(1, IVFPQ_DRIFT_COPIES + 1):
        post = post.unionByName(
            members.select(
                (F2.col("vec_id") + c * IVFPQ_DRIFT_ID_OFFSET).alias("vec_id"),
                "embedding",
            )
        )

    def mean_qerr(codes_df, cent_map, pq_cents) -> float:
        vecs = {int(r["vec_id"]): list(r["embedding"]) for r in post.collect()}
        total, n = 0.0, 0
        for r in codes_df.select(
            "vec_id", "list_id", *[f"_c{m}" for m in range(PQ_M)]
        ).collect():
            v = vecs[int(r["vec_id"])]
            cc = cent_map[int(r["list_id"])]
            resid = [v[j] - cc[j] for j in range(len(v))]
            for m in range(PQ_M):
                code = pq_cents[m][int(r[f"_c{m}"])]
                for j in range(PQ_SUBDIM):
                    d = resid[m * PQ_SUBDIM + j] - code[j]
                    total += d * d
            n += 1
        return total / n

    # stale: the drifted corpus encoded against BASE-trained artifacts
    stale_codes = assign_codes(
        residual_frame(post, centroids_b), pq_b, PQ_SUBDIM
    )
    # fresh: full retrain on the drifted corpus (same deterministic init —
    # the first-k vectors are unchanged, so the comparison isolates the
    # training data, not the initialization)
    codes_f, cent_map_f, pq_f, _centroids_f = _build_index(
        post, IVFPQ_N_LISTS, PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS
    )
    stale_err = mean_qerr(stale_codes, cent_map_b, pq_b)
    fresh_err = mean_qerr(codes_f, cent_map_f, pq_f)
    assert fresh_err <= stale_err, (fresh_err, stale_err)


def test_drift_rebuild_resets_baseline_and_matches_fresh_build(spark, sf_dir):
    """The remediation leg of the drift tier: after the skewed appends
    trip the rebuild rule, `rebuild_ivfpq_layout` must swap in an index
    identical to a one-pass fresh build on the drifted corpus (same
    session/partitioning ⇒ deterministic training), serve queries from
    the new artifacts (cache self-invalidated), and reset the drift
    rule's at-train baseline (post-rebuild imbalance ratio = 1 < 1.5)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F2

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        IVFPQ_DRIFT_COPIES,
        IVFPQ_DRIFT_ID_OFFSET,
        PQ_M,
        _read_codes,
        read_ivfpq_artifacts,
    )
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
        rebuild_ivfpq_layout,
        write_ivfpq_layout_for,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="ivfpq_rebuild_")
    live = os.path.join(tmp, "live")
    ref = os.path.join(tmp, "ref")
    try:
        write_ivfpq_layout_for(spark, emb, live)
        codes_dir = os.path.join(live, "codes")
        pre = _read_codes(spark, codes_dir)
        sizes = {
            int(r["list_id"]): int(r["n"])
            for r in pre.groupBy("list_id").agg(F2.count("*").alias("n")).collect()
        }
        max_n = max(sizes.values())
        heavy = min(lid for lid, n in sizes.items() if n == max_n)
        members = emb.join(
            pre.filter(F2.col("list_id") == heavy).select("vec_id"),
            "vec_id",
            "left_semi",
        ).persist()
        post = emb
        delta = None
        for c in range(1, IVFPQ_DRIFT_COPIES + 1):
            shifted = members.select(
                (F2.col("vec_id") + c * IVFPQ_DRIFT_ID_OFFSET).alias("vec_id"),
                "embedding",
            )
            post = post.unionByName(shifted)
            delta = shifted if delta is None else delta.unionByName(shifted)
        append_ivfpq_layout(spark, live, delta)
        # the genuinely drifted (pre-rebuild) per-list sizes — what the
        # production rule is evaluated on
        drifted_sizes = {
            int(r["list_id"]): int(r["n"])
            for r in _read_codes(spark, codes_dir)
            .groupBy("list_id")
            .agg(F2.count("*").alias("n"))
            .collect()
        }

        rebuild_ivfpq_layout(spark, live, post)
        import glob

        leaked = glob.glob(f"{live}.old_*") + glob.glob(f"{live}.rebuild_*")
        assert not leaked, f"swap dirs leaked: {leaked}"

        # post-rebuild index ≡ one-pass fresh build on the drifted corpus
        write_ivfpq_layout_for(spark, post, ref)
        cols = ["vec_id", "list_id", *[f"_c{m}" for m in range(PQ_M)]]
        got = _read_codes(spark, os.path.join(live, "codes")).select(*cols)
        want = _read_codes(spark, os.path.join(ref, "codes")).select(*cols)
        assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0

        # artifacts re-read from the swapped path (cache invalidated by
        # the new sidecar mtimes)
        cent_map = read_ivfpq_artifacts(spark, live).cent_map
        assert len(cent_map) > 0
        new_sizes = {
            int(r["list_id"]): int(r["n"])
            for r in _read_codes(spark, os.path.join(live, "codes"))
            .groupBy("list_id")
            .agg(F2.count("*").alias("n"))
            .collect()
        }
        n_total = sum(new_sizes.values())
        assert n_total == post.count()

        # The baseline reset is what turns the decision OFF: evaluated
        # against the ORIGINAL (pre-drift) at-train snapshot, the
        # PRE-REBUILD drifted index trips the rule; evaluated against the
        # post-rebuild snapshot (the new at-train baseline), the current
        # stats do not.
        def rule(at_max, at_total, cur_max, cur_total):
            return 10 * cur_max * at_total >= 15 * at_max * cur_total

        n_base = sum(sizes.values())
        assert rule(
            max_n,
            n_base,
            max(drifted_sizes.values()),
            sum(drifted_sizes.values()),
        ), "pre-rebuild drifted stats should trip the rule vs the pre-drift baseline"
        assert not rule(
            max(new_sizes.values()), n_total, max(new_sizes.values()), n_total
        ), "post-rebuild stats must not trip the rule vs the NEW baseline"
    finally:
        members.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


def _batched_layout(spark, emb, tmp):
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        write_ivfpq_layout_for,
    )

    layout = f"{tmp}/index"
    write_ivfpq_layout_for(spark, emb, layout, batched=True)
    return layout


def _batch_codes(spark, layout, batch_id):
    return sorted(
        map(
            tuple,
            spark.read.parquet(f"{layout}/codes")
            .filter(F.col("batch_id") == batch_id)
            .select("vec_id", "list_id", *[f"_c{m}" for m in range(PQ_M)])
            .collect(),
        )
    )


def test_encoder_cache_reuse_and_rebuild(spark, sf_dir, monkeypatch):
    """The index encoder lives in the artifact cache entry: training
    leaves no entry behind, two appends against one layout reuse the same
    Column objects, and after `rebuild_ivfpq_layout` an append encodes
    against the NEW codebooks — its codes equal a fresh, uncached encode
    (and differ from what the stale encoder would have written)."""
    import shutil
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.operators import ivfpq
    from ai_powered_data_pipeline_assistant_spark.operators.ivfpq import (
        PQ_SUBDIM,
        assign_codes,
        read_ivfpq_artifacts,
        residual_frame,
    )
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
        rebuild_ivfpq_layout,
    )

    monkeypatch.setattr(ivfpq, "_ARTIFACT_CACHE", {})
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="ivfpq_encoder_cache_")
    try:
        layout = _batched_layout(spark, emb.filter(F.col("vec_id") % 4 != 0), tmp)
        assert ivfpq._ARTIFACT_CACHE == {}, "training cached an entry"
        arrivals = [emb.filter(F.col("vec_id") % 12 == r) for r in (0, 4, 8)]

        append_ivfpq_layout(spark, layout, arrivals[0], batch_id=0)
        first = read_ivfpq_artifacts(spark, layout)
        append_ivfpq_layout(spark, layout, arrivals[1], batch_id=1)
        second = read_ivfpq_artifacts(spark, layout)
        assert len(ivfpq._ARTIFACT_CACHE) == 1
        assert second.encode is first.encode and second.route is first.route
        assert second.encode.darrs[0] is first.encode.darrs[0]
        assert second.route.sim is first.route.sim

        # retrain on a corpus with different leading vectors, so both the
        # coarse centroids and the codebooks change
        rebuild_ivfpq_layout(
            spark, layout, emb.filter(F.col("vec_id") % 4 != 1), batched=True
        )
        append_ivfpq_layout(spark, layout, arrivals[2], batch_id=2)
        fresh = read_ivfpq_artifacts(spark, layout)
        assert fresh.encode is not first.encode
        assert len(ivfpq._ARTIFACT_CACHE) == 1

        def reference(centroids, pq_cents):
            return sorted(
                map(
                    tuple,
                    assign_codes(
                        residual_frame(arrivals[2], centroids), pq_cents, PQ_SUBDIM
                    )
                    .select("vec_id", "list_id", *[f"_c{m}" for m in range(PQ_M)])
                    .collect(),
                )
            )

        got = _batch_codes(spark, layout, 2)
        assert got == reference(fresh.centroids, fresh.pq_cents)
        # the rebuild deleted the old sidecar files; rebuild the stale
        # routing frame from the old entry's driver-side map
        stale_centroids = spark.createDataFrame(
            sorted(first.cent_map.items()), "list_id long, centroid array<double>"
        )
        assert got != reference(stale_centroids, first.pq_cents)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_append_returns_routed_lists_of_its_partition(spark, sf_dir):
    """`append_ivfpq_layout` reads its routed list ids off the codes write
    (an observed collect_set): exactly the distinct list_ids of the batch
    partition it wrote, and [] for an empty (all-duplicate) batch, which
    writes no partition at all."""
    import shutil
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.execution import materialize
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="ivfpq_routed_")
    try:
        layout = _batched_layout(spark, emb.filter(F.col("vec_id") % 4 != 0), tmp)
        routed = append_ivfpq_layout(
            spark, layout, emb.filter(F.col("vec_id") % 4 == 0), batch_id=0
        )
        written = sorted({lid for _v, lid, *_c in _batch_codes(spark, layout, 0)})
        assert routed == written and len(written) > 1
        # statically empty, and empty only at run time (the crawl
        # pipeline's all-duplicate batch is a checkpointed empty frame)
        empties = [
            emb.limit(0),
            materialize(emb.filter(F.col("vec_id") < 0), eager=True),
        ]
        for batch_id, empty in enumerate(empties, start=1):
            assert append_ivfpq_layout(spark, layout, empty, batch_id=batch_id) == []
            assert _batch_codes(spark, layout, batch_id) == []
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
