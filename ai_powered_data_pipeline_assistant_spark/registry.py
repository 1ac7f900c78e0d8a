"""Central query registry: every implemented operator exposed as a named
(spark, sf_dir) -> DataFrame callable, with its DuckDB oracle SQL when the
semantics are ANSI-SQL-expressible.

This is the engine's public API surface — the analogue of the reference's
tool registry (reference backend/tools/tool_registry.py:79-316), with tools
replaced by DataFrame pipelines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ai_powered_data_pipeline_assistant_spark.operators import (
    aggregates,
    batching,
    behavior,
    bpe,
    clustering,
    corpus,
    curation,
    data_selection,
    dedup,
    diagnostics,
    embedding_pipeline,
    embedding_stats,
    entity,
    graphs,
    incremental,
    ivfpq,
    joins,
    market,
    multimodal,
    neardup_cluster,
    packing,
    pipeline,
    pq,
    quality_trainer,
    relational,
    repetition,
    scalar_ops,
    scoring,
    sharding,
    stream_parity,
    substring,
    surface_audits,
    text_analysis,
    tpch,
    unigram,
    vector,
    webcorpus,
    windows,
)
from ai_powered_data_pipeline_assistant_spark.sources import formats, layout

_MODULES = [
    quality_trainer,
    relational,
    aggregates,
    batching,
    behavior,
    bpe,
    unigram,
    joins,
    vector,
    pq,
    ivfpq,
    dedup,
    text_analysis,
    curation,
    data_selection,
    clustering,
    pipeline,
    repetition,
    neardup_cluster,
    substring,
    diagnostics,
    corpus,
    webcorpus,
    packing,
    scoring,
    sharding,
    surface_audits,
    stream_parity,
    windows,
    scalar_ops,
    incremental,
    entity,
    graphs,
    market,
    multimodal,
    embedding_pipeline,
    embedding_stats,
    tpch,
    formats,
    layout,
]

QueryFn = Callable[[SparkSession, str], DataFrame]

# Queries whose BUILDER executes distributed work (streaming runs,
# iterative trainers with driver round-trips) before returning a — then
# trivial — result frame. Plan-shape sweeps (plan_shuffle_census,
# tests/test_plans.py cartesian sweep) skip these: censusing a literal
# projection is worthless and pays the whole run; their inner plans are
# covered by the batch twins / single-round counting queries they wrap.
EXECUTES_AT_BUILD: frozenset[str] = frozenset(
    {
        "cdc_stream_parity",
        "funnel_stream_parity",
        "session_stream_parity",
        "job_stream_parity",
        "channel_fanout_parity",
        "trigger_cadence_audit",
        "neardup_stream_parity",
        "neardup_cluster_stream_parity",
        "substring_stream_parity",
        "substring_state_report",
        "substring_k_plan",
        "substring_rewrite_apply",
        "bpe_merge_table",
        "bpe_token_counts",
        "bpe_probe_audit",
        "bpe_encode_probe_audit",
        "unigram_vocab_table",
        "unigram_token_counts",
        "unigram_probe_audit",
        "unigram_encode_probe_audit",
        "tokenizer_fertility_report",
        "quality_trainer_report",
        "logreg_probe_audit",
        "ann_ivf_autotuned",
        "pq_encode",
        "pq_codebooks",
        "pq_recall_audit",
        "pq_probe_audit",
        "ann_ivfpq_topk",
        "ann_ivfpq_pruned",
        "ivfpq_recall_audit",
        "ivfpq_nprobe_recall_audit",
        "ivfpq_probe_audit",
        "ivfpq_incremental_parity",
        "ivfpq_delete_audit",
        "ivfpq_drift_audit",
        "ann_ingest_stream_parity",
        "crawl_pipeline_parity",
        "crawl_steady_batch",
        "neardup_state_report",
        "cluster_state_report",
        "media_phash_stream_parity",
        "phash_state_report",
        "media_cluster_stream_parity",
        "media_crawl_parity",
        "media_pipeline_state_report",
    }
)

# The correctness driver checks the FIRST 50 registry entries per round, so
# ordering decides which queries get a driver verdict. Round-13 window
# (optimization round — no new operators):
# (a) insurance re-checks for the six queries materially RESTRUCTURED this
# round (one-pass DSIR ×2, one-pass markov audit, materialized
# semantic_dedup, null-safe one-pass bm25, fused-shingle decontaminate) —
# each value-verified MATCH by targeted driver_sim at sf0.01 (and sf0.001
# for the dsir/bm25/shingle families) on its landing commit, but the
# driver is the arbiter;
# (b) staleness: ALL 44 remaining r6-greens (after this window lands the
# oldest non-window green is r7), which also re-covers the fused shingle
# kernel and the width change through minhash_lsh_pairs,
# crosssource_dup_matrix, neardup_degree_stats, neardup_similarity_
# histogram, item_recommendations, centroid_label_accuracy, bpe_pair_
# counts and chunk_documents. Every slot carries an oracle AND is
# driver-representable. Oracle presence is enforced on every pytest by
# tests/test_driver_sim_hardening.py; representability by that file's
# full-tier test (SPARK_GRAFT_FULL_TESTS=1) and by
# `scripts/driver_sim.py --window`. Rows-only entries are NEVER
# windowed — their currency is their scalarized audit twins.
_DRIVER_WINDOW: tuple[str, ...] = (
    # -- restructured this round --
    "dsir_importance_weights",
    "dsir_gumbel_resample",
    "markov_prediction_audit",
    "semantic_dedup",
    "bm25_search",
    "decontaminate",
    # -- staleness: ALL 44 remaining r6-greens --
    "bpe_encode_probe_audit",
    "bpe_pair_counts",
    "bpe_probe_audit",
    "centroid_label_accuracy",
    "centroid_separation_report",
    "char_trigram_entropy",
    "chunk_documents",
    "cms_heavy_hitters",
    "compression_probe_audit",
    "corpus_drift_report",
    "corpus_manifest",
    "crosssource_dup_matrix",
    "daily_counts_gapfill",
    "domain_cap_sample",
    "domain_stats",
    "embedding_quantize_audit",
    "event_gaps",
    "event_transitions",
    "fk_integrity_audit",
    "frequent_terms_audit",
    "heldout_perplexity",
    "item_recommendations",
    "kmeans_probe_audit",
    "kmv_distinct_report",
    "lang_confusion",
    "lateral_topn_per_customer",
    "logreg_probe_audit",
    "minhash_lsh_pairs",
    "neardup_degree_stats",
    "neardup_similarity_histogram",
    "packing_summary",
    "pca_probe_audit",
    "quality_bands_by_lang",
    "repetition_gate",
    "retrieval_overlap_report",
    "session_summary",
    "session_window_counts",
    "shard_manifest",
    "snapshot_diff",
    "tfidf_keywords",
    "top_docs_per_lang",
    "value_moving_avg",
    "vocab_topk",
    "zipf_fit",
)



def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _MODULES:
        for name, fn in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name {name!r}")
            out[name] = fn
    missing = [n for n in _DRIVER_WINDOW if n not in out]
    if missing:
        raise ValueError(f"_DRIVER_WINDOW names unknown queries: {missing}")
    ordered = {name: out[name] for name in _DRIVER_WINDOW}
    ordered.update((n, f) for n, f in out.items() if n not in ordered)
    return ordered


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if sql is not None:
                out[name] = sql
    return out
