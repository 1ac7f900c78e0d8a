"""Semantic pins for product quantization (operators/pq.py): the
distributed trainer vs the pure-Python golden replica, code-packing
round-trip, codebook accounting, and the retrieval-quality bounds."""

from __future__ import annotations

import pytest

from ai_powered_data_pipeline_assistant_spark.operators.pq import (
    PQ_K,
    PQ_M,
    _pq_probe_golden,
    pq_codebooks,
    pq_encode,
    pq_probe_audit,
    pq_recall_audit,
    resolve_train_sample,
)


def test_probe_trainer_matches_golden_replica(spark, sf_dir):
    """The REAL distributed Lloyd's loop (multi-subspace assignment +
    explode/groupBy means) must be bit-exact against the sequential
    replica — integer probe vectors make every mean order-free."""
    rows = [tuple(r) for r in pq_probe_audit(spark, sf_dir).collect()]
    assert rows == _pq_probe_golden()


def test_encode_packs_codes_reversibly(spark, sf_dir, duck):
    n_vecs = duck.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    rows = pq_encode(spark, sf_dir).collect()
    assert len(rows) == n_vecs
    for r in rows:
        assert 0 <= r.pq_code < (1 << (4 * PQ_M))
        assert r.recon_u >= 0
        # every unpacked nibble must be a valid code
        for m in range(PQ_M):
            assert 0 <= (r.pq_code >> (4 * m)) & 0xF < PQ_K


def test_codebooks_account_for_every_vector(spark, sf_dir, duck):
    n_vecs = duck.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    rows = pq_codebooks(spark, sf_dir).collect()
    assert len(rows) == PQ_M * PQ_K
    by_m: dict[int, int] = {}
    for r in rows:
        by_m[r.m] = by_m.get(r.m, 0) + r.size
    # each subspace partitions the corpus exactly
    assert all(v == n_vecs for v in by_m.values())


def test_recall_audit_bounds_hold(spark, sf_dir):
    row = pq_recall_audit(spark, sf_dir).collect()[0]
    assert row.recall_ok and row.rerank_ok
    assert row.rerank_no_worse and row.self_hit_all


def test_sampled_training_meets_recall_floors(spark):
    """The 100 TB knob (PQ_TRAIN_SAMPLE / the train_sample arg): codebooks
    trained on a deterministic xxhash64(vec_id) half-sample, codes assigned
    to the FULL corpus in one pass, must still clear the published recall
    floors — run at sf0.01 (the driver's correctness scale) so the sample
    is large enough to be meaningful (~50% of ~600 vectors)."""
    row = pq_recall_audit(
        spark, "/root/testdata/sf0.01", train_sample=0.5
    ).collect()[0]
    assert row.recall_ok and row.rerank_ok
    assert row.rerank_no_worse and row.self_hit_all


def test_sampled_training_fraction_one_is_exact_default(spark, sf_dir):
    """train_sample=1.0 must be the identity: the probe audit's golden
    replica (full-corpus training) stays exact with the knob threaded
    through — i.e. the fixture default is byte-identical to pre-knob
    behavior."""
    from ai_powered_data_pipeline_assistant_spark.operators.pq import (
        PQ_PROBE_ITERS,
        PQ_PROBE_K,
        PQ_PROBE_M,
        PQ_PROBE_SUBDIM,
        _pq_probe_rows,
        _train_pq,
    )

    emb = spark.createDataFrame(
        _pq_probe_rows(), "vec_id long, embedding array<double>"
    ).repartition(3)
    full = _train_pq(
        emb, PQ_PROBE_M, PQ_PROBE_SUBDIM, PQ_PROBE_K, PQ_PROBE_ITERS
    )
    explicit = _train_pq(
        emb, PQ_PROBE_M, PQ_PROBE_SUBDIM, PQ_PROBE_K, PQ_PROBE_ITERS,
        train_sample=1.0,
    )
    assert full == explicit


@pytest.mark.parametrize("raw", ["0", "-0.1", "1.5", "abc"])
def test_train_sample_out_of_range_raises(monkeypatch, raw):
    """A fraction <= 0 would train on an empty sample (codebooks stuck at
    init); one > 1 would key a separate cached layout. Both read sites go
    through one resolver, which refuses them by name."""
    monkeypatch.setenv("PQ_TRAIN_SAMPLE", raw)
    with pytest.raises(ValueError, match="PQ_TRAIN_SAMPLE"):
        resolve_train_sample()
    if raw != "abc":
        with pytest.raises(ValueError, match="PQ_TRAIN_SAMPLE"):
            resolve_train_sample(float(raw))


def test_train_sample_resolves_in_range(monkeypatch):
    monkeypatch.delenv("PQ_TRAIN_SAMPLE", raising=False)
    assert resolve_train_sample() == 1.0
    assert resolve_train_sample(0.25) == 0.25
    monkeypatch.setenv("PQ_TRAIN_SAMPLE", "0.5")
    assert resolve_train_sample() == 0.5
