"""Unigram-LM tokenizer: Viterbi exactness, trainer invariants, and the
golden-replica pins for the distributed hard-EM loop."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.operators.unigram import (
    UNI_MAX_PIECE,
    UNI_MIN_COUNT,
    UNI_PROBE_ROUNDS,
    UNI_PROBES,
    _costs,
    _golden_seed,
    _seed_counts,
    _train,
    _unigram_golden,
    _viterbi,
    unigram_encode_probe_audit,
    unigram_probe_audit,
    unigram_token_counts,
)


def test_viterbi_picks_min_cost_and_prefers_longer_piece():
    costs = {"a": 10, "b": 10, "ab": 15, "abc": 40, "c": 10}
    # ab+c = 25 beats a+b+c = 30 and abc = 40
    assert _viterbi("abc", costs, UNI_MAX_PIECE) == ["ab", "c"]
    # exact tie between a+b (20) and ab (20) → longer piece wins
    tie = {"a": 10, "b": 10, "ab": 20}
    assert _viterbi("ab", tie, UNI_MAX_PIECE) == ["ab"]


def test_viterbi_unknown_char_falls_back_to_unk():
    costs = {"a": 10}
    assert _viterbi("axa", costs, UNI_MAX_PIECE) == ["a", "x", "a"]


def test_seed_counts_match_python_replica(spark):
    words = spark.createDataFrame(
        UNI_PROBES, "word string, freq long"
    ).repartition(3)
    got = {
        r["piece"]: r["cnt"] for r in _seed_counts(words).collect()
    }
    want: dict[str, int] = {}
    for w, f in UNI_PROBES:
        for i in range(len(w)):
            for ln in range(1, min(UNI_MAX_PIECE, len(w) - i) + 1):
                p = w[i : i + ln]
                want[p] = want.get(p, 0) + f
    assert got == want


def test_trainer_matches_golden_replica(spark, sf_dir):
    got = [
        (r["rank"], r["piece"], r["cnt"], r["cost_micronats"], r["n_chars"])
        for r in unigram_probe_audit(spark, sf_dir).collect()
    ]
    counts, costs = _unigram_golden(UNI_PROBES, UNI_PROBE_ROUNDS)
    want = [
        (i + 1, p, c, costs[p], len(p))
        for i, (p, c) in enumerate(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        )
    ]
    assert got == want


def test_trainer_invariants(spark, sf_dir):
    rows = unigram_probe_audit(spark, sf_dir).collect()
    # the alphabet survives pruning (the model stays total)
    alphabet = {c for w, _ in UNI_PROBES for c in w}
    pieces = {r["piece"] for r in rows}
    assert alphabet <= pieces
    # every surviving multi-char piece cleared the use floor
    for r in rows:
        if r["n_chars"] > 1:
            assert r["cnt"] >= UNI_MIN_COUNT
    # costs are monotone non-increasing in count (same -log quantization)
    by_rank = sorted(rows, key=lambda r: r["rank"])
    for a, b in zip(by_rank, by_rank[1:]):
        assert a["cnt"] >= b["cnt"]
        assert a["cost_micronats"] <= b["cost_micronats"]


def test_encode_audit_matches_golden(spark, sf_dir):
    got = {
        r["word"]: (r["n_pieces"], r["pieces_concat"])
        for r in unigram_encode_probe_audit(spark, sf_dir).collect()
    }
    _counts, costs = _unigram_golden(UNI_PROBES, UNI_PROBE_ROUNDS)
    for w, _f in UNI_PROBES:
        pieces = _viterbi(w, costs, UNI_MAX_PIECE)
        assert got[w] == (len(pieces), "|".join(pieces))
    # segmentation must reassemble to the word
    for w, (_n, concat) in got.items():
        assert concat.replace("|", "") == w


def test_token_counts_bounded_by_chars_and_words(spark, sf_dir):
    out = unigram_token_counts(spark, sf_dir)
    bad = out.filter(
        (F.col("unigram_tokens") < F.col("n_words"))  # ≥1 piece per word
    ).count()
    assert bad == 0


def test_fertility_report_ratios_and_sums(spark, sf_dir):
    from ai_powered_data_pipeline_assistant_spark.operators.unigram import (
        tokenizer_fertility_report,
    )

    rows = tokenizer_fertility_report(spark, sf_dir).collect()
    assert rows, "expected at least one source"
    for r in rows:
        # every word is at least one token under any subword tokenizer
        assert r["bpe_tokens"] >= r["n_words"]
        assert r["unigram_tokens"] >= r["n_words"]
        assert r["bpe_fertility"] >= 1.0
        assert r["unigram_fertility"] >= 1.0
        assert r["n_docs"] > 0


def test_costs_quantization_is_integer_micronats():
    c = _costs({"a": 3, "b": 1})
    assert all(isinstance(v, int) for v in c.values())
    assert c["b"] > c["a"] > 0


def test_golden_seed_keeps_full_alphabet():
    seed = _golden_seed(UNI_PROBES)
    alphabet = {c for w, _ in UNI_PROBES for c in w}
    assert alphabet <= {p for p in seed if len(p) == 1}


def test_fertility_report_viterbi_stays_vocab_side(spark, sf_dir, monkeypatch):
    """VERDICT r9 task #7: the fertility report's only Python boundary is
    the Viterbi pandas UDF over the vocabulary HEAD on the broadcast
    build side — never over the corpus-cardinality word explode. In the
    full-lineage plan (materialization off) the probe side (the corpus
    explode, printed before the first BroadcastExchange) must carry no
    EvalPython node; the one ArrowEvalPython lives under the broadcast."""
    from ai_powered_data_pipeline_assistant_spark.operators import unigram
    from ai_powered_data_pipeline_assistant_spark.operators.unigram import (
        tokenizer_fertility_report,
    )

    monkeypatch.setattr(unigram, "materialize", lambda df, **_: df)
    plan = (
        tokenizer_fertility_report(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" in plan, "the Viterbi UDF must be in the plan"
    first_bcast = plan.index("BroadcastExchange")
    probe_side = plan[:first_bcast]
    assert "EvalPython" not in probe_side, (
        "Python eval found above the corpus explode:\n" + probe_side
    )
