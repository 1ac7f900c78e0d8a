"""BPE (byte-pair-encoding) merge training over the corpus vocabulary —
the tokenizer-training primitive of a training-data pipeline.

No reference parity row (the reference tokenizes with a fixed external
model, backend/utils/token_counting.py) — this is the north-star
"training-data pipeline" extension family: before you can pack or budget
tokens at 100 TB you have to TRAIN the tokenizer, and the trainer's hot
loop is exactly one aggregation shape repeated R times.

Algorithm (Sennrich et al. 2016): start from character symbols, repeatedly
(1) count adjacent symbol pairs across the vocabulary weighted by word
frequency, (2) merge the most frequent pair everywhere (greedy
left-to-right, non-overlapping). The merge table (pair per rank) IS the
tokenizer.

Scale design — the industry-standard decomposition (HF tokenizers does the
same): ONE corpus pass builds the (word, freq) vocabulary (corpus-scale
groupBy, done by `webcorpus._vocab`'s tokenization convention); every
training round then runs on the VOCABULARY frame — pair counting is one
explode + map-side-combined groupBy over distinct words, never the corpus
— and only the single argmax pair row reaches the driver per round
(`kmeans_embeddings`' centroid shape). The in-row merge is a JVM
`aggregate` fold (exact greedy non-overlap: the folded last element equals
the pair head iff an unmerged head is pending, because a merged token
A||B can never equal A); `materialize` truncates the per-round plan (execution.py policy).

Determinism: counts are integers; pair selection is (count DESC, pair_a,
pair_b) — fully reproducible, so `bpe_probe_audit` pins the whole
distributed trainer against a pure-Python replica with golden values, and
`bpe_pair_counts` (the round-0 counting shape over the real corpus) has a
direct SQL oracle. The corpus-scale `bpe_merge_table` itself is rows-only
(its oracle would need R unrolled fold rounds DuckDB 1.0 cannot express).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize

BPE_ROUNDS = 8
BPE_MIN_COUNT = 2
# The trainer runs on the top-V vocabulary head (real trainers prune rare
# words too — a hapax can never win a merge vote against MIN_COUNT).
BPE_VOCAB_CAP = 500


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) vocabulary — same whitespace/lowercase tokenization as
    webcorpus._vocab, capped to the BPE_VOCAB_CAP head deterministically."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return vocab.orderBy(F.desc("freq"), "word").limit(BPE_VOCAB_CAP)


def _chars_expr(col: str = "word") -> Column:
    """Split a word into single-character symbols (engine-portable:
    substring arithmetic, no empty-regex split edge cases)."""
    return F.expr(
        f"transform(sequence(1, length({col})), i -> substring({col}, i, 1))"
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair_a, pair_b, cnt): adjacent-symbol pair counts over the symbol
    arrays, weighted by word frequency. One explode + one partial-agg
    groupBy — vocabulary-scale, not corpus-scale."""
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
    )
    return (
        words.filter(F.size("syms") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("pair_a"), F.col("p.b").alias("pair_b"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _merge_pair(words: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (a, b) → a||b in every
    symbol array — a JVM `aggregate` fold, no Python. Correctness of the
    last-element test: a freshly merged token a||b can never equal `a`
    (b is non-empty), so a matching last element always means an unmerged
    pending head."""
    merged = F.concat(F.lit(a), F.lit(b))
    fold = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return words.withColumn("syms", fold)


def _train(
    words: DataFrame, rounds: int, min_count: int
) -> list[tuple[int, str, str, int]]:
    """The driver loop: per round one vocabulary-scale pair count, one
    1-row argmax to the driver, one in-row merge. Returns the merge table
    [(rank, pair_a, pair_b, pair_count)]."""
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), "pair_a", "pair_b")
            .first()
        )
        if best is None or best["cnt"] < min_count:
            break
        merges.append((rnd, best["pair_a"], best["pair_b"], best["cnt"]))
        words = _merge_pair(words, best["pair_a"], best["pair_b"]).transform(
            materialize
        )
    return merges


def bpe_pair_counts(spark: SparkSession, sf_dir: str, top: int = 50) -> DataFrame:
    """Round-0 BPE statistics over the real corpus vocabulary: the top
    adjacent character-pair counts (frequency-weighted) — the aggregation
    every training round repeats, exposed once with an exact SQL oracle."""
    words = _word_freqs(spark, sf_dir).withColumn("syms", _chars_expr())
    counts = _pair_counts(words)
    w_top = counts.orderBy(F.desc("cnt"), "pair_a", "pair_b").limit(top)
    # rank window runs on the TakeOrdered top rows only, never full counts
    w = Window.orderBy(F.desc("cnt"), "pair_a", "pair_b")
    return w_top.select(
        F.row_number().over(w).alias("rank"), "pair_a", "pair_b", "cnt"
    ).orderBy("rank")


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table over the corpus vocabulary head: BPE_ROUNDS
    rounds of count→argmax→merge. Rows-only (the R-round fold is not
    DuckDB-expressible); the trainer's exactness is pinned by
    `bpe_probe_audit`'s golden replica and the round-0 oracle above."""
    words = _word_freqs(spark, sf_dir).withColumn("syms", _chars_expr())
    merges = _train(words, BPE_ROUNDS, BPE_MIN_COUNT)
    return spark.createDataFrame(
        merges, "rank int, pair_a string, pair_b string, pair_count long"
    ).orderBy("rank")


# Fixed probe vocabulary (the Sennrich paper's classic example family):
# merges must discover 'e'+'r', 'er'+EOW-ish suffixes etc. deterministically.
BPE_PROBES: list[tuple[str, int]] = [
    ("low", 5),
    ("lower", 2),
    ("lowest", 2),
    ("newer", 6),
    ("newest", 3),
    ("wider", 3),
    ("winner", 2),
    ("inner", 2),
]
BPE_PROBE_ROUNDS = 8


def bpe_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable pin of the full distributed trainer: run `_train`
    (real explode/groupBy/argmax/fold rounds, words across 3 partitions)
    over the fixed probe vocabulary and return the merge table; the oracle
    carries golden rows from `_bpe_golden`'s pure-Python replica of the
    same greedy semantics. Any drift in pair counting, tie-breaking, or
    the non-overlapping merge fold changes a row."""
    words = spark.createDataFrame(BPE_PROBES, "word string, freq long").repartition(
        3
    ).withColumn("syms", _chars_expr())
    merges = _train(words, BPE_PROBE_ROUNDS, BPE_MIN_COUNT)
    return spark.createDataFrame(
        merges, "rank int, pair_a string, pair_b string, pair_count long"
    ).orderBy("rank")


def _bpe_golden() -> list[tuple[int, str, str, int]]:
    words = {w: (list(w), f) for w, f in BPE_PROBES}
    out = []
    for rnd in range(1, BPE_PROBE_ROUNDS + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), cnt = best
        if cnt < BPE_MIN_COUNT:
            break
        out.append((rnd, a, b, cnt))
        for w, (syms, f) in words.items():
            acc: list[str] = []
            for s in syms:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = a + b
                else:
                    acc.append(s)
            words[w] = (acc, f)
    return out


def _bpe_probe_oracle() -> str:
    rows = _bpe_golden()

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    values = ",\n            ".join(
        f"({r}, {q(a)}, {q(b)}, CAST({c} AS BIGINT))" for r, a, b, c in rows
    )
    return f"""
        SELECT * FROM (VALUES
            {values}
        ) AS t(rank, pair_a, pair_b, pair_count)
        ORDER BY rank
    """


def _pair_counts_oracle(top: int = 50) -> str:
    return f"""
        WITH vocab AS (
            SELECT word, count(*) AS freq FROM (
                SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS word
                FROM documents) t
            WHERE length(word) > 0
            GROUP BY 1 ORDER BY freq DESC, word LIMIT {BPE_VOCAB_CAP}),
        pairs AS (
            SELECT substr(word, i, 1) AS pair_a,
                   substr(word, i + 1, 1) AS pair_b,
                   freq
            FROM vocab, LATERAL (
                SELECT unnest(range(1, length(word))) AS i)
            WHERE length(word) >= 2),
        counts AS (
            SELECT pair_a, pair_b, CAST(sum(freq) AS BIGINT) AS cnt
            FROM pairs GROUP BY 1, 2
            ORDER BY cnt DESC, pair_a, pair_b LIMIT {top})
        SELECT row_number() OVER (ORDER BY cnt DESC, pair_a, pair_b)
                   AS rank,
               pair_a, pair_b, cnt
        FROM counts ORDER BY rank
    """


def _apply_merges(words: DataFrame, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """Encode: apply the trained merge table in rank order (R sequential
    in-row folds — vocabulary-scale work, the corpus never sees a fold)."""
    for _, a, b, _ in merges:
        words = _merge_pair(words, a, b)
    return words


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the TRAINED tokenizer — the token
    budget a real packing/pricing pass would use, vs the whitespace-word
    count the regex estimate gives.

    Scale shape: train on the vocabulary head (bpe_merge_table's loop),
    ENCODE the vocabulary (R in-row folds over ≤ BPE_VOCAB_CAP words),
    broadcast the (word → n_tokens) map onto the corpus word explode, and
    aggregate per document. Out-of-head words fall back to character
    tokens (their length) — the worst-case fragmentation a small merge
    table implies. Rows-only (depends on the trained table); the encode
    fold is pinned exactly by `bpe_encode_probe_audit`."""
    words = _word_freqs(spark, sf_dir).withColumn("syms", _chars_expr())
    merges = _train(words, BPE_ROUNDS, BPE_MIN_COUNT)
    encoded = _apply_merges(words, merges).select(
        "word", F.size("syms").alias("n_tokens")
    )
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    doc_words = docs.select(
        "doc_id", F.explode(toks).alias("word")
    ).filter(F.length("word") > 0)
    joined = doc_words.join(F.broadcast(encoded), "word", "left")
    per_tok = F.coalesce(F.col("n_tokens"), F.length("word")).cast("long")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(per_tok).alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def bpe_encode_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden pin of the ENCODE path: train on the probe vocabulary, apply
    the merge table back to the probe words through the real distributed
    folds, and emit (word, n_tokens, tokens_concat); the oracle carries
    values from the pure-Python replica. Catches any divergence between
    training-time and encode-time merge semantics (the classic BPE
    implementation bug)."""
    words = spark.createDataFrame(BPE_PROBES, "word string, freq long").repartition(
        3
    ).withColumn("syms", _chars_expr())
    merges = _train(words, BPE_PROBE_ROUNDS, BPE_MIN_COUNT)
    encoded = _apply_merges(words, merges)
    return encoded.select(
        "word",
        F.size("syms").alias("n_tokens"),
        F.concat_ws("|", "syms").alias("tokens"),
    ).orderBy("word")


def _bpe_encode_golden() -> list[tuple[str, int, str]]:
    merges = _bpe_golden()
    rows = []
    for w, _f in BPE_PROBES:
        syms = list(w)
        for _, a, b, _c in merges:
            acc: list[str] = []
            for s in syms:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = a + b
                else:
                    acc.append(s)
            syms = acc
        rows.append((w, len(syms), "|".join(syms)))
    return sorted(rows)


def _bpe_encode_oracle() -> str:
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    values = ",\n            ".join(
        f"({q(w)}, CAST({n} AS INT), {q(t)})" for w, n, t in _bpe_encode_golden()
    )
    return f"""
        SELECT * FROM (VALUES
            {values}
        ) AS t(word, n_tokens, tokens)
        ORDER BY word
    """


ORACLES: dict[str, str] = {
    "bpe_pair_counts": _pair_counts_oracle(),
    "bpe_probe_audit": _bpe_probe_oracle(),
    "bpe_encode_probe_audit": _bpe_encode_oracle(),
}

QUERIES = {
    "bpe_pair_counts": bpe_pair_counts,
    "bpe_merge_table": bpe_merge_table,  # rows-only (R-round fold)
    "bpe_probe_audit": bpe_probe_audit,
    "bpe_token_counts": bpe_token_counts,  # rows-only (trained-table dep)
    "bpe_encode_probe_audit": bpe_encode_probe_audit,
}
