"""Exact-substring deduplication (Lee et al. 2022, "Deduplicating Training
Data Makes Language Models Better") — remove every repeated token span from
the corpus, keeping only its first occurrence.

No reference parity row (the reference dedups whole documents by content
hash, backend/services/vector_service.py:105) — this is the north-star
training-data extension family: whole-document and near-dup passes miss the
boilerplate/quote/license spans that repeat INSIDE otherwise-unique
documents, and Lee et al. show those intra-document repeats measurably hurt
the trained model. Their tool builds a monolithic suffix array; at 100 TB a
single suffix array is not buildable, so the standard distributed
re-expression is DENSE K-token window fingerprints (every position, not the
sampled winnowing of `winnow_fingerprints`): a span of length >= K repeats
somewhere iff every one of its K-windows repeats, so dropping all non-first
duplicate K-windows and merging the surviving drop intervals per document
removes exactly the repeated spans at K-token resolution.

Semantics (shared verbatim by the SQL oracle):

1. Tokenize ``trim(lower(text))`` on whitespace (repo convention).
2. Every K-token sliding window (stride 1) at positions ``0..n-K``.
3. A window occurrence is DROPPED iff an occurrence of the same window
   text exists at a strictly smaller ``(doc_id, pos)`` — global
   first-wins, same-document repeats included. (First-wins is at WINDOW
   granularity: when a repeat overlaps itself — e.g. a run of one token
   longer than K — the dropped window's interval can excise tokens of the
   kept first window, so a self-overlapping span may lose all its copies.
   Lee et al.'s suffix-array tool shares this edge case.)
4. Per document, dropped windows cover token interval
   ``[pos, pos+K-1]``; overlapping/adjacent-by-overlap intervals merge
   (gaps-and-islands), and the merged spans are the removed text.

Scale design: one explode to ``(window, doc, pos)`` — rows = corpus
tokens; first-occurrence via a map-side-combined ``min(struct(doc_id,
pos))`` per window content plus a join back (NOT a row_number window — a
template-spam window repeated millions of times would serialize into one
unsplittable window partition, while the aggregate combines before the
shuffle and AQE's skew-join splitting handles the join side); the interval
merge is two window functions over ``doc_id`` partitions, bounded by the
DROPPED windows only. Nothing quadratic, no driver round-trips. The
first-wins shuffle keys by the 128-bit md5 of the window BY DEFAULT
(VERDICT r9 task #4 — same plan shape, 16-byte shuffle rows instead of
K-token strings; collision odds ~1e-18 even at 10^13 windows), matching
the streaming twin's hashed state (substring_stream.py). The text-keyed
form survives behind ``hash_keyed=False`` as the oracle-exact twin; the
two are pinned row-identical at sf0.01 in tests/test_substring.py, which
is the evidence that lets the DuckDB oracle stay text-keyed while the
engine ships the hash-keyed plan.

``substring_dedup`` returns the per-document accounting (driver-hashable
scalars, oracle-exact); ``substring_dedup_spans`` returns the merged spans
themselves (span text reassembled from the token array) for the removal
pass that would rewrite the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize

# Lee et al. remove spans of >= 50 BPE tokens; the synthetic corpus tops
# out at 99 whitespace tokens per document, so the fixture resolution is 8.
SUBSTR_K = 8


def sized_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, t, n): the tokenized view every stage shares."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return docs.select("doc_id", toks.alias("t")).select(
        "doc_id", "t", F.size("t").alias("n")
    )


def windows_expr(k: int = SUBSTR_K):
    """In-row sliding K-token windows over the token array ``t``:
    array<struct<pos, win>> — the ONE place the window transform lives
    (the streaming gate hashes the same expression's ``win``)."""
    return F.expr(
        "transform(sequence(0, size(t) - {k}), "
        "i -> struct(i AS pos, concat_ws(' ', slice(t, i + 1, {k})) AS win))".format(
            k=k
        )
    )


def occ_for(
    sized: DataFrame, k: int = SUBSTR_K, hash_keyed: bool = True
) -> DataFrame:
    """(doc_id, pos, wk) window occurrences, materialized — occ always
    feeds BOTH the first-occurrence aggregate and the join probe side, so
    the explode runs once.

    ``wk`` is the shuffle/join key: by default the 128-bit md5 of the
    window text (``unhex`` → 16-byte binary — the production shape the
    module docstring prescribes: at 100 TB the first-wins shuffle moves
    16-byte rows instead of K-token strings, ~300 bytes at Lee et al.'s
    K=50; collision odds ~1e-18 at 10^13 windows). ``hash_keyed=False``
    keys by the window TEXT itself — the oracle-exact form the DuckDB
    twin mirrors; `tests/test_substring.py` pins the two paths
    row-identical, which is what lets every registry query default to the
    hash key while the oracle stays text-keyed."""
    key = (
        F.unhex(F.md5(F.col("w.win"))) if hash_keyed else F.col("w.win")
    )
    return materialize(
        sized.filter(F.col("n") >= k)
        .select("doc_id", F.explode(windows_expr(k)).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), key.alias("wk"))
    )


def dropped_intervals_for(
    sized: DataFrame, batch_expr=None, k: int = SUBSTR_K,
    hash_keyed: bool = True,
) -> DataFrame:
    """Dropped-window intervals (doc_id, pos, e, owner_doc) for an
    already-tokenized corpus — owner_doc is the document holding the
    window's FIRST occurrence (the provenance matrix consumes it; the
    accounting/rewrite paths ignore it). ``batch_expr`` (a Column over
    doc_id) prepends an ARRIVAL batch index to the first-wins order — the
    streaming twin's semantics, where "earlier" means an earlier
    micro-batch first, (doc_id, pos) within one; None is the batch
    operator's plain (doc_id, pos) order.

    First-wins is a map-side-combined min(struct) + join, NOT a
    row_number window: a template-spam window repeated millions of times
    would land every occurrence in ONE unsplittable window partition,
    while the aggregate combines partials before the shuffle and AQE can
    split the skewed join partition (struct comparison is lexicographic,
    so min(struct(doc_id, pos)) IS "ORDER BY doc_id, pos LIMIT 1").
    ``hash_keyed`` selects the shuffle key (see `occ_for`): 128-bit hash
    by default, window text for the oracle-exact twin."""
    occ = occ_for(sized, k, hash_keyed=hash_keyed)
    order_fields = (
        [batch_expr(F.col("doc_id")).alias("b")] if batch_expr else []
    ) + [F.col("doc_id"), F.col("pos")]
    firsts = occ.groupBy("wk").agg(F.min(F.struct(*order_fields)).alias("first"))
    return (
        occ.join(firsts, "wk")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select(
            "doc_id",
            "pos",
            (F.col("pos") + k - 1).alias("e"),
            F.col("first.doc_id").alias("owner_doc"),
        )
    )


def _dropped_intervals(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(per-doc token counts, dropped-window intervals): the shared front
    half of the registry queries. One explode + one content-keyed shuffle."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sized = sized_docs(docs)
    return sized, dropped_intervals_for(sized)


def _merged_spans(
    dropped: DataFrame, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Gaps-and-islands merge of dropped intervals per document:
    (*keys, s, e, n_windows) with overlapping intervals folded. ``keys``
    extends the partition for the single-pass K sweep ((k, doc_id) —
    each candidate K's intervals merge independently inside one job)."""
    wd = Window.partitionBy(*keys).orderBy("pos")
    prev_max_end = F.max("e").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
    ).otherwise(0)
    islands = dropped.withColumn("isl", F.sum(new_island).over(wd))
    return islands.groupBy(*keys, "isl").agg(
        F.min("pos").alias("s"),
        F.max("e").alias("e"),
        F.count("*").cast("long").alias("n_windows"),
    )


def accounting_for(sized: DataFrame, dropped: DataFrame) -> DataFrame:
    """Per-document accounting frame from (sized, dropped intervals) —
    shared by the batch query and the streaming parity twin."""
    spans = _merged_spans(dropped)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("n_windows").cast("long").alias("dup_windows"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("tokens_removed"),
    )
    return (
        sized.select("doc_id", F.col("n").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("tokens_removed", F.lit(0)).cast("long").alias("tokens_removed"),
            (F.col("n_tokens") - F.coalesce("tokens_removed", F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
        )
        .orderBy("doc_id")
    )


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring dedup accounting: token count, merged
    duplicate spans, dropped-window occurrences, tokens removed/kept."""
    return accounting_for(*_dropped_intervals(spark, sf_dir))


def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged duplicate spans themselves: (doc_id, span_start,
    span_end, n_windows, span_text) — the rewrite list a removal pass
    would apply. Span text is re-sliced from the token array (join back on
    doc_id, slice(s+1, len))."""
    sized, dropped = _dropped_intervals(spark, sf_dir)
    spans = _merged_spans(dropped)
    return (
        spans.join(sized.select("doc_id", "t"), "doc_id")
        .select(
            "doc_id",
            F.col("s").cast("long").alias("span_start"),
            F.col("e").cast("long").alias("span_end"),
            "n_windows",
            F.concat_ws(
                " ",
                F.slice(F.col("t"), F.col("s") + 1, F.col("e") - F.col("s") + 1),
            ).alias("span_text"),
        )
        .orderBy("doc_id", "span_start")
    )


def substring_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level provenance: for every dropped window occurrence, pair the
    source of the document that LOSES the window with the source of the
    document holding its FIRST occurrence — which corpora copy from which
    (license boilerplate propagation, mirror sites) at span rather than
    whole-document granularity (`crosssource_dup_matrix` is the LSH
    document-level view). Same one-explode + min-struct plan as the dedup;
    the two source lookups are broadcast-sized joins of (doc_id, source).
    Self-pairs (from_source = to_source) are the in-corpus duplication
    mass; diagonal-heavy matrices mean template spam, off-diagonal means
    cross-corpus copying."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    dropped = dropped_intervals_for(sized_docs(docs)).select(
        F.col("doc_id").alias("loser_doc"), "owner_doc"
    )
    src = docs.select("doc_id", "source")
    return (
        dropped.join(
            F.broadcast(src.select(F.col("doc_id").alias("loser_doc"),
                                   F.col("source").alias("loser_source"))),
            "loser_doc",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("owner_doc"),
                                   F.col("source").alias("owner_source"))),
            "owner_doc",
        )
        .groupBy("owner_source", "loser_source")
        .agg(
            F.count("*").cast("long").alias("dup_windows"),
            F.countDistinct("loser_doc").cast("long").alias("losing_docs"),
        )
        .orderBy("owner_source", "loser_source")
    )


# K values the sizing plan sweeps — bracket the configured SUBSTR_K the
# way lsh_parameter_plan brackets its (bands, rows).
SUBSTR_K_CANDIDATES = (6, 8, 10, 12)


def substring_k_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analysis run before choosing K (Lee et al. use 50 BPE tokens;
    the right K for a corpus balances false merges — short K flags common
    phrases — against missed near-boundary repeats): for each candidate K,
    the dropped-window count, merged-span count, tokens removed, and the
    share of corpus tokens removed (micro-share, integer-exact).

    SINGLE corpus pass for the whole sweep (VERDICT r9 task #5 — the old
    shape ran one explode + shuffle per candidate): every candidate K's
    windows are generated IN-ROW as one flattened array (rows =
    Σ_k (n−K+1) ≈ |candidates|·corpus tokens — the same explode volume
    the per-K loop paid in total, but ONE job), hashed to the 128-bit key
    in-row, and pushed through ONE first-wins aggregate keyed (k, hash),
    one join, one (k, doc_id)-partitioned interval merge, and one per-K
    rollup. The plan carries a single Generate (explode) and one shuffle
    per stage instead of |candidates| of each; at 100 TB the sweep costs
    one corpus read. Results stay distributed until the driver collects
    |candidates| rows."""
    sized = materialize(
        sized_docs(load_table(spark, sf_dir, "documents", parallelize=True))
    )
    ks_sql = ",".join(str(k) for k in SUBSTR_K_CANDIDATES)
    wins = F.expr(
        "flatten(transform(array({ks}), k -> "
        "CASE WHEN size(t) >= k THEN "
        "transform(sequence(0, size(t) - k), i -> struct(k AS k, i AS pos, "
        "unhex(md5(concat_ws(' ', slice(t, i + 1, k)))) AS wk)) "
        "ELSE CAST(array() AS array<struct<k:int,pos:int,wk:binary>>) "
        "END))".format(ks=ks_sql)
    )
    occ = materialize(
        sized.select("doc_id", F.explode(wins).alias("w"))
        .select("doc_id", "w.k", "w.pos", "w.wk")
    )
    firsts = occ.groupBy("k", "wk").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    dropped = (
        occ.join(firsts, ["k", "wk"])
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select(
            "k", "doc_id", "pos",
            (F.col("pos") + F.col("k") - 1).alias("e"),
        )
    )
    per_k = _merged_spans(dropped, keys=("k", "doc_id")).groupBy("k").agg(
        F.sum("n_windows").cast("long").alias("dup_windows"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("tokens_removed"),
    )
    total = sized.agg(F.sum("n").cast("long").alias("corpus_tokens"))
    cand = spark.createDataFrame(
        [(k,) for k in SUBSTR_K_CANDIDATES], "k int"
    )
    return (
        cand.join(per_k, "k", "left")  # a K with zero repeats still rows
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("tokens_removed", F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
            "corpus_tokens",
        )
        .withColumn(
            # integral DIV: exact floor share in micro-units, no floats.
            # The product goes through DECIMAL(38,0): an int64
            # tokens_removed × 1e6 wraps past ~9.2e12 removed tokens —
            # inside the 100 TB envelope this sweep targets (round-10
            # review); decimal keeps it exact and DIV returns the BIGINT
            # micro-share (≤ 1e6)
            "removed_micro_share",
            F.expr(
                "CAST(CAST(tokens_removed AS DECIMAL(38,0)) * 1000000 "
                "DIV corpus_tokens AS BIGINT)"
            ),
        )
        .orderBy("k")
    )


def rewrite_for(sized: DataFrame, dropped: DataFrame) -> DataFrame:
    """The removal pass from (sized, dropped intervals): per document the
    text with every duplicate span excised. Token positions covered by a
    merged span are dropped in-row (indexed ``transform`` + ``exists``
    over the doc's span array — no per-token explode), the rest
    reassemble in order. Shared by the batch query and the streaming
    gate's per-batch text output (`streaming/substring_stream.py`)."""
    spans = (
        _merged_spans(dropped)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("s").cast("int").alias("s"), F.col("e").cast("int").alias("e"))
            ).alias("spans")
        )
    )
    joined = sized.join(spans, "doc_id", "left").withColumn(
        "spans",
        F.coalesce(F.col("spans"), F.expr("CAST(array() AS array<struct<s:int,e:int>>)")),
    )
    kept = F.expr(
        "filter(transform(t, (tok, p) -> struct(p AS p, tok AS tok)), "
        "x -> NOT exists(spans, sp -> x.p >= sp.s AND x.p <= sp.e))"
    )
    return (
        joined.withColumn("kept", kept)
        .select(
            "doc_id",
            F.size("kept").cast("long").alias("tokens_kept"),
            F.concat_ws(" ", F.expr("transform(kept, x -> x.tok)")).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


def substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal pass itself: per document the text with every duplicate
    span excised (first occurrences survive corpus-wide). See
    `rewrite_for` for the in-row excision shape."""
    return rewrite_for(*_dropped_intervals(spark, sf_dir))


def substring_rewrite_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. deployment's actual OUTPUT (VERDICT r9 task #6):
    `substring_rewrite` computes the kept text; this lands it as a
    MAINTAINED table and audits the landed bytes, one row:

    1. write the deduplicated corpus through `sources.sinks.ParquetTable`
       (write-new-then-swap via ``hadoop_fs.swap_dirs`` — the same
       object-store-safe rewrite the reference's upsert sink uses, so a
       crashed apply never leaves a half-written corpus at the path);
    2. RE-APPLY via ``ParquetTable.merge`` on doc_id — the maintained
       table's upsert path: a pipeline re-run must converge (all rows
       matched-and-replaced, zero inserted), which the audit row carries
       as measured counts the oracle recomputes as expectations;
    3. audit what actually LANDED (read back from the swapped path, not
       the frame that was written): row count, total kept tokens, and an
       order-insensitive corpus fingerprint —
       ``bit_xor(md5_int(doc_id:kept_text))`` per doc (xor, not sum:
       never overflows int64 at any corpus size; rows are distinct per
       doc so nothing cancels). The DuckDB oracle recomputes all five
       scalars from the shared spans CTE.

    Scale: one rewrite pass + one merge + one audit scan over the OUTPUT
    corpus; the dedup math itself is the audited `substring_rewrite`
    plan. The table dir is per-run scratch here; a deployment points it
    at the curated-corpus location."""
    import shutil
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.sources.sinks import (
        ParquetTable,
    )

    out = materialize(substring_rewrite(spark, sf_dir))
    tmp = tempfile.mkdtemp(prefix="substring_apply_")
    try:
        table = ParquetTable(spark, f"{tmp}/dedup_corpus")
        table.init(out)
        stats = table.merge(out, key="doc_id")  # re-apply converges
        landed = table.read()
        # the fingerprint input column rides in via a pre-projection
        fp = landed.select(
            "tokens_kept", kept_fingerprint_col().alias("h")
        )
        row = fp.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tokens_kept").cast("long").alias("total_tokens_kept"),
            F.expr("bit_xor(h)").cast("long").alias("corpus_fingerprint"),
        ).select(
            "n_docs",
            "total_tokens_kept",
            "corpus_fingerprint",
            F.lit(stats["updated"]).cast("long").alias("reapply_updated"),
            F.lit(stats["inserted"]).cast("long").alias("reapply_inserted"),
        )
        return spark.createDataFrame(row.collect(), row.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _spans_cte(order_sql: str = "doc_id, pos", k: int = SUBSTR_K) -> str:
    """Shared oracle prefix: sized → occ → dropped → marked → spans — the
    same first-wins + interval-merge semantics as the Spark build.
    ``order_sql`` sets the first-wins order (the streaming parity oracle
    prepends the arrival-batch index); ``k`` the window width (the K-plan
    oracle sweeps it)."""
    table = "documents"
    return f"""
        WITH sized AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t,
                   length(string_split_regex(trim(lower(text)), '\\s+')) AS n
            FROM {table}),
        occ AS (
            SELECT doc_id, i AS pos,
                   array_to_string(t[i + 1 : i + {k}], ' ') AS win
            FROM sized, LATERAL (SELECT unnest(range(0, n - {k} + 1)) AS i)
            WHERE n >= {k}),
        dropped AS (
            SELECT doc_id, pos, pos + {k} - 1 AS e
            FROM (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY win
                                            ORDER BY {order_sql}) AS rn
                  FROM occ)
            WHERE rn > 1),
        marked AS (
            SELECT doc_id, pos, e,
                   CASE WHEN pos > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            -1)
                        THEN 1 ELSE 0 END AS new_island
            FROM dropped),
        spans AS (
            SELECT doc_id, isl, min(pos) AS s, max(e) AS e,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM (SELECT doc_id, pos, e,
                         sum(new_island) OVER (PARTITION BY doc_id
                                               ORDER BY pos
                                               ROWS UNBOUNDED PRECEDING) AS isl
                  FROM marked)
            GROUP BY 1, 2)"""


def _kept_cte() -> str:
    """The toks→kept oracle block — per-doc surviving tokens and
    reassembled kept text given a preceding spans CTE (expects ``sized``
    and ``spans`` in scope). ONE definition shared by the rewrite, the
    apply audit, and the streaming rewrite parity, so kept-text semantics
    cannot drift between oracles (round-10 review)."""
    return """
        toks AS (
            SELECT doc_id, p, t[p + 1] AS tok
            FROM sized, LATERAL (SELECT unnest(range(0, n)) AS p)),
        kept AS (
            SELECT b.doc_id,
                   CAST(count(*) AS BIGINT) AS tokens_kept,
                   string_agg(b.tok, ' ' ORDER BY b.p) AS kept_text
            FROM toks b
            WHERE NOT EXISTS (SELECT 1 FROM spans s
                              WHERE s.doc_id = b.doc_id
                                AND b.p BETWEEN s.s AND s.e)
            GROUP BY 1)"""


def kept_fingerprint_col():
    """Spark side of the corpus fingerprint: 60-bit md5 int of
    ``doc_id:kept_text`` per row — aggregate with ``bit_xor`` for an
    order-insensitive, overflow-free corpus hash. Twin of
    `kept_fingerprint_sql`."""
    from ai_powered_data_pipeline_assistant_spark.functions.hashing import (
        md5_int,
    )

    return md5_int(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("kept_text"))
    )


def kept_fingerprint_sql() -> str:
    """DuckDB twin of `kept_fingerprint_col`, phrased over the
    ``sized z LEFT JOIN kept k`` join (zero-word/zero-kept docs hash the
    empty string, exactly like Spark's concat_ws over an empty column)."""
    from ai_powered_data_pipeline_assistant_spark.functions.hashing import (
        md5_int_sql,
    )

    return md5_int_sql(
        "CAST(z.doc_id AS VARCHAR) || ':' || coalesce(k.kept_text, '')"
    )


def _substring_rewrite_oracle() -> str:
    return f"""{_spans_cte()},{_kept_cte()}
        SELECT z.doc_id,
               coalesce(k.tokens_kept, 0) AS tokens_kept,
               coalesce(k.kept_text, '') AS kept_text
        FROM sized z LEFT JOIN kept k USING (doc_id)
        ORDER BY doc_id
    """


def _substring_dedup_oracle() -> str:
    return f"""{_spans_cte()},
        per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(sum(n_windows) AS BIGINT) AS dup_windows,
                   CAST(sum(e - s + 1) AS BIGINT) AS tokens_removed
            FROM spans GROUP BY 1)
        SELECT b.doc_id,
               CAST(b.n AS BIGINT) AS n_tokens,
               coalesce(p.n_dup_spans, 0) AS n_dup_spans,
               coalesce(p.dup_windows, 0) AS dup_windows,
               coalesce(p.tokens_removed, 0) AS tokens_removed,
               CAST(b.n - coalesce(p.tokens_removed, 0) AS BIGINT)
                   AS tokens_kept
        FROM sized b LEFT JOIN per_doc p USING (doc_id)
        ORDER BY doc_id
    """


def _substring_spans_oracle() -> str:
    return f"""{_spans_cte()}
        SELECT s.doc_id,
               CAST(s.s AS BIGINT) AS span_start,
               CAST(s.e AS BIGINT) AS span_end,
               s.n_windows,
               array_to_string(b.t[s.s + 1 : s.e + 1], ' ') AS span_text
        FROM spans s JOIN sized b USING (doc_id)
        ORDER BY doc_id, span_start
    """


def _rewrite_apply_oracle() -> str:
    return f"""{_spans_cte()},{_kept_cte()}
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(coalesce(k.tokens_kept, 0)) AS BIGINT)
                   AS total_tokens_kept,
               CAST(bit_xor({kept_fingerprint_sql()}) AS BIGINT)
                   AS corpus_fingerprint,
               CAST(count(*) AS BIGINT) AS reapply_updated,
               CAST(0 AS BIGINT) AS reapply_inserted
        FROM sized z LEFT JOIN kept k USING (doc_id)
    """


def _source_matrix_oracle() -> str:
    k = SUBSTR_K
    return f"""
        WITH sized AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t,
                   length(string_split_regex(trim(lower(text)), '\\s+')) AS n
            FROM documents),
        occ AS (
            SELECT doc_id, i AS pos,
                   array_to_string(t[i + 1 : i + {k}], ' ') AS win
            FROM sized, LATERAL (SELECT unnest(range(0, n - {k} + 1)) AS i)
            WHERE n >= {k}),
        dropped AS (
            SELECT doc_id AS loser_doc, owner_doc
            FROM (SELECT doc_id,
                         first_value(doc_id) OVER w AS owner_doc,
                         row_number() OVER w AS rn
                  FROM occ
                  WINDOW w AS (PARTITION BY win ORDER BY doc_id, pos))
            WHERE rn > 1)
        SELECT o.source AS owner_source,
               l.source AS loser_source,
               CAST(count(*) AS BIGINT) AS dup_windows,
               CAST(count(DISTINCT loser_doc) AS BIGINT) AS losing_docs
        FROM dropped
        JOIN documents l ON l.doc_id = loser_doc
        JOIN documents o ON o.doc_id = owner_doc
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def _k_plan_oracle() -> str:
    parts = []
    for k in SUBSTR_K_CANDIDATES:
        cte = _spans_cte(k=k)
        parts.append(
            f"""
        SELECT k, dup_windows, n_spans, tokens_removed, corpus_tokens,
               CAST(tokens_removed * 1000000 // corpus_tokens AS BIGINT)
                   AS removed_micro_share
        FROM ({cte}
            SELECT CAST({k} AS INT) AS k,
                   (SELECT CAST(coalesce(sum(n_windows), 0) AS BIGINT)
                    FROM spans) AS dup_windows,
                   (SELECT CAST(count(*) AS BIGINT) FROM spans) AS n_spans,
                   (SELECT CAST(coalesce(sum(e - s + 1), 0) AS BIGINT)
                    FROM spans) AS tokens_removed,
                   (SELECT CAST(sum(n) AS BIGINT) FROM sized)
                       AS corpus_tokens)
            """
        )
    return " UNION ALL ".join(parts) + " ORDER BY k"


ORACLES: dict[str, str] = {
    "substring_dedup": _substring_dedup_oracle(),
    "substring_dedup_spans": _substring_spans_oracle(),
    "substring_rewrite": _substring_rewrite_oracle(),
    "substring_rewrite_apply": _rewrite_apply_oracle(),
    "substring_source_matrix": _source_matrix_oracle(),
    "substring_k_plan": _k_plan_oracle(),
}

QUERIES = {
    "substring_dedup": substring_dedup,
    "substring_dedup_spans": substring_dedup_spans,
    "substring_rewrite": substring_rewrite,
    "substring_rewrite_apply": substring_rewrite_apply,
    "substring_source_matrix": substring_source_matrix,
    "substring_k_plan": substring_k_plan,
}
