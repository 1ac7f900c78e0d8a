"""Deduplication operators — exact, first-wins, MERGE-upsert, MinHash+LSH,
SimHash, n-gram Jaccard.

Parity targets (SURVEY §2.7):
- D2 first-wins URL dedup: reference backend/services/search_service.py:175-181
- D3 content-hash dedup (sha256 conflict key): reference
  backend/services/vector_service.py:105, Supabase/knowledge_base-RAG.sql:5
- D4 id dedup: reference app/state_manager.py:36-56
- D6/S11/S12 upsert-by-key MERGE: reference backend/services/vector_service.py:117-133
Plus the 100 TB training-data dedup family (BASELINE.json north star):
MinHash+LSH banding, SimHash hamming blocking, n-gram Jaccard — standard
shingle→sketch→band→bucket-join constructions (Broder 1997 / Charikar 2002,
as used by every large web-dedup pipeline).

Scale notes: every op here is shuffle-bounded by design —
- exact/first-wins dedup: one hash shuffle on the dedup key.
- n-gram Jaccard: explode to (shingle, doc) postings, self-join on shingle
  (the classic inverted-index pair generation — work ∝ Σ posting², bounded
  by dropping ultra-common shingles at scale), then integer pair counting.
- MinHash: same postings frame aggregated once per doc into a 16-perm
  signature (map-side partial min), LSH bands turn all-pairs into
  equality-join buckets.
- SimHash: one groupBy producing 32 bit-vote aggregates per doc.
All arithmetic is integer (md5-prefix hashes, exact rational Jaccard
rounded at 6 decimals) so results are bit-identical across engines.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize
from ai_powered_data_pipeline_assistant_spark.functions.hashing import (
    HASH_MOD,
    MD5_PREFIX_LEN,
    md5_int,
    md5_int_sql,
)

# ---------------------------------------------------------------- constants
N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS
# Deterministic universal-hash params: a in [1..16] keeps a*h within int64.
PERM_A = [j + 1 for j in range(N_PERMS)]
PERM_B = [(j * j * 2654435761 + 97531) % HASH_MOD for j in range(N_PERMS)]
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
# Document-frequency cap for the Jaccard postings self-join: shingles present
# in more than this many docs are dropped BEFORE the self-join on both the
# intersection and size sides. On a web corpus stop-word shingles ("of the
# and", boilerplate) have posting lists of millions — the self-join cost is
# Σ posting², so one hot shingle alone would dominate the whole job. The cap
# bounds per-shingle join work at max_df² while near-dup pairs (which share
# many RARE shingles) are unaffected. Chosen far above the test-corpus max
# (7 at sf0.01, 25 at sf0.1) so small-SF results are bit-identical.
MAX_SHINGLE_DF = 1000


# ---------------------------------------------------------------- helpers
def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc, shingle-hash) postings.

    The k-word shingle is hashed to its 60-bit md5-prefix int BEFORE the
    distinct: the dedup shuffle then moves 8-byte ints instead of ~30-byte
    strings, and every downstream consumer (Jaccard intersection join,
    MinHash permutations) works on the int. The oracle applies the identical
    hash, so the (astronomically unlikely, ~1e-7 for 1M shingles in 60 bits)
    collision behavior is the same on both engines.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # Hash + dedupe INSIDE the array (per doc) before exploding: doc_id is
    # unique per input row, so (doc_id, h) is globally distinct by
    # construction and the old explode→distinct shuffle (an exchange over
    # every posting) disappears — the postings build is map-only.
    #
    # ONE fused lambda instead of transform(transform(...)) (round 13,
    # guide §1.2 "per-task work"): higher-order lambdas are interpreted
    # (CodegenFallback), so the old two-pass shape paid a full interpreted
    # array pass to build shingle strings and a second to hash them — plus
    # a slice() array allocation per shingle. Building the shingle with
    # element_at concat inside the hash lambda drops both (A/B: 0.398 →
    # 0.278 s noop on the sf0.1 postings build, identical fingerprint).
    # sequence(0, size-k) guarantees i+1..i+k are in bounds, so element_at
    # never sees an out-of-range index.
    parts = " , ' ', ".join(
        f"element_at(toks, i + {j + 1})" for j in range(SHINGLE_K)
    )
    hashes = F.expr(
        "array_distinct(transform(sequence(0, size(toks) - {k}), i -> "
        "CAST(conv(substring(md5(concat({parts})), 1, {plen}), 16, 10) AS BIGINT)))".format(
            k=SHINGLE_K, parts=parts, plen=MD5_PREFIX_LEN
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        # docs shorter than k tokens yield no shingles (and would otherwise
        # crash: sequence() descends and slice() rejects index 0); the oracle's
        # range() is ascending-only so it naturally emits nothing for them
        .filter(F.size("toks") >= SHINGLE_K)
        .select("doc_id", F.explode(hashes).alias("h"))
    )


def _shingle_sql(source: str = "documents") -> str:
    """Shingle-postings SQL over any relation exposing (doc_id, text)."""
    return r"""
    SELECT DISTINCT doc_id, {h} AS h
    FROM (SELECT doc_id,
                 array_to_string(toks[i:i+{k_minus_1}], ' ') AS shingle
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM {source}),
               LATERAL (SELECT unnest(range(1, len(toks) - {k_minus_2})) AS i))
""".format(
        h=md5_int_sql("shingle"),
        k_minus_1=SHINGLE_K - 1,
        k_minus_2=SHINGLE_K - 2,
        source=source,
    )


_SHINGLE_SQL = _shingle_sql()


def _pair_jaccard(
    postings: DataFrame,
    min_jaccard: float,
    max_shingle_df: int = MAX_SHINGLE_DF,
    pin: bool = True,
) -> DataFrame:
    """All-pairs Jaccard from a (doc_id, h) postings frame.

    The postings frame feeds four consumers (both self-join sides and the
    size lookup twice) → persist once instead of recomputing the shingle
    explode per consumer. The self-join is hinted shuffle_hash: Catalyst
    would otherwise broadcast the (narrow but tall) postings relation and
    build a single-threaded multi-million-entry hash map; partitioning both
    sides on ``h`` builds 32 maps in parallel and is the only strategy that
    survives when postings stop fitting in one executor's memory.

    Ultra-common shingles (doc freq > ``max_shingle_df``) are dropped before
    the self-join — see MAX_SHINGLE_DF. The drop applies to BOTH the
    intersection join and the set sizes, so the jaccard value is consistently
    "jaccard over the rare-shingle sets" on both engines.
    """
    # DF cap folded into ONE pass: a window count over the h-partitioned
    # postings replaces the round-2 groupBy+semi-join (which cost two
    # exchanges and — unpersisted — re-ran per consumer, 4× in the final
    # plan). Hot-key rows cross the wire exactly once either way (the
    # semi-join shuffled the probe side on h too); the window buffers each
    # posting list spill-ably and drops capped keys in the same stage. The
    # CAPPED frame is what feeds all three consumers (both self-join sides
    # + sizes), so it is the one persisted.
    df_w = F.count("*").over(Window.partitionBy("h"))
    postings = (
        postings.withColumn("_df", df_w)
        .filter(F.col("_df") <= max_shingle_df)
        .drop("_df")
    )
    if pin:
        # ``pin=False`` exists ONLY so plan tests can assert the df-cap
        # window sits before the self-join — the checkpoint barrier hides
        # upstream operators from the downstream plan string. Production
        # callers always pin (computed once, ContextCleaner-released).
        postings = postings.transform(materialize)
    sizes = postings.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = postings.select(F.col("doc_id").alias("a_id"), "h")
    b = postings.select(F.col("doc_id").alias("b_id"), "h")
    inter = (
        a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"), "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("inter") / (F.col("a_sz") + F.col("b_sz") - F.col("inter")).cast("double"), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


_PAIR_JACCARD_SQL = """
    sizes AS (SELECT doc_id, count(*) AS sz FROM postings GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM postings a JOIN postings b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT a_id, b_id,
               round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id)
"""


# ---------------------------------------------------------------- operators
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D4: exact dedup by content hash — keep lowest id per hash group."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_hash", F.sha2("text", 256))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("dup_cnt"))
    )


def firstwins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: first-wins dedup by key with explicit arrival order (earliest ts,
    tie-broken by id — Spark dropDuplicates is arbitrary; this is not)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12/D6: MERGE-by-content-hash semantics in batch form.

    target  = docs with doc_id % 5 == 0 (the existing knowledge_base),
    source  = docs with doc_id % 3 == 0 (the incoming batch).
    Matched rows are updated (access_count incremented — reference
    Supabase/knowledge_base_Maintenance.sql:15-22); unmatched source rows are
    inserted; unmatched target rows are kept. On Delta this is a single
    `MERGE INTO` statement; the full-outer-join formulation here is
    storage-agnostic and shows the shuffle shape (one hash shuffle on the key).
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.sha2("text", 256)
    )
    target = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("content_hash").alias("t_hash"),
        F.col("doc_id").alias("t_id"),
        F.lit(1).alias("t_access"),
    )
    source = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("content_hash").alias("s_hash"), F.col("doc_id").alias("s_id")
    )
    merged = target.join(source, F.col("t_hash") == F.col("s_hash"), "full_outer")
    return merged.select(
        F.coalesce("t_hash", "s_hash").alias("content_hash"),
        F.coalesce("t_id", "s_id").alias("doc_id"),
        F.when(F.col("t_hash").isNotNull() & F.col("s_hash").isNotNull(), F.lit("update"))
        .when(F.col("t_hash").isNotNull(), F.lit("keep"))
        .otherwise(F.lit("insert"))
        .alias("action"),
        F.when(
            F.col("t_hash").isNotNull() & F.col("s_hash").isNotNull(), F.col("t_access") + 1
        )
        .when(F.col("t_hash").isNotNull(), F.col("t_access"))
        .otherwise(F.lit(0))
        .alias("access_count"),
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, pin: bool = True
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle postings self-join."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return _pair_jaccard(shingles(docs), JACCARD_THRESHOLD, pin=pin)


CONTAINMENT_THRESHOLD = 0.6


def containment_pairs(spark: SparkSession, sf_dir: str,
                      min_containment: float = CONTAINMENT_THRESHOLD) -> DataFrame:
    """Directional shingle containment |A∩B| / |A| — the quote/subset
    detector Jaccard misses: a short doc fully quoted inside a long one has
    high containment but low Jaccard (the union is dominated by the long
    side). Emits (src_id, dst_id, containment) for every ordered pair with
    containment ≥ threshold: "src is ≥60% contained in dst".

    Same bucketed shape as `_pair_jaccard` (one capped postings self-join,
    intersections computed once per unordered pair, both orientations
    derived from that single row) — no extra join work over plain Jaccard.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    postings = shingles(docs)
    df_w = F.count("*").over(Window.partitionBy("h"))
    postings = (
        postings.withColumn("_df", df_w)
        .filter(F.col("_df") <= MAX_SHINGLE_DF)
        .drop("_df")
        .transform(materialize)
    )
    sizes = postings.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = postings.select(F.col("doc_id").alias("a_id"), "h")
    b = postings.select(F.col("doc_id").alias("b_id"), "h")
    inter = (
        a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    both = inter.join(
        sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"), "a_id"
    ).join(
        sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"), "b_id"
    )
    directional = both.select(
        F.col("a_id").alias("src_id"),
        F.col("b_id").alias("dst_id"),
        F.round(F.col("inter") / F.col("a_sz").cast("double"), 6).alias("containment"),
    ).union(
        both.select(
            F.col("b_id").alias("src_id"),
            F.col("a_id").alias("dst_id"),
            F.round(F.col("inter") / F.col("b_sz").cast("double"), 6).alias(
                "containment"
            ),
        )
    )
    return directional.filter(F.col("containment") >= min_containment)


CROSSCORPUS_SPLIT = 7


def crosscorpus_neardup(spark: SparkSession, sf_dir: str,
                        threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Incremental (cross-corpus) near-dup: today's batch (doc_id % 7 == 0)
    checked against the existing corpus (the rest) — the daily-crawl
    production shape, where the corpus side's signatures are precomputed
    once and only the batch is hashed fresh. Same banded LSH join +
    candidate-only exact verify as the self-pair operator; the pairing rule
    is batch-membership instead of a < b, so output rows are
    (batch doc, corpus doc, jaccard)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    m = CROSSCORPUS_SPLIT
    pairs = minhash_lsh_pairs_for(
        docs.select("doc_id", "text"),
        threshold=threshold,
        pair_cond=lambda a, b: (a % m == 0) & (b % m != 0),
    )
    return pairs.select(
        F.col("a_id").alias("batch_id"),
        F.col("b_id").alias("corpus_id"),
        "jaccard",
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature per doc: 16 universal-hash permutation minima.

    The shingle hash is projected once per posting row before the
    aggregation — evaluating md5 inside each of the 16 min() expressions
    would cost 16 hashes per row (no CSE across aggregate expressions).
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    postings = shingles(docs)
    h = F.col("h") % HASH_MOD
    aggs = [
        F.min((F.lit(PERM_A[j]) * h + F.lit(PERM_B[j])) % HASH_MOD).alias(f"m{j}")
        for j in range(N_PERMS)
    ]
    return postings.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs, verified with exact Jaccard.

    Bands of 4 minima are concatenated into bucket keys; docs sharing any
    band bucket become candidates; candidates are verified against exact
    Jaccard ≥ threshold. At scale only the banding join is quadratic-ish and
    only within buckets — the standard web-scale dedup shape.

    Physical-plan choices (each measured on the bench):
    - the md5 shingle hash is computed ONCE in the persisted postings
      projection — inside the 16 min() aggregates it would be evaluated
      16× per posting row (no CSE across aggregate expressions);
    - set sizes ride along in the SAME aggregation as the signature minima
      (one shuffle instead of two over the 200×-larger postings frame);
    - bands come from one explode over the signature row, not a 4-way
      union that re-reads the aggregation 4 times;
    - exact verification runs ONLY on the candidate set (candidates ⋈
      postings, not all-pairs): for a dedup rate of d, work drops from
      O(Σ posting²) to O(|candidates| · shingles/doc).
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return minhash_lsh_pairs_for(docs)


# The MinHash permutation aggregates and the LSH band explode depend only
# on the constants above, yet building their Columns costs ~1.3k JVM round
# trips — paid by every streaming batch when rebuilt per call. They are
# built once per SparkContext: cached on its applicationId, so a restarted
# session never receives Columns bound to a dead one.
def _app_id() -> str:
    from pyspark import SparkContext

    return SparkContext._active_spark_context.applicationId


@functools.lru_cache(maxsize=1)
def _sig_aggs(_app: str) -> tuple[Column, ...]:
    h = F.col("h") % HASH_MOD
    return tuple(
        F.min((F.lit(PERM_A[j]) * h + F.lit(PERM_B[j])) % HASH_MOD).alias(f"m{j}")
        for j in range(N_PERMS)
    ) + (F.count("*").alias("sz"),)


def minhash_sig_aggs() -> tuple[Column, ...]:
    """The signature aggregation block (16 permutation minima + distinct-
    shingle count) — shared by the batch operators and the incremental
    streaming state builder (streaming/neardup.py) so signature math can
    never drift between them."""
    return _sig_aggs(_app_id())


@functools.lru_cache(maxsize=1)
def _band_columns(_app: str) -> tuple[Column, tuple[Column, ...]]:
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{band * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            ).alias("band_key"),
        )
        for band in range(N_BANDS)
    ]
    return F.explode(F.array(*band_structs)).alias("bk"), (
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def minhash_band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a signature frame — one explode, the
    LSH blocking key both the batch self-join and the streaming
    state-vs-batch join use."""
    bk, fields = _band_columns(_app_id())
    return sigs.select("doc_id", bk).select("doc_id", *fields)


def minhash_verified_pairs(
    candidates: DataFrame,
    postings_a: DataFrame,
    postings_b: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Candidate-only exact Jaccard verification over TWO-SIDED postings
    (the self-pair operators pass the same frames for both sides; the
    streaming incremental path passes batch vs state). candidates =
    (a_id, b_id); postings = (doc_id, h); sizes = (doc_id, sz)."""
    pa = postings_a.select(F.col("doc_id").alias("a_id"), "h")
    pb = postings_b.select(F.col("doc_id").alias("b_id"), "h")
    inter = (
        candidates.join(pa, "a_id")
        .join(pb, ["b_id", "h"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes_a.withColumnRenamed("doc_id", "a_id").withColumnRenamed(
                "sz", "a_sz"
            ),
            "a_id",
        )
        .join(
            sizes_b.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
                "sz", "b_sz"
            ),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("inter")
                / (F.col("a_sz") + F.col("b_sz") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs_for(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD, pair_cond=None
) -> DataFrame:
    """MinHash+LSH verified pairs over ANY (doc_id, text) frame — the
    composable core behind `minhash_lsh_pairs` and the curation pipeline's
    near-dup stage (operators/curation.py).

    ``pair_cond(a_id, b_id) -> Column`` selects which candidate orientations
    survive; the default ``a < b`` yields undirected self-pairs, and
    `crosscorpus_neardup` passes a batch-vs-corpus membership predicate
    instead (same signatures, same band join, different pairing rule)."""
    if pair_cond is None:
        pair_cond = lambda a, b: a < b  # noqa: E731
    postings = shingles(docs).transform(materialize)
    sigs = postings.groupBy("doc_id").agg(*minhash_sig_aggs()).transform(materialize)
    bands = minhash_band_frame(sigs)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "band_key")
    candidates = (
        a.join(b, ["band", "band_key"])
        .filter(pair_cond(F.col("a_id"), F.col("b_id")))
        .select("a_id", "b_id")
        .distinct()
    )
    # Candidate-only exact verification: candidates ⋈ postings, not all-pairs.
    sizes = sigs.select("doc_id", "sz")
    return minhash_verified_pairs(
        candidates, postings, postings, sizes, sizes, threshold
    )


def dedup_method_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop comparison of the engine's dedup detectors over the same
    corpus — the report a data engineer runs to pick a method and threshold:
    per method, how many duplicate PAIRS it flags (exact reports redundant
    doc copies). Each leg is the existing operator unchanged, so cost and
    plan properties match the standalone queries; the four aggregates union
    into a 4-row summary."""
    legs = [
        (
            "exact_copies",
            exact_dedup(spark, sf_dir).agg(
                F.sum(F.col("dup_cnt") - 1).alias("n")
            ),
        ),
        ("minhash_lsh_pairs", minhash_lsh_pairs(spark, sf_dir).agg(F.count("*").alias("n"))),
        ("simhash_pairs", simhash_neardup_pairs(spark, sf_dir).agg(F.count("*").alias("n"))),
        ("jaccard_pairs", ngram_jaccard_pairs(spark, sf_dir).agg(F.count("*").alias("n"))),
    ]
    out = None
    for name, agg in legs:
        row = agg.select(
            F.lit(name).alias("method"), F.coalesce("n", F.lit(0)).cast("long").alias("flagged")
        )
        out = row if out is None else out.unionByName(row)
    return out


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # Dedupe IN-ROW (array_distinct) before exploding — the `shingles`
    # discipline (round 12): doc_id is unique per input row, so
    # (doc_id, tok) is globally distinct by construction and the old
    # explode→distinct() exchange over the whole token stream disappears;
    # the per-doc bit-vote aggregation then collapses map-side (a doc's
    # tokens never straddle a scan partition). Same distinct set per doc,
    # so every downstream vote is identical.
    toks = F.split(F.trim("text"), r"\s+")
    tokens = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("tok")
    ).withColumn("h", md5_int(F.col("tok"), 8))
    bit_aggs = []
    for i in range(SIMHASH_BITS):
        vote = F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        )
        bit_aggs.append(F.when(vote > 0, F.lit(1 << i)).otherwise(F.lit(0)).alias(f"b{i}"))
    per_doc = tokens.groupBy("doc_id").agg(*bit_aggs)
    simhash = None
    for i in range(SIMHASH_BITS):
        simhash = F.col(f"b{i}") if simhash is None else simhash + F.col(f"b{i}")
    return per_doc.select("doc_id", simhash.cast("long").alias("simhash"))


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) per doc from distinct-token bit votes."""
    return _simhash_frame(spark, sf_dir)


SIMHASH_BANDS = 4  # 4 bands × 8 bits; hamming ≤ 3 ⇒ ≥1 identical band


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ max_hamming.

    Banded blocking, not all-pairs: each fingerprint is exploded into 4
    8-bit band keys; candidate pairs come from an equality self-join on
    (band, band_key). By pigeonhole, ≤ max_hamming (3) differing bits over
    4 bands leaves at least one band identical, so blocking loses NOTHING —
    the result is exactly the all-pairs answer (the oracle stays the plain
    all-pairs SQL), while the join cost drops from O(n²) to Σ bucket².
    """
    assert max_hamming < SIMHASH_BANDS, "pigeonhole exactness needs hamming < bands"
    s = _simhash_frame(spark, sf_dir).transform(materialize)
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    bands = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("band_key"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_sh"), "band", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_sh"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can share several bands
    )


def set_ops_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT between two corpus slices (docs seen by source A
    vs source B, keyed by content hash). The reference has no set ops
    (SURVEY §2.7); the engine supports them as first-class — both compile
    to aggregate/anti-join shapes with one shuffle on the compared columns.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "h", F.sha2("text", 256)
    )
    a = docs.filter(F.col("doc_id") % 2 == 0).select("h")
    b = docs.filter(F.col("doc_id") % 3 == 0).select("h")
    rows = [
        a.intersect(b).select(F.lit("a_intersect_b").alias("op"), "h"),
        a.exceptAll(b).select(F.lit("a_except_b").alias("op"), "h"),
        b.exceptAll(a).select(F.lit("b_except_a").alias("op"), "h"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.groupBy("op").agg(F.count("*").alias("cnt"))


DECONTAM_MIN_SHARED = 3
DECONTAM_EVAL_MOD = 50


def decontaminate(spark: SparkSession, sf_dir: str,
                  min_shared: int = DECONTAM_MIN_SHARED,
                  eval_mod: int = DECONTAM_EVAL_MOD) -> DataFrame:
    """Train/eval decontamination: corpus documents sharing ≥ ``min_shared``
    distinct word shingles with any document in the held-out eval slice
    (here: every ``eval_mod``-th doc_id stands in for a benchmark set).

    This is the n-gram-overlap contamination check every LLM training
    pipeline runs before training (the GPT-3/PaLM 13-gram rule, scaled down
    to the 3-word shingles this corpus's short docs support).

    Scale shape: one shingle explode over the full table, split into the
    two sides by a pushed-down filter. The eval side is a benchmark —
    thousands of docs, not billions — so its postings BROADCAST to the
    corpus postings; no shuffle of the big side at all. The corpus-side
    document-frequency cap (MAX_SHINGLE_DF, same rationale as the Jaccard
    self-join) bounds the per-shingle fan-out before the probe, so one
    boilerplate shingle shared with an eval doc can't multiply the output.
    """
    docs = load_table(spark, sf_dir, "documents")
    posts = shingles(docs).transform(materialize)
    eval_p = posts.filter((F.col("doc_id") % eval_mod) == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "h"
    )
    corp_p = posts.filter((F.col("doc_id") % eval_mod) != 0)
    rare = (
        corp_p.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("h")
    )
    return (
        corp_p.join(rare.hint("shuffle_hash"), "h", "left_semi")
        .join(F.broadcast(eval_p), "h")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
        .orderBy("doc_id", "eval_doc_id")
    )


# ---------------------------------------------------------------- oracles
def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min(({PERM_A[j]} * (h % {HASH_MOD}) + {PERM_B[j]}) % {HASH_MOD}) AS m{j}"
        for j in range(N_PERMS)
    )
    return f"""
        WITH postings AS ({_SHINGLE_SQL})
        SELECT doc_id, {mins} FROM postings GROUP BY doc_id
    """


def minhash_lsh_cte(source: str = "documents",
                    candidate_cond: str = "a.doc_id < b.doc_id") -> str:
    """The full MinHash+LSH pipeline as a CTE chain (postings → sigs →
    bands → candidates → sizes/inter/pairs) over any (doc_id, text)
    relation — embeddable in a larger WITH clause (curation oracle reuses
    it over its filtered `kept` CTE). Final verified pairs live in the
    `pairs` CTE restricted to `candidates`."""
    mins = ", ".join(
        f"min(({PERM_A[j]} * (h % {HASH_MOD}) + {PERM_B[j]}) % {HASH_MOD}) AS m{j}"
        for j in range(N_PERMS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS band_key FROM sigs".format(
            b=band,
            cols=", ".join(
                f"CAST(m{band * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
            ),
        )
        for band in range(N_BANDS)
    )
    return f"""
        postings AS ({_shingle_sql(source)}),
        sigs AS (SELECT doc_id, {mins} FROM postings GROUP BY doc_id),
        bands AS ({band_selects}),
        candidates AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key AND {candidate_cond}),
        {_PAIR_JACCARD_SQL}
    """


def _minhash_lsh_sql() -> str:
    return f"""
        WITH {minhash_lsh_cte("documents")}
        SELECT c.a_id, c.b_id, p.jaccard
        FROM candidates c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
        WHERE p.jaccard >= {JACCARD_THRESHOLD}
    """


def _simhash_sql() -> str:
    h = md5_int_sql("tok", 8)
    votes = ", ".join(
        f"CASE WHEN sum(((h >> {i}) & 1) * 2 - 1) > 0 THEN {1 << i} ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
        WITH tokens AS (
            SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents),
        hashed AS (SELECT doc_id, {h} AS h FROM tokens)
        SELECT doc_id, CAST({" + ".join(f"v{i}" for i in range(SIMHASH_BITS))} AS BIGINT) AS simhash
        FROM (SELECT doc_id, {", ".join(f"CASE WHEN sum(((h >> {i}) & 1) * 2 - 1) > 0 THEN {1 << i} ELSE 0 END AS v{i}" for i in range(SIMHASH_BITS))}
              FROM hashed GROUP BY doc_id)
    """


ORACLES: dict[str, str] = {
    "exact_dedup": """
        SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
               count(*) AS dup_cnt
        FROM documents GROUP BY 1
    """,
    "firstwins_dedup": """
        SELECT user_id, event_type, event_id, ts FROM (
            SELECT user_id, event_type, event_id, ts,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events) WHERE rn = 1
    """,
    "upsert_merge": """
        WITH hashed AS (SELECT doc_id, sha256(text) AS content_hash FROM documents),
        target AS (SELECT content_hash AS t_hash, doc_id AS t_id, 1 AS t_access
                   FROM hashed WHERE doc_id % 5 = 0),
        source AS (SELECT content_hash AS s_hash, doc_id AS s_id
                   FROM hashed WHERE doc_id % 3 = 0)
        SELECT coalesce(t_hash, s_hash) AS content_hash,
               coalesce(t_id, s_id) AS doc_id,
               CASE WHEN t_hash IS NOT NULL AND s_hash IS NOT NULL THEN 'update'
                    WHEN t_hash IS NOT NULL THEN 'keep'
                    ELSE 'insert' END AS action,
               CASE WHEN t_hash IS NOT NULL AND s_hash IS NOT NULL THEN t_access + 1
                    WHEN t_hash IS NOT NULL THEN t_access
                    ELSE 0 END AS access_count
        FROM target FULL OUTER JOIN source ON t_hash = s_hash
    """,
    "ngram_jaccard_pairs": f"""
        WITH raw_postings AS ({_SHINGLE_SQL}),
        postings AS (
            SELECT p.* FROM raw_postings p
            WHERE p.h IN (SELECT h FROM raw_postings
                          GROUP BY h HAVING count(*) <= {MAX_SHINGLE_DF})),
        {_PAIR_JACCARD_SQL}
        SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "containment_pairs": f"""
        WITH raw_postings AS ({_SHINGLE_SQL}),
        postings AS (
            SELECT p.* FROM raw_postings p
            WHERE p.h IN (SELECT h FROM raw_postings
                          GROUP BY h HAVING count(*) <= {MAX_SHINGLE_DF})),
        {_PAIR_JACCARD_SQL}
        SELECT * FROM (
            SELECT a_id AS src_id, b_id AS dst_id,
                   round(inter / CAST(sa.sz AS DOUBLE), 6) AS containment
            FROM inter JOIN sizes sa ON sa.doc_id = a_id
            UNION ALL
            SELECT b_id, a_id,
                   round(inter / CAST(sb.sz AS DOUBLE), 6)
            FROM inter JOIN sizes sb ON sb.doc_id = b_id)
        WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    "crosscorpus_neardup": f"""
        WITH {minhash_lsh_cte("documents",
                              f"a.doc_id % {CROSSCORPUS_SPLIT} = 0"
                              f" AND b.doc_id % {CROSSCORPUS_SPLIT} <> 0")}
        SELECT c.a_id AS batch_id, c.b_id AS corpus_id, p.jaccard
        FROM candidates c JOIN pairs p
          ON (c.a_id = p.a_id AND c.b_id = p.b_id)
          OR (c.a_id = p.b_id AND c.b_id = p.a_id)
        WHERE p.jaccard >= {JACCARD_THRESHOLD}
    """,
    "set_ops_summary": """
        WITH a AS (SELECT sha256(text) AS h FROM documents WHERE doc_id % 2 = 0),
             b AS (SELECT sha256(text) AS h FROM documents WHERE doc_id % 3 = 0),
        u AS (
            SELECT 'a_intersect_b' AS op, h FROM (SELECT h FROM a INTERSECT SELECT h FROM b)
            UNION ALL
            SELECT 'a_except_b', h FROM (SELECT h FROM a EXCEPT ALL SELECT h FROM b)
            UNION ALL
            SELECT 'b_except_a', h FROM (SELECT h FROM b EXCEPT ALL SELECT h FROM a))
        SELECT op, count(*) AS cnt FROM u GROUP BY 1
    """,
    "minhash_signatures": _minhash_sig_sql(),
    "minhash_lsh_pairs": _minhash_lsh_sql(),
    "simhash_fingerprints": _simhash_sql(),
    # simhash_neardup_pairs shares the simhash CTE:
    "simhash_neardup_pairs": f"""
        WITH sims AS ({_simhash_sql()})
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
}

def neardup_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile histogram of verified near-dup pair similarities — the
    threshold-sensitivity view (a pile-up just above the threshold means
    the cutoff is doing real work; mass near 1.0 means mostly exact-ish
    clones that exact dedup would also catch). Buckets come from the
    already-rounded jaccard via integer arithmetic, so both engines bucket
    identically; one tiny groupBy over the pair set."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    bk = F.expr("CAST(round(jaccard * 1000000) AS BIGINT) DIV 100000")
    return (
        pairs.select(bk.alias("bk"))
        .groupBy("bk")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.round(F.col("bk") / 10.0, 1).alias("bucket_lo"),
            "n_pairs",
        )
        .orderBy("bucket_lo")
    )


ORACLES["neardup_similarity_histogram"] = f"""
    WITH {minhash_lsh_cte("documents")},
    verified AS (
        SELECT p.jaccard
        FROM candidates c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
        WHERE p.jaccard >= {JACCARD_THRESHOLD}),
    b AS (SELECT CAST(round(jaccard * 1000000) AS BIGINT) // 100000 AS bk
          FROM verified)
    SELECT round(bk / 10.0, 1) AS bucket_lo, count(*) AS n_pairs
    FROM b GROUP BY 1 ORDER BY 1
"""

MINHASH_CAL_TOL = 0.35  # 16 permutations → est std ≈ 0.12 at J=0.5


def minhash_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: over every verified near-dup pair, compare
    the MinHash ESTIMATE of Jaccard (fraction of matching signature
    minima) against the exact verified Jaccard, and pin the mean absolute
    error under MINHASH_CAL_TOL — the calibration check run before
    trusting signature-only similarity at scale (where exact verification
    gets sampled, not exhaustive).

    Per-pair errors are scaled to int64 once, so the mean is order-free;
    the pair set is post-LSH small and broadcasts into the two signature
    lookups."""
    sigs = minhash_signatures(spark, sf_dir)
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id", "jaccard")
    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"m{j}").alias(f"am{j}") for j in range(N_PERMS)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"m{j}").alias(f"bm{j}") for j in range(N_PERMS)],
    )
    joined = F.broadcast(pairs).join(sa, "a_id").join(sb, "b_id")
    matches = sum(
        (F.col(f"am{j}") == F.col(f"bm{j}")).cast("long") for j in range(N_PERMS)
    )
    est = matches / F.lit(float(N_PERMS))
    err_int = F.round(F.abs(est - F.col("jaccard")) * 1_000_000).cast("long")
    stats = joined.agg(
        F.count("*").alias("n_pairs"),
        F.round(
            F.sum(err_int) / 1_000_000.0 / F.count("*"), 6
        ).alias("mean_abs_err"),
    )
    return stats.select(
        "n_pairs",
        "mean_abs_err",
        (F.col("mean_abs_err") <= MINHASH_CAL_TOL).alias("within_tol"),
    )


def _minhash_calibration_sql() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(N_PERMS)
    )
    return f"""
        WITH {minhash_lsh_cte("documents")},
        verified AS (
            SELECT c.a_id, c.b_id, p.jaccard
            FROM candidates c
            JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
            WHERE p.jaccard >= {JACCARD_THRESHOLD}),
        m AS (
            SELECT v.jaccard, ({match_sum}) AS matches
            FROM verified v
            JOIN sigs sa ON v.a_id = sa.doc_id
            JOIN sigs sb ON v.b_id = sb.doc_id),
        stats AS (
            SELECT count(*) AS n_pairs,
                   round(CAST(sum(CAST(round(abs(matches / {float(N_PERMS)}
                                                  - jaccard) * 1000000)
                                       AS BIGINT)) AS BIGINT)
                         / 1000000.0 / count(*), 6) AS mean_abs_err
            FROM m)
        SELECT n_pairs, mean_abs_err,
               mean_abs_err <= {MINHASH_CAL_TOL} AS within_tol
        FROM stats
    """


def crosssource_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror detection: verified near-dup pair counts by UNORDERED source
    pair — which sources duplicate each other's content (a heavy
    off-diagonal cell is a mirror/scrape relationship; the diagonal is
    within-source duplication). Two broadcast lookups of the tiny
    (doc_id, source) projection onto the post-LSH pair set, then one
    groupBy over ≤|sources|² keys."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = docs.select(F.col("doc_id").alias("a_id"), F.col("source").alias("sa"))
    b = docs.select(F.col("doc_id").alias("b_id"), F.col("source").alias("sb"))
    joined = pairs.join(F.broadcast(a), "a_id").join(F.broadcast(b), "b_id")
    lo = F.least("sa", "sb")
    hi = F.greatest("sa", "sb")
    return (
        joined.groupBy(lo.alias("source_a"), hi.alias("source_b"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


ORACLES["minhash_calibration_audit"] = _minhash_calibration_sql()

ORACLES["crosssource_dup_matrix"] = f"""
    WITH {minhash_lsh_cte("documents")},
    verified AS (
        SELECT c.a_id, c.b_id
        FROM candidates c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
        WHERE p.jaccard >= {JACCARD_THRESHOLD})
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs
    FROM verified v
    JOIN documents da ON v.a_id = da.doc_id
    JOIN documents db ON v.b_id = db.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["dedup_method_report"] = f"""
    SELECT 'exact_copies' AS method,
           CAST(sum(c - 1) AS BIGINT) AS flagged
    FROM (SELECT count(*) AS c FROM documents GROUP BY sha256(text))
    UNION ALL
    SELECT 'minhash_lsh_pairs', CAST(count(*) AS BIGINT)
    FROM ({_minhash_lsh_sql()})
    UNION ALL
    SELECT 'simhash_pairs', CAST(count(*) AS BIGINT)
    FROM (WITH sims AS ({_simhash_sql()})
          SELECT 1 FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
    UNION ALL
    SELECT 'jaccard_pairs', CAST(count(*) AS BIGINT)
    FROM (WITH raw_postings AS ({_SHINGLE_SQL}),
          postings AS (
              SELECT p.* FROM raw_postings p
              WHERE p.h IN (SELECT h FROM raw_postings
                            GROUP BY h HAVING count(*) <= {MAX_SHINGLE_DF})),
          {_PAIR_JACCARD_SQL}
          SELECT 1 FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD})
"""

ORACLES["decontaminate"] = f"""
    WITH postings AS ({_SHINGLE_SQL}),
    eval_p AS (SELECT doc_id AS eval_doc_id, h FROM postings
               WHERE doc_id % {DECONTAM_EVAL_MOD} = 0),
    corp_p AS (SELECT doc_id, h FROM postings
               WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0),
    rare AS (SELECT h FROM corp_p GROUP BY h
             HAVING count(*) <= {MAX_SHINGLE_DF})
    SELECT c.doc_id, e.eval_doc_id, count(*) AS shared_shingles
    FROM corp_p c
    JOIN rare USING (h)
    JOIN eval_p e USING (h)
    GROUP BY 1, 2
    HAVING count(*) >= {DECONTAM_MIN_SHARED}
    ORDER BY 1, 2
"""

QUERIES = {
    "exact_dedup": exact_dedup,
    "firstwins_dedup": firstwins_dedup,
    "upsert_merge": upsert_merge,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "dedup_method_report": dedup_method_report,
    "containment_pairs": containment_pairs,
    "crosscorpus_neardup": crosscorpus_neardup,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "neardup_similarity_histogram": neardup_similarity_histogram,
    "crosssource_dup_matrix": crosssource_dup_matrix,
    "minhash_calibration_audit": minhash_calibration_audit,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_neardup_pairs": simhash_neardup_pairs,
    "set_ops_summary": set_ops_summary,
    "decontaminate": decontaminate,
}


# ---------------------------------------------------------------------------
# Non-destructive duplication-share audit
# ---------------------------------------------------------------------------


def doc_duplication_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of distinct shingles that also occur in at least
    one OTHER document — the non-destructive duplication audit (the metric
    RefinedWeb-style pipelines report before deciding how hard to dedup),
    complementing `span_dedup` (which removes) and the pair generators
    (which enumerate): this scores every doc in one pass, no pair blow-up.

    Scale (100 TB): reuses the map-only `shingles` postings build; the
    shingle document-frequency is one map-side-combined groupBy on the
    8-byte hash; the flag join is hash-equi on the same key so it rides the
    df shuffle's partitioning. Work is linear in corpus shingles — the
    audit costs ONE aggregation more than reading the postings, vs the
    postings self-join the pair ops need.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    postings = shingles(docs).transform(materialize)
    dfreq = postings.groupBy("h").agg(F.count("*").alias("df"))
    out = (
        postings.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_shingles").cast("double"), 6
            ).alias("dup_share"),
        )
        .orderBy("doc_id")
    )
    return out


QUERIES["doc_duplication_share"] = doc_duplication_share

ORACLES["doc_duplication_share"] = f"""
    WITH postings AS ({_SHINGLE_SQL}),
    dfreq AS (SELECT h, CAST(count(*) AS BIGINT) AS df
              FROM postings GROUP BY h)
    SELECT p.doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           round(CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_share
    FROM postings p JOIN dfreq d USING (h)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
"""


LSH_PLAN_CANDIDATES = ((2, 8), (4, 4), (8, 2), (16, 1))  # (bands, rows/band)
LSH_PLAN_SIMS = (0.3, 0.5, 0.7, 0.9)


def lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding planner: for each candidate (bands b, rows-per-band r)
    split of the 16-permutation signature, the S-curve candidate
    probability P(s) = 1 − (1 − s^r)^b at reference similarities, and the
    curve's threshold s* = (1/b)^(1/r) — the table that justifies the
    configured (N_BANDS, ROWS_PER_BAND) for JACCARD_THRESHOLD and shows
    the recall/candidate-volume tradeoff of retuning. Pure closed-form
    arithmetic over a literal grid (no data read; both engines evaluate
    the identical IEEE expression), emitted as a DataFrame so the planner
    is queryable/joinable like everything else.
    """
    rows = [(b, r) for b, r in LSH_PLAN_CANDIDATES]
    grid = spark.createDataFrame(rows, "bands int, rows_per_band int")
    s_star = F.pow(F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("rows_per_band"))
    cols = [
        F.round(
            F.lit(1.0)
            - F.pow(
                F.lit(1.0) - F.pow(F.lit(s), F.col("rows_per_band")),
                F.col("bands"),
            ),
            6,
        ).alias(f"p_at_{str(s).replace('.', '_')}")
        for s in LSH_PLAN_SIMS
    ]
    return grid.select(
        "bands",
        "rows_per_band",
        F.round(s_star, 6).alias("s_threshold"),
        *cols,
        ((F.col("bands") == N_BANDS) & (F.col("rows_per_band") == ROWS_PER_BAND)).alias(
            "configured"
        ),
    ).orderBy("bands")


QUERIES["lsh_parameter_plan"] = lsh_parameter_plan


def _lsh_plan_oracle() -> str:
    rows = ", ".join(f"({b}, {r})" for b, r in LSH_PLAN_CANDIDATES)
    p_cols = ", ".join(
        f"round(1.0 - pow(1.0 - pow({s}, rows_per_band), bands), 6)"
        f" AS p_at_{str(s).replace('.', '_')}"
        for s in LSH_PLAN_SIMS
    )
    return f"""
        SELECT bands, rows_per_band,
               round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS s_threshold,
               {p_cols},
               bands = {N_BANDS} AND rows_per_band = {ROWS_PER_BAND}
                   AS configured
        FROM (VALUES {rows}) AS t(bands, rows_per_band)
        ORDER BY bands
    """


ORACLES["lsh_parameter_plan"] = _lsh_plan_oracle()
