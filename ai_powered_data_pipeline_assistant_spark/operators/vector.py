"""Vector similarity-search operators.

Parity targets (SURVEY J3/O5/P5, §2.10 U2):
- top-k cosine similarity ("match_documents" RPC): reference
  Supabase/knowledge_base-RAG.sql:43-67 — `ORDER BY embedding <=> q LIMIT k`
- ivfflat ANN index (lists=100): reference Supabase/knowledge_base-RAG.sql:31-33
  → re-expressed as LSH / coarse-bucket routing (Spark has no vector index)

Scale notes:
- Exact top-k: the query vector is a broadcast literal; the score is a
  codegen'd array expression evaluated during the scan, and `orderBy(k)`
  compiles to TakeOrderedAndProject (per-partition heap, driver merge) — no
  global sort, no shuffle of the scored table. This brute-force path is the
  right answer up to ~10⁸ vectors per executor-core-hour.
- Batch-of-queries ANN: queries × vectors is a broadcast nested-loop join
  (small query side broadcast), then a per-query window top-k. At 100 TB the
  `ann_lsh_topk` variant prunes candidates to matching sign-bit buckets
  first (random-hyperplane LSH ≙ the reference's ivfflat coarse lists).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize
from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
    cosine_similarity,
    cosine_similarity_sql,
    dot_scaled,
    dot_scaled_sql,
    norm_sq_scaled,
    quantize_sql,
)


def _query_vectors(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """Deterministic query set: the first ``n`` stored vectors (no
    repartition — this tiny frame feeds a broadcast)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def cosine_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Single-query exact cosine top-k (the match_documents shape).

    Query vector = stored vector 0 (deterministic); scored JVM-side,
    TakeOrderedAndProject for the top-k.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    q = _query_vectors(spark, sf_dir, 1).select("query_vec")
    scored = emb.crossJoin(broadcast(q)).select(
        "vec_id",
        "label",
        cosine_similarity(F.col("embedding"), F.col("query_vec")).alias("similarity"),
    )
    return scored.orderBy(F.desc("similarity"), "vec_id").limit(k)


def cosine_topk_filtered(spark: SparkSession, sf_dir: str, k: int = 10, label: int = 3) -> DataFrame:
    """P5: top-k with an optional source filter (filter_source IS NULL OR ...)
    — predicate pushes into the scan before scoring."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).filter(F.col("label") == label)
    q = _query_vectors(spark, sf_dir, 1).select("query_vec")
    scored = emb.crossJoin(broadcast(q)).select(
        "vec_id",
        "label",
        cosine_similarity(F.col("embedding"), F.col("query_vec")).alias("similarity"),
    )
    return scored.orderBy(F.desc("similarity"), "vec_id").limit(k)


def ann_brute_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Batch-of-queries exact ANN baseline: broadcast the query set, score
    every (query, vector) pair, keep per-query top-k via the salted
    two-phase reducer (`_per_query_topk`) — no per-query reducer funnel."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = _query_vectors(spark, sf_dir, n_queries)
    scored = emb.join(broadcast(queries)).select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("query_vec")).alias("similarity"),
    )
    # brute force scores the whole corpus per query: the corpus row count
    # IS the per-query reducer load, so measure it and let the helper pick
    # the plain window below the single-reducer bound
    return _per_query_topk(scored, k, per_query_rows=emb.count())


def ann_lsh_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Scale path: random-hyperplane LSH bucket routing before exact scoring.

    Bucket = sign bits of the vector against ``n_planes`` deterministic
    pseudo-random hyperplanes (hash-derived, no RNG state). Candidates =
    vectors sharing the query's bucket → exact cosine within the bucket.
    Recall < 1 by construction (oracle is rows-only); the win is that the
    per-query candidate set shrinks by ~2^n_planes.
    """
    n_planes = 4
    dim = 64
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = _query_vectors(spark, sf_dir, n_queries)

    # Deterministic hyperplane matrix via integer hashing of (plane, dim).
    def plane_component(p: int, d: int) -> float:
        # Portable pseudo-random in [-1, 1): linear-congruential on (p, d)
        v = (1103515245 * (p * 64 + d + 1) + 12345) % 2147483648
        return (v / 1073741824.0) - 1.0

    def bucket_expr(vec_col: str) -> F.Column:
        bits = []
        for p in range(n_planes):
            plane = F.array(*[F.lit(plane_component(p, d)) for d in range(dim)])
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    emb_b = emb.withColumn("bucket", bucket_expr("embedding"))
    q_b = queries.withColumn("bucket", bucket_expr("query_vec"))
    scored = emb_b.join(broadcast(q_b), "bucket").select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("query_vec")).alias("similarity"),
    )
    return _per_query_topk(scored, k)


def ivf_centroids(emb: DataFrame, n_lists: int) -> DataFrame:
    """Deterministic coarse centroids = the first ``n_lists`` stored vectors
    (a real deployment k-means them offline and broadcasts the result)."""
    return emb.filter(F.col("vec_id") < n_lists).select(
        F.col("vec_id").alias("list_id"), F.col("embedding").alias("centroid")
    )


def assign_lists(
    df: DataFrame, vec_col: str, centroids: DataFrame, out_col: str, keep: int,
    sim: Column | None = None,
) -> DataFrame:
    """Nearest-``keep`` centroid assignment: one broadcast join + window
    argmax over the fixed-point similarity (deterministic tie-break on
    list_id) — a single scan of ``df``, no shuffle of the vectors.
    ``sim`` is that similarity Column, prebuilt by callers that route
    many frames (`ivfpq.ResidualRouter`); it must equal
    ``cosine_similarity(F.col(vec_col), F.col("centroid"))``."""
    if sim is None:
        sim = cosine_similarity(F.col(vec_col), F.col("centroid"))
    scored = df.join(broadcast(centroids)).select(
        *df.columns, "list_id", sim.alias("c_sim")
    )
    w = Window.partitionBy(*df.columns[:1]).orderBy(F.desc("c_sim"), "list_id")
    return (
        scored.withColumn("c_rk", F.row_number().over(w))
        .filter(F.col("c_rk") <= keep)
        .select(*df.columns, F.col("list_id").alias(out_col))
    )


TOPK_SALTS = 8


def _per_query_topk(
    candidates: DataFrame, k: int, per_query_rows: int | None = None
) -> DataFrame:
    """Salted two-phase grouped top-k (same pattern as `knn_join`): phase 1
    keeps top-k per (query_id, salt) — TOPK_SALTS× more reduce groups than
    queries, so no single reducer sees a query's full candidate list —
    phase 2 ranks the salts×k survivors per query. A plain
    Window.partitionBy(query_id) over all scored rows would funnel the
    whole corpus through |Q| reducers — the grouped-top-N scale killer.
    Both phases use the same (similarity DESC, vec_id ASC) total order, so
    the result is bit-identical to the single-window formulation.

    ``per_query_rows`` is the caller's measured (upper bound on) candidate
    rows per query; when it proves a single reducer's load small, the plain
    one-window plan is used instead — the salted form pays an extra shuffle
    that only buys anything once per-query candidate lists are large
    (the repo-standard measure-then-pick guard, ranking.py:31 shape)."""
    from ai_powered_data_pipeline_assistant_spark.operators.ranking import (
        SINGLE_REDUCER_MAX_ROWS,
    )

    if per_query_rows is not None and per_query_rows <= SINGLE_REDUCER_MAX_ROWS:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("similarity"), F.asc("vec_id")
        )
        return (
            candidates.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "vec_id", "similarity", "rk")
        )
    salted = candidates.withColumn("salt", F.col("vec_id") % TOPK_SALTS)
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        F.desc("similarity"), F.asc("vec_id")
    )
    survivors = (
        salted.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "similarity", "rk")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 5,
                 n_lists: int = 8, n_probe: int = 2) -> DataFrame:
    """IVF-style ANN: the reference's ivfflat index (lists=100, reference
    Supabase/knowledge_base-RAG.sql:31-33) re-expressed for Spark.

    Every vector is assigned to its nearest centroid (one broadcast join +
    argmax, a single scan); a query probes its ``n_probe`` nearest lists and
    scores only those candidates. Deterministic (fixed-point similarity,
    list_id tie-break) → exact SQL oracle despite being approximate w.r.t.
    the brute-force answer; pytest separately checks recall vs brute force.

    See ``ann_ivf_pruned`` for the physical-layout variant where the probe
    prunes partitions at the scan (the ivfflat I/O shape).
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    centroids = ivf_centroids(emb, n_lists)
    assigned = assign_lists(
        emb.select("vec_id", "embedding"), "embedding", centroids, "list_id", 1
    )
    queries = _query_vectors(spark, sf_dir, n_queries)
    probed = assign_lists(queries, "query_vec", centroids, "probe_list", n_probe)

    candidates = assigned.join(
        broadcast(probed), assigned.list_id == probed.probe_list
    ).select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("query_vec")).alias("similarity"),
    )
    return _per_query_topk(candidates, k)


def ann_ivf_pruned(spark: SparkSession, sf_dir: str, n_queries: int = 5, k: int = 5,
                   n_lists: int = 8, n_probe: int = 2) -> DataFrame:
    """IVF ANN over the PHYSICAL inverted-list layout: embeddings stored
    ``partitionBy(list_id)`` (sources/layout.write_ivf_layout), probe as a
    literal ``list_id IN (...)`` predicate → partition pruning at the scan.

    This is the same I/O shape as pgvector's ivfflat
    (Supabase/knowledge_base-RAG.sql:31-33): only the probed lists' files
    are ever opened — at 100 TB with 1000 lists and n_probe=2, the scan
    reads 0.2% of the table. The probe-list computation is a bounded
    driver-side step (n_queries × n_lists tiny broadcast argmax — the exact
    analogue of the index's centroid lookup); results are identical to
    ``ann_ivf_topk`` (same assignment, same probes, same scoring).
    """
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        ensure_ivf_layout,
    )

    layout_path = ensure_ivf_layout(spark, sf_dir, n_lists=n_lists)
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_centroids(emb, n_lists)
    queries = _query_vectors(spark, sf_dir, n_queries)
    probed = assign_lists(queries, "query_vec", centroids, "probe_list", n_probe).transform(materialize)
    # Literal probe list → PartitionFilters on the layout scan. ≤ n_queries ×
    # n_probe ints collected driver-side: this IS the index lookup, bounded.
    probe_lists = sorted(
        r["probe_list"] for r in probed.select("probe_list").distinct().collect()
    )
    stored = spark.read.parquet(layout_path).filter(F.col("list_id").isin(probe_lists))
    candidates = stored.join(
        broadcast(probed), stored.list_id == probed.probe_list
    ).select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("query_vec")).alias("similarity"),
    )
    return _per_query_topk(candidates, k)


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.45,
                            n_blocks: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, similarity ≥ threshold).

    Exact all-pairs, computed as a distributed BLOCK MATMUL instead of a
    row-pair self-join: vectors are hashed into ``n_blocks`` blocks, every
    row is shipped to each of its block-PAIR groups (n·n_blocks rows through
    one shuffle — not n² pairs), and each (i, j) group scores its pairs with
    ONE numpy matmul over Arrow-batched data (`applyInPandas`). Versus the
    per-pair `zip_with`/`aggregate` HOF formulation this is ~10× at sf0.1 —
    interpreted per-element lambdas become a BLAS call.

    Cross-engine exactness: each vector is quantized ONCE to the 1e6 integer
    grid (np_quantize ≙ oracle's list_transform+round); the pairwise integer
    dot is then exact in a float64 matmul (partial sums < 2^53 for
    dim ≤ ~9000), and similarity/rounding replicate DuckDB bit-for-bit.

    Still O(n²) compute by design — the correctness baseline; at corpus
    scale, route through `embedding_neardup_lsh` (candidate-only scoring).
    n_blocks sizes the parallelism: ~n/n_blocks rows per group, n_blocks²/2
    groups; at a real deployment pick n_blocks ≈ √(2·cores) per n that fits
    executor memory.
    """
    import numpy as np
    import pandas as pd

    from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
        np_quantize,
        np_round_half_up,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding", (F.col("vec_id") % n_blocks).cast("int").alias("blk")
    )
    group_keys = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("blk"), F.lit(o)).alias("gi"),
                    F.greatest(F.col("blk"), F.lit(o)).alias("gj"),
                )
                for o in range(n_blocks)
            ]
        )
    )
    exploded = emb.select(
        "vec_id", "embedding", "blk", F.explode(group_keys).alias("g")
    ).select("vec_id", "embedding", "blk", F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj"))

    def score_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["blk"] == bi]
        b = a if bi == bj else pdf[pdf["blk"] == bj]
        if a.empty or b.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "similarity": []}).astype(
                {"a_id": "int64", "b_id": "int64", "similarity": "float64"}
            )
        ma = np_quantize(np.stack(a["embedding"].to_numpy()))
        mb = ma if bi == bj else np_quantize(np.stack(b["embedding"].to_numpy()))
        dots = ma @ mb.T  # exact: integer-valued float64, sums < 2^53
        na = (ma * ma).sum(axis=1)
        nb = na if bi == bj else (mb * mb).sum(axis=1)
        sim = np_round_half_up(dots / np.sqrt(np.outer(na, nb)), 6)
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        ii, jj = np.nonzero(sim >= threshold)
        lo = np.minimum(ids_a[ii], ids_b[jj])
        hi = np.maximum(ids_a[ii], ids_b[jj])
        keep = lo < hi  # drops self-pairs and the duplicate orientation
        return pd.DataFrame(
            {"a_id": lo[keep], "b_id": hi[keep], "similarity": sim[ii, jj][keep]}
        ).drop_duplicates(["a_id", "b_id"])

    return exploded.groupBy("gi", "gj").applyInPandas(
        score_block, schema="a_id long, b_id long, similarity double"
    )


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str, threshold: float = 0.45,
                          n_planes: int = 8, n_bands: int = 4) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH banding
    before exact scoring (the `minhash_lsh_pairs` pattern on vectors).

    Each vector gets ``n_planes`` sign bits split into ``n_bands`` bands;
    pairs sharing ANY band are candidates (for sign-bit LSH, P[bit match] =
    1 - θ/π, so near-duplicates share a band with high probability); exact
    cosine then verifies ONLY candidates. Recall < 1 by construction →
    rows-only oracle; pytest measures recall vs the exact all-pairs baseline.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    bits_per_band = n_planes // n_bands

    def plane_component(p: int, d: int) -> float:
        v = (1103515245 * (p * 64 + d + 1) + 12345) % 2147483648
        return (v / 1073741824.0) - 1.0

    def band_cols(vec: str) -> list:
        cols = []
        for band in range(n_bands):
            acc = None
            for j in range(bits_per_band):
                p = band * bits_per_band + j
                plane = F.array(*[F.lit(plane_component(p, d)) for d in range(64)])
                dot = F.aggregate(
                    F.zip_with(F.col(vec), plane, lambda x, y: x.cast("double") * y),
                    F.lit(0.0),
                    lambda acc_, v: acc_ + v,
                )
                bit = F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
                acc = bit if acc is None else acc + bit
            cols.append(
                F.struct(F.lit(band).alias("band"), acc.alias("band_key"))
            )
        return cols

    banded = emb.select(
        "vec_id", "embedding", F.explode(F.array(*band_cols("embedding"))).alias("bk")
    ).select(
        "vec_id", "embedding",
        F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"),
    )
    a = banded.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"),
        "band", "band_key",
    )
    b = banded.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"),
        "band", "band_key",
    )
    candidates = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_vec", "b_vec")
        .dropDuplicates(["a_id", "b_id"])
    )
    return (
        candidates.select(
            "a_id", "b_id",
            cosine_similarity(F.col("a_vec"), F.col("b_vec")).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
    )


def ann_lsh_recall(spark: SparkSession, sf_dir: str, n_queries: int = 5,
                   k: int = 5, min_recall: float = 0.2) -> DataFrame:
    """Driver-scorable audit of the LSH ANN path: recall@k of
    ``ann_lsh_topk`` against the exact ``ann_brute_topk``, pinned as a
    one-row boolean (threshold matches tests/test_vector_quality.py).

    The approx result itself has no stable SQL mirror (bucket bits hinge on
    float sign — a last-ulp flip across engines moves a vector between
    buckets), but the EXACT side is SQL-expressible, so the oracle
    recomputes ``exact_pairs`` and asserts the engine's recall claim."""
    exact = ann_brute_topk(spark, sf_dir, n_queries, k).select("query_id", "vec_id")
    approx = (
        ann_lsh_topk(spark, sf_dir, n_queries, k)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    joined = exact.join(approx, ["query_id", "vec_id"], "left")
    return joined.agg(
        F.count("*").alias("exact_pairs"),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            >= F.count("*") * F.lit(min_recall)
        ).alias("recall_ok"),
    )


def embedding_neardup_lsh_recall(spark: SparkSession, sf_dir: str,
                                 min_recall: float = 0.5) -> DataFrame:
    """Driver-scorable audit of the LSH near-dup path: candidate recall of
    ``embedding_neardup_lsh`` vs the exact all-pairs baseline (exact verify
    makes precision 1 by construction, so recall is the only free metric).
    One row: the SQL-recomputable exact pair count + the recall pin."""
    exact = embedding_neardup_pairs(spark, sf_dir).select("a_id", "b_id")
    approx = (
        embedding_neardup_lsh(spark, sf_dir)
        .select("a_id", "b_id")
        .withColumn("hit", F.lit(1))
    )
    joined = exact.join(approx, ["a_id", "b_id"], "left")
    return joined.agg(
        F.count("*").alias("exact_pairs"),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            >= F.count("*") * F.lit(min_recall)
        ).alias("recall_ok"),
    )


def semantic_dedup(spark: SparkSession, sf_dir: str, n_lists: int = 8,
                   threshold: float = 0.45) -> DataFrame:
    """SemDeDup-style semantic deduplication: route vectors to their nearest
    coarse centroid, then find near-duplicates ONLY within each list and
    keep the lowest vec_id of every duplicate pair (min-id-wins, one pass —
    no iterative clustering).

    The 100 TB shape: the pairwise stage is an equality join on list_id, so
    the cost is Σ per-list² instead of n² — the same bucketing argument as
    LSH banding, but driven by the embedding geometry (a production run
    k-means the centroids offline; here they are the deterministic first
    ``n_lists`` vectors, which keeps the whole operator bit-exactly
    SQL-mirrorable, fixed-point cosine included). A vector is dropped iff
    some same-list neighbor with a smaller id is ≥ ``threshold`` similar;
    ``dup_of`` records the smallest such neighbor.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    centroids = ivf_centroids(emb, n_lists)
    # Materialized (round 13): `assigned` feeds BOTH self-join sides and
    # the final keep/drop join — three consumers, so the centroid
    # assignment (broadcast join + fixed-point cosine + per-vector window)
    # previously ran three times end to end.
    assigned = materialize(
        assign_lists(
            emb.select("vec_id", "embedding"), "embedding", centroids, "list_id", 1
        )
    )
    a = assigned.select(
        "list_id", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec")
    )
    b = assigned.select(
        "list_id", F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec")
    )
    dup_of = (
        a.join(b, "list_id")
        .filter(F.col("a_id") > F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            cosine_similarity(F.col("a_vec"), F.col("b_vec")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .groupBy("a_id")
        .agg(F.min("b_id").alias("dup_of"))
    )
    return (
        assigned.select("vec_id", "list_id")
        .join(dup_of, assigned.vec_id == dup_of.a_id, "left")
        .select(
            "vec_id",
            "list_id",
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
        )
    )


def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface: per-vector min/max/fixed-point
    sum/positive-count computed INSIDE the array column (transform/filter/
    aggregate) — no explode, no shuffle; the whole thing rides the scan."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    scaled = F.expr(
        "aggregate(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS LONG)), "
        "CAST(0 AS LONG), (acc, v) -> acc + v)"
    )
    n_pos = F.size(F.filter("embedding", lambda x: x > 0))
    return emb.select(
        "vec_id",
        F.array_min("embedding").alias("vmin"),
        F.array_max("embedding").alias("vmax"),
        scaled.alias("sum_scaled"),
        n_pos.cast("long").alias("n_positive"),
        F.size("embedding").cast("long").alias("dim"),
    )


RRF_K = 60
RRF_POOL = 20
RRF_TOP = 10


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the lexical BM25 ranking
    (`corpus.bm25_search`, top RRF_POOL) and the vector cosine ranking
    (`cosine_topk`, top RRF_POOL), score = Σ 1/(RRF_K + rank) over the
    lists a document appears in — the standard fusion rule hybrid search
    stacks use (no score normalization needed, rank-only). Embedding ids
    align positionally with doc ids (the J2 zip convention).

    Both inputs are already top-k TakeOrdered results, so the rank windows
    and the fusion join run on two RRF_POOL-row frames — driver-scale
    frames regardless of corpus size; the heavy lifting stays in the two
    underlying retrievers."""
    from ai_powered_data_pipeline_assistant_spark.operators.corpus import (
        bm25_search,
    )

    lex = bm25_search(spark, sf_dir)
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lr"))
    vec = cosine_topk(spark, sf_dir, k=RRF_POOL).select(
        F.col("vec_id").alias("doc_id"), "similarity"
    )
    wv = Window.orderBy(F.desc("similarity"), "doc_id")
    vecr = vec.select("doc_id", F.row_number().over(wv).alias("vr"))
    fused = lexr.join(vecr, "doc_id", "full_outer")
    rrf = F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lr")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("vr")), F.lit(0.0)
    )
    return (
        fused.select("doc_id", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(RRF_TOP)
    )


def ivf_balance_report(spark: SparkSession, sf_dir: str, n_lists: int = 8) -> DataFrame:
    """ANN index-health diagnostic: inverted-list size distribution of the
    IVF assignment — min/max/avg list size and the imbalance factor
    (max/avg). An unbalanced index means hot probes (one list serves most
    queries) and wasted pruning; rebalance by retraining centroids. One
    broadcast-argmax assignment scan + a groupBy over n_lists keys."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    centroids = ivf_centroids(emb, n_lists)
    assigned = assign_lists(
        emb.select("vec_id", "embedding"), "embedding", centroids, "list_id", 1
    )
    sizes = assigned.groupBy("list_id").agg(F.count("*").alias("n_vecs"))
    whole = Window.partitionBy()
    avg = F.sum("n_vecs").over(whole) / F.count("*").over(whole).cast("double")
    return sizes.select(
        "list_id",
        "n_vecs",
        F.round(F.col("n_vecs") / avg, 6).alias("load_factor"),
    ).orderBy("list_id")


def _ivf_balance_sql(n_lists: int = 8) -> str:
    cos_ec = cosine_similarity_sql("e.embedding", "c.centroid")
    return f"""
        WITH centroids AS (
            SELECT vec_id AS list_id, embedding AS centroid
            FROM embeddings WHERE vec_id < {n_lists}),
        assigned AS (
            SELECT vec_id, list_id FROM (
                SELECT e.vec_id, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC, c.list_id)
                           AS crk
                FROM embeddings e CROSS JOIN centroids c)
            WHERE crk = 1),
        sizes AS (SELECT list_id, count(*) AS n_vecs FROM assigned GROUP BY 1)
        SELECT list_id, n_vecs,
               round(n_vecs / (CAST(sum(n_vecs) OVER () AS BIGINT)
                               / CAST(count(*) OVER () AS DOUBLE)), 6)
                   AS load_factor
        FROM sizes ORDER BY list_id
    """


def retrieval_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-diagnostics row: how much the lexical (BM25) and vector
    (cosine) top-RRF_POOL lists agree — Jaccard of the two id sets plus
    each side's exclusive count. Low overlap is the signal that hybrid
    fusion is worth its cost (the two retrievers surface different
    documents); near-total overlap means one retriever suffices. Runs on
    two top-k frames — driver-scale regardless of corpus size."""
    from ai_powered_data_pipeline_assistant_spark.operators.corpus import (
        bm25_search,
    )

    lex = bm25_search(spark, sf_dir).select("doc_id", F.lit(1).alias("l"))
    vec = cosine_topk(spark, sf_dir, k=RRF_POOL).select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("v")
    )
    j = lex.join(vec, "doc_id", "full_outer")
    both = F.sum((F.col("l").isNotNull() & F.col("v").isNotNull()).cast("long"))
    lex_only = F.sum((F.col("l").isNotNull() & F.col("v").isNull()).cast("long"))
    vec_only = F.sum((F.col("l").isNull() & F.col("v").isNotNull()).cast("long"))
    return j.agg(
        both.alias("in_both"),
        lex_only.alias("lex_only"),
        vec_only.alias("vec_only"),
        F.round(both / (both + lex_only + vec_only).cast("double"), 6).alias(
            "jaccard"
        ),
    )


NDCG_KS = (5, 10, 20)


def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: NDCG@k of the lexical (BM25) ranking
    against vector-similarity graded relevance — the standard offline
    retrieval metric (graded gains discounted by log2 of rank, normalized
    by the ideal ordering's DCG).

    Relevance labels are derived deterministically from the vector side:
    a document at cosine rank r in the top-RRF_POOL pool has gain
    RRF_POOL+1-r; documents outside the pool have gain 0. DCG@k sums
    gain/log2(rank+1) over the BM25 ranking's first k positions; IDCG@k is
    the same sum over the gain-sorted ideal (which IS the vector ranking).

    Scale: both rankings are already top-k TakeOrdered frames, so every
    window/join here runs on RRF_POOL-row inputs — driver-scale regardless
    of corpus size; the heavy lifting stays in the two retrievers."""
    from pyspark.sql import Window

    from ai_powered_data_pipeline_assistant_spark.operators.corpus import (
        bm25_search,
    )

    lex = bm25_search(spark, sf_dir)
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("lr"),
    )
    vec = cosine_topk(spark, sf_dir, k=RRF_POOL)
    vecr = vec.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("similarity"), "vec_id"))
        .alias("vr"),
    )
    graded = lexr.join(vecr, "doc_id", "left").select(
        "lr",
        F.coalesce(F.lit(RRF_POOL + 1) - F.col("vr"), F.lit(0)).alias("rel"),
    )
    dcg = graded.agg(
        *[
            F.sum(
                F.when(
                    F.col("lr") <= k,
                    F.col("rel") / F.log2(F.col("lr") + 1),
                ).otherwise(F.lit(0.0))
            ).alias(f"dcg{k}")
            for k in NDCG_KS
        ]
    )
    idcg = vecr.agg(
        *[
            F.sum(
                F.when(
                    F.col("vr") <= k,
                    (F.lit(RRF_POOL + 1) - F.col("vr"))
                    / F.log2(F.col("vr") + 1),
                ).otherwise(F.lit(0.0))
            ).alias(f"idcg{k}")
            for k in NDCG_KS
        ]
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), round(dcg{k}, 6), round(dcg{k} / idcg{k}, 6)"
        for k in NDCG_KS
    )
    return (
        dcg.crossJoin(idcg)
        .selectExpr(f"stack({len(NDCG_KS)}, {stack_args}) AS (k, dcg, ndcg)")
        .orderBy("k")
    )


_COS_SQL = cosine_similarity_sql("e.embedding", "q.embedding")

ORACLES: dict[str, str] = {
    "embedding_array_stats": """
        SELECT vec_id,
               list_min(embedding) AS vmin,
               list_max(embedding) AS vmax,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT))) AS BIGINT) AS sum_scaled,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
               CAST(len(embedding) AS BIGINT) AS dim
        FROM embeddings
    """,
    "cosine_topk": f"""
        SELECT e.vec_id, e.label, {_COS_SQL} AS similarity
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        ORDER BY similarity DESC, e.vec_id
        LIMIT 10
    """,
    "cosine_topk_filtered": f"""
        SELECT e.vec_id, e.label, {_COS_SQL} AS similarity
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.label = 3
        ORDER BY similarity DESC, e.vec_id
        LIMIT 10
    """,
    "ann_brute_topk": f"""
        SELECT query_id, vec_id, similarity, rk FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                   {_COS_SQL} AS similarity,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_SQL} DESC, e.vec_id) AS rk
            FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
        ) WHERE rk <= 5
    """,
    # Quantize-once grid (see vector_math.QUANT): each vector's elements are
    # rounded to the 1e6 integer grid, then the pairwise dot is a plain
    # integer product-sum — the exact SQL mirror of the numpy block matmul.
    "embedding_neardup_pairs": """
        WITH e AS (SELECT vec_id, {q} AS qv FROM embeddings),
        n AS (SELECT vec_id, qv,
                     list_sum(list_transform(qv, x -> x * x)) AS nsq
              FROM e)
        SELECT a_id, b_id, similarity FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                                                      p -> p[1] * p[2])) AS DOUBLE)
                         / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE)),
                         6) AS similarity
            FROM n a JOIN n b ON a.vec_id < b.vec_id)
        WHERE similarity >= 0.45
    """.format(q=quantize_sql("embedding")),
    # ann_lsh_topk: bucket bits come from a FLOAT dot against hyperplanes —
    # a last-ulp sign flip across engines could move a vector between
    # buckets, so no SQL oracle (rows-only); pytest checks recall instead.
}


def _ivf_oracle_sql(n_queries: int = 5, k: int = 5, n_lists: int = 8,
                    n_probe: int = 2) -> str:
    """Exact DuckDB mirror of the IVF pipeline: deterministic centroid
    assignment (fixed-point similarity, list_id tie-break), n_probe probing,
    candidate-only scoring — the approximation is deterministic, so the
    'approximate' operator still gets a bit-exact oracle."""
    cos_ec = cosine_similarity_sql("e.embedding", "c.centroid")
    cos_qc = cosine_similarity_sql("q.query_vec", "c.centroid")
    cos_aq = cosine_similarity_sql("a.embedding", "p.query_vec")
    return f"""
        WITH centroids AS (
            SELECT vec_id AS list_id, embedding AS centroid
            FROM embeddings WHERE vec_id < {n_lists}),
        assigned AS (
            SELECT vec_id, embedding, list_id FROM (
                SELECT e.vec_id, e.embedding, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC, c.list_id) AS crk
                FROM embeddings e CROSS JOIN centroids c)
            WHERE crk = 1),
        queries AS (
            SELECT vec_id AS query_id, embedding AS query_vec
            FROM embeddings WHERE vec_id < {n_queries}),
        probed AS (
            SELECT query_id, query_vec, list_id AS probe_list FROM (
                SELECT q.query_id, q.query_vec, c.list_id,
                       row_number() OVER (PARTITION BY q.query_id
                                          ORDER BY {cos_qc} DESC, c.list_id) AS crk
                FROM queries q CROSS JOIN centroids c)
            WHERE crk <= {n_probe}),
        cands AS (
            SELECT p.query_id, a.vec_id, {cos_aq} AS similarity
            FROM assigned a JOIN probed p ON a.list_id = p.probe_list)
        SELECT query_id, vec_id, similarity, rk FROM (
            SELECT query_id, vec_id, similarity,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY similarity DESC, vec_id) AS rk
            FROM cands)
        WHERE rk <= {k}
    """



def _hybrid_rrf_sql() -> str:
    from ai_powered_data_pipeline_assistant_spark.operators.corpus import _bm25_sql

    return f"""
        WITH lex AS ({_bm25_sql()}),
        lexr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lr
                 FROM lex),
        vec AS (SELECT e.vec_id, {_COS_SQL} AS similarity
                FROM embeddings e,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                ORDER BY similarity DESC, e.vec_id LIMIT {RRF_POOL}),
        vecr AS (SELECT vec_id AS doc_id,
                        row_number() OVER (ORDER BY similarity DESC, vec_id)
                            AS vr
                 FROM vec),
        fused AS (
            SELECT doc_id,
                   coalesce(1.0 / ({RRF_K} + lr), 0.0)
                       + coalesce(1.0 / ({RRF_K} + vr), 0.0) AS rrf
            FROM lexr FULL OUTER JOIN vecr USING (doc_id))
        SELECT doc_id, round(rrf, 6) AS rrf
        FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """


ORACLES["hybrid_search_rrf"] = _hybrid_rrf_sql()


def _retrieval_overlap_sql() -> str:
    from ai_powered_data_pipeline_assistant_spark.operators.corpus import _bm25_sql

    return f"""
        WITH lex AS ({_bm25_sql()}),
        vec AS (SELECT e.vec_id AS doc_id, {_COS_SQL} AS similarity
                FROM embeddings e,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                ORDER BY similarity DESC, e.vec_id LIMIT {RRF_POOL}),
        j AS (SELECT l.doc_id AS l_id, v.doc_id AS v_id
              FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
        SELECT CAST(sum(CASE WHEN l_id IS NOT NULL AND v_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS in_both,
               CAST(sum(CASE WHEN l_id IS NOT NULL AND v_id IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS lex_only,
               CAST(sum(CASE WHEN l_id IS NULL AND v_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS vec_only,
               round(CAST(sum(CASE WHEN l_id IS NOT NULL AND v_id IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS jaccard
        FROM j
    """


ORACLES["retrieval_overlap_report"] = _retrieval_overlap_sql()


def _retrieval_ndcg_sql() -> str:
    from ai_powered_data_pipeline_assistant_spark.operators.corpus import _bm25_sql

    ks = ", ".join(str(k) for k in NDCG_KS)
    return f"""
        WITH lex AS ({_bm25_sql()}),
        lexr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lr
                 FROM lex),
        vec AS (SELECT e.vec_id AS doc_id, {_COS_SQL} AS similarity
                FROM embeddings e,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                ORDER BY similarity DESC, e.vec_id LIMIT {RRF_POOL}),
        vecr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY similarity DESC, doc_id)
                            AS vr
                 FROM vec),
        graded AS (SELECT lr, coalesce({RRF_POOL} + 1 - vr, 0) AS rel
                   FROM lexr LEFT JOIN vecr USING (doc_id)),
        ks AS (SELECT unnest([{ks}]) AS k),
        dcg AS (SELECT k, sum(CASE WHEN lr <= k
                                   THEN rel / log2(lr + 1) ELSE 0 END) AS dcg
                FROM graded, ks GROUP BY k),
        idcg AS (SELECT k, sum(CASE WHEN vr <= k
                                    THEN ({RRF_POOL} + 1 - vr) / log2(vr + 1)
                                    ELSE 0 END) AS idcg
                 FROM vecr, ks GROUP BY k)
        SELECT CAST(k AS BIGINT) AS k, round(dcg, 6) AS dcg,
               round(dcg / idcg, 6) AS ndcg
        FROM dcg JOIN idcg USING (k) ORDER BY k
    """


ORACLES["retrieval_ndcg"] = _retrieval_ndcg_sql()

ORACLES["ivf_balance_report"] = _ivf_balance_sql()
ORACLES["ann_ivf_topk"] = _ivf_oracle_sql()
ORACLES["ann_ivf_pruned"] = _ivf_oracle_sql()
# Recall audits: the oracle recomputes the exact side (pair counts) in SQL
# and asserts the engine's recall pin — this is how the non-SQL-expressible
# LSH variants become driver-scorable instead of permanent no-oracle rows.
ORACLES["ann_lsh_recall"] = f"""
    SELECT CAST(count(*) AS BIGINT) AS exact_pairs, true AS recall_ok
    FROM ({ORACLES["ann_brute_topk"]})
"""
ORACLES["embedding_neardup_lsh_recall"] = f"""
    SELECT CAST(count(*) AS BIGINT) AS exact_pairs, true AS recall_ok
    FROM ({ORACLES["embedding_neardup_pairs"]})
"""


def _semantic_dedup_oracle_sql(n_lists: int = 8, threshold: float = 0.45) -> str:
    """Bit-exact DuckDB mirror of semantic_dedup (deterministic centroids,
    fixed-point cosine, min-id-wins within list)."""
    cos_ec = cosine_similarity_sql("e.embedding", "c.centroid")
    cos_ab = cosine_similarity_sql("a.embedding", "b.embedding")
    return f"""
        WITH centroids AS (
            SELECT vec_id AS list_id, embedding AS centroid
            FROM embeddings WHERE vec_id < {n_lists}),
        assigned AS (
            SELECT vec_id, embedding, list_id FROM (
                SELECT e.vec_id, e.embedding, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC, c.list_id) AS crk
                FROM embeddings e CROSS JOIN centroids c)
            WHERE crk = 1),
        dups AS (
            SELECT a.vec_id AS a_id, min(b.vec_id) AS dup_of
            FROM assigned a JOIN assigned b
              ON a.list_id = b.list_id AND a.vec_id > b.vec_id
            WHERE {cos_ab} >= {threshold}
            GROUP BY 1)
        SELECT s.vec_id, s.list_id,
               d.dup_of IS NULL AS is_kept,
               d.dup_of
        FROM assigned s LEFT JOIN dups d ON s.vec_id = d.a_id
    """


ORACLES["semantic_dedup"] = _semantic_dedup_oracle_sql()

# ann_lsh_topk / embedding_neardup_lsh stay library functions (recall pinned
# in tests + the *_recall audits above); their raw outputs are approx by
# construction, so they are not driver-facing registry entries.
QUERIES = {
    "cosine_topk": cosine_topk,
    "hybrid_search_rrf": hybrid_search_rrf,
    "retrieval_overlap_report": retrieval_overlap_report,
    "retrieval_ndcg": retrieval_ndcg,
    "ivf_balance_report": ivf_balance_report,
    "cosine_topk_filtered": cosine_topk_filtered,
    "ann_brute_topk": ann_brute_topk,
    "ann_lsh_recall": ann_lsh_recall,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_pruned": ann_ivf_pruned,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "embedding_neardup_lsh_recall": embedding_neardup_lsh_recall,
    "semantic_dedup": semantic_dedup,
    "embedding_array_stats": embedding_array_stats,
}


# ------------------------------------------------------------- kNN join
KNN_QUERIES = 8  # vec_id < this = the query batch
KNN_K = 3
KNN_SALTS = 8


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN: top-K cosine neighbors for EVERY query in a query
    batch (vs `cosine_topk`'s single query) — the retrieval shape of batch
    embedding-eval and RAG index validation.

    Scale design: the query batch broadcasts onto the corpus scan (each
    corpus row scores all |Q| queries in-row — no corpus shuffle), and the
    grouped top-K is the SALTED TWO-PHASE pattern: phase 1 takes top-K per
    (query, salt) — KNN_SALTS× more partitions than queries, so no single
    reducer sees a query's full candidate list; phase 2 reduces the
    salts×K survivors per query. A naive `Window.partitionBy(q_id)` would
    funnel the entire corpus through |Q| reducers — the grouped-top-N
    scale killer. Exact fixed-point cosine (`functions/vector_math`), so
    the oracle's plain QUALIFY row_number agrees bit-for-bit.

    For |Q| beyond broadcast size, route both sides through the IVF
    coarse quantizer (`ann_ivf_topk`) instead.
    """
    from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= KNN_QUERIES)
    scored = corpus.crossJoin(broadcast(queries)).select(
        "q_id",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("q_vec")).alias("sim"),
        (F.col("vec_id") % KNN_SALTS).alias("salt"),
    )
    w1 = Window.partitionBy("q_id", "salt").orderBy(F.desc("sim"), F.asc("vec_id"))
    survivors = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= KNN_K)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= KNN_K)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim")
        .orderBy("q_id", "rank")
    )


QUERIES["knn_join"] = knn_join

ORACLES["knn_join"] = f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_vec
        FROM embeddings WHERE vec_id < {KNN_QUERIES}),
    c AS (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id >= {KNN_QUERIES}),
    scored AS (
        SELECT q_id, c.vec_id,
               {cosine_similarity_sql('q_vec', 'embedding')} AS sim
        FROM c CROSS JOIN q)
    SELECT q_id,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY sim DESC, vec_id ASC) AS BIGINT)
               AS rank,
           vec_id, sim
    FROM scored
    QUALIFY rank <= {KNN_K}
    ORDER BY q_id, rank
"""


DECON_EVAL_MOD = 10  # vec_id % 10 == 0 → the eval/benchmark set
DECON_COS = 0.35  # top ~0.1% of the synthetic cosine mass (same-label tail)


def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose cosine to ANY
    eval-set vector reaches DECON_COS — the embedding-space sibling of the
    n-gram `decontaminate` (paraphrased eval leakage that shingle overlap
    misses). Returns each contaminated corpus vector with its closest eval
    vector and similarity.

    Scale: the EVAL side broadcasts (benchmarks are small by nature; same
    broadcast rule as `decontaminate`), so the corpus scores in-row with
    no shuffle of the vectors; the per-corpus-vector max rides the same
    narrow projection. For eval sets beyond broadcast size, the sign-bit
    LSH bands of `embedding_neardup_lsh` are the candidate-generation
    path. Exact fixed-point cosine → bit-exact oracle.
    """
    from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    ev = emb.filter(F.col("vec_id") % DECON_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("e_vec")
    )
    corpus = emb.filter(F.col("vec_id") % DECON_EVAL_MOD != 0)
    scored = corpus.crossJoin(broadcast(ev)).select(
        "vec_id",
        "eval_id",
        cosine_similarity(F.col("embedding"), F.col("e_vec")).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("eval_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("cos") >= DECON_COS))
        .select("vec_id", F.col("eval_id").alias("closest_eval_id"), "cos")
        .orderBy("vec_id")
    )


QUERIES["semantic_decontaminate"] = semantic_decontaminate

ORACLES["semantic_decontaminate"] = f"""
    WITH ev AS (
        SELECT vec_id AS eval_id, embedding AS e_vec
        FROM embeddings WHERE vec_id % {DECON_EVAL_MOD} = 0),
    corpus AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {DECON_EVAL_MOD} <> 0),
    scored AS (
        SELECT vec_id, eval_id,
               {cosine_similarity_sql('embedding', 'e_vec')} AS cos
        FROM corpus CROSS JOIN ev),
    best AS (
        SELECT vec_id, eval_id AS closest_eval_id, cos
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, eval_id ASC) = 1)
    SELECT vec_id, closest_eval_id, cos
    FROM best WHERE cos >= {DECON_COS}
    ORDER BY vec_id
"""


IVF_SWEEP_PROBES = (1, 2, 4, 8)


def ivf_probe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning sweep: recall@k vs the exact answer for each candidate
    ``n_probe`` — the table an ANN operator reads before trading probe
    count (latency, candidate volume) against recall. Deterministic end to
    end (fixed-point cosine, id tie-breaks), so even the approximate sides
    carry an exact oracle.

    Scale: each probe setting is the standard IVF plan (broadcast
    centroids, candidate-only scoring); the recall join compares two
    k·|Q|-row frames — the sweep costs |probes| passes over the candidate
    sets, never over the corpus pairs.
    """
    exact = ann_brute_topk(spark, sf_dir).select("query_id", "vec_id").transform(materialize)
    k_times_q = exact.count()  # |Q|·k, bounded
    out = None
    for p in IVF_SWEEP_PROBES:
        approx = ann_ivf_topk(spark, sf_dir, n_probe=p).select("query_id", "vec_id")
        hits = approx.join(exact, ["query_id", "vec_id"]).count()
        row = spark.range(1).select(
            F.lit(p).cast("long").alias("n_probe"),
            F.lit(hits).cast("long").alias("n_hits"),
            F.lit(k_times_q).cast("long").alias("n_exact"),
            F.round(F.lit(hits) / F.lit(float(k_times_q)), 6).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_probe")


QUERIES["ivf_probe_recall_sweep"] = ivf_probe_recall_sweep


IVF_AUTO_RECALL_TARGET = 0.95


def ann_ivf_autotuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuning IVF ANN (VERDICT r6 next-round #8): run the
    recall-vs-n_probe sweep, pick the SMALLEST probe count whose recall
    meets IVF_AUTO_RECALL_TARGET (max probe if none does), and serve
    ``ann_ivf_topk`` at that setting — the latency/recall trade-off the
    sweep previously only reported is now applied. The sweep result is a
    |IVF_SWEEP_PROBES|-row frame, so the pick is a bounded driver-side
    argmin (the same index-lookup shape as the centroid probe).
    Deterministic end to end → exact oracle: DuckDB recomputes the same
    recalls, the same pick, and the picked arm's top-k."""
    rows = ivf_probe_recall_sweep(spark, sf_dir).select(
        "n_probe", "recall"
    ).collect()  # one row per candidate probe setting, bounded
    eligible = [r["n_probe"] for r in rows if r["recall"] >= IVF_AUTO_RECALL_TARGET]
    picked = int(min(eligible) if eligible else max(r["n_probe"] for r in rows))
    return ann_ivf_topk(spark, sf_dir, n_probe=picked).withColumn(
        "picked_n_probe", F.lit(picked).cast("long")
    )


QUERIES["ann_ivf_autotuned"] = ann_ivf_autotuned


def _ivf_sweep_oracle() -> str:
    arms = []
    for p in IVF_SWEEP_PROBES:
        arms.append(f"""
        SELECT CAST({p} AS BIGINT) AS n_probe,
               CAST(count(*) AS BIGINT) AS n_hits,
               (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
               round(count(*) / CAST((SELECT count(*) FROM exact) AS DOUBLE), 6)
                   AS recall
        FROM ({_ivf_oracle_sql(n_probe=p)}) a
        JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
        """)
    return f"""
        WITH exact AS (
            SELECT query_id, vec_id FROM ({ORACLES["ann_brute_topk"]}))
        {" UNION ALL ".join(arms)}
        ORDER BY n_probe
    """


ORACLES["ivf_probe_recall_sweep"] = _ivf_sweep_oracle()


def _ivf_auto_oracle() -> str:
    recall_arms = []
    topk_arms = []
    for p in IVF_SWEEP_PROBES:
        recall_arms.append(f"""
        SELECT CAST({p} AS BIGINT) AS n_probe,
               round(count(*) / CAST((SELECT count(*) FROM exact) AS DOUBLE), 6)
                   AS recall
        FROM ({_ivf_oracle_sql(n_probe=p)}) a
        JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
        """)
        topk_arms.append(f"""
        SELECT CAST({p} AS BIGINT) AS arm_probe, query_id, vec_id,
               similarity, rk
        FROM ({_ivf_oracle_sql(n_probe=p)}) t
        """)
    return f"""
        WITH exact AS (
            SELECT query_id, vec_id FROM ({ORACLES["ann_brute_topk"]})),
        recalls AS ({" UNION ALL ".join(recall_arms)}),
        pick AS (
            SELECT coalesce(
                min(n_probe) FILTER (WHERE recall >= {IVF_AUTO_RECALL_TARGET}),
                max(n_probe)) AS p
            FROM recalls),
        arms AS ({" UNION ALL ".join(topk_arms)})
        SELECT query_id, vec_id, similarity, rk,
               (SELECT p FROM pick) AS picked_n_probe
        FROM arms WHERE arm_probe = (SELECT p FROM pick)
    """


ORACLES["ann_ivf_autotuned"] = _ivf_auto_oracle()
