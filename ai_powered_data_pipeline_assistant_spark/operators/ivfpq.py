"""IVF-PQ: coarse routing composed with residual product quantization.

Extension lineage: the reference's ANN index is pgvector ivfflat
(reference Supabase/knowledge_base-RAG.sql:31-33) — coarse lists only,
full-precision vectors inside each list. IVF-PQ is the published next rung
for the same workload at corpus scale (pgvector itself has no PQ; FAISS
``IVFx,PQy`` is the canonical implementation).

Jégou et al. 2011 §V ("IVFADC"): route every vector to its nearest coarse
centroid (the IVF step already in operators/vector.py), then product-
quantize the RESIDUAL x − c(x) — residuals concentrate near the origin, so
the same PQ code budget spends its resolution where the data actually is.
A query probes its ``n_probe`` nearest lists and scores ONLY those lists'
codes by ADC: per-(query, list) lookup tables over the residual
r_q = q − c_list, because for x in that list
``‖x − q‖² = ‖r_x − r_q‖²`` — both residuals are relative to the same
centroid. An exact re-rank over the shortlist's raw vectors recovers the
neighbors the shortlist contains (the standard production composition).

Why this is THE 100 TB shape (what the parts alone are not):
- IVF alone (`ann_ivf_topk`) prunes I/O — n_probe/n_lists of the corpus is
  scanned — but still does full-dimension float math per candidate.
- PQ alone (`pq_recall_audit`) shrinks candidate scoring to code lookups —
  a 32× narrower scan — but scans EVERY code.
- Composed, a query reads n_probe/n_lists of a codes column that is 32×
  smaller than the vectors: with 1000 lists / 8 probes at 100 TB, that is
  0.8% of 3 TB instead of 100 TB, and the scan stays JVM-side
  (element_at over literal LUTs inside whole-stage codegen, zero joins
  until the TakeOrdered).

Spark shapes (all reused from the audited parts):
- routing: `assign_lists` (vector.py) — broadcast centroids, one scan;
- residuals: one broadcast join + `zip_with` projection;
- PQ training: `_train_pq` (pq.py) on the residual column, with
  ``init_offset`` skipping the coarse-centroid ids (their residuals are
  identically zero);
- candidate scoring: codes ⋈ broadcast(per-(query, list) LUT literals),
  ADC = Σ_m element_at(lut[m], code_m);
- shortlist: `_per_query_topk` (vector.py) — salted two-phase grouped
  top-N, no per-query reducer funnel;
- re-rank: shortlist ⋈ raw vectors (k·rerank rows — bounded) + one plain
  per-query window.

Driver-check strategy (the pq.py pattern): corpus-scale results depend on
iterative float training → `ann_ivfpq_topk` is rows-only; exactness of the
COMPOSED pipeline (routing + residual encode + ADC + re-rank, one code
path) is pinned by `ivfpq_probe_audit` — the real engine over fixed
integer probes vs a pure-Python golden replica (integer vectors keep every
distributed mean exact; blob separation keeps routing margins ≫ rounding
grids) — and the retrieval claim by `ivfpq_recall_audit`'s literal bounds.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize
from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
    cosine_similarity,
)
from ai_powered_data_pipeline_assistant_spark.operators.pq import (
    PQ_ITERS,
    PQ_K,
    PQ_M,
    PQ_SUBDIM,
    PQEncoder,
    _train_pq,
    assign_codes,
)
from ai_powered_data_pipeline_assistant_spark.operators.vector import (
    _per_query_topk,
    _query_vectors,
    assign_lists,
    ivf_centroids,
)

IVFPQ_N_LISTS = 8
IVFPQ_N_PROBE = 2
IVFPQ_N_QUERIES = 5
IVFPQ_TOPK = 10
IVFPQ_RERANK = 50
# Floors for ivfpq_recall_audit, measured on the deterministic pipeline
# over the synthetic corpus (i.i.d. embeddings are the worst case for both
# stages: no cluster structure for the router, no correlation for PQ) and
# bounded with margin: recall@10 vs the TRUE global top-k measures 0.86 at
# sf0.001, ≥ 0.36 at sf0.01/sf0.1. Routing keeps n_probe/n_lists of the
# corpus, so recall compounds router coverage × ADC precision — the ~0.4
# router-coverage ceiling at sf0.1 is inherent to 8 first-vector centroids
# on i.i.d. data, not a quantization artifact (a production deployment
# k-means-trains the coarse centroids and raises n_lists/n_probe).
IVFPQ_RECALL_FLOOR = 0.15
IVFPQ_RERANK_FLOOR = 0.25


class ResidualRouter:
    """Route each vector to its nearest coarse list and attach the
    residual x − c(x): one broadcast-join scan, no shuffle of vectors.
    The routing cosine and the residual Columns are built once, at
    construction, and reused by every frame routed through this router
    (the IVF-PQ index keeps one with its cached sidecars)."""

    def __init__(self, centroids: DataFrame):
        self.centroids = centroids
        self.sim = cosine_similarity(F.col("embedding"), F.col("centroid"))
        self.residual = F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ).alias("embedding")

    def __call__(self, emb: DataFrame) -> DataFrame:
        assigned = assign_lists(
            emb.select("vec_id", "embedding"), "embedding", self.centroids,
            "list_id", 1, sim=self.sim,
        )
        return assigned.join(broadcast(self.centroids), "list_id").select(
            "vec_id",
            "list_id",
            F.col("embedding").alias("raw"),
            self.residual,
        )


def residual_frame(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Residuals of ``emb`` against ``centroids`` through a freshly built
    `ResidualRouter` (one-shot callers: training, reference encodes)."""
    return ResidualRouter(centroids)(emb)


def _build_index(
    emb: DataFrame,
    n_lists: int,
    m_count: int,
    subdim: int,
    k_codes: int,
    iters: int,
    train_sample: float | None = None,
):
    """Train the composed index. Returns (codes, cent_map, pq_cents,
    centroids): codes = (vec_id, list_id, raw, _c0.._c{m-1}) — the stored
    posting lists; cent_map = {list_id: coarse centroid} (n_lists·d floats
    — the broadcast-sized routing table every real deployment keeps in
    memory); pq_cents = the residual codebooks; centroids = the coarse
    routing frame (list_id, centroid) queries route against.
    ``train_sample`` (default $PQ_TRAIN_SAMPLE, default 1.0 — see
    `pq._train_pq`) trains the residual codebooks on a deterministic
    hash-sample; code ASSIGNMENT below always runs over the full corpus
    in one pass, so only the iterative training passes shrink."""
    centroids = ivf_centroids(emb, n_lists)
    cent_map = {
        int(r["list_id"]): [float(v) for v in r["centroid"]]
        for r in centroids.collect()
    }
    resid = residual_frame(emb, centroids).transform(materialize)
    pq_cents = _train_pq(
        resid, m_count, subdim, k_codes, iters, init_offset=n_lists,
        train_sample=train_sample,
    )
    coded = assign_codes(resid, pq_cents, subdim)
    codes = coded.select(
        "vec_id", "list_id", "raw", *[F.col(f"_c{m}") for m in range(m_count)]
    ).transform(materialize)
    return codes, cent_map, pq_cents, centroids


def _adc_luts(
    probe_pairs: list[tuple[int, int]],
    query_map: dict[int, list[float]],
    cent_map: dict[int, list[float]],
    pq_cents: list[list[list[float]]],
    m_count: int,
    subdim: int,
    k_codes: int,
) -> list[tuple[int, int, list[list[float]]]]:
    """Per-(query, probed list) ADC lookup tables over the query residual
    r_q = q − c_list. Driver-side by design: |Q|·n_probe·M·K doubles — the
    same bounded table an ivfflat/FAISS deployment computes per query —
    then inlined as broadcast literals so scoring is pure codegen."""
    rows = []
    for query_id, list_id in probe_pairs:
        q = query_map[query_id]
        c = cent_map[list_id]
        rq = [q[j] - c[j] for j in range(len(q))]
        lut = [
            [
                sum(
                    (rq[m * subdim + j] - pq_cents[m][code][j]) ** 2
                    for j in range(subdim)
                )
                for code in range(k_codes)
            ]
            for m in range(m_count)
        ]
        rows.append((query_id, list_id, lut))
    return rows


def _route_and_luts(
    spark: SparkSession,
    queries: DataFrame,
    centroids: DataFrame,
    cent_map: dict[int, list[float]],
    pq_cents: list[list[list[float]]],
    m_count: int,
    subdim: int,
    k_codes: int,
    n_probe: int,
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """Query routing + ADC LUT construction, shared verbatim by the
    logical path, the physical layout path, and the n_probe sweep so the
    probe stage cannot drift between them: route queries through the SAME
    `assign_lists` code as the data, then inline the per-(query, list)
    lookup tables as a broadcast-sized frame. Returns ``(lut_df,
    probe_pairs)`` — the routed (query, list) pairs ride along explicitly
    so pruning callers derive their literal probe set WITHOUT a second
    Spark job (they were previously smuggled as a dynamic attribute on the
    frame, which silently vanished on any transformation — ADVICE r8)."""
    probed = assign_lists(queries, "query_vec", centroids, "probe_list", n_probe)
    probe_pairs = sorted(
        (int(r["query_id"]), int(r["probe_list"]))
        for r in probed.select("query_id", "probe_list").collect()
    )
    query_map = {
        int(r["query_id"]): [float(v) for v in r["query_vec"]]
        for r in queries.collect()
    }
    lut_rows = _adc_luts(
        probe_pairs, query_map, cent_map, pq_cents, m_count, subdim, k_codes
    )
    lut_df = spark.createDataFrame(
        lut_rows, "query_id long, probe_list long, lut array<array<double>>"
    )
    return lut_df, probe_pairs


def _ivfpq_search(
    spark: SparkSession,
    emb: DataFrame,
    queries: DataFrame,
    *,
    n_lists: int,
    n_probe: int,
    m_count: int,
    subdim: int,
    k_codes: int,
    iters: int,
    k: int,
    rerank: int,
):
    """The full composed engine. Returns (final, codes, candidates,
    shortlist): final = (query_id, rk, vec_id, adc_u, exact_u) —
    post-re-rank top-k with int-scaled ADC and exact distances; candidates
    is the pre-top-k scored frame (the recall audit counts it to pin that
    routing pruned); shortlist is the ADC top-``rerank`` per query."""
    codes, cent_map, pq_cents, centroids = _build_index(
        emb, n_lists, m_count, subdim, k_codes, iters
    )
    lut_df, _probe_pairs = _route_and_luts(
        spark, queries, centroids, cent_map, pq_cents,
        m_count, subdim, k_codes, n_probe,
    )
    final, candidates, shortlist = _score_and_rerank(
        codes, codes.select("vec_id", "raw"), queries, lut_df, m_count, k, rerank
    )
    return final, codes, candidates, shortlist


def _score_and_rerank(
    coded: DataFrame,
    raw_df: DataFrame,
    queries: DataFrame,
    lut_df: DataFrame,
    m_count: int,
    k: int,
    rerank: int,
):
    """ADC scoring + salted shortlist + exact re-rank — shared verbatim by
    the logical path (`_ivfpq_search`) and the physical layout path
    (`ann_ivfpq_pruned`) so the two can never drift. ``coded`` needs
    (vec_id, list_id, _c0.._c{M-1}); ``raw_df`` provides (vec_id, raw) for
    the re-rank fetch. Returns (final, candidates, shortlist)."""
    # ADC: only probed lists' codes are scored; LUT lookups, no float
    # vector math, no join fan-out beyond the broadcast.
    adc = None
    for m in range(m_count):
        term = F.element_at(F.element_at(F.col("lut"), m + 1), F.col(f"_c{m}") + 1)
        adc = term if adc is None else adc + term
    candidates = coded.join(
        broadcast(lut_df), coded.list_id == lut_df.probe_list
    ).select("query_id", "vec_id", (-adc).alias("similarity"))
    shortlist = _per_query_topk(candidates, rerank).select(
        "query_id", "vec_id", (-F.col("similarity")).alias("adc_d")
    )
    # Exact re-rank: shortlist ⋈ raw vectors (|Q|·rerank rows) — the only
    # stage that touches full-dimension floats at query time.
    reranked = (
        shortlist.join(raw_df, "vec_id")
        .join(broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            "adc_d",
            F.aggregate(
                F.zip_with(
                    F.col("raw"),
                    F.col("query_vec"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("exact_d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_d", "vec_id")
    final = (
        reranked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "rk",
            "vec_id",
            F.floor(F.col("adc_d") * 1e4).cast("long").alias("adc_u"),
            F.floor(F.col("exact_d") * 1e4).cast("long").alias("exact_u"),
        )
        .orderBy("query_id", "rk")
    )
    return final, candidates, shortlist


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale IVF-PQ ANN: top-``IVFPQ_TOPK`` per query for the first
    ``IVFPQ_N_QUERIES`` stored vectors. Rows-only (iterative float
    training); the composed semantics are hash-pinned by
    `ivfpq_probe_audit` and the retrieval quality by
    `ivfpq_recall_audit`."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
    final, _, _, _ = _ivfpq_search(
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
        rerank=IVFPQ_RERANK,
    )
    return final


def _exact_global_topk(
    emb: DataFrame, queries: DataFrame, k: int
) -> dict[int, set]:
    """TRUE global exact top-k per query over the raw vectors, as ONE
    distributed job (broadcast query batch + the salted grouped top-k —
    the `ann_brute_topk` shape, not one scan per query). The distance fold
    is the identical expression the engine's re-rank stage uses, so the
    oracle and the engine agree bit-for-bit on ties. Returns
    {query_id: top-k vec_id set} — |Q|·k rows collected."""
    scored = emb.join(broadcast(queries)).select(
        "query_id",
        "vec_id",
        (
            -F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("query_vec"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("similarity"),
    )
    out: dict[int, set] = {}
    for r in _per_query_topk(scored, k).collect():
        out.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    return out


class IvfpqArtifacts(NamedTuple):
    """A persisted index's broadcast-sized sidecars plus its encoder."""

    centroids: DataFrame  # coarse routing frame (list_id, centroid)
    cent_map: dict[int, list[float]]  # its driver-side map
    pq_cents: list[list[list[float]]]  # residual codebooks [m][code]
    route: ResidualRouter  # list routing + residual, against `centroids`
    encode: PQEncoder  # residual → codes, against `pq_cents`


_ARTIFACT_CACHE: dict[tuple, IvfpqArtifacts] = {}
# FIFO cap: the maintenance audits churn one-shot mkdtemp layouts whose
# keys never recur, so same-path eviction alone cannot bound the cache; a
# deployment serves a handful of long-lived indexes, far under this.
_ARTIFACT_CACHE_MAX = 8


def read_ivfpq_artifacts(spark: SparkSession, layout: str) -> IvfpqArtifacts:
    """Load the broadcast-sized index sidecars from a persisted IVF-PQ
    layout (sources/layout.write_ivfpq_layout): the coarse routing frame,
    its driver map, and the residual PQ codebooks. Parquet stores doubles
    bit-exact, so artifacts read back equal the training-time floats —
    which is what lets the incremental-maintenance parity compare an
    appended index against a one-pass re-encode exactly.

    The entry also holds the index's ENCODER: a `ResidualRouter` over the
    coarse frame and a `PQEncoder` over the codebooks, i.e. the routing
    cosine, residual, per-subspace distance-array and argmin Columns. They
    depend only on the sidecars, so every append against the layout
    reuses the same Column objects instead of rebuilding the codebook
    literal (~6k JVM round trips) per batch; the codes are the ones a
    fresh `assign_codes(residual_frame(...))` computes, because the
    expressions are the same.

    Process-cached per (session, layout path, sidecar mtimes): the
    sidecars are write-once index headers (n_lists + M·K rows) that every
    query batch needs — a deployment loads them once per session, like
    FAISS reading an index header, not twice per query. A rebuilt layout
    (new sidecar mtime) invalidates the entry, encoder included; the
    applicationId in the key keeps a restarted session from being handed
    frames or Columns bound to a dead session; same-path eviction keeps
    one entry per layout path and a FIFO cap bounds the churned one-shot
    audit layouts. Sidecar stamps are the
    max FILE mtime under each sidecar dir via the Hadoop FileSystem API —
    an os.stat stamp reads -1 forever on s3a://hdfs:// paths, and a
    DIRECTORY FileStatus mtime is synthetic 0 on S3A — either would
    freeze the cache across `rebuild_ivfpq_layout` swaps and serve stale
    centroids/codebooks against retrained codes. Cheap: the sidecars hold
    a handful of files (n_lists rows + M·K rows)."""
    from ai_powered_data_pipeline_assistant_spark import hadoop_fs

    key = (
        spark.sparkContext.applicationId,
        layout,
        hadoop_fs.latest_mtime(spark, f"{layout}/coarse"),
        hadoop_fs.latest_mtime(spark, f"{layout}/codebooks"),
    )
    hit = _ARTIFACT_CACHE.get(key)
    if hit is not None:
        return hit
    for stale in [k for k in _ARTIFACT_CACHE if k[1] == layout]:
        del _ARTIFACT_CACHE[stale]
    while len(_ARTIFACT_CACHE) >= _ARTIFACT_CACHE_MAX:
        del _ARTIFACT_CACHE[next(iter(_ARTIFACT_CACHE))]
    coarse = spark.read.parquet(f"{layout}/coarse")
    centroids = coarse.select("list_id", "centroid")
    cent_map = {
        int(r["list_id"]): [float(v) for v in r["centroid"]]
        for r in coarse.collect()
    }
    pq_cents: list[list[list[float]]] = [
        [None] * PQ_K for _ in range(PQ_M)  # type: ignore[list-item]
    ]
    for r in spark.read.parquet(f"{layout}/codebooks").collect():
        pq_cents[int(r["m"])][int(r["code"])] = [float(v) for v in r["centroid"]]
    out = IvfpqArtifacts(
        centroids, cent_map, pq_cents,
        ResidualRouter(centroids), PQEncoder(pq_cents, PQ_SUBDIM),
    )
    _ARTIFACT_CACHE[key] = out
    return out


def ann_ivfpq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over the PHYSICAL index layout (the ann_ivf_pruned analogue,
    vector.py:248): codes stored ``partitionBy(list_id)`` with raw vectors
    left in the base table, coarse centroids + PQ codebooks read back as
    broadcast-sized sidecars (sources/layout.write_ivfpq_layout).

    The probe becomes a literal ``list_id IN (...)`` predicate →
    PartitionFilters on the codes scan: at 100 TB with 1000 lists and 8
    probes, a query reads 0.8% of a table that is itself 32× narrower than
    the vectors — and the re-rank fetches its |Q|·rerank raw rows from the
    base table by vec_id instead of scanning it. Results equal
    `ann_ivfpq_topk` when the index build and the logical run share a
    Spark session/partitioning (pinned by tests/test_ivfpq.py, which
    rebuilds the layout in-session): training means over float residuals
    are deterministic for a fixed partitioning but, like every float
    trainer in the repo, not across arbitrary repartitionings — which is
    why both corpus queries are rows-only and production consumers read
    the persisted index (built once) rather than a retrained twin."""
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        ensure_ivfpq_layout,
    )

    layout = ensure_ivfpq_layout(spark, sf_dir)
    centroids, cent_map, pq_cents, _, _ = read_ivfpq_artifacts(spark, layout)
    queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
    lut_df, probe_pairs = _route_and_luts(
        spark, queries, centroids, cent_map, pq_cents,
        PQ_M, PQ_SUBDIM, PQ_K, IVFPQ_N_PROBE,
    )
    # Literal probe list → PartitionFilters: only the probed lists' files
    # are ever opened. The ≤ |Q|·n_probe pairs were already collected by
    # the routing step — no extra Spark job to re-derive them.
    probe_lists = sorted({lid for _q, lid in probe_pairs})
    coded = spark.read.parquet(f"{layout}/codes").filter(
        F.col("list_id").isin(probe_lists)
    )
    raw_df = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("raw")
    )
    final, _, _ = _score_and_rerank(
        coded, raw_df, queries, lut_df, PQ_M, IVFPQ_TOPK, IVFPQ_RERANK
    )
    return final


def ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality + scale-shape pin for the composed pipeline, one
    boolean row (the pq_recall_audit pattern):

    - ``recall_ok``: post-re-rank recall@k vs the TRUE global exact top-k
      ≥ IVFPQ_RECALL_FLOOR (routing loss × quantization loss included);
    - ``rerank_ok``: shortlist recall ≥ IVFPQ_RERANK_FLOOR;
    - ``rerank_no_worse``: shortlist ⊇ final — re-rank can only help;
    - ``self_hit_all``: every query (a stored vector) comes back at rank 1
      with exact_u = 0 — routing sends q to its own list and re-rank
      restores identity regardless of code collisions;
    - ``routing_pruned``: candidate rows scored < |Q|·corpus — the audit
      PROVES the scan pruning claim instead of asserting it in prose.
    """
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
    final, codes, candidates, shortlist = _ivfpq_search(
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
        rerank=IVFPQ_RERANK,
    )
    got = final.collect()
    shortlist_rows = shortlist.select("query_id", "vec_id").collect()
    n_corpus = emb.count()
    cand_rows = candidates.count()
    exact_by_q = _exact_global_topk(emb, queries, IVFPQ_TOPK)
    recalls: list[float] = []
    short_recalls: list[float] = []
    self_ok = True
    by_q_final: dict[int, list] = {}
    for r in got:
        by_q_final.setdefault(int(r["query_id"]), []).append(r)
    by_q_short: dict[int, set] = {}
    for r in shortlist_rows:
        by_q_short.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    for qid in sorted(exact_by_q):
        exact_ids = exact_by_q[qid]
        final_rows = sorted(by_q_final.get(qid, []), key=lambda r: r["rk"])
        final_ids = {int(r["vec_id"]) for r in final_rows}
        recalls.append(len(exact_ids & final_ids) / IVFPQ_TOPK)
        short_recalls.append(
            len(exact_ids & by_q_short.get(qid, set())) / IVFPQ_TOPK
        )
        self_ok = self_ok and bool(
            final_rows
            and int(final_rows[0]["vec_id"]) == qid
            and int(final_rows[0]["exact_u"]) == 0
        )
    mean_recall = sum(recalls) / len(recalls)
    mean_short = sum(short_recalls) / len(short_recalls)
    all_final_in_short = all(
        int(r["vec_id"]) in by_q_short.get(int(r["query_id"]), set()) for r in got
    )
    return spark.createDataFrame(
        [
            (
                len(recalls),
                IVFPQ_TOPK,
                mean_recall >= IVFPQ_RECALL_FLOOR,
                mean_short >= IVFPQ_RERANK_FLOOR,
                mean_short >= mean_recall and all_final_in_short,
                self_ok,
                cand_rows < len(recalls) * n_corpus,
            )
        ],
        "n_queries long, k long, recall_ok boolean, rerank_ok boolean, "
        "rerank_no_worse boolean, self_hit_all boolean, routing_pruned boolean",
    )


# --- incremental index maintenance (append / delete on the layout) ------

IVFPQ_DELTA_MOD = 4  # arrivals slice for the append parity: vec_id % 4 == 0
IVFPQ_DELETE_MOD = 7  # victims slice for the delete audit: vec_id % 7 == 3


def _codes_partition_files(codes_dir: str) -> dict[int, list[str]]:
    """{list_id: sorted parquet file names} snapshot of the codes layout —
    the evidence for the partition-local maintenance claims."""
    import os

    out: dict[int, list[str]] = {}
    for d in os.listdir(codes_dir):
        if d.startswith("list_id="):
            out[int(d.split("=", 1)[1])] = sorted(
                f
                for f in os.listdir(os.path.join(codes_dir, d))
                if f.endswith(".parquet")
            )
    return out


def _read_codes(spark: SparkSession, codes_dir: str) -> DataFrame:
    """Codes read-back normalized to the builder's schema (the partition
    column is type-inferred int from directory names; the logical frames
    carry it long)."""
    return spark.read.parquet(codes_dir).select(
        "vec_id",
        F.col("list_id").cast("long").alias("list_id"),
        *[F.col(f"_c{m}") for m in range(PQ_M)],
    )


def ivfpq_incremental_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE parity — the daily-crawl embedding ingest: build
    the physical IVF-PQ layout on the base corpus (vec_id % 4 != 0), then
    `append_ivfpq_layout` the arrivals (vec_id % 4 == 0) — routed through
    the STORED coarse centroids, residual-encoded with the STORED
    codebooks, appended to their lists' partitions only. Pins, one row:

    - ``codes_mismatches`` = 0: the appended index equals a ONE-PASS
      re-encode of base ∪ delta against the same stored artifacts — exact,
      because codebooks are fixed after training (the IVFADC maintenance
      discipline) and parquet roundtrips doubles bit-for-bit;
    - ``append_partition_local``: partitions outside the arrivals' routed
      lists kept their exact file sets — maintenance cost is O(batch),
      the existing index is never rewritten;
    - ``query_mismatches`` = 0: the pruned probe over the APPENDED
      physical index returns row-for-row the logical search over the
      one-pass codes (queries include appended vectors: vec_ids 0 and 4
      are in the delta slice, so an arrival must find itself at rank 1).
    """
    import os
    import shutil
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
        write_ivfpq_layout_for,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % IVFPQ_DELTA_MOD != 0)
    delta = emb.filter(F.col("vec_id") % IVFPQ_DELTA_MOD == 0)
    tmp = tempfile.mkdtemp(prefix="ivfpq_incr_")
    try:
        write_ivfpq_layout_for(spark, base, tmp)
        codes_dir = os.path.join(tmp, "codes")
        before = _codes_partition_files(codes_dir)
        routed = set(append_ivfpq_layout(spark, tmp, delta))
        after = _codes_partition_files(codes_dir)
        untouched_ok = all(
            files == after.get(lid)
            for lid, files in before.items()
            if lid not in routed
        ) and all(
            set(before.get(lid, [])) < set(after.get(lid, []))
            for lid in routed
        )
        centroids, cent_map, pq_cents, _, _ = read_ivfpq_artifacts(spark, tmp)
        ref = assign_codes(
            residual_frame(emb, centroids), pq_cents, PQ_SUBDIM
        ).select("vec_id", "list_id", *[F.col(f"_c{m}") for m in range(PQ_M)])
        ref = materialize(ref)
        inc = _read_codes(spark, codes_dir)
        codes_mm = inc.exceptAll(ref).count() + ref.exceptAll(inc).count()

        queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
        lut_df, probe_pairs = _route_and_luts(
            spark, queries, centroids, cent_map, pq_cents,
            PQ_M, PQ_SUBDIM, PQ_K, IVFPQ_N_PROBE,
        )
        probe_lists = sorted({lid for _q, lid in probe_pairs})
        raw_df = emb.select("vec_id", F.col("embedding").alias("raw"))
        phys = _read_codes(spark, codes_dir).filter(
            F.col("list_id").isin(probe_lists)
        )
        final_p, _, _ = _score_and_rerank(
            phys, raw_df, queries, lut_df, PQ_M, IVFPQ_TOPK, IVFPQ_RERANK
        )
        final_l, _, _ = _score_and_rerank(
            ref, raw_df, queries, lut_df, PQ_M, IVFPQ_TOPK, IVFPQ_RERANK
        )
        q_mm = (
            final_p.exceptAll(final_l).count()
            + final_l.exceptAll(final_p).count()
        )
        n_base = base.count()
        n_delta = delta.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_base,
                n_delta,
                codes_mm,
                codes_mm == 0,
                untouched_ok,
                q_mm,
                q_mm == 0,
            )
        ],
        "n_base long, n_delta long, codes_mismatches long, "
        "codes_match boolean, append_partition_local boolean, "
        "query_mismatches long, query_match boolean",
    )


def ivfpq_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE delete: build the full physical layout, then
    `delete_from_ivfpq_layout` the victims (vec_id % 7 == 3) — a
    partition-local dynamic-overwrite rewrite of ONLY the lists that hold
    a victim. Pins, one row: victim rows are gone; surviving rows are
    byte-identical to the pre-delete codes minus victims (exceptAll both
    ways = 0); partitions without victims kept their exact files (no
    full-index rewrite); and the affected-list count is bounded by
    n_lists. Counts (before/deleted/after) are SQL-exact."""
    import os
    import shutil
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        delete_from_ivfpq_layout,
        write_ivfpq_layout_for,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    victims = sorted(
        int(r["vec_id"])
        for r in emb.filter(F.col("vec_id") % IVFPQ_DELETE_MOD == 3)
        .select("vec_id")
        .collect()
    )
    tmp = tempfile.mkdtemp(prefix="ivfpq_del_")
    try:
        write_ivfpq_layout_for(spark, emb, tmp)
        codes_dir = os.path.join(tmp, "codes")
        # barrier: the snapshot is re-read AFTER the delete rewrites these
        # same parquet files — a frame that kept its lineage would
        # recompute n_before post-delete and compare post-state to itself
        # (silent false pass). Same barrier delete_from_ivfpq_layout uses
        # for its own read-then-overwrite (ADVICE r8).
        pre = materialize(
            _read_codes(spark, codes_dir), eager=True
        )
        files_pre = _codes_partition_files(codes_dir)
        affected = set(delete_from_ivfpq_layout(spark, tmp, victims))
        post = _read_codes(spark, codes_dir)
        files_post = _codes_partition_files(codes_dir)
        n_before = pre.count()
        n_after = post.count()
        victims_left = post.filter(F.col("vec_id").isin(victims)).count()
        want = pre.filter(~F.col("vec_id").isin(victims))
        surv_mm = (
            post.exceptAll(want).count() + want.exceptAll(post).count()
        )
        untouched_ok = all(
            files == files_post.get(lid)
            for lid, files in files_pre.items()
            if lid not in affected
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_before,
                len(victims),
                n_after,
                victims_left == 0,
                surv_mm == 0,
                untouched_ok,
                len(affected) <= IVFPQ_N_LISTS,
            )
        ],
        "n_before long, n_deleted long, n_after long, victims_gone boolean, "
        "survivors_intact boolean, untouched_partitions_intact boolean, "
        "delete_partition_local boolean",
    )


# Drift audit: appended near-copies per heavy-list member, the synthetic
# skew that models a crawl whose new content clusters (pgvector's "ivfflat
# lists=100 going stale as the KB grows" — reference
# Supabase/knowledge_base-RAG.sql:31-33; FAISS re-trains on drift).
IVFPQ_DRIFT_COPIES = 3
IVFPQ_DRIFT_ID_OFFSET = 10_000_000  # appended ids = vec_id + k·offset
# Rebuild when the list-imbalance factor (max list / mean list) grows to
# ≥ 1.5× its at-train value — compared in exact integer cross-multiplied
# form (×10) so Spark and the SQL oracle decide identically (TUNING.md
# "IVF-PQ drift / rebuild decision").
IVFPQ_REBUILD_RATIO_X10 = 15


def ivfpq_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE decision: WHEN to retrain. Appends (without
    retraining — the FAISS add() discipline) eventually skew the coarse
    lists and stale the codebooks; this audit executes the drift scenario
    and the rebuild decision end to end, one row:

    1. build the physical layout on the full corpus; record per-list
       sizes (max_before, n_base);
    2. append ``IVFPQ_DRIFT_COPIES`` id-shifted copies of every member of
       the HEAVIEST list — a crawl whose arrivals cluster onto one region
       routes exactly like this, and duplicates make the routing
       deterministic (same vector → same stored-centroid argmax);
    3. re-measure: ``append_routed_heavy`` pins that ONLY the heavy list
       grew and by exactly copies×max_before (the append encoded against
       STORED artifacts, no rerouting drift); ``dup_codes_match`` pins
       that appended duplicates carry byte-identical codes to their
       originals (stale codebooks reused exactly);
    4. decide: ``rebuild_recommended`` is the imbalance-drift rule —
       imbalance_after ≥ (IVFPQ_REBUILD_RATIO_X10/10) × imbalance_before,
       evaluated in exact integer cross-multiplication so the DuckDB
       oracle recomputes the same decision from the same routing CTE (not
       a pinned literal). The empirical quantization-error tier (stale vs
       freshly-retrained codebooks) lives in tests/test_ivfpq.py — float
       k-means outcomes are not oracle territory.

    Scale: the audit is index-build-dominated (the harness), but the
    decision inputs it models are O(n_lists) catalog statistics a
    deployment reads from list sizes alone — no corpus scan to decide."""
    import os
    import shutil
    import tempfile

    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        append_ivfpq_layout,
        write_ivfpq_layout_for,
    )

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    code_cols = [f"_c{m}" for m in range(PQ_M)]
    tmp = tempfile.mkdtemp(prefix="ivfpq_drift_")
    try:
        write_ivfpq_layout_for(spark, emb, tmp)
        codes_dir = os.path.join(tmp, "codes")
        # barrier: re-read after the append adds files to the same dirs
        pre = materialize(
            _read_codes(spark, codes_dir), eager=True
        )
        sizes = {
            int(r["list_id"]): int(r["n"])
            for r in pre.groupBy("list_id").agg(F.count("*").alias("n")).collect()
        }  # ≤ n_lists rows
        n_base = sum(sizes.values())
        max_before = max(sizes.values())
        heavy = min(lid for lid, n in sizes.items() if n == max_before)

        members = emb.join(
            pre.filter(F.col("list_id") == heavy).select("vec_id"),
            "vec_id",
            "left_semi",
        )
        delta = None
        for c in range(1, IVFPQ_DRIFT_COPIES + 1):
            shifted = members.select(
                (F.col("vec_id") + c * IVFPQ_DRIFT_ID_OFFSET).alias("vec_id"),
                "embedding",
            )
            delta = shifted if delta is None else delta.unionByName(shifted)
        append_ivfpq_layout(spark, tmp, delta)

        post = _read_codes(spark, codes_dir)
        post_sizes = {
            int(r["list_id"]): int(r["n"])
            for r in post.groupBy("list_id").agg(F.count("*").alias("n")).collect()
        }
        n_after = sum(post_sizes.values())
        n_appended = n_after - n_base
        max_after = max(post_sizes.values())
        routed_heavy = (
            post_sizes[heavy] == (1 + IVFPQ_DRIFT_COPIES) * max_before
            and all(
                post_sizes.get(lid) == n
                for lid, n in sizes.items()
                if lid != heavy
            )
            and n_appended == IVFPQ_DRIFT_COPIES * max_before
        )
        orig = pre.filter(F.col("list_id") == heavy).select(
            "vec_id", "list_id", *code_cols
        )
        dup = post.filter(
            F.col("vec_id") >= IVFPQ_DRIFT_ID_OFFSET
        ).select(
            (F.col("vec_id") % IVFPQ_DRIFT_ID_OFFSET).alias("vec_id"),
            "list_id",
            *code_cols,
        )
        dup_d = dup.distinct()
        dup_match = (
            dup.count() == IVFPQ_DRIFT_COPIES * max_before
            and dup_d.exceptAll(orig).count() + orig.exceptAll(dup_d).count()
            == 0
        )
        # imbalance drift in exact integers: max_after/n_after ≥
        # ratio × max_before/n_base  ⇔  10·max_after·n_base ≥
        # ratio_x10·max_before·n_after (n_lists cancels)
        rebuild = (
            10 * max_after * n_base
            >= IVFPQ_REBUILD_RATIO_X10 * max_before * n_after
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                n_base,
                n_appended,
                max_before,
                max_after,
                routed_heavy,
                dup_match,
                rebuild,
            )
        ],
        "n_base long, n_appended long, max_before long, max_after long, "
        "append_routed_heavy boolean, dup_codes_match boolean, "
        "rebuild_recommended boolean",
    )


IVFPQ_SWEEP_PROBES = (1, 2, 4, 8)


def _nprobe_sweep(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, int, bool, bool]], list[float]]:
    """Shared sweep body for `ivfpq_nprobe_recall_audit` (driver-pinned
    invariants) and the pytest empirical-recall check: build the index
    ONCE, vary only the probe width. Returns (rows, recalls) where rows =
    [(n_probe, candidates, probes_nested, floor_ok)] and recalls is the
    per-n_probe post-re-rank recall@k — EMPIRICAL, deliberately not in the
    driver row (see the audit docstring)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    queries = _query_vectors(spark, sf_dir, IVFPQ_N_QUERIES)
    codes, cent_map, pq_cents, centroids = _build_index(
        emb, IVFPQ_N_LISTS, PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS
    )
    exact_ids = _exact_global_topk(emb, queries, IVFPQ_TOPK)
    rows: list[tuple[int, int, bool, bool]] = []
    recalls: list[float] = []
    prev_probe_sets: dict[int, set[int]] | None = None
    for n_probe in IVFPQ_SWEEP_PROBES:
        lut_df, _probe_pairs = _route_and_luts(
            spark, queries, centroids, cent_map, pq_cents,
            PQ_M, PQ_SUBDIM, PQ_K, n_probe,
        )
        # |Q|·n_probe rows — the routing table, already driver-sized
        probe_sets: dict[int, set[int]] = {}
        for r in lut_df.select("query_id", "probe_list").collect():
            probe_sets.setdefault(int(r["query_id"]), set()).add(
                int(r["probe_list"])
            )
        nested = prev_probe_sets is None or all(
            prev_probe_sets.get(q, set()) <= probe_sets.get(q, set())
            for q in prev_probe_sets
        )
        final, candidates, _ = _score_and_rerank(
            codes,
            codes.select("vec_id", "raw"),
            queries,
            lut_df,
            PQ_M,
            IVFPQ_TOPK,
            IVFPQ_RERANK,
        )
        by_q: dict[int, set] = {}
        for r in final.collect():
            by_q.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        recall = sum(
            len(exact_ids[qid] & by_q.get(qid, set())) / IVFPQ_TOPK
            for qid in exact_ids
        ) / len(exact_ids)
        rows.append(
            (
                n_probe,
                int(candidates.count()),
                nested,
                n_probe < IVFPQ_N_LISTS or recall >= IVFPQ_RERANK_FLOOR,
            )
        )
        recalls.append(recall)
        prev_probe_sets = probe_sets
    return rows, recalls


def ivfpq_nprobe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n_probe latency/recall trade-off for the COMPOSED engine (the
    `ivf_probe_recall_sweep` / `ann_ivf_autotuned` story, vector.py): build
    the index ONCE, vary only the probe width, and pin the facts a
    deployment tunes against, one row per n_probe:

    - ``candidates``: rows ADC-scored — the query-cost axis, growing
      ~linearly with n_probe (n_probe/n_lists of the corpus); the routing
      is fixed-point deterministic, so the oracle recomputes this count
      EXACTLY in SQL (the `_ivf_oracle_sql` assignment/probe CTEs);
    - ``probes_nested``: each query's probed-list set at this n_probe is a
      SUPERSET of its set at the previous (smaller) n_probe. Unlike
      post-re-rank recall — which is NOT guaranteed monotone in n_probe (a
      wider probe set can push true neighbors out of the fixed-size ADC
      shortlist) — nesting is a real invariant: `assign_lists` ranks lists
      by fixed-point similarity with a deterministic tie-break and keeps
      the top-n_probe prefix, so probe sets are nested by construction,
      and with the assignment fixed the candidate set is nested too. The
      empirical recall curve lives in pytest (test_ivfpq.py), where a
      fixture change surfaces as a visible test failure instead of a
      driver flake;
    - ``floor_ok``: full-probe (n_probe = n_lists) recall ≥
      IVFPQ_RERANK_FLOOR — with routing loss gone, the composed engine
      must be at least as good as the PQ+re-rank path it embeds.
    """
    rows, _recalls = _nprobe_sweep(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "n_probe int, candidates long, probes_nested boolean, "
        "floor_ok boolean",
    ).orderBy("n_probe")


# --- probe audit: the composed engine on fixed integer vectors ----------

IVFPQ_PROBE_N = 24
IVFPQ_PROBE_DIM = 8
IVFPQ_PROBE_LISTS = 3
IVFPQ_PROBE_PROBE = 2
IVFPQ_PROBE_M = 2
IVFPQ_PROBE_SUBDIM = 4
IVFPQ_PROBE_K = 3
IVFPQ_PROBE_ITERS = 2
IVFPQ_PROBE_QUERIES = 3
IVFPQ_PROBE_TOPK = 3
IVFPQ_PROBE_RERANK = 6

# Mutually orthogonal blob bases: routing margins are ~1e-1 in cosine,
# so the fixed-point rounding grid (1e-6) can never flip an assignment —
# the golden replica's routing is therefore decidable without replicating
# Java BigDecimal rounding bit-for-bit.
_PROBE_BASES = (
    (20, 20, 20, 20, 20, 20, 20, 20),
    (20, -20, 20, -20, 20, -20, 20, -20),
    (-20, -20, 20, 20, -20, -20, 20, 20),
)


def _ivfpq_probe_rows() -> list[tuple[int, list[float]]]:
    """24 integer vectors, dim 8; vector i sits on blob ``i % 3`` with
    deterministic jitter in [-2, 2]. Integer components keep every
    distributed PQ mean exact (the pq_probe_audit trick); orthogonal blob
    bases keep every routing decision far from rounding grids."""
    rows = []
    for i in range(IVFPQ_PROBE_N):
        base = _PROBE_BASES[i % 3]
        vec = [
            float(base[j] + ((i * 7 + j * 3) % 5) - 2)
            for j in range(IVFPQ_PROBE_DIM)
        ]
        rows.append((i, vec))
    return rows


def ivfpq_probe_audit(
    spark: SparkSession, sf_dir: str, n_partitions: int = 3
) -> DataFrame:
    """Driver-hashable pin of the COMPOSED engine: run the real pipeline
    (coarse routing → residual PQ training → ADC over probed lists →
    salted shortlist → exact re-rank) over fixed integer probes and emit
    the final (query_id, rk, vec_id) with int-scaled ADC and exact
    distances. The oracle carries goldens from a pure-Python replica of
    the same IEEE operations in the same order. ``n_partitions`` exists so
    the pytest can prove partitioning-invariance (integer vectors make the
    distributed means order-free); the registry entry uses the default."""
    emb = spark.createDataFrame(
        _ivfpq_probe_rows(), "vec_id long, embedding array<double>"
    ).repartition(n_partitions)
    queries = emb.filter(F.col("vec_id") < IVFPQ_PROBE_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    final, _, _, _ = _ivfpq_search(
        spark,
        emb,
        queries,
        n_lists=IVFPQ_PROBE_LISTS,
        n_probe=IVFPQ_PROBE_PROBE,
        m_count=IVFPQ_PROBE_M,
        subdim=IVFPQ_PROBE_SUBDIM,
        k_codes=IVFPQ_PROBE_K,
        iters=IVFPQ_PROBE_ITERS,
        k=IVFPQ_PROBE_TOPK,
        rerank=IVFPQ_PROBE_RERANK,
    )
    return final


def _ivfpq_probe_golden() -> list[tuple[int, int, int, int, int]]:
    """Sequential replica of the composed engine over the probe rows.
    Float ops mirror the Spark expressions' order exactly: left folds for
    distances, Σ_m left-to-right for ADC, integer-grid fixed-point cosine
    for routing (products are integral, so rounding mode is moot; blob
    margins keep the 6-decimal rounding of the similarity irrelevant)."""
    rows = _ivfpq_probe_rows()
    x = {i: v for i, v in rows}
    n_lists = IVFPQ_PROBE_LISTS
    m_count, subdim, k_codes = IVFPQ_PROBE_M, IVFPQ_PROBE_SUBDIM, IVFPQ_PROBE_K

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(int(round(ai * bi * 1e12)) for ai, bi in zip(a, b))
        na = sum(int(round(ai * ai * 1e12)) for ai in a)
        nb = sum(int(round(bi * bi * 1e12)) for bi in b)
        return dot / math.sqrt(float(na) * float(nb))

    cents = {lid: x[lid] for lid in range(n_lists)}

    def route(v: list[float], keep: int) -> list[int]:
        scored = sorted(
            ((-cos(v, cents[lid]), lid) for lid in range(n_lists))
        )
        return [lid for _, lid in scored[:keep]]

    assign = {i: route(v, 1)[0] for i, v in rows}
    resid = {
        i: [v[j] - cents[assign[i]][j] for j in range(len(v))] for i, v in rows
    }

    def sub(v: list[float], m: int) -> list[float]:
        return v[m * subdim : (m + 1) * subdim]

    def dist(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for j in range(subdim):
            d = a[j] - b[j]
            acc += d * d
        return acc

    # PQ training replica: init from residuals of ids n_lists..n_lists+K-1.
    pq_cents = [
        [sub(resid[n_lists + c], m) for c in range(k_codes)]
        for m in range(m_count)
    ]

    def pq_assign(m: int) -> dict[int, int]:
        out = {}
        for i, _ in rows:
            ds = [dist(sub(resid[i], m), pq_cents[m][c]) for c in range(k_codes)]
            best = min(ds)
            out[i] = next(c for c, d in enumerate(ds) if d == best)
        return out

    for _ in range(IVFPQ_PROBE_ITERS):
        new = [[list(c) for c in sc] for sc in pq_cents]
        for m in range(m_count):
            a = pq_assign(m)
            for c in range(k_codes):
                members = [sub(resid[i], m) for i, _ in rows if a[i] == c]
                if members:
                    new[m][c] = [
                        sum(v[j] for v in members) / len(members)
                        for j in range(subdim)
                    ]
        pq_cents = new
    codes = {i: [pq_assign(m)[i] for m in range(m_count)] for i, _ in rows}

    out = []
    for qid in range(IVFPQ_PROBE_QUERIES):
        qv = x[qid]
        probe_lists = route(qv, IVFPQ_PROBE_PROBE)
        scored = []
        for lid in sorted(probe_lists):
            rq = [qv[j] - cents[lid][j] for j in range(len(qv))]
            lut = [
                [
                    sum(
                        (rq[m * subdim + j] - pq_cents[m][c][j]) ** 2
                        for j in range(subdim)
                    )
                    for c in range(k_codes)
                ]
                for m in range(m_count)
            ]
            for i, _ in rows:
                if assign[i] == lid:
                    adc = 0
                    for m in range(m_count):
                        adc = adc + lut[m][codes[i][m]]
                    scored.append((adc, i))
        scored.sort()
        shortlist = scored[:IVFPQ_PROBE_RERANK]
        rer = []
        for adc, i in shortlist:
            acc = 0.0
            for j in range(len(qv)):
                d = x[i][j] - qv[j]
                acc += d * d
            rer.append((acc, i, adc))
        rer.sort(key=lambda t: (t[0], t[1]))
        for rk, (exact, i, adc) in enumerate(rer[:IVFPQ_PROBE_TOPK], start=1):
            out.append(
                (
                    qid,
                    rk,
                    i,
                    int(math.floor(adc * 1e4)),
                    int(math.floor(exact * 1e4)),
                )
            )
    return out


def _ivfpq_probe_oracle() -> str:
    values = ",\n            ".join(
        f"(CAST({q} AS BIGINT), {rk}, CAST({v} AS BIGINT), "
        f"CAST({au} AS BIGINT), CAST({eu} AS BIGINT))"
        for q, rk, v, au, eu in _ivfpq_probe_golden()
    )
    return f"""
        SELECT * FROM (VALUES
            {values}
        ) AS t(query_id, rk, vec_id, adc_u, exact_u)
        ORDER BY query_id, rk
    """


def _ivfpq_sweep_oracle() -> str:
    """Exact candidate counts per n_probe: the routing is fixed-point
    deterministic, so DuckDB recomputes assignment sizes and probe ranks
    bit-for-bit (the `_ivf_oracle_sql` CTE shapes); the invariant booleans
    (probe-set nesting, full-probe floor) are literals (the
    pq_recall_audit bounds pattern)."""
    from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
        cosine_similarity_sql,
    )

    cos_ec = cosine_similarity_sql("e.embedding", "c.centroid")
    cos_qc = cosine_similarity_sql("q.query_vec", "c.centroid")
    probes = ", ".join(str(p) for p in IVFPQ_SWEEP_PROBES)
    return f"""
        WITH centroids AS (
            SELECT vec_id AS list_id, embedding AS centroid
            FROM embeddings WHERE vec_id < {IVFPQ_N_LISTS}),
        assigned AS (
            SELECT vec_id, list_id FROM (
                SELECT e.vec_id, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC, c.list_id)
                           AS crk
                FROM embeddings e CROSS JOIN centroids c)
            WHERE crk = 1),
        sizes AS (SELECT list_id, count(*) AS n FROM assigned GROUP BY 1),
        queries AS (
            SELECT vec_id AS query_id, embedding AS query_vec
            FROM embeddings WHERE vec_id < {IVFPQ_N_QUERIES}),
        proberk AS (
            SELECT q.query_id, c.list_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {cos_qc} DESC, c.list_id)
                       AS crk
            FROM queries q CROSS JOIN centroids c),
        np AS (SELECT unnest([{probes}]) AS n_probe)
        SELECT CAST(np.n_probe AS INT) AS n_probe,
               CAST(sum(s.n) AS BIGINT) AS candidates,
               true AS probes_nested, true AS floor_ok
        FROM np, proberk r, sizes s
        WHERE r.crk <= np.n_probe AND s.list_id = r.list_id
        GROUP BY np.n_probe
        ORDER BY n_probe
    """


def _ivfpq_drift_oracle() -> str:
    """The rebuild decision, recomputed independently: routing is
    fixed-point deterministic (the `_ivfpq_sweep_oracle` CTE shapes), so
    DuckDB derives the same per-list sizes, the same appended counts
    (copies × heaviest list), and — in exact integer cross-multiplied
    arithmetic — the same imbalance-drift verdict. Only the two
    encode-path invariants are literals (bounds pattern)."""
    from ai_powered_data_pipeline_assistant_spark.functions.vector_math import (
        cosine_similarity_sql,
    )

    cos_ec = cosine_similarity_sql("e.embedding", "c.centroid")
    c = IVFPQ_DRIFT_COPIES
    r = IVFPQ_REBUILD_RATIO_X10
    return f"""
        WITH centroids AS (
            SELECT vec_id AS list_id, embedding AS centroid
            FROM embeddings WHERE vec_id < {IVFPQ_N_LISTS}),
        assigned AS (
            SELECT vec_id, list_id FROM (
                SELECT e.vec_id, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {cos_ec} DESC, c.list_id)
                           AS crk
                FROM embeddings e CROSS JOIN centroids c)
            WHERE crk = 1),
        sizes AS (SELECT list_id, count(*) AS n FROM assigned GROUP BY 1),
        agg AS (SELECT max(n) AS max_n, sum(n) AS total FROM sizes)
        SELECT CAST(total AS BIGINT) AS n_base,
               CAST({c} * max_n AS BIGINT) AS n_appended,
               CAST(max_n AS BIGINT) AS max_before,
               CAST({1 + c} * max_n AS BIGINT) AS max_after,
               true AS append_routed_heavy,
               true AS dup_codes_match,
               (10 * ({1 + c} * max_n) * total
                >= {r} * max_n * (total + {c} * max_n))
                   AS rebuild_recommended
        FROM agg
    """


QUERIES = {
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_pruned": ann_ivfpq_pruned,
    "ivfpq_recall_audit": ivfpq_recall_audit,
    "ivfpq_nprobe_recall_audit": ivfpq_nprobe_recall_audit,
    "ivfpq_probe_audit": ivfpq_probe_audit,
    "ivfpq_incremental_parity": ivfpq_incremental_parity,
    "ivfpq_delete_audit": ivfpq_delete_audit,
    "ivfpq_drift_audit": ivfpq_drift_audit,
}

ORACLES: dict[str, str] = {
    "ivfpq_probe_audit": _ivfpq_probe_oracle(),
    "ivfpq_nprobe_recall_audit": _ivfpq_sweep_oracle(),
    "ivfpq_drift_audit": _ivfpq_drift_oracle(),
    "ivfpq_recall_audit": """
        SELECT CAST(5 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
               true AS recall_ok, true AS rerank_ok,
               true AS rerank_no_worse, true AS self_hit_all,
               true AS routing_pruned
    """,
    # the split sizes are SQL-exact; mismatch counters are pinned 0 and the
    # invariants literal true (the pq_recall_audit bounds pattern)
    "ivfpq_incremental_parity": f"""
        SELECT CAST(sum(CASE WHEN vec_id % {IVFPQ_DELTA_MOD} <> 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
               CAST(sum(CASE WHEN vec_id % {IVFPQ_DELTA_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
               CAST(0 AS BIGINT) AS codes_mismatches,
               true AS codes_match,
               true AS append_partition_local,
               CAST(0 AS BIGINT) AS query_mismatches,
               true AS query_match
        FROM embeddings
    """,
    "ivfpq_delete_audit": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_before,
               CAST(sum(CASE WHEN vec_id % {IVFPQ_DELETE_MOD} = 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
               CAST(count(*) - sum(CASE WHEN vec_id % {IVFPQ_DELETE_MOD} = 3
                                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after,
               true AS victims_gone,
               true AS survivors_intact,
               true AS untouched_partitions_intact,
               true AS delete_partition_local
        FROM embeddings
    """,
}
