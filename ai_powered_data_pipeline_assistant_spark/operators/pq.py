"""Product quantization (PQ) for vector search at corpus scale.

Jégou et al. 2011 ("Product quantization for nearest neighbor search"):
split each d-dim vector into PQ_M subvectors, k-means each subspace to
PQ_K centroids, store a vector as PQ_M small codes, and answer queries by
ADC (asymmetric distance computation) — per-query lookup tables of
query-subvector→centroid distances, summed over the code columns.

Why this matters at 100 TB: the 64-dim float corpus vector (256 B) becomes
ONE packed int64 (8 codes × 4 bits), a 32× shrink, and query scoring reads
only the code column — a narrow scan plus PQ_M table lookups per row, no
float arithmetic over the original vectors. This is the standard scale
path past the IVF routing already in operators/vector.py (IVF prunes WHICH
rows to score; PQ shrinks WHAT is scored — production systems compose
them).

Spark shapes:
- Training is Lloyd's per subspace, ALL subspaces in one corpus pass per
  iteration: a single projection computes every (subspace, centroid)
  distance fold (PQ_M·PQ_K short folds, codegen'd), and one
  explode+groupBy aggregates every per-(m, code, j) mean — PQ_M·PQ_K·subdim
  tiny rows to the driver per round (the `kmeans_embeddings` shape,
  clustering.py:101, widened across subspaces).
- Encoding is a narrow projection (codes packed into one int64).
- ADC scoring inlines the per-query LUTs as array literals (PQ_M·PQ_K
  doubles per query — broadcast-sized constants) and sums element_at
  lookups: zero joins, zero shuffles until the final TakeOrdered.

Driver-check strategy (the kmeans_probe_audit pattern, clustering.py:493):
training is iterative float math, so the corpus-scale frames are
rows-only; exactness is pinned by `pq_probe_audit` — the REAL distributed
trainer over fixed INTEGER probe vectors (integer sums are order-free, so
per-cell means are bit-exact) against a pure-Python golden replica — and
the retrieval claim by `pq_recall_audit`'s literal-bounds oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table

PQ_M = 8          # subspaces
PQ_SUBDIM = 8     # dims per subspace (embeddings are 64-dim)
PQ_K = 16         # centroids per subspace → 4-bit codes
PQ_ITERS = 3
PQ_N_QUERIES = 5
PQ_TOPK = 10
# ADC shortlist size for the exact re-rank stage (the standard production
# composition: PQ scores a cheap shortlist, exact math re-ranks it).
PQ_RERANK = 50
# Floors for the recall bounds in pq_recall_audit. Deterministic training
# on deterministic data → measured once per sf, bounded with margin:
# ADC-only recall@10 is 0.36-0.38 across sf0.001/0.01/0.1 (synthetic
# i.i.d. embeddings are PQ's worst case — no correlation to exploit);
# shortlist-re-rank recall@10 measures 0.66-0.78.
PQ_RECALL_FLOOR = 0.30
PQ_RERANK_FLOOR = 0.60


def _sub(col, m: int, subdim: int):
    """1-indexed array slice for subspace ``m``."""
    return F.slice(col, m * subdim + 1, subdim)


def _sq_dist(sub_col, centroid: list[float]):
    """Left-fold Σ (x_j - c_j)² — same IEEE order as the golden replica."""
    return F.aggregate(
        F.zip_with(
            sub_col,
            F.lit(centroid),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


class PQEncoder:
    """Code assignment against ONE fixed codebook: a two-step projection
    adding, per subspace m, the argmin code ``_c{m}`` and its squared
    distance ``_d{m}``. The per-subspace distance vector is ONE
    higher-order ``transform`` over the centroid matrix literal
    (array<array<double>>), then argmin = array_position of array_min —
    first-match on equal values, so ties break to the lowest code,
    matching the golden replica. Compared to materializing PQ_M·PQ_K
    distance columns + when-chains this keeps the Catalyst plan tiny (the
    naive form spent ~25 s per training run in analysis/codegen alone).

    The Columns are built once, at construction: the codebook literal is
    M·K·subdim doubles, and building it through ``F.lit`` costs one JVM
    round trip per element (~6k per encode). A Column holds no data, so
    one encoder applies to any number of frames carrying ``embedding`` —
    the IVF-PQ index keeps its encoder with its cached sidecars
    (`operators.ivfpq.read_ivfpq_artifacts`), while the Lloyd loop builds
    a fresh one per iteration because its codebook changes every round."""

    def __init__(self, cents: list[list[list[float]]], subdim: int):
        m_count = len(cents)

        def darr(m: int):
            # NB: binding m via a lambda default would add a second
            # parameter, which PySpark reads as the (element, index)
            # lambda form.
            sub = _sub(F.col("embedding"), m, subdim)
            return F.transform(
                F.lit(cents[m]),
                lambda c: F.aggregate(
                    F.zip_with(
                        sub,
                        c,
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )

        self.darrs = [darr(m).alias(f"_darr{m}") for m in range(m_count)]
        self.picks = []
        for m in range(m_count):
            best = F.array_min(F.col(f"_darr{m}"))
            self.picks.append(
                (F.array_position(F.col(f"_darr{m}"), best) - 1)
                .cast("int")
                .alias(f"_c{m}")
            )
            self.picks.append(best.alias(f"_d{m}"))

    def __call__(self, emb: DataFrame) -> DataFrame:
        staged = emb.select("*", *self.darrs)
        return staged.select(*emb.columns, *self.picks)


def assign_codes(
    emb: DataFrame, cents: list[list[list[float]]], subdim: int
) -> DataFrame:
    """Encode ``emb`` against ``cents`` with a freshly built `PQEncoder`
    (one-shot callers: training iterations, reference encodes)."""
    return PQEncoder(cents, subdim)(emb)


PQ_TRAIN_SAMPLE_MOD = 1_000_000  # hash-sample granularity (ppm)


def resolve_train_sample(train_sample: float | None = None) -> float:
    """The PQ training-sample fraction: ``train_sample``, else
    $PQ_TRAIN_SAMPLE, else 1.0 — checked to lie in (0, 1]. A fraction
    <= 0 trains on an empty sample (every Lloyd cell is empty, so the
    codebooks silently stay at their init vectors); one > 1 trains on
    everything yet keys a separate cached IVF-PQ layout."""
    import os

    if train_sample is None:
        raw = os.environ.get("PQ_TRAIN_SAMPLE", "1.0")
        try:
            train_sample = float(raw)
        except ValueError:
            raise ValueError(
                f"PQ_TRAIN_SAMPLE={raw!r} is not a number in (0, 1]"
            ) from None
    if not 0.0 < train_sample <= 1.0:
        raise ValueError(
            f"PQ_TRAIN_SAMPLE / train_sample={train_sample!r}; expected a "
            "fraction in (0, 1]"
        )
    return train_sample


def _train_pq(
    emb: DataFrame, m_count: int, subdim: int, k: int, iters: int,
    init_offset: int = 0, train_sample: float | None = None,
) -> list[list[list[float]]]:
    """Lloyd's per subspace, all subspaces per pass. Init: subvectors of
    the first k stored vectors (deterministic, the kmeans convention);
    ``init_offset`` skips ids whose vectors are degenerate for training —
    the IVF-PQ residual path starts past the coarse-centroid ids, whose
    residuals are identically zero. Empty cells keep their previous
    centroid.

    ``train_sample`` (default: $PQ_TRAIN_SAMPLE, default 1.0) is the 100 TB
    knob TUNING.md describes: k-means sees O(K·M) effective degrees of
    freedom, so the codebooks converge on a corpus SAMPLE — train the Lloyd
    iterations on a deterministic xxhash64(vec_id) fraction, then callers
    assign codes to the FULL corpus in their one encode pass. Fraction 1.0
    (the fixture default) trains on everything, keeping the probe audits'
    golden replicas exact; a deployment sets PQ_TRAIN_SAMPLE=0.01 and the
    training passes stop scanning 100 TB per iteration. The sample is
    hash-deterministic (same rows every run/executor), so training stays
    reproducible for a fixed partitioning."""
    train_sample = resolve_train_sample(train_sample)
    # First k QUALIFYING vectors past the offset (not the id RANGE
    # [offset, offset+k), which under-fills when the caller trains on a
    # filtered subset — e.g. the incremental-maintenance base split whose
    # ids have holes). Identical on contiguous ids, so every golden
    # replica's init is unchanged.
    init_rows = (
        emb.filter(F.col("vec_id") >= init_offset)
        .orderBy("vec_id")
        .limit(k)
        .select("embedding")
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"PQ init needs {k} vectors past vec_id {init_offset}; "
            f"got {len(init_rows)}"
        )
    cents = [
        [[float(v) for v in r["embedding"]][m * subdim : (m + 1) * subdim]
         for r in init_rows]
        for m in range(m_count)
    ]
    train_emb = emb
    if train_sample < 1.0:
        from ai_powered_data_pipeline_assistant_spark.execution import (
            materialize,
        )

        cut = int(train_sample * PQ_TRAIN_SAMPLE_MOD)
        # materialized: re-scanned every Lloyd iteration
        train_emb = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(PQ_TRAIN_SAMPLE_MOD)) < cut
        ).transform(materialize)
    for _ in range(iters):
        assigned = assign_codes(train_emb, cents, subdim)
        stacked = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"_c{m}").alias("code"),
                            _sub(F.col("embedding"), m, subdim)
                            .cast("array<double>")
                            .alias("sub"),
                        )
                        for m in range(m_count)
                    ]
                )
            ).alias("s")
        ).select("s.m", "s.code", F.posexplode("s.sub").alias("j", "val"))
        means = (
            stacked.groupBy("m", "code", "j")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        new = [[list(c) for c in sub] for sub in cents]
        by_cell: dict[tuple[int, int], list] = {}
        for r in means:
            by_cell.setdefault((r["m"], r["code"]), []).append((r["j"], r["mean"]))
        for (m, c), vals in by_cell.items():
            new[m][c] = [v for _, v in sorted(vals)]
        cents = new
    return cents


def _encoded(spark: SparkSession, sf_dir: str, train_sample: float | None = None):
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    cents = _train_pq(
        emb, PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS, train_sample=train_sample
    )
    assigned = assign_codes(emb, cents, PQ_SUBDIM)
    packed = assigned.select(
        "vec_id",
        "embedding",
        sum(
            (F.col(f"_c{m}").cast("long") * F.lit(1 << (4 * m)))
            for m in range(PQ_M)
        ).alias("pq_code"),
        sum(F.col(f"_d{m}") for m in range(PQ_M)).alias("recon_sq"),
        *[F.col(f"_c{m}") for m in range(PQ_M)],
    )
    return packed, cents


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train + encode the corpus: one packed int64 code per vector plus its
    int-scaled reconstruction error (the quantization loss ADC pays).
    Rows-only: values depend on the iterative float training."""
    packed, _ = _encoded(spark, sf_dir)
    return packed.select(
        "vec_id",
        "pq_code",
        F.floor(F.col("recon_sq") * 1e4).cast("long").alias("recon_u"),
    ).orderBy("vec_id")


def pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained codebook summary: per (subspace, code) cell population and
    int-scaled centroid checksum. Rows-only (training floats)."""
    packed, cents = _encoded(spark, sf_dir)
    sizes = (
        packed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"), F.col(f"_c{m}").alias("code")
                        )
                        for m in range(PQ_M)
                    ]
                )
            ).alias("s")
        )
        .groupBy("s.m", "s.code")
        .agg(F.count("*").alias("size"))
        .select(F.col("m"), F.col("code"), "size")
    )
    cent_rows = [
        (m, c, int(sum(math.floor(v * 1e6) for v in cents[m][c])))
        for m in range(PQ_M)
        for c in range(PQ_K)
    ]
    cent_df = spark.createDataFrame(
        cent_rows, "m int, code int, centroid_u long"
    )
    return (
        cent_df.join(sizes, ["m", "code"], "left")
        .select("m", "code", F.coalesce("size", F.lit(0)).alias("size"), "centroid_u")
        .orderBy("m", "code")
    )


def pq_recall_audit(
    spark: SparkSession, sf_dir: str, train_sample: float | None = None
) -> DataFrame:
    """Retrieval-quality pin: ADC top-``PQ_TOPK`` (scored ONLY from the
    packed codes via per-query LUT literals) vs exact L2 top-k over the
    raw vectors, for the first ``PQ_N_QUERIES`` stored vectors. Emits one
    row of literals-checkable facts: query/k counts, ADC-only recall ≥
    PQ_RECALL_FLOOR, shortlist-re-rank recall ≥ PQ_RERANK_FLOOR (and never
    below ADC-only), and self-hit (a query's own code must be among its
    ADC top-k — PQ quantizes, it doesn't lose identity).
    The recall VALUE is training-dependent float math, so the oracle pins
    bounds, not the value (the compression_ratio_audit pattern).
    ``train_sample`` threads the sampled-training knob through for the
    pytest that proves sampled codebooks still meet the floors."""
    packed, cents = _encoded(spark, sf_dir, train_sample=train_sample)
    queries = (
        packed.filter(F.col("vec_id") < PQ_N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    emb = packed.select("vec_id", "embedding", *[f"_c{m}" for m in range(PQ_M)])
    recalls: list[float] = []
    rerank_recalls: list[float] = []
    self_hits = 0
    for q in sorted(queries, key=lambda r: r["vec_id"]):
        qv = [float(v) for v in q["embedding"]]
        # exact L2 top-k over raw vectors
        exact = (
            emb.select(
                "vec_id",
                _sq_dist(F.col("embedding"), qv).alias("d"),
            )
            .orderBy("d", "vec_id")
            .limit(PQ_TOPK)
            .collect()
        )
        # ADC: LUT per subspace — distances from the query subvector to
        # every centroid, inlined as literals; scoring reads codes only.
        # One TakeOrdered fetches the re-rank shortlist; its head is the
        # ADC-only top-k, and the exact re-rank of the shortlist recovers
        # every exact neighbor the shortlist contains.
        lut = [
            [
                sum(
                    (qv[m * PQ_SUBDIM + j] - cents[m][c][j]) ** 2
                    for j in range(PQ_SUBDIM)
                )
                for c in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
        adc_dist = sum(
            F.element_at(F.lit(lut[m]), F.col(f"_c{m}") + 1) for m in range(PQ_M)
        )
        shortlist = (
            emb.select("vec_id", adc_dist.alias("d"))
            .orderBy("d", "vec_id")
            .limit(PQ_RERANK)
            .collect()
        )
        exact_ids = {r["vec_id"] for r in exact}
        adc_ids = {r["vec_id"] for r in shortlist[:PQ_TOPK]}
        shortlist_ids = {r["vec_id"] for r in shortlist}
        recalls.append(len(exact_ids & adc_ids) / PQ_TOPK)
        rerank_recalls.append(len(exact_ids & shortlist_ids) / PQ_TOPK)
        self_hits += int(q["vec_id"] in adc_ids)
    mean_recall = sum(recalls) / len(recalls)
    mean_rerank = sum(rerank_recalls) / len(rerank_recalls)
    return spark.createDataFrame(
        [
            (
                len(recalls),
                PQ_TOPK,
                mean_recall >= PQ_RECALL_FLOOR,
                mean_rerank >= PQ_RERANK_FLOOR,
                mean_rerank >= mean_recall,  # re-rank can only help
                self_hits == len(recalls),
            )
        ],
        "n_queries long, k long, recall_ok boolean, rerank_ok boolean, "
        "rerank_no_worse boolean, self_hit_all boolean",
    )


# --- probe audit: the real distributed trainer on fixed integer vectors ---

PQ_PROBE_M = 2
PQ_PROBE_SUBDIM = 4
PQ_PROBE_K = 3
PQ_PROBE_ITERS = 2


def _pq_probe_rows() -> list[tuple[int, list[float]]]:
    """12 integer vectors, dim 8; each 4-dim half clusters around one of 3
    per-subspace blob centers with deterministic jitter, so both subspaces
    train non-trivially. Integer components keep every distributed mean
    exact (the kmeans_probe_audit trick, clustering.py:475)."""
    rows = []
    for i in range(12):
        vec = []
        for m in range(PQ_PROBE_M):
            blob = (i + m) % 3
            base = {0: 0, 1: 10, 2: -10}[blob]
            vec.extend(
                float(base + ((i * 7 + m * 5 + j * 3) % 5) - 2)
                for j in range(PQ_PROBE_SUBDIM)
            )
        rows.append((i, vec))
    return rows


def pq_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable pin of the PQ trainer: run the REAL distributed
    loop (`_train_pq` — the same multi-subspace assignment projection and
    explode+groupBy mean aggregation the corpus path uses) over the fixed
    integer probes and emit per-(m, code) integers: cell size, Σ
    floor(dist²·1e4) (floored per row BEFORE the sum — order-free), and Σ_j
    floor(centroid_j·1e6). The oracle carries goldens from a pure-Python
    replica of the same IEEE ops."""
    emb = spark.createDataFrame(
        _pq_probe_rows(), "vec_id long, embedding array<double>"
    ).repartition(3)
    cents = _train_pq(emb, PQ_PROBE_M, PQ_PROBE_SUBDIM, PQ_PROBE_K, PQ_PROBE_ITERS)
    assigned = assign_codes(emb, cents, PQ_PROBE_SUBDIM)
    stats = (
        assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"_c{m}").alias("code"),
                            F.floor(F.col(f"_d{m}") * 1e4)
                            .cast("long")
                            .alias("du"),
                        )
                        for m in range(PQ_PROBE_M)
                    ]
                )
            ).alias("s")
        )
        .groupBy("s.m", "s.code")
        .agg(F.count("*").alias("size"), F.sum("s.du").alias("inertia_u"))
        .select(F.col("m"), F.col("code"), "size", "inertia_u")
    )
    cent_rows = [
        (m, c, int(sum(math.floor(v * 1e6) for v in cents[m][c])))
        for m in range(PQ_PROBE_M)
        for c in range(PQ_PROBE_K)
    ]
    cent_df = spark.createDataFrame(cent_rows, "m int, code int, centroid_u long")
    return (
        cent_df.join(stats, ["m", "code"], "left")
        .select(
            "m",
            "code",
            F.coalesce("size", F.lit(0)).alias("size"),
            F.coalesce("inertia_u", F.lit(0)).alias("inertia_u"),
            "centroid_u",
        )
        .orderBy("m", "code")
    )


def _pq_probe_golden() -> list[tuple[int, int, int, int, int]]:
    rows = _pq_probe_rows()
    x = [v for _, v in rows]
    m_count, subdim, k, iters = (
        PQ_PROBE_M,
        PQ_PROBE_SUBDIM,
        PQ_PROBE_K,
        PQ_PROBE_ITERS,
    )

    def sub(v, m):
        return v[m * subdim : (m + 1) * subdim]

    def dist(a, b):
        acc = 0.0
        for j in range(subdim):
            d = a[j] - b[j]
            acc += d * d
        return acc

    cents = [[sub(x[c], m) for c in range(k)] for m in range(m_count)]

    def assign(m):
        out = []
        for v in x:
            ds = [dist(sub(v, m), cents[m][c]) for c in range(k)]
            best = min(ds)
            out.append(next(c for c, d in enumerate(ds) if d == best))
        return out

    for _ in range(iters):
        new = [[list(c) for c in sc] for sc in cents]
        for m in range(m_count):
            a = assign(m)
            for c in range(k):
                members = [sub(x[i], m) for i in range(len(x)) if a[i] == c]
                if members:
                    new[m][c] = [
                        sum(v[j] for v in members) / len(members)
                        for j in range(subdim)
                    ]
        cents = new
    out = []
    for m in range(m_count):
        a = assign(m)
        for c in range(k):
            members = [i for i in range(len(x)) if a[i] == c]
            inertia_u = sum(
                int(math.floor(dist(sub(x[i], m), cents[m][c]) * 1e4))
                for i in members
            )
            cent_u = int(sum(math.floor(v * 1e6) for v in cents[m][c]))
            out.append((m, c, len(members), inertia_u, cent_u))
    return out


def _pq_probe_oracle() -> str:
    values = ",\n            ".join(
        f"({m}, {c}, CAST({n} AS BIGINT), CAST({iu} AS BIGINT), "
        f"CAST({cu} AS BIGINT))"
        for m, c, n, iu, cu in _pq_probe_golden()
    )
    return f"""
        SELECT * FROM (VALUES
            {values}
        ) AS t(m, code, size, inertia_u, centroid_u)
        ORDER BY m, code
    """


QUERIES = {
    "pq_encode": pq_encode,
    "pq_codebooks": pq_codebooks,
    "pq_recall_audit": pq_recall_audit,
    "pq_probe_audit": pq_probe_audit,
}

ORACLES: dict[str, str] = {
    "pq_probe_audit": _pq_probe_oracle(),
    "pq_recall_audit": """
        SELECT CAST(5 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
               true AS recall_ok, true AS rerank_ok,
               true AS rerank_no_worse, true AS self_hit_all
    """,
}
