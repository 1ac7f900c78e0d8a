"""Near-duplicate clustering: connected components over the verified
MinHash+LSH pair graph, then keep-one-representative-per-cluster.

Pair generation (`dedup.minhash_lsh_pairs`) only yields EDGES; an actual
dedup pipeline must also group them — a near-dup of a near-dup belongs to
the same document family even if the two ends never shared a band — and
then keep exactly one representative per family. This module adds those
two stages, the standard tail of every web-scale dedup pipeline (the
reference itself stops at per-row hash dedup, backend/services/
vector_service.py:105; this is part of the 100 TB curation family the
brief adds on top).

Scale design:
- Components run as min-label propagation: every node's label starts as
  its own doc_id and each round becomes the min over itself and its
  neighbors' labels. Each round is ONE join + ONE groupBy on the edge
  list, which post-LSH is orders of magnitude smaller than the corpus
  (only docs with at least one near-dup appear). Labels only ever
  decrease, so convergence is detected by comparing sum(label) across
  rounds — a scalar aggregate instead of a changed-rows anti-join.
- Rounds needed = graph diameter. Near-dup families are band-connected
  and dense, so diameters are small; for adversarial chain graphs the
  same join+groupBy primitive extends to large-star/small-star
  (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"),
  which converges in O(log n) rounds.
- `materialize` (execution.py) after every round truncates lineage so the plan and
  its recompute cost don't grow with the round count.
- Keep-best is one window over the (tiny) clustered subset: rank by the
  shared quality score (text_analysis.quality_expr), keep rank 1.

The DuckDB oracle computes the same components via a recursive-CTE
transitive closure — O(Σ component²) rows, fine at oracle scale, never
the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark.catalog import load_table
from ai_powered_data_pipeline_assistant_spark.execution import materialize
from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    minhash_lsh_pairs,
    minhash_lsh_cte,
)
from ai_powered_data_pipeline_assistant_spark.operators.text_analysis import (
    QUALITY_SQL,
    quality_expr,
)

MAX_CC_ROUNDS = 50

# Broadcast the component-label frame only while it is provably small. On
# real web corpora 30-50% of documents belong to a near-dup family, so the
# label frame is corpus-order and a forced broadcast would OOM the driver;
# the guard uses the edge count `connected_components` already measured
# (nodes ≤ 2·edges) and falls back to a plain shuffle join on doc_id.
# 2M edges ≈ 4M (node,label) longs ≈ 64 MB serialized — a safe driver bite.
BROADCAST_MAX_EDGES = 2_000_000


def _labels_maybe_broadcast(labels: DataFrame, n_edges: int | None) -> DataFrame:
    """Apply a broadcast hint to a component-label frame iff the measured
    edge count of the run that produced it is under BROADCAST_MAX_EDGES;
    otherwise return it unhinted so AQE/shuffle join handles corpus-order
    membership tables. The count must come from the SAME
    `connected_components_counted` run that produced ``labels`` — a shared
    mutable default would let a concurrent run's count pick the strategy
    for the wrong graph."""
    if n_edges is not None and n_edges <= BROADCAST_MAX_EDGES:
        return F.broadcast(labels)
    return labels


def connected_components(edges: DataFrame, max_rounds: int = MAX_CC_ROUNDS) -> DataFrame:
    """Labels-only wrapper over `connected_components_counted` for callers
    that don't need the measured edge count (entity resolution, histogram
    queries)."""
    labels, _ = connected_components_counted(edges, max_rounds)
    return labels


def connected_components_counted(
    edges: DataFrame, max_rounds: int = MAX_CC_ROUNDS
) -> tuple[DataFrame, int]:
    """Min-label connected components over an undirected edge list, with
    pointer doubling for O(log diameter) convergence.

    ``edges`` must expose two long columns ``a_id`` / ``b_id`` (one row per
    undirected edge). Returns ``(labels, n_edges)``: a (node, label) frame
    where label is the minimum node id reachable from ``node`` (only nodes
    present in ``edges`` appear), plus the measured symmetrized edge count
    so callers can size-guard any downstream broadcast of the label frame
    (`_labels_maybe_broadcast`) without global state.

    Each round combines TWO label-shrinking moves before the convergence
    check:
    1. neighbor propagation — label(u) ← min over N(u)'s labels (the basic
       min-label round; alone it needs diameter-many rounds);
    2. pointer doubling — label(u) ← label(label(u)). Labels always point
       at other nodes of the same component, so the hop is sound, and it
       doubles the distance a label has travelled — a path component of
       length L converges in O(log L) rounds instead of L (the
       alternating-star analysis of Kiveris et al. 2014 gives the same
       guarantee; this label-hopping variant keeps every step a plain
       equi-join + groupBy).

    Convergence is a scalar sum(label) compare (labels only ever decrease),
    and `materialize` truncates lineage so plan size stays constant
    across rounds. Sets `connected_components.last_rounds` for tests.
    """
    # Materialize the edge list ONCE: it feeds every propagation round, and
    # without this the upstream pair-generation pipeline (e.g. the whole
    # MinHash+LSH DAG) would be recomputed per round.
    sym = (
        edges.select(F.col("a_id").alias("node"), F.col("b_id").alias("nbr"))
        .union(edges.select(F.col("b_id").alias("node"), F.col("a_id").alias("nbr")))
        # lazy: the count below materializes the checkpoint — eager
        # checkpoints would run one extra job each
        .transform(materialize)
    )
    # Right-size the iteration's partitioning to the EDGE LIST, not the
    # session default: post-LSH edge lists are orders of magnitude smaller
    # than the corpus, and dragging dozens of near-empty partitions through
    # every round costs more task-scheduling overhead than the joins
    # themselves. ~500k edges per partition, capped for adversarial graphs.
    n_edges = sym.count()
    parts = max(1, min(n_edges // 500_000 + 1, 2048))
    if parts < sym.rdd.getNumPartitions():
        sym = materialize(sym.repartition(parts, "node"))
    # Label init folds the FIRST propagation round into the same shuffle the
    # old `select("node").distinct()` already paid: grouping by node costs
    # one exchange either way, and aggregating min(nbr) alongside seeds
    # label(u) = min(N(u) ∪ {u}) instead of u. Most post-LSH families are
    # pairs/triangles, which now converge one join+groupBy round earlier
    # (round 12; the min-label invariant is unchanged — init labels are
    # still component-member ids, so propagation and the pointer-doubling
    # hop stay sound).
    labels = (
        sym.groupBy("node")
        .agg(F.min("nbr").alias("_mn"))
        .select("node", F.least(F.col("node"), F.col("_mn")).alias("label"))
    ).transform(materialize)
    connected_components.last_rounds = 0
    prev = labels.agg(F.sum("label")).first()[0]
    if prev is None:  # no edges → no clustered nodes
        return labels, n_edges
    for rnd in range(max_rounds):
        # ONE join + ONE groupBy per round: the pointer-doubling hop is an
        # extra DYNAMIC edge u → label(u) unioned into the neighbor list,
        # so min over {label(nbr) : nbr ∈ N(u) ∪ {label(u)}} covers both
        # neighbor propagation AND label(label(u)) in the same pass. The
        # node's own label needs no separate join: the ptr edge is always
        # present and label(label(u)) ≤ label(u) (labels start as node ids
        # and only take node-id minima), so the min already dominates it.
        ptr = labels.select("node", F.col("label").alias("nbr"))
        new_labels = (
            sym.union(ptr)
            .join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_label").alias("label"))
            # lazy: materialized by the convergence sum right below —
            # one job per round instead of two
            .transform(materialize)
        )
        labels = new_labels
        connected_components.last_rounds = rnd + 1
        cur = labels.agg(F.sum("label")).first()[0]
        if cur == prev:
            break
        prev = cur
    return labels, n_edges


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document in at least one verified
    MinHash+LSH near-dup pair; cluster_id = min doc_id of the component."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster dedup decision: keep the highest-quality document of
    each near-dup cluster (ties → lowest doc_id). One row per cluster with
    the keeper and the family size; `cluster_size - 1` docs get dropped.

    Keeper selection is the skew-safe ``max(struct(quality, -doc_id))``
    aggregate (round 12 — the curation/media keeper discipline: a
    template-spam family is exactly the hot cluster_id a per-family
    row_number window would serialize into one task), which also folds
    the family-size count into the same map-side-combined pass."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    labels, n_edges = connected_components_counted(pairs)
    clusters = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.select("doc_id", quality_expr().alias("quality"))
    # The post-LSH membership frame broadcasts only while the measured edge
    # count proves it small; on a 30-50%-duplicate web corpus it is
    # corpus-order and goes through a shuffle join instead.
    joined = _labels_maybe_broadcast(clusters, n_edges).join(quality, "doc_id")
    best = joined.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("ni"))
        ).alias("_s"),
        F.count("*").alias("cluster_size"),
    )
    return best.select(
        "cluster_id",
        (-F.col("_s.ni")).cast("long").alias("keeper_id"),
        "cluster_size",
        F.col("_s.quality").alias("keeper_quality"),
    ).orderBy("cluster_id")


def neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Family-size histogram of the near-dup graph: how many clusters have
    2 docs, 3 docs, ... — the distribution that decides dedup policy (a fat
    tail of giant families means template spam; mostly pairs means organic
    duplication). Two tiny groupBys over the post-LSH component labels."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    sizes = (
        connected_components(pairs)
        .groupBy("label")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/dev/test split: every document is assigned by the
    hash of its near-dup FAMILY representative (connected-component label of
    the verified MinHash+LSH graph; singletons use their own doc_id), so two
    near-duplicate documents can never straddle train and test — the eval
    contamination a plain per-doc hash split (`train_test_split`) allows.

    Scale design: the component labels cover only docs with at least one
    near-dup; when the measured edge count proves them small they broadcast
    onto the corpus scan as a left join (corpus never shuffled), and on
    heavily-duplicated corpora (labels corpus-order) the guard falls back
    to a shuffle join on doc_id. Bucketing is the same md5 % 100 convention
    as `train_test_split`, on the group id.
    """
    from ai_powered_data_pipeline_assistant_spark.functions.hashing import md5_int
    from ai_powered_data_pipeline_assistant_spark.operators.clustering import (
        DEV_PCT,
        SPLIT_BUCKETS,
        TRAIN_PCT,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    cc_labels, n_edges = connected_components_counted(pairs)
    labels = cc_labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("family_id")
    )
    joined = docs.select("doc_id").join(
        _labels_maybe_broadcast(labels, n_edges), "doc_id", "left"
    )
    group = F.coalesce(F.col("family_id"), F.col("doc_id"))
    bucket = md5_int(group.cast("string")) % SPLIT_BUCKETS
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + DEV_PCT, F.lit("dev"))
        .otherwise(F.lit("test"))
    )
    return joined.select(
        "doc_id", group.alias("group_id"), split.alias("split")
    ).orderBy("doc_id")


def split_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-scorable contamination check: join every verified near-dup
    pair against `cluster_safe_split`'s assignments and count pairs whose
    two ends landed in different splits. For the family-keyed split this is
    ZERO by construction; the same audit run against a plain per-doc hash
    split reports the leakage it would have shipped. One row:
    (n_pairs, n_straddling, contamination_free)."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    assign = cluster_safe_split(spark, sf_dir).select("doc_id", "split")
    joined = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("a_id"), F.col("split").alias("a_split")
            ),
            "a_id",
        ).join(
            assign.select(
                F.col("doc_id").alias("b_id"), F.col("split").alias("b_split")
            ),
            "b_id",
        )
    )
    return joined.agg(
        F.count("*").alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("a_split") != F.col("b_split")).cast("long")), F.lit(0)
        ).alias("n_straddling"),
        (
            F.coalesce(
                F.sum((F.col("a_split") != F.col("b_split")).cast("long")),
                F.lit(0),
            )
            == 0
        ).alias("contamination_free"),
    )


def neardup_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row profile of the verified near-dup graph: node/edge counts and
    degree spread — the health check run before clustering (a degree
    explosion means the LSH threshold is too loose). Degrees come from one
    groupBy over the symmetrized edge list; the edge count is derived as
    sum(degree)/2, so the pair pipeline runs exactly once."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    sym = pairs.select(F.col("a_id").alias("node")).unionAll(
        pairs.select(F.col("b_id").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("degree") / 2).cast("long").alias("n_edges"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
        F.round(F.avg("degree"), 4).alias("avg_degree"),
    )


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph: node/edge/wedge/
    triangle counts and the global clustering coefficient
    (3·triangles / wedges) — the transitivity measure that distinguishes
    template spam (dense, clique-like families → coefficient near 1) from
    chain-shaped organic duplication (near 0).

    Scale design: degree-ordered orientation (each undirected edge points
    from its lower-(degree, id) endpoint), so every triangle is generated
    exactly once from its unique low-degree apex and wedge enumeration is
    bounded by Σ out-deg² with out-degrees capped at O(√edges) — the
    standard distributed triangle-count bound — instead of Σ deg² on raw
    degrees, which a giant dup family would blow up. Wedges then close via
    one equi-join against the canonical (a<b) edge list. The edge list is
    persisted once and feeds degrees, orientation, and closure."""
    edges = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    return triangle_census(edges)


def triangle_census(edges: DataFrame) -> DataFrame:
    """Core census over any canonical (a_id < b_id) undirected edge list —
    see `neardup_triangles` for the orientation argument."""
    # Materialize the edge list ONCE and truncate lineage: it is referenced
    # five times below (degrees, both orientation joins, wedge closure,
    # stats), and without the checkpoint each reference re-embeds the whole
    # upstream pair-generation DAG in the plan (the LSH pipeline ×5 —
    # ~120 Exchanges; the census budget in tests/test_plans.py caps 30).
    # Same pattern as connected_components above.
    edges = materialize(edges, eager=True)
    sym = edges.select(F.col("a_id").alias("node")).unionAll(
        edges.select(F.col("b_id").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    e = (
        edges.join(
            deg.select(F.col("node").alias("a_id"), F.col("deg").alias("da")),
            "a_id",
        ).join(
            deg.select(F.col("node").alias("b_id"), F.col("deg").alias("db")),
            "b_id",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a_id") < F.col("b_id"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a_id")).otherwise(F.col("b_id")).alias("src"),
        F.when(a_first, F.col("b_id")).otherwise(F.col("a_id")).alias("dst"),
    )
    wedges = (
        oriented.alias("o1")
        .join(
            oriented.alias("o2"),
            (F.col("o1.src") == F.col("o2.src"))
            & (F.col("o1.dst") < F.col("o2.dst")),
        )
        .select(
            F.least("o1.dst", "o2.dst").alias("x"),
            F.greatest("o1.dst", "o2.dst").alias("y"),
        )
    )
    tri = wedges.join(
        edges.select(F.col("a_id").alias("x"), F.col("b_id").alias("y")),
        ["x", "y"],
    ).agg(F.count("*").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).alias("clustering_coeff"),
    )


_VERIFIED_EDGES_CTE = f"""
        {minhash_lsh_cte("documents")},
        verified AS (
            SELECT c.a_id, c.b_id
            FROM candidates c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
            WHERE p.jaccard >= {JACCARD_THRESHOLD}),
        edges AS (SELECT a_id AS src, b_id AS dst FROM verified
                  UNION ALL
                  SELECT b_id, a_id FROM verified),
        reach(src, dst) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM edges)
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1)
"""

ORACLES: dict[str, str] = {
    "neardup_clusters": f"""
        WITH RECURSIVE {_VERIFIED_EDGES_CTE}
        SELECT doc_id, cluster_id FROM comp ORDER BY doc_id
    """,
    "neardup_keep_best": f"""
        WITH RECURSIVE {_VERIFIED_EDGES_CTE},
        ranked AS (
            SELECT comp.cluster_id, comp.doc_id, {QUALITY_SQL} AS quality,
                   row_number() OVER (PARTITION BY comp.cluster_id
                                      ORDER BY {QUALITY_SQL} DESC, comp.doc_id) AS rn,
                   count(*) OVER (PARTITION BY comp.cluster_id) AS cluster_size
            FROM comp JOIN documents d ON d.doc_id = comp.doc_id)
        SELECT cluster_id, doc_id AS keeper_id, cluster_size,
               quality AS keeper_quality
        FROM ranked WHERE rn = 1
        ORDER BY cluster_id
    """,
}

def _cluster_safe_split_oracle() -> str:
    from ai_powered_data_pipeline_assistant_spark.functions.hashing import md5_int_sql
    from ai_powered_data_pipeline_assistant_spark.operators.clustering import (
        DEV_PCT,
        SPLIT_BUCKETS,
        TRAIN_PCT,
    )

    bucket = f"{md5_int_sql('CAST(group_id AS VARCHAR)')} % {SPLIT_BUCKETS}"
    return f"""
        WITH RECURSIVE {_VERIFIED_EDGES_CTE},
        assigned AS (
            SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        SELECT doc_id, group_id,
               CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
                    WHEN {bucket} < {TRAIN_PCT + DEV_PCT} THEN 'dev'
                    ELSE 'test' END AS split
        FROM assigned ORDER BY doc_id
    """


ORACLES["cluster_safe_split"] = _cluster_safe_split_oracle()

def _split_contamination_oracle() -> str:
    from ai_powered_data_pipeline_assistant_spark.functions.hashing import md5_int_sql
    from ai_powered_data_pipeline_assistant_spark.operators.clustering import (
        DEV_PCT,
        SPLIT_BUCKETS,
        TRAIN_PCT,
    )

    bucket = f"{md5_int_sql('CAST(group_id AS VARCHAR)')} % {SPLIT_BUCKETS}"
    return f"""
        WITH RECURSIVE {_VERIFIED_EDGES_CTE},
        assigned AS (
            SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        splits AS (
            SELECT doc_id,
                   CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
                        WHEN {bucket} < {TRAIN_PCT + DEV_PCT} THEN 'dev'
                        ELSE 'test' END AS split
            FROM assigned),
        j AS (
            SELECT sa.split AS a_split, sb.split AS b_split
            FROM verified v
            JOIN splits sa ON v.a_id = sa.doc_id
            JOIN splits sb ON v.b_id = sb.doc_id)
        SELECT count(*) AS n_pairs,
               coalesce(CAST(sum(CASE WHEN a_split <> b_split THEN 1 ELSE 0
                                      END) AS BIGINT), 0) AS n_straddling,
               coalesce(CAST(sum(CASE WHEN a_split <> b_split THEN 1 ELSE 0
                                      END) AS BIGINT), 0) = 0
                   AS contamination_free
        FROM j
    """


ORACLES["split_contamination_audit"] = _split_contamination_oracle()

ORACLES["neardup_cluster_sizes"] = f"""
    WITH RECURSIVE {_VERIFIED_EDGES_CTE},
    fam_sizes AS (SELECT cluster_id, count(*) AS cluster_size
                  FROM comp GROUP BY 1)
    SELECT cluster_size, count(*) AS n_clusters
    FROM fam_sizes GROUP BY 1 ORDER BY 1
"""

ORACLES["neardup_degree_stats"] = f"""
    WITH {minhash_lsh_cte("documents")},
    verified AS (
        SELECT c.a_id, c.b_id
        FROM candidates c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
        WHERE p.jaccard >= {JACCARD_THRESHOLD}),
    sym AS (SELECT a_id AS node FROM verified
            UNION ALL SELECT b_id FROM verified),
    deg AS (SELECT node, count(*) AS degree FROM sym GROUP BY 1)
    SELECT count(*) AS n_nodes,
           CAST(CAST(sum(degree) AS BIGINT) / 2 AS BIGINT) AS n_edges,
           min(degree) AS min_degree, max(degree) AS max_degree,
           round(avg(degree), 4) AS avg_degree
    FROM deg
"""

ORACLES["neardup_triangles"] = f"""
    WITH {minhash_lsh_cte("documents")},
    verified AS (
        SELECT c.a_id, c.b_id
        FROM candidates c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
        WHERE p.jaccard >= {JACCARD_THRESHOLD}),
    sym AS (SELECT a_id AS node FROM verified
            UNION ALL SELECT b_id FROM verified),
    deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY 1),
    oriented AS (
        SELECT CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND v.a_id < v.b_id)
                    THEN v.a_id ELSE v.b_id END AS src,
               CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND v.a_id < v.b_id)
                    THEN v.b_id ELSE v.a_id END AS dst
        FROM verified v
        JOIN deg da ON v.a_id = da.node
        JOIN deg db ON v.b_id = db.node),
    wedge AS (
        SELECT o1.dst AS x, o2.dst AS y
        FROM oriented o1 JOIN oriented o2
             ON o1.src = o2.src AND o1.dst < o2.dst),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM wedge w JOIN verified e ON w.x = e.a_id AND w.y = e.b_id),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(CAST(sum(deg) AS BIGINT) / 2 AS BIGINT) AS n_edges,
               CAST(CAST(sum(deg * (deg - 1)) AS BIGINT) / 2 AS BIGINT)
                   AS n_wedges
        FROM deg)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 6) END
               AS clustering_coeff
    FROM stats CROSS JOIN tri
"""

QUERIES = {
    "neardup_clusters": neardup_clusters,
    "neardup_keep_best": neardup_keep_best,
    "neardup_degree_stats": neardup_degree_stats,
    "neardup_triangles": neardup_triangles,
    "cluster_safe_split": cluster_safe_split,
    "neardup_cluster_sizes": neardup_cluster_sizes,
    "split_contamination_audit": split_contamination_audit,
}
