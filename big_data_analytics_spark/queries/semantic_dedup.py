"""Semantic (embedding-space) deduplication, SemDeDup-style: cluster
the corpus with k-means, then search for near-duplicate pairs ONLY
within each cluster — the standard way to make embedding dedup
tractable at corpus scale (Abbas et al., "SemDeDup", 2023, public).
Complements the existing dedup ladder: d1 exact, d2 MinHash-LSH, d3
SimHash, d4 n-gram Jaccard, v4 hyperplane-LSH — this is the
cluster-partitioned exact variant used when embeddings already exist.

Fully deterministic and oracle-checkable: clustering is the exact
integer Lloyd machinery shared with ml5_kmeans (ml_queries.lloyd_*),
pair cosines come from exact BIGINT dot products on the micro-unit
grid, and the per-cluster candidate cap is rank-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_spark.operators.similarity import dot
from big_data_analytics_spark.queries import query
from big_data_analytics_spark.queries.ml_queries import (
    lloyd_assign,
    lloyd_cte_sql,
)

_K = 8          # clusters
_ITERS = 2      # Lloyd iterations
_CAP = 150      # per-cluster members kept for pairing (closest-first)
_THRESH = 0.40  # cosine similarity floor for a reported pair


_DOT_SQL = ("list_sum(list_transform(generate_series(1, 64), "
            "i -> {a}[i] * {b}[i]))")


def _d8_oracle() -> str:
    dot_ab = _DOT_SQL.format(a="x.vq", b="y.vq")
    dot_self = _DOT_SQL.format(a="vq", b="vq")
    return lloyd_cte_sql(_K, _ITERS) + f""", kept AS (
        SELECT cluster_id, vec_id, vq,
               sqrt(CAST({dot_self} AS DOUBLE)) AS nrm
        FROM (
            SELECT cluster_id, vec_id, vq,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY d, vec_id) AS rn
            FROM a{_ITERS}) WHERE rn <= {_CAP}
    ), scored AS (
        SELECT x.cluster_id, x.vec_id AS id_a, y.vec_id AS id_b,
               ROUND(CAST({dot_ab} AS DOUBLE)
                     / (x.nrm * y.nrm), 6) AS cosine
        FROM kept x JOIN kept y
          ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
    )
    SELECT cluster_id, id_a, id_b, cosine FROM scored
    WHERE cosine >= {_THRESH}
    ORDER BY cluster_id, id_a, id_b
    """


@query("d8_semantic_dedup", oracle=_d8_oracle())
def d8_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means the
    embedding corpus (K={K}, {I} exact integer Lloyd iterations —
    identical semantics to ml5_kmeans), keep the {CAP} members
    closest to each centroid (rank-deterministic cap), and emit
    within-cluster pairs with exact-grid cosine >= {T} (rounded to 6
    before the threshold; pair order id_a < id_b).

    This is the shape that makes embedding dedup survive 100 TB:
    pairwise comparison is confined to cluster partitions — with K
    sized ~n/1000, per-cluster work is bounded and embarrassingly
    parallel after ONE shuffle on cluster_id, instead of an O(n^2)
    corpus self-join (cross-cluster near-dups are forfeited BY
    DESIGN; that is SemDeDup's documented trade). The per-cluster cap
    bounds the worst cluster the same way the LSH band caps bound
    degenerate buckets (operators/dedup.py). Cosines never need the
    raw floats: integer dot products on the micro-unit grid are exact
    under any partitioning."""
    assigned, _cents = lloyd_assign(spark, sf_dir, _K, _ITERS)
    wk = Window.partitionBy("cluster_id").orderBy("d", "vec_id")
    # both sides of the pair join scan `kept`; checkpoint it so the
    # 2-iteration Lloyd lineage runs once, not once per join branch
    # (deterministic output, so materializing is semantics-free)
    kept = (assigned
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= _CAP)
            .select("cluster_id", "vec_id", "vq",
                    # norms once per kept vector, NOT once per pair:
                    # the pair stage then pays a single array fold —
                    # higher-order folds are interpreted, so this is
                    # a 3x cut of the dominant cost
                    F.sqrt(dot(F.col("vq"), F.col("vq"), zero=0)
                           .cast("double")).alias("nrm"))
            .localCheckpoint())
    x = kept.select(F.col("cluster_id"), F.col("vec_id").alias("id_a"),
                    F.col("vq").alias("va"), F.col("nrm").alias("na"))
    y = kept.select(F.col("cluster_id"), F.col("vec_id").alias("id_b"),
                    F.col("vq").alias("vb"), F.col("nrm").alias("nb"))
    # the pair join's parallelism equals the number of clusters (8
    # here — a small-K bench artifact; at corpus scale K ~ n/1000 is
    # plenty). Re-spread the capped pair relation before the fold so
    # the scoring stage uses every core — at 100 TB the same move is
    # the skew mitigation for clusters of uneven size.
    pairs = (x.join(y, "cluster_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .repartition(F.col("id_a"), F.col("id_b")))
    cosine = F.round(
        dot(F.col("va"), F.col("vb"), zero=0).cast("double")
        / (F.col("na") * F.col("nb")), 6)
    return (pairs.select("cluster_id", "id_a", "id_b",
                         cosine.alias("cosine"))
            .filter(F.col("cosine") >= _THRESH)
            .orderBy("cluster_id", "id_a", "id_b"))


d8_semantic_dedup.__doc__ = d8_semantic_dedup.__doc__.format(
    K=_K, I=_ITERS, CAP=_CAP, T=_THRESH)
