"""Expression-only k-means and SemDeDup pair verify: the differential
oracles for the package's driver-resident k-means
(``similarity._kmeans`` → ``_refine_arrow`` → ``_route_fold``) and its
gram-matrix pair verify (``similarity.semantic_dedup_pairs``).

Every routing cosine here is one Spark higher-order-function fold (a
``zip_with`` product summed left to right) and every Lloyd mean a
``decimal(28,10)`` average cast to float, so the package's numpy
kernels must reproduce these results bit for bit. Test-only: each Lloyd
iteration nests one more broadcast join and aggregate into the plan.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_demo_spark.operators.similarity import (
    _centroids,
    l2_norm_exact,
)


def _fold(arr):
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _sq(v):
    return F.transform(v, lambda x: x * x)


def cos_double(va, vb):
    """Routing cosine over double casts, folded in array order."""
    da, db = va.cast("array<double>"), vb.cast("array<double>")
    dot = _fold(F.zip_with(da, db, lambda x, y: x * y))
    return dot / F.sqrt(_fold(_sq(da)) * _fold(_sq(db)))


def best_centroids(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    n_best: int = 1,
) -> DataFrame:
    """``(id, centroid_id, sim)``: each vector's ``n_best`` centroids by
    (sim desc, centroid_id asc) — a ``max_by`` argmax for one, a
    ``row_number`` window for more."""
    scored = vectors.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("centroid_id"),
        cos_double(F.col(vec_col), F.col("__cvec")).alias("sim"),
    )
    if n_best == 1:
        best = F.max_by(
            F.struct("centroid_id", "sim"),
            F.struct(F.col("sim"), -F.col("centroid_id")),
        )
        return scored.groupBy(id_col).agg(best.alias("b")).select(
            id_col, "b.centroid_id", "b.sim"
        )
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_best)
        .drop("rk")
    )


def centroids(
    corpus: DataFrame, n: int, id_col: str, vec_col: str, iters: int
) -> DataFrame:
    """Hash-sample init plus ``iters`` Lloyd passes over the non-zero
    vectors; a centroid without members, or whose mean has no
    ``_dot_exact`` norm, keeps its vector."""
    nz = corpus.filter(l2_norm_exact(F.col(vec_col)) > 0)
    cents = _centroids(nz, n, id_col, vec_col)
    dim = len(nz.select(vec_col).first()[0])
    for _ in range(iters):
        assign = best_centroids(nz, cents, id_col, vec_col).drop("sim")
        means = (
            nz.join(assign, id_col)
            .groupBy("centroid_id")
            .agg(*[
                F.avg(
                    F.element_at(F.col(vec_col), i + 1).cast("decimal(28,10)")
                ).alias(f"m{i}")
                for i in range(dim)
            ])
            .select(
                "centroid_id",
                F.array(
                    *[F.col(f"m{i}").cast("float") for i in range(dim)]
                ).alias("mvec"),
            )
        )
        moved = F.col("mvec").isNotNull() & (l2_norm_exact(F.col("mvec")) > 0)
        cents = cents.join(means, "centroid_id", "left").select(
            "centroid_id",
            F.when(moved, F.col("mvec")).otherwise(F.col("__cvec")).alias("__cvec"),
        )
    return cents


def cluster_embeddings(
    corpus: DataFrame, n_clusters: int, refine_iters: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """``(id, cluster_id, sim)`` for every non-zero vector."""
    nz = corpus.filter(l2_norm_exact(F.col(vec_col)) > 0)
    cents = centroids(corpus, n_clusters, id_col, vec_col, refine_iters)
    return best_centroids(nz, cents, id_col, vec_col).select(
        id_col, F.col("centroid_id").alias("cluster_id"), "sim"
    )


def semantic_dedup_pairs(
    corpus: DataFrame, assignments: DataFrame, eps: float,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Within-cluster pairs over the cluster equi-join, cosine folded in
    array order and rounded to 9 decimals."""
    v = F.col(vec_col).cast("array<double>")
    member = corpus.join(assignments.select(id_col, "cluster_id"), id_col).select(
        "cluster_id",
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.sqrt(_fold(_sq(v))).alias("n"),
    ).filter(F.col("n") > 0)

    def side(s):
        return member.select(
            "cluster_id", *[F.col(c).alias(f"{c}_{s}") for c in ("id", "v", "n")]
        )

    dot = _fold(F.zip_with("v_a", "v_b", lambda x, y: x * y))
    return (
        side("a").join(side("b"), "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(dot / (F.col("n_a") * F.col("n_b")), 9).alias("cosine"),
        )
        .filter(F.col("cosine") >= 1.0 - eps)
    )
