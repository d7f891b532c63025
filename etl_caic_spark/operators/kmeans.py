"""K-means (Lloyd's) as pure DataFrame iterations — the trained coarse
quantizer for IVF similarity search (upgrades the per-label centroids in
operators/similarity.ivf_topk).

Each iteration is: assign (cross join against broadcast centroids →
min_by distance) + recompute (posexplode → per-(cluster, dim) mean →
rebuild arrays), with localCheckpoint to cut lineage. All math is
JVM-side zip_with/aggregate in double.

Scale: centroids are k×dim doubles — always broadcastable; the assign
pass is one narrow scan of the corpus per iteration; the recompute
shuffles (k × dim) partial sums. Initialization is deterministic (first k
rows by id) so results are reproducible run-to-run."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_caic_spark.util import strip_plan_stats, widen_narrow_scan


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _mean_vectors(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cluster, vec) rows → (cluster, mean vec) via posexplode + groupBy —
    no collect, scales with corpus size."""
    exploded = assigned.select(
        "cluster", F.posexplode(vec_col).alias("pos", "val")
    )
    return (
        exploded.groupBy("cluster", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select(
            "cluster",
            F.transform("pairs", lambda s: s.getField("cval")).alias("centroid"),
        )
    )


def assign_clusters(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Attach the nearest centroid's cluster id (and squared distance) to
    every row. Ties break on the lower cluster id (deterministic)."""
    pts = widen_narrow_scan(df).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    scored = pts.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sq_dist(F.col("_v"), F.col("centroid"))
    )
    best = scored.groupBy(id_col).agg(
        F.min_by(F.struct("cluster", "_d"), F.struct("_d", "cluster")).alias("_best")
    )
    return df.join(
        best.select(
            id_col,
            F.col("_best.cluster").alias("cluster"),
            F.col("_best._d").alias("sq_dist"),
        ),
        id_col,
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 8,
    sample_mod: int | None = None,
) -> DataFrame:
    """Fit k centroids; returns DataFrame(cluster int, centroid array<double>).
    Deterministic init: the k lowest-id vectors, then exactly ``iters``
    Lloyd steps (no convergence test).

    `sample_mod=m` trains on the deterministic ~1/m subset with
    xxhash64(id) % m == 0 — the production quantizer shape: Lloyd's cost
    drops m-fold while centroid quality barely moves (coarse cells need
    only the density shape), and the full corpus is still assigned to
    cells afterwards by the caller. Hash-of-id sampling is partition-layout
    independent, so results are stable across cluster sizes."""
    # Widen + checkpoint once: every iteration's assign pass re-reads pts,
    # and the distance evaluation must run at full parallelism, not at the
    # (possibly single-file) scan's width.
    pts = widen_narrow_scan(df).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    if sample_mod is not None and sample_mod > 1:
        pts = pts.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    pts = pts.localCheckpoint()
    # k rows — the single-partition window for the init ids is trivial.
    centroids = (
        pts.orderBy(id_col)
        .limit(k)
        .select(id_col, F.col("_v").alias("centroid"))
        .withColumn(
            "cluster", (F.row_number().over(Window.orderBy(id_col)) - 1).cast("int")
        )
        .select("cluster", "centroid")
        .localCheckpoint()
    )
    for _ in range(iters):
        # Fused assign: keep (_v, cluster) through the min_by aggregate
        # instead of joining assignments back onto the corpus — one
        # shuffle (the groupBy) per assign instead of two.
        scored = pts.crossJoin(F.broadcast(centroids)).withColumn(
            "_d", _sq_dist(F.col("_v"), F.col("centroid"))
        )
        assigned = (
            scored.groupBy(id_col)
            .agg(
                F.min_by(F.struct("cluster", "_v"), F.struct("_d", "cluster")).alias(
                    "_b"
                )
            )
            .select(F.col("_b.cluster").alias("cluster"), F.col("_b._v").alias("_v"))
        )
        new_centroids = _mean_vectors(assigned, "_v")
        # Empty clusters keep their previous centroid. Single checkpoint
        # per iteration (the recompute plan is folded in).
        centroids = (
            centroids.alias("old")
            .join(new_centroids.alias("new"), "cluster", "left")
            .select(
                "cluster",
                F.coalesce(F.col("new.centroid"), F.col("old.centroid")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint()
        )
        # strip_plan_stats: next round's crossJoin carries this
        # checkpoint's computed stats (scaled by the corpus size every
        # Lloyd step) - bit growth is linear per round here, but the r10
        # registry convention applies to every iterative checkpoint loop.
        centroids = strip_plan_stats(centroids)
    return centroids


def inertia(df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str) -> float:
    """Sum of squared distances to assigned centroids (the Lloyd's
    objective — must be non-increasing over iterations)."""
    assigned = assign_clusters(df, centroids, id_col, vec_col)
    return assigned.agg(F.sum("sq_dist")).collect()[0][0]
