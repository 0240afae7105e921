"""Distributed k-means (Lloyd's algorithm), deterministic by construction.

The IVF index (operators/similarity.py) quantizes with a bounded driver
sample; this is the full distributed counterpart — every point
participates in every update — and the engine-exactness showcase for
iterative ML: like the PageRank operator, every float step is
order-fixed, so k fixed iterations produce bit-identical centroids and
assignments in any engine and any partitioning:

* init: the first k vectors in id order (deterministic seed — k-means++
  would need order-free randomness; callers wanting it can pass ids
  drawn via sampling.hash_sample);
* distances: squared L2 as a LEFT FOLD over zip_with(vec, centroid) in
  dimension order — same fold order in the DuckDB twin ⇒ bit-exact, no
  rounding needed;
* assignment: argmin via row_number ordered by (distance, cluster id) —
  total order, one deterministic winner;
* update: per (cluster, dim), the member values fold in id-sorted order
  and divide by the count (one division). Empty clusters keep their
  previous centroid.

100 TB shape: per iteration, one broadcast of k·d centroid doubles, one
shuffle of (cluster, dim, value) triples for the update (dim explode
multiplies rows by d — for d ≫ 100 switch the update to an Arrow kernel
summing vectors per partition; the fold-order contract then needs the
partition-sorted variant). Iterations are a fixed small number; lineage
stays shallow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(vec, cen):
    d = lambda a, b: (a.cast("double") - b.cast("double"))
    return F.aggregate(
        F.zip_with(vec, cen, lambda a, b: d(a, b) * d(a, b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (assignments, centroids) after `iterations` Lloyd steps:
    assignments = (id, cluster, dist); centroids = (cluster, centroid).

    keep_vec=True carries the input vector through into assignments (as
    vec_col) — consumers that need the vector per assignment (semdedup's
    within-cluster cosine pass) avoid re-joining the source, which at
    scale would be a second shuffle of the full embedding column."""
    pts = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    # TakeOrderedAndProject first (distributed partial top-k); the
    # row_number window then orders only k rows
    first_k = pts.orderBy(F.asc("_id")).limit(k)
    w_init = Window.orderBy(F.asc("_id"))
    centroids = (
        first_k.withColumn("_rn", F.row_number().over(w_init))
        .select((F.col("_rn") - 1).alias("cluster"),
                F.transform("_v", lambda x: x.cast("double")).alias("_c"))
    )

    assign = None
    for _ in range(iterations):
        j = pts.crossJoin(F.broadcast(centroids))
        scored = j.select(
            "_id", "_v", "cluster", _sq_dist(F.col("_v"), F.col("_c")).alias("_d"))
        w = Window.partitionBy("_id").orderBy(F.asc("_d"), F.asc("cluster"))
        assign = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("_id", "_v", "cluster", "_d")
        )

        dims = assign.select(
            "_id", "cluster", F.posexplode("_v").alias("_j", "_val"))
        means = (
            dims.groupBy("cluster", "_j")
            .agg(
                (
                    F.aggregate(
                        F.array_sort(F.collect_list(
                            F.struct("_id", F.col("_val").cast("double").alias("_x")))),
                        F.lit(0.0),
                        lambda acc, s: acc + s["_x"],
                    ) / F.count("*")
                ).alias("_m")
            )
        )
        new_c = (
            means.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_j", "_m"))),
                    lambda s: s["_m"],
                ).alias("_c")
            )
        )
        # empty clusters keep their previous centroid.
        # NO per-round checkpoint here, measured both ways (r6): at the
        # 2-iteration default the single lazy plan beats eager AND lazy
        # centroid localCheckpoints ~2× (Spark reuses the broadcast/exchange
        # subtrees within one plan; a checkpoint forces the upstream jobs to
        # run standalone). Lineage does grow with iterations — callers
        # running MANY Lloyd rounds should checkpoint the returned centroids
        # between calls (k tiny rows), as dedup_clusters_star does per round.
        centroids = (
            centroids.select("cluster", F.col("_c").alias("_c_prev"))
            .join(new_c, "cluster", "left")
            .select("cluster", F.coalesce("_c", "_c_prev").alias("_c"))
        )

    out_cols = [F.col("_id").alias(id_col), F.col("cluster"),
                F.round(F.col("_d"), 9).alias("dist")]
    if keep_vec:
        out_cols.append(F.col("_v").alias(vec_col))
    assignments = assign.select(*out_cols)
    return assignments, centroids.select(
        "cluster", F.col("_c").alias("centroid"))
