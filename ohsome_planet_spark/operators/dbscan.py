"""Grid-partitioned DBSCAN over geocoded points.

Density-based clustering (Ester et al. 1996) with the ε-neighborhood
probe expressed as the engine's standard grid co-location join (the same
cell + 3×3-ring shape as `operators/knn.py`, semantics bound mirroring
the reference's grid-bounded spatial probes, `SpatialGridJoiner.java:48`):

  points → home cell at zoom z  ──┐
  points → 3×3 ring cells explode ┴ join on cell → dist² ≤ ε² pairs
  neighbor counts per point → core flag (|N_ε(p)| + self ≥ min_pts)
  core–core edges → connected components (`dedup.dedup_clusters` —
      one Arrow min-label task over the core-core edge list)
  border points attach to the MIN cluster id among their core neighbors
  everything else is noise

The zoom is derived from ε alone — the largest z whose cell is still ≥ ε
on both axes — so the 3×3 ring provably covers every ε-ball, cells are as
small as correctness allows (minimum pair fan-out), and no eager
statistics job runs at plan-build time. All decisions are integer-exact
or exact-IEEE (dist² ≤ ε² — no sqrt, no libm), so results are identical
across runs, engines, and cluster sizes.

Determinism note: textbook DBSCAN assigns a border point reachable from
several clusters to whichever core scanned it first (order-dependent).
Here the border point joins the cluster with the SMALLEST cluster id
among its core neighbors — a fixed, engine-replayable rule; core/noise
status and the core partition of clusters are identical to the textbook
algorithm (those are order-free).

100 TB shape: one cell-keyed shuffle generates candidate pairs (each
point replicates to ≤9 ring cells); neighbor counting is map-side
combined; the component step moves only the core-core edge list into
one task (past one worker's memory, `dedup.dedup_clusters_star` is the
distributed swap point). Dense-cell skew is inherent to EXACT DBSCAN (a
cell with m co-located points owns m² pairs regardless of plan shape);
for heavy hotspots lower min_pts workloads should pre-aggregate
exact-duplicate coordinates (count-weighted points), which this
operator's contract permits since coincident points share every
neighbor.

Reference parity: ohsome-planet has no clustering operator; this extends
the graft's geospatial family (SURVEY §2 addendum) alongside knn/radius/
zonal.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_clusters
from .knn import _neighbor_cells_col, planar_distance_sq
from .tiling import zxy_cell_col


M_PER_DEG = 6371008.8 * math.pi / 180.0  # IUGG mean radius, N-S meters/deg


def eps_zoom(eps: float, hi: int = 28) -> int:
    """Largest zoom whose cell is ≥ eps degrees on BOTH axes (the lat
    axis, 180/2^z, is the binding one), so a 3×3 ring covers every
    ε-ball. Clamped to [1, hi]; hi=28 keeps the cell id packing of
    `_neighbor_cells_col` valid."""
    if eps <= 0:
        raise ValueError("eps must be positive")
    z = int(math.floor(math.log2(180.0 / eps))) if eps < 180.0 else 1
    z = max(1, min(hi, z))
    # r6 advice (low): the z>=1 clamp can silently UNDER-cover — for
    # planar eps in (90, 180) the z=1 latitude cell is 90 deg < eps and
    # the 3x3 ring no longer covers every eps-ball (dropped neighbor
    # pairs). Refuse instead, like smooth_tile_counts' span guard.
    if 180.0 / (1 << z) < eps:
        raise ValueError(
            f"eps={eps} deg exceeds the z={z} cell span "
            f"{180.0 / (1 << z)} — the 3x3 ring cannot cover an eps-ball"
        )
    return z


def eps_zoom_meters(eps_m: float, max_abs_lat: float = 85.0,
                    hi: int = 28) -> int:
    """eps_zoom for a METERS radius: the binding axis is longitude at the
    highest latitude the data reaches (degrees shrink by cos φ), so the
    coverage guarantee holds for |lat| ≤ max_abs_lat; tighten or widen
    that bound to your data (85° ≈ the web-mercator cutoff). The cos is
    plan-build-time python — never inside a hashed expression."""
    if eps_m <= 0:
        raise ValueError("eps_m must be positive")
    if not 0 < max_abs_lat < 90:
        raise ValueError("max_abs_lat must be in (0, 90)")
    lat_deg = eps_m / M_PER_DEG
    lon_deg = eps_m / (M_PER_DEG * math.cos(math.radians(max_abs_lat)))
    # lat cell is 180/2^z, lon cell 360/2^z: require both ≥ the radius
    z_lat = eps_zoom(lat_deg, hi)
    z_lon = (int(math.floor(math.log2(360.0 / lon_deg)))
             if lon_deg < 360.0 else 1)
    z = max(1, min(z_lat, z_lon, hi))
    # same post-clamp coverage guard as eps_zoom (r6 advice, low)
    if 180.0 / (1 << z) < lat_deg or 360.0 / (1 << z) < lon_deg:
        raise ValueError(
            f"eps_m={eps_m} m ({lat_deg:.4f} deg lat / {lon_deg:.4f} deg "
            f"lon at |lat|<={max_abs_lat}) exceeds the z={z} cell span — "
            "the 3x3 ring cannot cover an eps-ball"
        )
    return z


def eps_neighbor_pairs(
    points: DataFrame,
    eps: float,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "planar",
    max_abs_lat: float = 85.0,
) -> DataFrame:
    """DIRECTED ε-neighbor pairs (id, nid) with dist ≤ ε, id ≠ nid —
    each unordered pair appears exactly twice (once per direction), which
    is what per-point neighbor counting wants. One cell-keyed shuffle.

    metric='planar': ε in degrees, compared as dist² ≤ ε² (exact IEEE —
    the oracle-safe mode). metric='haversine': ε in METERS via the same
    great-circle expression knn uses (libm — deterministic per engine but
    not cross-engine hashable); coverage guaranteed for |lat| ≤
    max_abs_lat, see eps_zoom_meters."""
    if metric == "planar":
        z = eps_zoom(eps)
    elif metric == "haversine":
        z = eps_zoom_meters(eps, max_abs_lat=max_abs_lat)
    else:
        raise ValueError("metric must be 'planar' or 'haversine'")
    lon, lat = F.col(lon_col), F.col(lat_col)
    home = points.select(
        F.col(id_col).alias("_id"), lon.alias("_lon"), lat.alias("_lat"),
        zxy_cell_col(lon, lat, z).alias("_cell"),
    )
    ring = points.select(
        F.col(id_col).alias("_nid"), lon.alias("_nlon"), lat.alias("_nlat"),
        F.explode(_neighbor_cells_col(lon, lat, z)).alias("_cell"),
    )
    if metric == "planar":
        d2 = planar_distance_sq(
            F.col("_lon"), F.col("_lat"), F.col("_nlon"), F.col("_nlat"))
        pred = d2 <= F.lit(float(eps * eps))
    else:
        from .knn import haversine_m

        pred = haversine_m(
            F.col("_lon"), F.col("_lat"), F.col("_nlon"), F.col("_nlat")
        ) <= F.lit(float(eps))
    return (
        home.join(ring, "_cell")
        .where(F.col("_id") != F.col("_nid"))
        .where(pred)
        .select("_id", "_nid")
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "planar",
    max_abs_lat: float = 85.0,
) -> DataFrame:
    """(id, n_neighbors, role, cluster_id) for every input point.

    role ∈ {'core', 'border', 'noise'}; cluster_id is the component's
    minimum CORE id (NULL for noise). A core with no core neighbor is a
    singleton cluster of its own id. min_pts counts the point itself
    (the textbook |N_ε(p)| ≥ minPts with p ∈ N_ε(p)). metric/max_abs_lat
    as in eps_neighbor_pairs (ε degrees planar / meters haversine)."""
    # pairs feeds neighbor counts, the core-core edge list, AND border
    # assignment; flags feeds pair annotation and the final roles. Spark
    # rebuilds an unpersisted subtree per consumer (no cross-consumer
    # plan reuse — the same pathology the grouped-bucket pair generators
    # in dedup.py fixed), which would run the grid join 3-4×. Persisting
    # both (spillable MEMORY_AND_DISK) computes each once. Honest
    # caveat: persist lifetime is the SparkSession, not the returned
    # plan — blocks stay cached (LRU-evictable) until
    # spark.catalog.clearCache(); callers running parameter sweeps
    # should clear between runs.
    from .cache_util import swap_persist

    pairs = swap_persist("dbscan_pairs", eps_neighbor_pairs(
        points, eps, id_col=id_col, lon_col=lon_col, lat_col=lat_col,
        metric=metric, max_abs_lat=max_abs_lat,
    ))

    counts = pairs.groupBy("_id").agg(F.count("*").alias("n_neighbors"))
    flags = (
        points.select(F.col(id_col).alias("_id"))
        .join(counts, "_id", "left")
        .select(
            "_id",
            F.coalesce("n_neighbors", F.lit(0)).cast("long")
            .alias("n_neighbors"),
        )
        .withColumn("is_core",
                    F.col("n_neighbors") + 1 >= F.lit(int(min_pts)))
    )
    flags = swap_persist("dbscan_flags", flags)

    core_flags = flags.select("_id", "is_core")
    # pairs annotated with both endpoints' core flags (id-keyed joins —
    # the core set can be corpus-sized, so no broadcast assumption)
    ann = (
        pairs.join(core_flags.withColumnRenamed("is_core", "_core_a"), "_id")
        .join(
            core_flags.select(F.col("_id").alias("_nid"),
                              F.col("is_core").alias("_core_b")),
            "_nid",
        )
    )
    core_edges = (
        ann.where(F.col("_core_a") & F.col("_core_b")
                  & (F.col("_id") < F.col("_nid")))
        .select(F.col("_id").alias("id_a"), F.col("_nid").alias("id_b"))
    )
    comp = dedup_clusters(core_edges)  # (node, cluster_id = min core id)

    core_clusters = (
        flags.where("is_core")
        .join(comp.withColumnRenamed("node", "_id"), "_id", "left")
        .select(
            "_id", "n_neighbors",
            F.coalesce("cluster_id", F.col("_id")).alias("cluster_id"),
        )
    )

    # border: non-core with ≥1 core neighbor → that neighbor's cluster
    # (min over neighbors — the fixed deterministic variant of the
    # textbook's first-scanner-wins)
    border_assign = (
        ann.where(~F.col("_core_a") & F.col("_core_b"))
        .join(
            core_clusters.select(F.col("_id").alias("_nid"),
                                 F.col("cluster_id").alias("_ncl")),
            "_nid",
        )
        .groupBy("_id")
        .agg(F.min("_ncl").alias("cluster_id"))
    )

    out = (
        flags.join(
            core_clusters.select("_id", F.col("cluster_id").alias("_ccl")),
            "_id", "left")
        .join(
            border_assign.select("_id", F.col("cluster_id").alias("_bcl")),
            "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_neighbors",
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("_bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("role"),
            F.coalesce("_ccl", "_bcl").alias("cluster_id"),
        )
    )
    return out
