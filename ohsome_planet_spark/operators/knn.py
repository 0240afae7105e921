"""Grid-partitioned kNN over geocoded points.

The graft's kNN operator (north star: "grid-partitioned kNN"): candidate
generation via cell + neighbor-ring co-location, local NumPy kNN per cell
block, global top-k reconciliation. At 100 TB this is the only shape that
works — the naive cross join is quadratic, while this plan shuffles each
point to O(9) cells and compares only within spatially adjacent blocks.

Correctness guarantee: a neighbor within `radius` degrees of the query is
always found if radius ≤ cell size (the 3×3 neighborhood covers it). The
exact-within-radius contract mirrors how the reference bounds its spatial
probes by grid cells (`SpatialGridJoiner.java:48-62`).

Plan:
  queries  → assign zxy cell @ zoom Z → explode to 3×3 neighbor cells
  candidates → assign home cell
  join on cell (shuffle, spatially co-located)
  per-pair distance (JVM expressions — haversine or planar)
  window top-k per query (rank on rounded distance + id tiebreak)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import drop_spark_zip_finders
from .tiling import zxy_cell_col


def _neighbor_cells_col(lon: Column, lat: Column, z: int) -> Column:
    """array<long> of the 3×3 cell neighborhood — pure JVM expressions."""
    n = F.lit(1 << z)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n).cast("long")
    iy = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * n).cast("long")
    ix = F.greatest(F.lit(0), F.least(ix, n - 1))
    iy = F.greatest(F.lit(0), F.least(iy, n - 1))
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            jx = F.pmod(ix + dx, n)  # wrap longitude
            jy = F.greatest(F.lit(0), F.least(iy + dy, n - 1))
            cells.append(
                (F.lit(z).cast("long") * F.lit(1 << 58).cast("long") + F.shiftleft(jx, 29) + jy)
            )
    return F.array_distinct(F.array(*cells))


def planar_distance_sq(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    dx = lon1 - lon2
    dy = lat1 - lat2
    return dx * dx + dy * dy


def auto_zoom(n_candidates: int, lon_extent: float, lat_extent: float,
              target_per_cell: int = 64, lo: int = 1, hi: int = 14) -> int:
    """Density-matched grid zoom (r5 soak finding #3 — the root fix).

    A FIXED zoom makes the ring-join pair volume O(n²) whenever candidate
    density grows with n: at sf1 the 45°×45° fixture put ~7,750 points in
    each zoom-6 cell → 3.1e9 pairs, and NO pair plan (window, Arrow local
    top-k, k-pass min) survives materializing them. The grid must track
    density: pick the smallest zoom whose expected per-cell occupancy is ≤
    target_per_cell, from three scalars (count, lon/lat extents):

        cell_area(z) = 64800 / 4^z  (global grid, degrees²)
        z = ceil( log4( 64800·n / (extent_area · target) ) )

    Deterministic and engine-portable: the same closed form is replayed in
    the DuckDB oracle SQL (ln/ln(4), round(…, 9) before ceil to absorb the
    last-ulp libm difference). Clamped to [lo, hi]; hi=14 keeps cells ≥
    ~2.4 km so the 3×3 ring still out-covers realistic k."""
    import math

    area = max(lon_extent * lat_extent, 1e-9)
    x = 64800.0 * max(n_candidates, 1) / (area * target_per_cell)
    if x <= 1.0:
        return lo
    z = math.ceil(round(math.log(x) / math.log(4.0), 9))
    return max(lo, min(hi, int(z)))


def _local_topk_arrow(k: int, qcol: str, ccol: str):
    """Per-Arrow-batch exact top-k per query (NumPy lexsort + run-position
    mask, no Python row loop). Keeping each batch's k best per query is
    lossless for the global top-k (the global winner set is a subset of
    every batch's winner set), so the downstream global window sees
    O(batches × queries × k) rows instead of the full pair stream — at sf1
    that is the difference between shuffling ~1M and ~110M rows."""

    def fn(batches):
        drop_spark_zip_finders()
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            q = b.column(b.schema.get_field_index(qcol)).to_numpy(
                zero_copy_only=False)
            c = b.column(b.schema.get_field_index(ccol)).to_numpy(
                zero_copy_only=False)
            d = b.column(b.schema.get_field_index("dist_sq")).to_numpy(
                zero_copy_only=False)
            order = np.lexsort((c, d, q))
            qs = q[order]
            starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
            runlen = np.diff(np.r_[starts, qs.size])
            pos = np.arange(qs.size) - np.repeat(starts, runlen)
            keep = order[pos < k]
            yield b.take(pa.array(keep))

    return fn


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    zoom: int | None = 6,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    metric: str = "planar",
    local_topk: bool = True,
) -> DataFrame:
    """Top-k nearest candidates per query among the 3×3 cell neighborhood.

    queries:    (query_id, lon, lat)
    candidates: (cand_id, lon, lat)
    metric='planar' ranks on round(squared degree distance, 9) — cheap and
    correct for same-latitude comparisons; metric='haversine' ranks on
    round(great-circle meters, 3) (column name stays dist_sq for schema
    stability; it holds METERS then). cand_id breaks ties
    (deterministic, oracle-friendly).

    zoom=None is EAGER: picking the density-matched zoom needs the
    candidate count + bbox, so a small aggregate job over `candidates`
    runs at plan-BUILD time (and the join recomputes `candidates` later).
    For a plain table scan that's one cheap extra pass; if `candidates`
    is an expensive derived frame, .persist()/.localCheckpoint() it
    before calling with zoom=None (or pass an explicit zoom) so the
    lineage doesn't execute twice.
    """
    if metric not in ("planar", "haversine"):
        raise ValueError("metric must be 'planar' or 'haversine'")
    from ohsome_planet_spark.session import kernel_partitions

    if zoom is None:
        # density-matched zoom from three scalars — ONE tiny aggregate job
        # at plan-build time (count + bbox of the candidate set)
        n_c, ln0, ln1, lt0, lt1 = candidates.agg(
            F.count(F.lit(1)), F.min("lon"), F.max("lon"),
            F.min("lat"), F.max("lat")).first()
        zoom = auto_zoom(int(n_c), float(ln1 - ln0), float(lt1 - lt0))

    q = queries.select(
        F.col(query_id),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
        F.explode(_neighbor_cells_col(F.col("lon"), F.col("lat"), zoom)).alias("cell"),
    )
    # spread pair GENERATION (r5 soak finding #2): when the candidate side
    # broadcasts, the join's parallelism is whatever the probe side's file
    # layout happened to be — a 24 MB query parquet reads as 1-2 partitions
    # and the entire pair stream (110M rows at sf1) generates on 1-2 tasks.
    # One tiny round-robin exchange of the exploded queries (9 rows/query,
    # ids+coords only) pins pair-gen at one wave of cores; REPARTITION_BY_NUM
    # keeps AQE from coalescing it back down.
    q = q.repartition(kernel_partitions(queries.sparkSession))
    c = candidates.select(
        F.col(cand_id),
        F.col("lon").alias("c_lon"),
        F.col("lat").alias("c_lat"),
        zxy_cell_col(F.col("lon"), F.col("lat"), zoom).alias("cell"),
    )
    pairs = q.join(c, "cell").where(F.col(query_id) != F.col(cand_id))
    if metric == "haversine":
        dist = F.round(
            haversine_m(F.col("q_lon"), F.col("q_lat"),
                        F.col("c_lon"), F.col("c_lat")), 3)
    else:
        dist = F.round(
            planar_distance_sq(F.col("q_lon"), F.col("q_lat"),
                               F.col("c_lon"), F.col("c_lat")), 9)
    scored = pairs.select(query_id, cand_id, dist.alias("dist_sq"))
    # NO pair dedup needed (r5 soak finding — the old dropDuplicates here
    # shuffled the ENTIRE pair stream once more, 110M rows at sf1): each
    # candidate carries exactly ONE home cell and the query's exploded ring
    # is array_distinct-unique, so a (query, candidate) pair can only form
    # once. Uniqueness is pinned by test_knn_pairs_unique.
    if local_topk:
        # map-side reduction BEFORE the only wide exchange: the pair stream
        # is generated by a broadcast join (no shuffle), so without this the
        # global rank window would shuffle every pair; dense cells (urban
        # mega-cells / the sf1 lattice) make that quadratic-ish in cell
        # density. Output is provably identical (see _local_topk_arrow).
        scored = scored.mapInArrow(
            _local_topk_arrow(k, query_id, cand_id), scored.schema)
    w = Window.partitionBy(query_id).orderBy(F.asc("dist_sq"), F.asc(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "dist_sq", "rank")
    )


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters (haversine, R=6371008.8 — the IUGG
    mean Earth radius) as ONE per-row JVM expression: deterministic given
    identical inputs, mirrored verbatim by the SQL oracle twin."""
    r = F.lit(6371008.8)
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / F.lit(2.0)
    dlon = F.radians(lon2 - lon1) / F.lit(2.0)
    a = (F.sin(dlat) * F.sin(dlat)
         + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon))
    return F.lit(2.0) * r * F.asin(F.sqrt(a))


def radius_join(
    queries: DataFrame,
    candidates: DataFrame,
    radius_m: float,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_deg: float | None = None,
    max_abs_lat: float = 70.0,
) -> DataFrame:
    """All (query, candidate) pairs within `radius_m` meters — the
    geodesic within-distance join, without a cross product.

    Same shape as the kNN plan: lat/lon degree bins of width `cell_deg`,
    queries explode to their 3×3 bin neighborhood, hash equi-join on the
    bin, exact haversine post-filter. Completeness needs cell_deg ≥ the
    radius in LONGITUDE degrees at the highest latitude present; the
    default radius/111320/cos(max_abs_lat°) is safe for |lat| ≤
    `max_abs_lat` (pass cell_deg explicitly for polar data).

    Longitude bins are MODULAR (n_lon = ceil(360/cell_deg)), so pairs
    straddling the ±180° antimeridian meet in a shared wrapped bin.

    Returns (query_id, cand_id, dist_m) with dist_m rounded to mm."""
    import math

    if cell_deg is None:
        cell_deg = radius_m / 111_320.0 / max(
            math.cos(math.radians(max_abs_lat)), 1e-6)
    n_lon = max(3, math.ceil(360.0 / cell_deg))

    def bins(lon: Column, lat: Column) -> tuple[Column, Column]:
        return (
            F.pmod(F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)),
                   F.lit(n_lon)).cast("long"),
            F.floor(lat / F.lit(cell_deg)).cast("long"),
        )

    qx, qy = bins(F.col(lon_col), F.col(lat_col))
    q = queries.select(
        F.col(query_id), F.col(lon_col).alias("_qlon"),
        F.col(lat_col).alias("_qlat"), qx.alias("_bx0"), qy.alias("_by0"),
    ).select(
        query_id, "_qlon", "_qlat",
        F.explode(F.array(*[
            F.struct(F.pmod(F.col("_bx0") + dx, F.lit(n_lon)).alias("bx"),
                     (F.col("_by0") + dy).alias("by"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])).alias("_b"),
    ).select(query_id, "_qlon", "_qlat",
             F.col("_b.bx").alias("_bx"), F.col("_b.by").alias("_by"))
    # same parallelism guard as knn_join (r5 soak finding #2): when the
    # candidate side broadcasts, pair generation + the haversine filter run
    # at the probe side's file partitioning — repartition the tiny exploded
    # query stream so the expensive map side gets one wave of cores
    from ohsome_planet_spark.session import kernel_partitions

    q = q.repartition(kernel_partitions(queries.sparkSession))

    cx, cy = bins(F.col(lon_col), F.col(lat_col))
    c = candidates.select(
        F.col(cand_id), F.col(lon_col).alias("_clon"),
        F.col(lat_col).alias("_clat"), cx.alias("_bx"), cy.alias("_by"),
    )
    dist = haversine_m(F.col("_qlon"), F.col("_qlat"),
                       F.col("_clon"), F.col("_clat"))
    return (
        q.join(c, ["_bx", "_by"])
        .select(query_id, cand_id, F.round(dist, 3).alias("dist_m"))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
    )
