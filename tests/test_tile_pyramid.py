"""Tile pyramid rollup (operators/tiling.py: zxy_parent_col, tile_pyramid)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from ohsome_planet_spark.functions.cells import zxy_cell, zxy_parent
from ohsome_planet_spark.operators.tiling import (
    tile_pyramid,
    zxy_cell_col,
    zxy_parent_col,
)


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 3000)
    lat = rng.uniform(-85, 85, 3000)
    w = rng.integers(1, 100, 3000)
    return spark.createDataFrame(
        [(float(a), float(b), int(c)) for a, b, c in zip(lon, lat, w)],
        "lon double, lat double, w long",
    )


def test_parent_col_matches_numpy(spark, pts):
    cells = pts.select(zxy_cell_col(F.col("lon"), F.col("lat"), 14).alias("c"))
    out = cells.select(
        "c", zxy_parent_col(F.col("c"), 14, 9).alias("p")).collect()
    got = np.array([r["p"] for r in out])
    want = zxy_parent(np.array([r["c"] for r in out]), 9)
    assert (got == want).all()


def test_pyramid_equals_direct_assignment(pts):
    pyr = tile_pyramid(pts, z_min=6, z_max=10,
                       measures={"wsum": F.col("w")})
    got = {(r["z"], r["cell"]): (r["n"], r["wsum"]) for r in pyr.collect()}
    rows = pts.collect()
    lon = np.array([r["lon"] for r in rows])
    lat = np.array([r["lat"] for r in rows])
    w = np.array([r["w"] for r in rows])
    for z in range(6, 11):
        cells = zxy_cell(lon, lat, z)
        want = {}
        for c, wv in zip(cells, w):
            n, s = want.get(c, (0, 0))
            want[c] = (n + 1, s + wv)
        level = {k[1]: v for k, v in got.items() if k[0] == z}
        assert level == {int(c): v for c, v in want.items()}, f"z={z}"


def test_total_count_preserved_per_level(pts):
    pyr = tile_pyramid(pts, z_min=4, z_max=8)
    per_z = {r["z"]: r["total"] for r in
             pyr.groupBy("z").agg(F.sum("n").alias("total")).collect()}
    assert per_z == {z: 3000 for z in range(4, 9)}


def test_exchange_reuse_across_levels(pts):
    pyr = tile_pyramid(pts, z_min=8, z_max=12)
    pyr.collect()  # AQE dedupes shared exchanges at runtime — final plan only
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    # every coarser level must roll up from the finer level's aggregate,
    # not re-scan the input: 5 levels ⇒ the 4 coarser branches each reuse
    # a finer branch's exchange
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") == 4
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_with_cells_geohash_option(spark):
    from pyspark.sql import functions as F

    from ohsome_planet_spark.functions.cells import geohash_cell
    from ohsome_planet_spark.operators.tiling import with_cells

    df = spark.createDataFrame([(-5.603, 42.605)], "lon double, lat double")
    out = with_cells(df, hex_resolutions=(), s2_level=None, xz2_g=None,
                     geohash_precision=5).collect()[0]
    assert out["geohash"] == "ezs42"
    import numpy as np
    assert geohash_cell(np.array([42.605]), np.array([-5.603]), 5)[0] == "ezs42"


def test_hex_cell_udf_exact_beside_a_null_coordinate(spark):
    """A NULL coordinate in an Arrow batch leaves the other rows' ids
    exact: hex ids exceed 2^53, so a float64 round trip would round them."""
    from ohsome_planet_spark.functions.cells import hex_cell
    from ohsome_planet_spark.operators.tiling import hex_cell_udf

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-85, 85, 200)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    df = spark.createDataFrame(rows + [(200, None, 10.0)],
                               "i int, lon double, lat double").coalesce(1)
    got = [r[1] for r in df.select(
        "i", hex_cell_udf(8)(F.col("lon"), F.col("lat"))).orderBy("i").collect()]
    assert got[-1] is None
    assert got[:-1] == hex_cell(lat, lon, 8).tolist()


def test_tile_top_k(spark):
    from ohsome_planet_spark.operators.tiling import tile_top_k

    rows = [(1, "a")] * 5 + [(1, "b")] * 3 + [(1, "c")] * 3 + [(1, "d")] \
        + [(2, "x")]
    df = spark.createDataFrame(rows, "cell long, item string")
    out = [(r["cell"], r["item"], r["n"], r["rank"])
           for r in tile_top_k(df, "cell", "item", k=2).collect()]
    # tie between b and c at n=3 -> item asc wins
    assert sorted(out) == [(1, "a", 5, 1), (1, "b", 3, 2), (2, "x", 1, 1)]
