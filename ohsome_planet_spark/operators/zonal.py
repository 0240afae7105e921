"""Raster → cell zonal statistics (raster↔vector operator).

The graft's "raster-to-H3 zonal-stats" operator: raster tiles arrive as
array<double> pixel blocks with WGS84 bounds (FIXTURES.md §7); each pixel is
assigned to the zxy/hex cell containing its center, partial (sum, count,
min, max) aggregates are computed per (tile, cell) inside an Arrow kernel,
and a global groupBy combines partials across tiles — the standard two-level
pattern, so no pixel-level rows ever shuffle.

At 100 TB of raster this is the only viable shape: the Arrow kernel reduces
each tile (W×H pixels) to at most a few hundred (cell, partial) rows before
any shuffle happens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import zxy_cell
from ..session import drop_spark_zip_finders

PARTIAL_SCHEMA = (
    "cell long, px_sum double, px_count long, px_min double, px_max double"
)


def zonal_stats(
    tiles: DataFrame,
    zoom: int = 8,
    width: int = 16,
    height: int = 16,
    cell_kind: str = "zxy",
    hex_res: int = 8,
) -> DataFrame:
    """tiles(tile_x, tile_y, values array<double>, bounds struct<xmin,ymin,
    xmax,ymax>) → per-cell (mean, sum, count, min, max).

    cell_kind: 'zxy' (quadkey) or 'hex' (the raster→H3 shape — pixels binned
    into hex cells at `hex_res`). Pixel (r, c) center:
    x = xmin + (c+0.5)·(xmax−xmin)/W, y = ymax − (r+0.5)·(ymax−ymin)/H.
    """
    from ..functions.cells import hex_cell

    def cell_fn(gx, gy):
        if cell_kind == "hex":
            return hex_cell(gy, gx, hex_res)
        return zxy_cell(gx, gy, zoom)

    def per_tile(batches):
        drop_spark_zip_finders()
        for pdf in batches:
            out_cells = []
            out_sum = []
            out_cnt = []
            out_min = []
            out_max = []
            for row in pdf.itertuples():
                vals = np.asarray(row.values, np.float64).reshape(height, width)
                b = row.bounds
                xs = b["xmin"] + (np.arange(width) + 0.5) * (b["xmax"] - b["xmin"]) / width
                ys = b["ymax"] - (np.arange(height) + 0.5) * (b["ymax"] - b["ymin"]) / height
                gx, gy = np.meshgrid(xs, ys)
                cells = cell_fn(gx.ravel(), gy.ravel())
                flat = vals.ravel()
                order = np.argsort(cells, kind="stable")
                sc = cells[order]
                sv = flat[order]
                cuts = np.nonzero(np.diff(sc))[0] + 1
                starts = np.concatenate([[0], cuts])
                ends = np.concatenate([cuts, [sc.size]])
                for s, e in zip(starts, ends):
                    out_cells.append(int(sc[s]))
                    seg = sv[s:e]
                    out_sum.append(float(seg.sum()))
                    out_cnt.append(int(e - s))
                    out_min.append(float(seg.min()))
                    out_max.append(float(seg.max()))
            yield pd.DataFrame(
                {
                    "cell": pd.Series(out_cells, dtype="int64"),
                    "px_sum": out_sum,
                    "px_count": pd.Series(out_cnt, dtype="int64"),
                    "px_min": out_min,
                    "px_max": out_max,
                }
            )

    partials = tiles.mapInPandas(per_tile, PARTIAL_SCHEMA)
    return partials.groupBy("cell").agg(
        F.sum("px_sum").alias("value_sum"),
        F.sum("px_count").alias("px_count"),
        (F.sum("px_sum") / F.sum("px_count")).alias("value_mean"),
        F.min("px_min").alias("value_min"),
        F.max("px_max").alias("value_max"),
    )


def make_raster_tiles(
    spark,
    n_tiles_x: int = 8,
    n_tiles_y: int = 8,
    width: int = 16,
    height: int = 16,
    origin=(0.0, 0.0),
    tile_deg: float = 1.0,
) -> DataFrame:
    """Deterministic constant-plus-gradient tiles (FIXTURES.md §7): pixel
    value = tile_x·1000 + tile_y·100 + row + col/100 — closed-form, so exact
    per-cell means are computable independently in tests."""
    rows = []
    for tx in range(n_tiles_x):
        for ty in range(n_tiles_y):
            vals = [
                float(tx * 1000 + ty * 100 + r + c / 100.0)
                for r in range(height)
                for c in range(width)
            ]
            xmin = origin[0] + tx * tile_deg
            ymin = origin[1] + ty * tile_deg
            rows.append(
                (tx, ty, vals, {"xmin": xmin, "ymin": ymin, "xmax": xmin + tile_deg, "ymax": ymin + tile_deg})
            )
    return spark.createDataFrame(
        rows,
        "tile_x int, tile_y int, values array<double>, "
        "bounds struct<xmin double, ymin double, xmax double, ymax double>",
    )
