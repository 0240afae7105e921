"""Polyline simplification (Douglas–Peucker) for tile rendering.

A tiling engine that serves vector tiles simplifies geometries per zoom
level — a way's full vertex list is wasted bytes at z8. Implemented from
the published Ramer–Douglas–Peucker algorithm (1972/1973 papers); no code
taken. The kernel is an ITERATIVE stack walk (a 100k-vertex coastline
would blow Python's recursion limit) over NumPy arrays; per-segment
perpendicular distances are computed vectorized for the whole span at
once, so the cost is O(n) NumPy work per retained split, not per vertex.

Guarantees (property-tested): endpoints always retained; the output is a
subsequence of the input vertices; every dropped vertex lies within
`epsilon` of the simplified line; idempotent (simplifying the output
changes nothing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves the hint strings
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import drop_spark_zip_finders


def _perp_dist(pts: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Distance from each point to the SEGMENT ab (projection clamped to
    [0,1]) — NOT the infinite line: a path that overshoots an endpoint and
    doubles back is collinear with the line yet far from the segment, and
    the infinite-line variant would happily delete it (found by the
    hypothesis sweep). Degenerate a==b falls back to point distance."""
    d = b - a
    L2 = float(d @ d)
    if L2 == 0.0:
        return np.hypot(*(pts - a).T)
    t = np.clip(((pts - a) @ d) / L2, 0.0, 1.0)
    proj = a + t[:, None] * d
    return np.hypot(*(pts - proj).T)


def douglas_peucker(coords: np.ndarray, epsilon: float) -> np.ndarray:
    """Simplified polyline (subset of input rows, order preserved)."""
    pts = np.asarray(coords, np.float64)
    n = len(pts)
    if n <= 2:
        return pts.copy()
    keep = np.zeros(n, bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        seg = pts[i + 1:j]
        dist = _perp_dist(seg, pts[i], pts[j])
        m = int(np.argmax(dist))
        if dist[m] > epsilon:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def simplify_lines(
    df: DataFrame,
    epsilon: float,
    wkb_col: str = "geometry",
    out_col: str | None = None,
) -> DataFrame:
    """Apply DP to every LineString WKB in `wkb_col` (other geometry
    types pass through untouched) — one Arrow-batched kernel, vertex
    arrays never leave NumPy."""
    from .wkb import wkb_dumps, wkb_loads

    out_col = out_col or wkb_col

    @F.pandas_udf("binary")
    def simp(col: pd.Series) -> pd.Series:
        drop_spark_zip_finders()
        res = []
        for blob in col:
            if blob is None:
                res.append(None)
                continue
            typ, data = wkb_loads(bytes(blob))
            if typ != "LineString":
                res.append(bytes(blob))
                continue
            res.append(wkb_dumps((typ, douglas_peucker(data, epsilon))))
        return pd.Series(res)

    return df.withColumn(out_col, simp(F.col(wkb_col)))


def epsilon_for_zoom(zoom: int, px_tolerance: float = 1.0) -> float:
    """Simplification tolerance (degrees) for a web-mercator-style zxy
    zoom: one tile spans 360/2^z degrees over 256 px, so `px_tolerance`
    pixels ≈ px · 360 / (2^z · 256). The standard per-zoom ladder for a
    vector-tile pipeline: simplify once per published zoom with this
    epsilon and cache via io/snapshots."""
    return px_tolerance * 360.0 / ((1 << zoom) * 256.0)


def simplify_for_zoom(df: DataFrame, zoom: int, px_tolerance: float = 1.0,
                      wkb_col: str = "geometry",
                      out_col: str | None = None) -> DataFrame:
    """simplify_lines at the tolerance a z-level tile can resolve."""
    return simplify_lines(df, epsilon_for_zoom(zoom, px_tolerance),
                          wkb_col=wkb_col, out_col=out_col)


def douglas_peucker_mask(
    x: np.ndarray, y: np.ndarray, tolerance: float
) -> np.ndarray:
    """Boolean keep-mask twin of `douglas_peucker` for callers holding
    separate lon/lat arrays (the way-pipeline layout): same iterative
    stack, same SEGMENT-clamped distances (compared squared — no
    hypot/sqrt in the loop)."""
    n = x.size
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    t2 = float(tolerance) * float(tolerance)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        dx = x[j] - x[i]
        dy = y[j] - y[i]
        px = x[i + 1:j] - x[i]
        py = y[i + 1:j] - y[i]
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2 = px * px + py * py
        else:
            t = np.clip((px * dx + py * dy) / l2, 0.0, 1.0)
            ex = px - t * dx
            ey = py - t * dy
            d2 = ex * ex + ey * ey
        k = int(np.argmax(d2))
        if d2[k] > t2:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return keep


def simplify_coord_arrays(
    df: DataFrame,
    tolerance: float,
    lons_col: str = "lons",
    lats_col: str = "lats",
) -> DataFrame:
    """DP over rows carrying lon/lat COORDINATE-ARRAY columns (the
    pre-WKB way layout) — the array-column sibling of `simplify_lines`:
    one mapInPandas pass preserving partitioning, replacing the arrays
    in place and appending n_before/n_after vertex counts."""
    from pyspark.sql.types import LongType, StructField, StructType

    # StructType.add mutates in place — build the output schema from a
    # fresh field list or df's own cached schema grows phantom columns
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("n_before", LongType()),
           StructField("n_after", LongType())]
    )
    tol = float(tolerance)

    def fn(batches):
        drop_spark_zip_finders()
        for pdf in batches:
            n_before = []
            n_after = []
            new_lons = []
            new_lats = []
            for lons, lats in zip(pdf[lons_col], pdf[lats_col]):
                if lons is None or lats is None:
                    # null geometry passes through (the WKB sibling's
                    # None-blob contract)
                    n_before.append(0)
                    n_after.append(0)
                    new_lons.append(lons)
                    new_lats.append(lats)
                    continue
                xa = np.asarray(lons, dtype=np.float64)
                ya = np.asarray(lats, dtype=np.float64)
                m = douglas_peucker_mask(xa, ya, tol)
                n_before.append(xa.size)
                n_after.append(int(m.sum()))
                new_lons.append(xa[m])
                new_lats.append(ya[m])
            pdf = pdf.copy()
            pdf[lons_col] = new_lons
            pdf[lats_col] = new_lats
            pdf["n_before"] = pd.array(n_before, dtype="int64")
            pdf["n_after"] = pd.array(n_after, dtype="int64")
            yield pdf

    return df.mapInPandas(fn, schema=out_schema)
