"""Broadcast point-in-polygon spatial join (country enrichment).

The Spark shape of the reference's spatial join stage
(`SpatialGridJoiner.join`, `/root/reference/ohsome-contributions/src/main/
java/org/heigit/ohsome/contributions/spatialjoin/SpatialGridJoiner.java:48-62`):

- the polygon index is built once on the driver and **broadcast** (the
  reference builds its HPR-tree/grid once per process — same idea, but
  Spark's broadcast gives it to every executor);
- the probe runs inside an Arrow-batched pandas UDF, vectorized per polygon
  part over the whole batch — zero per-row Python;
- the executor-side index object is cached per Python worker process via the
  broadcast (deserialized once, reused across batches), mirroring the
  reference's prepared-geometry cache (`SpatialGridJoiner.fromCSVGrid:19-23`);
- output is a sorted `array<string>` of country ids per point — set
  semantics exactly like the reference (a point in overlapping features gets
  all of them).

Invalid coordinates (per coord_valid) get an empty array — the reference's
empty-geometry → empty-set behavior. That per-point rule is `point_countries`,
which the driver-side gazetteer enrichment (plans/enrich.py) calls too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions.pip_index import PolygonIndex


def build_index(features, grid_zoom: int | None = 8) -> PolygonIndex:
    return PolygonIndex(features, grid_zoom=grid_zoom)


def point_countries(index: PolygonIndex, lon: np.ndarray, lat: np.ndarray) -> list[list[str]]:
    """Sorted country ids per point (float64 arrays, NaN = missing); [] for
    a missing or out-of-range coordinate."""
    ok = ~(np.isnan(lon) | np.isnan(lat))
    ok &= (lon >= -180.0) & (lon <= 180.0) & (lat >= -90.0) & (lat <= 90.0)
    result: list[list[str]] = [[]] * len(lon)
    if ok.any():
        sel = np.nonzero(ok)[0]
        # memoize repeated coordinates: entity mentions repeat massively,
        # so probe only the unique points (the reference memoizes
        # geometry per contribution the same way — Contribution.data,
        # `contrib/Contribution.java:26-28`)
        pts = np.column_stack([lon[sel], lat[sel]])
        uniq, inverse = np.unique(pts, axis=0, return_inverse=True)
        hits = index.join_points_grid(uniq[:, 0], uniq[:, 1])
        for pos, inv in zip(sel, inverse):
            result[pos] = hits[inv]
    return result


def countries_udf(spark, index: PolygonIndex):
    """Returns a pandas UDF (lon, lat) → array<string> over broadcast index."""
    bc = spark.sparkContext.broadcast(index)

    @F.pandas_udf(ArrayType(StringType()))
    def pip_countries(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(point_countries(
            bc.value,
            lon.to_numpy(dtype=np.float64, na_value=np.nan),
            lat.to_numpy(dtype=np.float64, na_value=np.nan),
        ))

    # asNondeterministic (r7, optimization-guide §4.4): a filter derived
    # from the UDF's output (e.g. the size(countries) > 0 an explode
    # generates) otherwise gets pushed below the projection WITH A COPY
    # of the UDF — the executed r6 pip_countries plan ran this kernel
    # twice per row, once below the pushed filter and once above it.
    # The kernel is pure; the flag only forbids the optimizer to
    # duplicate/reorder it, it does not change any result.
    return pip_countries.asNondeterministic()


def with_countries(
    points: DataFrame,
    index: PolygonIndex,
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "countries",
) -> DataFrame:
    udf = countries_udf(points.sparkSession, index)
    return points.withColumn(out_col, udf(F.col(lon_col), F.col(lat_col)))
