"""The flagship enrichment pipeline: pages → geocoded, tiled contributions.

End-to-end Spark plan mirroring the reference's main job
(`Contributions2Parquet.call`, `/root/reference/ohsome-contributions/src/main/
java/org/heigit/ohsome/contributions/Contributions2Parquet.java:93-146`) over
the graft's input shape. Every mention's coordinates come from its gazetteer
row, so all per-point enrichment is computed once per gazetteer entity:

    gazetteer(entity, lat, lon)
      → country PIP join               (polygon index, numpy on the driver)
      → cell assignment                (hex r7–10, S2, zxy, XZ2)
      → WKB point geometry             (fixed 21-byte record)
      = enriched gazetteer             (a LocalRelation: no job to broadcast)

Per-mention rows (`enrich_pages`):

    pages(url, warc_ts, html, text, lang)
      → extract entity mentions        (JVM regexp + posexplode)
      → geocode                        (broadcast join carrying the enrichment)

Per-cell aggregates (`enrich_tile_counts`, `enrich_cell_counts`) never join
single mentions — the mention side only contributes a count per entity:

    pages → extract entity mentions
      → count per entity               (partial aggregation collapses hot
                                        entities map-side)
      → geocode                        (≤ |gazetteer| rows probe the join)
      → explode countries
      → per-cell aggregation           (n = Σ mention count)

Every stage is a DataFrame transformation: Catalyst prunes `html` out of the
scan (we never touch it after generation), pushes filters, and broadcasts the
small sides. The gazetteer is enriched on the driver, so no Spark job of the
pipeline runs Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ..functions.wkb import point_wkb_matrix
from ..operators.geocode import extract_mentions, geocode_mentions
from ..operators.spatial_join import build_index, point_countries
from ..operators.tiling import point_cells
from ..session import drop_spark_zip_finders
from ..sources.countries import fixture_features
from ..sources.gazetteer import gazetteer_rows


def _point_wkb(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """WKB point (JTS-default big-endian 2D); empty point (NaN,NaN) for
    invalid coords (the reference stores an empty geometry for invalid
    nodes — `ContributionGeometry.java:185-191`).

    Fully vectorized: a point WKB is a fixed 21-byte record
    (byte-order 0x00, >u4 type=1, >f8 x, >f8 y), so the whole batch is
    assembled as one (N,21) uint8 matrix (`wkb.point_wkb_matrix`) —
    invalid rows masked to NaN — and sliced into per-row bytes. No per-row arithmetic in Python."""
    drop_spark_zip_finders()
    import numpy as np

    x = np.asarray(pd.to_numeric(lon, errors="coerce"), dtype=np.float64)
    y = np.asarray(pd.to_numeric(lat, errors="coerce"), dtype=np.float64)
    valid = (x >= -180.0) & (x <= 180.0) & (y >= -90.0) & (y <= 90.0)  # NaN→False
    mem = point_wkb_matrix(np.where(valid, x, np.nan),
                           np.where(valid, y, np.nan)).tobytes()
    return pd.Series([mem[i * 21 : i * 21 + 21] for i in range(x.shape[0])])


def point_wkb_udf(lon: Column, lat: Column) -> Column:
    """`_point_wkb` as an Arrow-batched pandas UDF column.

    The UDF is built per call: a pandas UDF binds the accumulator of the
    SparkContext it is first called under, so a module-level one kept
    reporting to the stopped context after a session restart."""
    return F.pandas_udf(_point_wkb, BinaryType())(lon, lat)


# the exact 21 bytes _point_wkb emits for invalid/missing coords, so the
# coalesce fallback for unmatched mentions is bit-identical
_EMPTY_POINT_WKB = _point_wkb(
    pd.Series([float("nan")]), pd.Series([float("nan")]))[0]


# zxy_cell_col evaluated on NULL lon/lat: Spark's greatest/least SKIP
# null operands, so greatest(0, least(null, n-1)) = n-1 for both axes —
# the per-mention JVM expression emitted this concrete cell for
# unmatched mentions, and the join-carried plan must coalesce to the
# identical value (z=12 → ix=iy=4095).
_ZXY_NULL_CELL = 12 * 288230376151711744 + 4095 * 536870912 + 4095


# Enriched-DEFAULT-gazetteer memo: (hex_resolutions, with_geometry) →
# (applicationId, frame). The default gazetteer and country features are
# CODE LITERALS (sources/gazetteer.GAZETTEER,
# sources/countries.fixture_features) — their enrichment is a pure
# function of program constants, equivalent to precomputing it at import
# time. Nothing derived from any input table is ever memoized (the rule
# this respects: every bench/oracle run computes from the parquet
# inputs). One entry per option set, so a stopped context's frame is
# replaced on the next call instead of pinned beside the live one.
_GAZ_DEFAULT_MEMO: dict = {}


def _enrich_gazetteer(
    spark: SparkSession,
    rows: list,
    index,
    hex_resolutions: tuple[int, ...],
    with_geometry: bool,
) -> DataFrame:
    """Enriched gazetteer for `rows` of (entity, lat, lon), computed
    DRIVER-SIDE with the numpy kernels the Arrow UDFs wrap
    (`point_countries`, `point_cells`, `_point_wkb`). The geocode join
    broadcasts every gazetteer, so enriching it in Spark jobs would only
    put Python-worker stages in front of that same collect (r7 measured
    them as a fixed ~0.6 s per pipeline run).

    The result is built from a pyarrow Table, which plans as a
    LocalRelation: broadcasting it needs no collect job, and scanning it
    starts no Python worker (a `createDataFrame(list)` frame is a Python
    RDD scan and paid both on every run).

    Value contract (pinned by the enrich equality tests against the UDF
    composition with_countries + with_cells + point_wkb_udf): [] countries
    for invalid/missing coords, NULL cells where a coordinate is missing,
    the zxy clamp (C.zxy_cell is the expression's bit-exact twin, clamped
    per axis: a NULL coordinate takes the last index on its own axis, as
    the JVM expression's null-skipping greatest/least does), and the
    masked-NaN WKB."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType, BinaryType, DoubleType, LongType, StringType,
        StructField, StructType,
    )

    from ..functions import cells as C

    lat = np.array([r[1] for r in rows], dtype=np.float64)  # None → NaN
    lon = np.array([r[2] for r in rows], dtype=np.float64)
    lat_null, lon_null = np.isnan(lat), np.isnan(lon)
    cells = [point_cells(lambda la, lo, r=r: C.hex_cell(la, lo, r), lat, lon)
             for r in hex_resolutions]
    cells.append(point_cells(lambda la, lo: C.s2_cell_id(la, lo, 12), lat, lon))
    # zxy clamps each axis on its own: a NULL lon (lat) becomes 180
    # (-90), whose index clips to n-1 — the JVM expression's
    # null-skipping greatest/least output for that axis alone
    cells.append(C.zxy_cell(np.where(lon_null, 180.0, lon),
                            np.where(lat_null, -90.0, lat), 12))
    cells.append(point_cells(lambda la, lo: C.xz2_point(lo, la, 16), lat, lon))
    columns = [
        pa.array([r[0] for r in rows], pa.string()),
        pa.array(lat, mask=lat_null),
        pa.array(lon, mask=lon_null),
        pa.array(point_countries(index, lon, lat), pa.list_(pa.string())),
        *map(pa.array, cells),
    ]
    if with_geometry:
        columns.append(pa.array(
            _point_wkb(pd.Series(lon), pd.Series(lat)), pa.binary()))
    fields = [
        StructField("entity", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("countries", ArrayType(StringType())),
    ]
    fields += [StructField(f"hex_r{r}", LongType())
               for r in hex_resolutions]
    fields += [StructField("s2_cell", LongType()),
               StructField("zxy_cell", LongType()),
               StructField("xz2_code", LongType())]
    if with_geometry:
        fields.append(StructField("geometry", BinaryType()))
    table = pa.Table.from_arrays(columns, names=[f.name for f in fields])
    return spark.createDataFrame(table, StructType(fields))


def _enriched_gazetteer(
    spark: SparkSession,
    features,
    gazetteer: DataFrame | None,
    hex_resolutions: tuple[int, ...],
    with_geometry: bool,
) -> DataFrame:
    """One row per gazetteer entity with its countries, cells and (when
    asked) WKB point — what the geocode broadcast join carries.

    r7 (guide §8: decide with small rows): every mention's coordinates
    come FROM the gazetteer, so the country set is a function of the
    entity row — run the PIP kernel once over the gazetteer instead of
    probing the index per mention (the per-mention Arrow PIP stage was
    ~1.4 s of the 10M-page pipeline). A custom gazetteer is collected
    once; the default one is read from code (`gazetteer_rows`)."""
    if features is None and gazetteer is None:
        # default fixture gazetteer+features: enrich once per session (no
        # index rebuild per call — see _GAZ_DEFAULT_MEMO). applicationId
        # is unique per context — id(spark) could be reused by a NEW
        # session after the old one is GC'd
        app_id = spark.sparkContext.applicationId
        key = (hex_resolutions, with_geometry)
        hit = _GAZ_DEFAULT_MEMO.get(key)
        if hit is None or hit[0] != app_id:
            hit = (app_id, _enrich_gazetteer(
                spark, gazetteer_rows(), build_index(fixture_features()),
                hex_resolutions, with_geometry))
            _GAZ_DEFAULT_MEMO[key] = hit
        return hit[1]

    rows = (gazetteer_rows() if gazetteer is None
            else gazetteer.select("entity", "lat", "lon").collect())
    index = build_index(features if features is not None else fixture_features())
    return _enrich_gazetteer(spark, rows, index, hex_resolutions, with_geometry)


def enrich_pages(
    spark: SparkSession,
    pages: DataFrame,
    features=None,
    gazetteer: DataFrame | None = None,
    hex_resolutions: tuple[int, ...] = (7, 8, 9, 10),
    with_geometry: bool = True,
) -> DataFrame:
    """pages → one enriched row per entity mention. Unmatched mentions get
    the same empty array the per-mention kernel produced for invalid
    coords (see _assemble_enriched)."""
    gaz_cty = _enriched_gazetteer(
        spark, features, gazetteer, hex_resolutions, with_geometry)
    geocoded = geocode_mentions(extract_mentions(pages), gaz_cty)
    return _assemble_enriched(geocoded, hex_resolutions, with_geometry)


def _enrich_entity_counts(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """pages → one row per distinct mentioned entity: its `mentions` count
    plus the default gazetteer's enrichment (NULL when unmatched) and
    `coord_valid`.

    Every aggregated column is a function of the gazetteer row, so the
    per-cell aggregates need only this count from the mention side. The
    count is combinable: partial aggregation collapses hot entities
    map-side, and the geocode join then probes at most one row per
    distinct entity instead of one per mention."""
    counts = extract_mentions(pages).groupBy("entity").agg(
        F.count("*").alias("mentions"))
    gaz_cty = _enriched_gazetteer(spark, None, None, (7, 8, 9, 10), False)
    return geocode_mentions(counts, gaz_cty)


def _assemble_enriched(
    geocoded: DataFrame,
    hex_resolutions: tuple[int, ...],
    with_geometry: bool,
) -> DataFrame:
    """Final column order + unmatched-mention fallbacks.

    Unmatched mentions carry NULL enrichment columns from the left
    join. Matching the per-mention plan exactly: the Arrow cell
    kernels (_series_udf) emitted NULL for null coords — the join's
    NULLs already agree — while countries ([]), the JVM zxy
    expression (a concrete clamp cell, see _ZXY_NULL_CELL) and the
    WKB kernel (NaN empty point) emitted non-null values that the
    coalesces below reproduce bit-for-bit."""
    base = [c for c in geocoded.columns
            if not (c.startswith("hex_r") or c in (
                "countries", "s2_cell", "zxy_cell", "xz2_code",
                "geometry"))]
    return geocoded.select(
        *base,
        F.coalesce(
            F.col("countries"), F.array().cast("array<string>")
        ).alias("countries"),
        *[F.col(f"hex_r{r}") for r in hex_resolutions],
        F.col("s2_cell"),
        F.coalesce(F.col("zxy_cell"), F.lit(_ZXY_NULL_CELL))
        .alias("zxy_cell"),
        F.col("xz2_code"),
        *([F.coalesce(F.col("geometry"), F.lit(_EMPTY_POINT_WKB))
           .alias("geometry")] if with_geometry else []),
    )


def enrich_cell_counts(
    spark: SparkSession,
    pages: DataFrame,
    cell_col: str = "zxy_cell",
    salted: bool = True,
) -> DataFrame:
    """The headline aggregate: mentions per cell per country.

    `salted` is accepted for compatibility and ignored: the aggregate is
    a combinable sum over at most |gazetteer| × countries rows (see
    tile_counts_from_enriched)."""
    exploded = _enrich_entity_counts(spark, pages).where(
        F.col("coord_valid")).select(
        cell_col, F.explode_outer("countries").alias("country"), "mentions")
    return exploded.groupBy(cell_col, "country").agg(
        F.sum("mentions").alias("n"))


def enrich_tile_counts(
    spark: SparkSession,
    pages: DataFrame,
    salted: bool = True,
) -> DataFrame:
    """The full headline pipeline (BASELINE metric): extract → count per
    entity → geocode with the enriched gazetteer (PIP countries, hex
    r7–10, S2, zxy, XZ2) → per-(hex_r8, country) counts carrying the
    coarser hex levels. Equal, column for column, to
    `tile_counts_from_enriched(enrich_pages(...))` over single mentions.

    `salted` is accepted for compatibility and ignored (see
    tile_counts_from_enriched).
    """
    return tile_counts_from_enriched(
        _enrich_entity_counts(spark, pages), weight="mentions")


def tile_counts_from_enriched(
    enriched: DataFrame, salted: bool = True, weight: str | None = None
) -> DataFrame:
    """The aggregate half of enrich_tile_counts, over already-enriched rows.

    Factored out so the STREAMING twin shares it verbatim: the stream stage
    materializes enriched rows (per-row transforms only — nothing in the
    micro-batch shuffles) and this aggregate runs over the sink.

    `weight` names a column holding how many mentions each row stands for
    (`n` = Σ weight); without one every row is a single mention. The other
    columns are min / distinct-count aggregates, which row multiplicity
    does not change, so per-entity counts and per-mention rows give the
    same result.

    `salted` is accepted for compatibility and ignored. Count and sketch
    union are combinable, so partial aggregation already collapses hot
    keys map-side; a salt derived from the row hash never split a hot key
    anyway (all of its rows are identical, so they share one salt).

    The `approx_*` distinct-cell columns are Datasketches HLL estimates
    (`hll_sketch_agg`, merged across partitions by sketch union, which is
    exact). Estimate error is the standard HLL bound (~1.6% rel. std. at
    lgConfigK=12).

    BEHAVIOR CHANGE (r5, flagged r5-advice): before the sketch switch the
    UNSALTED path used exact `count_distinct`; the columns now always hold
    HLL estimates, so small inputs that previously saw exact distinct
    counts see ~±1.6% values instead. This is deliberate: the columns are
    named `approx_*`, and at the 100 TB design point exact distinct per
    cell is a full extra shuffle. Consumers needing exact counts at small
    scale should aggregate `count_distinct` off `enrich_pages` directly.
    """
    exploded = enriched.where(F.col("coord_valid")).select(
        "hex_r7", "hex_r8", "hex_r9", "hex_r10", "s2_cell", "zxy_cell", "xz2_code",
        F.explode_outer("countries").alias("country"),
        *([weight] if weight else []),
    )
    return exploded.groupBy("hex_r8", "country").agg(
        (F.sum(weight) if weight else F.count("*")).alias("n"),
        F.min("hex_r7").alias("hex_r7"),
        F.hll_sketch_estimate(F.hll_sketch_agg("hex_r9")).alias("approx_r9_cells"),
        F.hll_sketch_estimate(F.hll_sketch_agg("hex_r10")).alias("approx_r10_cells"),
        F.hll_sketch_estimate(F.hll_sketch_agg("s2_cell")).alias("approx_s2_cells"),
        F.hll_sketch_estimate(F.hll_sketch_agg("zxy_cell")).alias("approx_zxy_cells"),
        F.min("xz2_code").alias("min_xz2"),
    )
