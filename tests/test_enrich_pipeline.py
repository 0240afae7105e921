"""End-to-end enrichment pipeline on Spark: correctness + invariants."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.functions.text import sha256_hex
from ohsome_planet_spark.functions.wkb import wkb_loads
from ohsome_planet_spark.plans.enrich import (
    enrich_cell_counts,
    enrich_pages,
    enrich_tile_counts,
    tile_counts_from_enriched,
)
from ohsome_planet_spark.sources.gazetteer import GAZETTEER
from ohsome_planet_spark.sources.pages import pages_df

N_PAGES = 500


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def skewed_pages(spark, pages):
    """The generated pages (~60% of mentions on 3 hot entities) plus pages
    that also name entities the gazetteer does not hold."""
    extra = spark.createDataFrame(
        [(f"https://unlisted.example/p/{i}", pd.Timestamp("2024-01-01").to_pydatetime(),
          None, f"near @@Unlisted_{i % 3}@@ and @@Alpha_City@@", "en")
         for i in range(30)],
        pages.schema,
    )
    return pages.unionByName(extra).cache()


@pytest.fixture(scope="module")
def enriched(spark, pages):
    return enrich_pages(spark, pages).cache()


def test_pages_shape_and_determinism(spark, pages):
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == N_PAGES
    a = pages.orderBy("url").limit(20).collect()
    b = pages_df(spark, N_PAGES).orderBy("url").limit(20).collect()
    assert a == b


def test_text_byte_identical_per_url(spark, pages, enriched):
    """North-rule invariant: extracted text byte-identical per url through
    the pipeline — check sha256(text) of input vs what re-joining the
    enriched rows back to pages yields."""
    src = pages.select("url", F.sha2("text", 256).alias("h_src"))
    back = enriched.join(pages, "url").select(
        "url", F.sha2("text", 256).alias("h_back")
    )
    joined = src.join(back, "url")
    assert joined.where(F.col("h_src") != F.col("h_back")).count() == 0


def test_mention_count_matches_text(spark, pages, enriched):
    exp = pages.select(
        F.size(F.regexp_extract_all("text", F.lit("@@([A-Za-z0-9_]+)@@"), 1)).alias("k")
    ).agg(F.sum("k")).collect()[0][0]
    assert enriched.count() == exp


def test_invalid_coords_flagged_and_empty(spark, enriched):
    bad = enriched.where(F.col("entity").isin("Chi_Nowhere", "Psi_Void"))
    assert bad.count() > 0
    assert bad.where(F.col("coord_valid")).count() == 0
    assert bad.where(F.size("countries") > 0).count() == 0
    # geometry is the empty WKB point
    buf = bad.select("geometry").first()[0]
    assert wkb_loads(bytes(buf)) == ("Point", None)


def test_country_join_matches_driver_side_index(spark, enriched):
    """Distributed join result == driver-side single-process probe."""
    import numpy as np

    from ohsome_planet_spark.functions.pip_index import PolygonIndex
    from ohsome_planet_spark.sources.countries import fixture_features

    idx = PolygonIndex(fixture_features(), grid_zoom=None)
    rows = (
        enriched.where(F.col("coord_valid"))
        .select("entity", "lat", "lon", "countries")
        .distinct()
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        exp = idx.join_points(np.array([r["lon"]]), np.array([r["lat"]]))[0]
        assert r["countries"] == exp, r["entity"]


def test_cell_columns_present_and_consistent(spark, enriched):
    import numpy as np

    from ohsome_planet_spark.functions import cells as C

    rows = (
        enriched.where(F.col("coord_valid"))
        .select("lat", "lon", "hex_r7", "hex_r8", "hex_r9", "hex_r10", "s2_cell", "zxy_cell", "xz2_code")
        .limit(200)
        .collect()
    )
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    assert (C.hex_cell(lat, lon, 8) == np.array([r["hex_r8"] for r in rows])).all()
    assert (C.s2_cell_id(lat, lon, 12) == np.array([r["s2_cell"] for r in rows])).all()
    assert (C.zxy_cell(lon, lat, 12) == np.array([r["zxy_cell"] for r in rows])).all()
    assert (C.xz2_point(lon, lat, 16) == np.array([r["xz2_code"] for r in rows])).all()


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _name_types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_tile_counts_equal_per_mention_reference(spark, skewed_pages):
    """enrich_tile_counts joins per-entity counts, not mentions; every
    column, the approx_* sketches included, must equal the aggregate over
    one enriched row per mention."""
    per_mention = enrich_pages(spark, skewed_pages, with_geometry=False)
    assert per_mention.where(F.col("lat").isNull()).count() >= 30  # unmatched
    ref = tile_counts_from_enriched(per_mention)
    got = enrich_tile_counts(spark, skewed_pages)
    assert _name_types(got) == _name_types(ref)
    assert _sorted_rows(got) == _sorted_rows(ref)


@pytest.mark.parametrize("cell_col", ["zxy_cell", "hex_r8", "s2_cell"])
def test_cell_counts_equal_per_mention_reference(spark, skewed_pages, cell_col):
    ref = (
        enrich_pages(spark, skewed_pages, with_geometry=False)
        .where(F.col("coord_valid"))
        .select(cell_col, F.explode_outer("countries").alias("country"))
        .groupBy(cell_col, "country")
        .agg(F.count("*").alias("n"))
    )
    got = enrich_cell_counts(spark, skewed_pages, cell_col=cell_col)
    assert _name_types(got) == _name_types(ref)
    assert _sorted_rows(got) == _sorted_rows(ref)


def _udf_spec(pages, gazetteer, hex_resolutions=(7, 8, 9, 10), with_geometry=True):
    """Spec twin of `enrich_pages(gazetteer=...)`: the gazetteer enriched
    by the Arrow UDF composition, run as Spark stages, instead of on the
    driver."""
    from ohsome_planet_spark.operators.geocode import extract_mentions, geocode_mentions
    from ohsome_planet_spark.operators.spatial_join import build_index, with_countries
    from ohsome_planet_spark.operators.tiling import with_cells
    from ohsome_planet_spark.plans.enrich import _assemble_enriched, point_wkb_udf
    from ohsome_planet_spark.sources.countries import fixture_features

    gaz = with_cells(with_countries(gazetteer, build_index(fixture_features())),
                     hex_resolutions=hex_resolutions)
    if with_geometry:
        gaz = gaz.withColumn("geometry", point_wkb_udf(F.col("lon"), F.col("lat")))
    return _assemble_enriched(
        geocode_mentions(extract_mentions(pages), gaz), hex_resolutions, with_geometry)


_PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _mention_pages(spark, names, per_page=25):
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    return spark.createDataFrame(
        [(f"https://gaz.example/{i}", ts, None,
          " ".join(f"@@{n}@@" for n in names[k:k + per_page]), "en")
         for i, k in enumerate(range(0, len(names), per_page))],
        _PAGE_SCHEMA,
    )


def test_one_null_coordinate_matches_jvm_and_udf_spec(spark):
    """A custom gazetteer row with exactly one null coordinate: the JVM zxy
    expression clamps only the null axis (to the last index), so the
    driver-side enrichment must keep the valid axis's real index. The
    whole enriched row must also equal the UDF spec twin."""
    import numpy as np

    from ohsome_planet_spark.functions import cells as C
    from ohsome_planet_spark.operators.tiling import zxy_cell_col

    gaz = spark.createDataFrame(
        [("Lat_Null", None, 10.0), ("Lon_Null", 20.0, None),
         ("Both_Null", None, None), ("Far_Out", 95.0, 200.0),
         ("Plain", 12.3, 7.6)],
        "entity string, lat double, lon double",
    )
    pages = _mention_pages(
        spark, ["Lat_Null", "Lon_Null", "Both_Null", "Far_Out", "Plain", "Unlisted"])
    got = enrich_pages(spark, pages, gazetteer=gaz).orderBy("mention_idx")
    rows = got.select(
        "entity", "zxy_cell",
        zxy_cell_col(F.col("lon"), F.col("lat"), 12).alias("jvm")).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["zxy_cell"] == r["jvm"], r["entity"]
    cells = {r["entity"]: r["zxy_cell"] for r in rows}
    _, ix, iy = C.zxy_decode(np.array([cells["Lat_Null"], cells["Lon_Null"]]))
    assert (ix[0], iy[0]) == (int((10.0 + 180.0) / 360.0 * 4096), 4095)
    assert (ix[1], iy[1]) == (4095, int((90.0 - 20.0) / 180.0 * 4096))

    spec = _udf_spec(pages, gaz).orderBy("mention_idx")
    assert _name_types(got) == _name_types(spec)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in spec.collect()]


def _random_gazetteer(seed, n=2400):
    """(entity, lat, lon) rows over the fixture countries: plain points,
    points snapped to fixture vertices, range extremes, out-of-range
    coordinates, NULL lat / lon / both, and reused entity names."""
    import numpy as np

    from ohsome_planet_spark.sources.countries import fixture_features

    rng = np.random.default_rng(seed)
    verts = np.concatenate([r for _, rings in fixture_features() for r in rings])
    rows = []
    for i in range(n):
        kind = i % 8
        if kind == 0:
            lon, lat = verts[rng.integers(len(verts))]
        elif kind == 1:
            lon, lat = rng.choice([-180.0, 180.0]), rng.choice([-90.0, 90.0])
        elif kind == 2:
            lon = rng.choice([-1.0, 1.0]) * rng.uniform(180.0, 400.0)
            lat = rng.uniform(-100.0, 100.0)
        elif kind == 3:
            lon, lat = rng.uniform(-200.0, 200.0), rng.choice([-1.0, 1.0]) * rng.uniform(90.0, 200.0)
        else:
            lon, lat = rng.uniform(-5.0, 45.0), rng.uniform(-5.0, 45.0)
        lat, lon = float(lat), float(lon)
        if i % 29 == 0:
            lat = None
        if i % 31 == 0:
            lon = None
        # every 11th row repeats an earlier entity name with new coords
        name = f"E{i - 7}" if i % 11 == 10 else f"E{i}"
        rows.append((name, lat, lon))
    return rows


@pytest.mark.parametrize("hex_resolutions,with_geometry",
                         [((7, 8, 9, 10), True), ((8,), False)])
def test_custom_gazetteer_matches_udf_spec(spark, hex_resolutions, with_geometry):
    """Driver-side enrichment of a custom gazetteer equals the UDF spec
    twin row for row, exactly, on every kind of coordinate."""
    rows = _random_gazetteer(seed=5)
    nulls = {(r[1] is None, r[2] is None) for r in rows}
    assert {(True, False), (False, True), (True, True)} <= nulls
    gaz = spark.createDataFrame(rows, "entity string, lat double, lon double")
    names = sorted({r[0] for r in rows}) + [f"Unlisted_{i}" for i in range(5)]
    pages = _mention_pages(spark, names)
    got = enrich_pages(spark, pages, gazetteer=gaz, hex_resolutions=hex_resolutions,
                       with_geometry=with_geometry)
    spec = _udf_spec(pages, gaz, hex_resolutions, with_geometry)
    assert _name_types(got) == _name_types(spec)
    got_rows = _sorted_rows(got)
    assert len(got_rows) > len(names)  # reused names join twice
    assert got_rows == _sorted_rows(spec)


def test_cell_counts_salted_equals_plain(spark, pages):
    salted = enrich_cell_counts(spark, pages, salted=True).orderBy("zxy_cell", "country")
    plain = enrich_cell_counts(spark, pages, salted=False).orderBy("zxy_cell", "country")
    assert [tuple(r) for r in salted.collect()] == [tuple(r) for r in plain.collect()]


def test_html_pruned_from_parquet_scan(spark, pages, tmp_path):
    """Column pruning: enriching from a parquet pages table must not read
    `html` (ReadSchema excludes it) — at 100 TB the html payload dominates
    the table, so this is the difference between scanning ~5% and 100%."""
    path = str(tmp_path / "pages_parquet")
    pages.write.mode("overwrite").parquet(path)
    on_disk = spark.read.parquet(path)
    enriched2 = enrich_pages(spark, on_disk, with_geometry=False)
    physical = enriched2._jdf.queryExecution().executedPlan().toString()
    import re

    read_schemas = re.findall(r"ReadSchema: ([^\n]*)", physical)
    assert read_schemas, "expected a parquet scan in the plan"
    for rs in read_schemas:
        assert "html" not in rs, rs


def test_tile_counts_hll_salted_equals_plain_and_tracks_exact(spark, enriched):
    """The approx_* distinct-cell columns are HLL sketch estimates. The
    `salted` flag is an accepted no-op, so both settings must produce
    bit-identical values. The estimate itself must track an exact
    recompute within the HLL error bound (lgConfigK=12 → ~1.6% rel. std.;
    assert a generous 5%)."""
    salted = tile_counts_from_enriched(enriched, salted=True)
    plain = tile_counts_from_enriched(enriched, salted=False)
    key = ["hex_r8", "country"]
    s_rows = {tuple(r[k] for k in key): tuple(r) for r in salted.collect()}
    p_rows = {tuple(r[k] for k in key): tuple(r) for r in plain.collect()}
    assert s_rows == p_rows  # bit-identical, not merely close

    exact = (
        enriched.where(F.col("coord_valid"))
        .select("hex_r8", "hex_r9", "hex_r10", "s2_cell", "zxy_cell",
                F.explode_outer("countries").alias("country"))
        .groupBy(*key)
        .agg(
            F.count_distinct("hex_r9").alias("e9"),
            F.count_distinct("hex_r10").alias("e10"),
            F.count_distinct("s2_cell").alias("es2"),
            F.count_distinct("zxy_cell").alias("ezx"),
        )
    )
    e_rows = {tuple(r[k] for k in key): r for r in exact.collect()}
    assert set(e_rows) == set(s_rows)
    checked = 0
    for k, r in e_rows.items():
        approx = dict(zip(salted.columns, s_rows[k]))
        for est_col, ex in [("approx_r9_cells", r["e9"]),
                            ("approx_r10_cells", r["e10"]),
                            ("approx_s2_cells", r["es2"]),
                            ("approx_zxy_cells", r["ezx"])]:
            assert abs(approx[est_col] - ex) <= max(1, 0.05 * ex)
            checked += 1
    assert checked >= 4
