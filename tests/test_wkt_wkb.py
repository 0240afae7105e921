"""WKT parse/format + WKB roundtrip + JTS-default byte layout."""

import numpy as np

from ohsome_planet_spark.functions.wkb import point_wkb_matrix, wkb_dumps, wkb_loads
from ohsome_planet_spark.functions.wkt import polygon_parts, wkt_dumps, wkt_loads


def test_wkt_point():
    kind, data = wkt_loads("POINT (7.61 12.31)")
    assert kind == "Point" and data == (7.61, 12.31)


def test_wkt_polygon_with_hole():
    kind, rings = wkt_loads("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert kind == "Polygon" and len(rings) == 2
    assert rings[1].shape == (5, 2)


def test_wkt_multipolygon_roundtrip():
    w = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5), (5.2 5.2, 5.8 5.2, 5.8 5.8, 5.2 5.8, 5.2 5.2)))"
    geom = wkt_loads(w)
    assert geom[0] == "MultiPolygon" and len(geom[1]) == 2
    again = wkt_loads(wkt_dumps(geom))
    assert again[0] == "MultiPolygon"
    np.testing.assert_allclose(again[1][1][1], geom[1][1][1])


def test_wkt_geometrycollection():
    geom = wkt_loads("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    assert geom[0] == "GeometryCollection" and len(geom[1]) == 2


def test_polygon_parts_explode():
    geom = wkt_loads("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
    assert len(polygon_parts(geom)) == 2
    assert polygon_parts(wkt_loads("POINT (0 0)")) == []


def test_wkb_point_layout_jts_defaults():
    # big-endian, 2D, no SRID: 00 00000001 <x double> <y double>
    buf = wkb_dumps(("Point", (1.0, 2.0)))
    assert buf[0] == 0x00
    assert buf[1:5] == b"\x00\x00\x00\x01"
    assert len(buf) == 21


def test_wkb_roundtrip_polygon():
    rings = [
        np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float),
        np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float),
    ]
    geom = ("Polygon", rings)
    back = wkb_loads(wkb_dumps(geom))
    assert back[0] == "Polygon"
    np.testing.assert_allclose(back[1][0], rings[0])
    np.testing.assert_allclose(back[1][1], rings[1])


def test_wkb_empty_point_nan():
    buf = wkb_dumps(("Point", None))
    back = wkb_loads(buf)
    assert back == ("Point", None)


def test_wkb_multipolygon_roundtrip():
    geom = wkt_loads("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
    back = wkb_loads(wkb_dumps(geom))
    assert back[0] == "MultiPolygon" and len(back[1]) == 2


def test_wkb_little_endian_read():
    import struct

    buf = b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", 3.0, 4.0)
    assert wkb_loads(buf) == ("Point", (3.0, 4.0))


def test_point_wkb_matrix_rows_are_point_wkb():
    """Each row of the vectorized point encoder is `wkb_dumps` of that
    point, and a NaN pair is the empty point; the enrichment's empty-point
    fill is those same bytes."""
    from ohsome_planet_spark.plans.enrich import _EMPTY_POINT_WKB

    x = np.array([0.0, -180.0, 12.345678901, np.nan])
    y = np.array([0.0, 90.0, -0.5, np.nan])
    rows = [bytes(r) for r in point_wkb_matrix(x, y)]
    assert rows[:3] == [wkb_dumps(("Point", (a, b))) for a, b in zip(x[:3], y[:3])]
    assert rows[3] == wkb_dumps(("Point", None)) == _EMPTY_POINT_WKB
