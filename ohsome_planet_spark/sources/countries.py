"""Country polygon source: reference-dialect CSV reader + synthetic fixture.

CSV dialect parity with `SpatialJoiner.readCSV` (`/root/reference/
ohsome-contributions/src/main/java/org/heigit/ohsome/contributions/
spatialjoin/SpatialJoiner.java:34-66`):
- ';'-separated, header row;
- geometry column: first header exactly matching one of
  {geometry, geom, geo, wkt} (case-insensitive);
- id column: first header *starting with* one of {id, iso, name};
- WKT geometry, multi-geometries exploded into per-part features.

The synthetic fixture (per FIXTURES.md §3) contains: plain rectangles, a
shared border, an overlapping pair (a point can belong to ≥2 countries — the
join emits a set), a MULTIPOLYGON (exploded on load), a polygon with a hole,
and a non-convex polygon; all large enough that interior grid cells are fully
covered (exercises the covered-cell shortcut, `BuildGridAction.java:63-82`).
"""

from __future__ import annotations

import gzip
from pathlib import Path

import numpy as np

from ..functions.wkt import polygon_parts, wkt_loads

GEOM_HEADERS = ("geometry", "geom", "geo", "wkt")
ID_HEADER_PREFIXES = ("id", "iso", "name")

# id;wkt fixture. Coordinates are WGS84 (lon lat order in WKT).
COUNTRY_CSV = """id;wkt
AAA;POLYGON ((0 0, 10 0, 10 20, 0 20, 0 0))
BBB;POLYGON ((10 0, 30 0, 30 20, 10 20, 10 0))
CCC;POLYGON ((5 5, 8 5, 8 8, 5 8, 5 5), (6 6, 7 6, 7 7, 6 7, 6 6))
DDD;MULTIPOLYGON (((0 20, 18 20, 18 40, 0 40, 0 20)), ((30 25, 36 25, 36 31, 30 31, 30 25)))
EEE;POLYGON ((15 10, 30 10, 30 32, 15 32, 15 10))
FFF;POLYGON ((18 20, 30 20, 24 40, 18 40, 18 20))
"""
# Overlaps by construction: CCC sits inside AAA; EEE overlaps BBB (10≤lat≤20)
# and DDD/FFF (20≤lat≤32); FFF is non-convex-ish (triangle-topped).


def parse_countries_csv(text: str) -> list[tuple[str, list[np.ndarray]]]:
    """→ [(id, rings)] with multi-geometries exploded into parts."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    header = [h.strip().lower() for h in lines[0].split(";")]
    geom_idx = None
    for name in GEOM_HEADERS:
        for i, h in enumerate(header):
            if h == name:
                geom_idx = i
                break
        if geom_idx is not None:
            break
    if geom_idx is None:
        raise ValueError("could not find a valid geometry header! [geometry, geom, geo, wkt]")
    id_idx = None
    for prefix in ID_HEADER_PREFIXES:
        for i, h in enumerate(header):
            if h.startswith(prefix):
                id_idx = i
                break
        if id_idx is not None:
            break
    if id_idx is None:
        raise ValueError("could not find a valid id header! [id*, iso*, name*]")

    features: list[tuple[str, list[np.ndarray]]] = []
    for line in lines[1:]:
        row = line.split(";")
        geom = wkt_loads(row[geom_idx])
        for part in polygon_parts(geom):
            features.append((row[id_idx], part))
    return features


def read_countries_csv(path: str | Path) -> list[tuple[str, list[np.ndarray]]]:
    """Read id;wkt CSV (gz-transparent, like the reference loader)."""
    path = Path(path)
    if path.suffix == ".gz":
        with gzip.open(path, "rt", encoding="utf-8") as f:
            return parse_countries_csv(f.read())
    return parse_countries_csv(path.read_text(encoding="utf-8"))


def fixture_features() -> list[tuple[str, list[np.ndarray]]]:
    return parse_countries_csv(COUNTRY_CSV)
