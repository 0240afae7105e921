"""PolygonIndex: PIP join parity, covered-cell shortcut equivalence, and the
batched geometry probe `join_geoms` against the per-geometry spec."""

import numpy as np
import pytest

from ohsome_planet_spark.functions import pip_index
from ohsome_planet_spark.functions.geometry_np import points_in_polygon, segments_intersect_bbox
from ohsome_planet_spark.functions.pip_index import PolygonIndex
from ohsome_planet_spark.sources.countries import fixture_features, parse_countries_csv
from ohsome_planet_spark.sources.gazetteer import GAZETTEER


def join_geom_spec(index: PolygonIndex, kind: str, data) -> list[str]:
    """Sorted id set for one geometry (JTS `intersects` analog, J4) — the
    per-geometry spec `PolygonIndex.join_geoms` must equal exactly.

    Point → PIP; LineString/Polygon → intersects = any geometry vertex in
    the part, OR any part-shell vertex in the geometry (polygon only), OR
    any edge crossing. Mirrors the exact-test fallback of
    `SpatialIndexJoiner.join:32-43`.
    """
    if data is None:
        return []
    if kind == "Point":
        hits = set()
        for pi, (fid, part) in enumerate(zip(index.ids, index.rings)):
            b = index.boxes[pi]
            x, y = data
            if x >= b[0] and x <= b[2] and y >= b[1] and y <= b[3]:
                if points_in_polygon(np.asarray([x]), np.asarray([y]), part)[0]:
                    hits.add(fid)
        return sorted(hits)
    if kind == "LineString":
        coords = np.asarray(data, np.float64)
        rings = [coords]
        closed = False
    elif kind == "Polygon":
        rings = [np.asarray(r, np.float64) for r in data]
        coords = rings[0]
        closed = True
    else:
        raise ValueError(kind)
    gx0, gy0 = coords[:, 0].min(), coords[:, 1].min()
    gx1, gy1 = coords[:, 0].max(), coords[:, 1].max()
    hits: set[str] = set()
    for pi in range(len(index.ids)):
        b = index.boxes[pi]
        if gx1 < b[0] or gx0 > b[2] or gy1 < b[1] or gy0 > b[3]:
            continue
        part = index.rings[pi]
        # any geometry vertex inside the part
        allv = np.vstack(rings)
        if points_in_polygon(allv[:, 0], allv[:, 1], part).any():
            hits.add(index.ids[pi])
            continue
        # part shell vertex inside the (closed) geometry
        if closed:
            sx, sy = part[0]
            inside = points_in_polygon(
                np.asarray(sx), np.asarray(sy),
                [(r[:, 0], r[:, 1]) for r in rings],
            )
            if inside.any():
                hits.add(index.ids[pi])
                continue
        # edge crossings
        if _edges_cross_spec(rings, part):
            hits.add(index.ids[pi])
    return sorted(hits)


def _edges_cross_spec(rings: list[np.ndarray], part_rings) -> bool:
    for arr in rings:
        ax1, ay1 = arr[:-1, 0], arr[:-1, 1]
        ax2, ay2 = arr[1:, 0], arr[1:, 1]
        for rx, ry in part_rings:
            bx1, by1 = rx[:-1], ry[:-1]
            bx2, by2 = rx[1:], ry[1:]
            # vectorized proper-crossing test over the (A,B) edge grid
            d1 = (ax2[:, None] - ax1[:, None]) * (by1[None, :] - ay1[:, None]) - (
                ay2[:, None] - ay1[:, None]
            ) * (bx1[None, :] - ax1[:, None])
            d2 = (ax2[:, None] - ax1[:, None]) * (by2[None, :] - ay1[:, None]) - (
                ay2[:, None] - ay1[:, None]
            ) * (bx2[None, :] - ax1[:, None])
            d3 = (bx2[None, :] - bx1[None, :]) * (ay1[:, None] - by1[None, :]) - (
                by2[None, :] - by1[None, :]
            ) * (ax1[:, None] - bx1[None, :])
            d4 = (bx2[None, :] - bx1[None, :]) * (ay2[:, None] - by1[None, :]) - (
                by2[None, :] - by1[None, :]
            ) * (ax2[:, None] - bx1[None, :])
            cross = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
            if cross.any():
                return True
            touch = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
            if touch.any():
                # exact-touch check over ALL flagged pairs
                ii, jj = np.nonzero(touch)
                a1x, a1y, a2x, a2y = ax1[ii], ay1[ii], ax2[ii], ay2[ii]
                b1x, b1y, b2x, b2y = bx1[jj], by1[jj], bx2[jj], by2[jj]
                if (
                    _on_segment_spec(b1x, b1y, a1x, a1y, a2x, a2y).any()
                    or _on_segment_spec(b2x, b2y, a1x, a1y, a2x, a2y).any()
                    or _on_segment_spec(a1x, a1y, b1x, b1y, b2x, b2y).any()
                ):
                    return True
    return False


def _on_segment_spec(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Elementwise: point i exactly on segment i (collinear + within bbox)."""
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return (
        (cross == 0.0)
        & (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )


def build_grid_spec(index: PolygonIndex, zoom: int):
    """The covered-cell grid cell by cell — the spec `PolygonIndex._build_grid`
    must equal exactly, dict order included: a cell whose bbox some segment's
    bbox overlaps lists the part as a candidate; any other cell in the part's
    bbox is covered iff its center lies in the part. Returns (grid, parts
    left out of the grid)."""
    n = 1 << zoom
    cell_w = 360.0 / n
    cell_h = 180.0 / n
    per_cell: dict[int, tuple[list[str], list[int]]] = {}
    nongrid: list[int] = []
    for pi, (fid, rings) in enumerate(zip(index.ids, index.rings)):
        xmin, ymin, xmax, ymax = index.boxes[pi]
        ix0 = max(0, int((xmin + 180.0) // cell_w))
        ix1 = min(n - 1, int((xmax + 180.0) // cell_w))
        iy0 = max(0, int((90.0 - ymax) // cell_h))
        iy1 = min(n - 1, int((90.0 - ymin) // cell_h))
        if (ix1 - ix0 + 1) * (iy1 - iy0 + 1) > 250_000:
            nongrid.append(pi)
            continue
        seg_x1 = np.concatenate([r[0][:-1] for r in rings])
        seg_y1 = np.concatenate([r[1][:-1] for r in rings])
        seg_x2 = np.concatenate([r[0][1:] for r in rings])
        seg_y2 = np.concatenate([r[1][1:] for r in rings])
        for ix in range(ix0, ix1 + 1):
            for iy in range(iy0, iy1 + 1):
                cell = (zoom << 58) | (ix << 29) | iy
                bxmin = ix * cell_w - 180.0
                bxmax = bxmin + cell_w
                bymax = 90.0 - iy * cell_h
                bymin = bymax - cell_h
                if segments_intersect_bbox(seg_x1, seg_y1, seg_x2, seg_y2,
                                           bxmin, bymin, bxmax, bymax):
                    per_cell.setdefault(cell, ([], []))[1].append(pi)
                    continue
                cx = np.asarray([(bxmin + bxmax) / 2.0])
                cy = np.asarray([(bymin + bymax) / 2.0])
                if points_in_polygon(cx, cy, rings)[0]:
                    per_cell.setdefault(cell, ([], []))[0].append(fid)
    grid = {c: (tuple(sorted(set(cov))), tuple(cand)) for c, (cov, cand) in per_cell.items()}
    return grid, nongrid


def _assert_grid_equals_spec(idx: PolygonIndex, zoom: int) -> None:
    grid, nongrid = build_grid_spec(idx, zoom)
    assert list(idx.grid.items()) == list(grid.items())
    assert idx._nongrid_parts == nongrid


def _random_parts(rng: np.random.Generator, zoom: int):
    """Random parts at `zoom`: polygons with holes, parts whose vertices and
    edges lie exactly on cell boundaries, parts narrower than one cell,
    degenerate rings (one point, zero area, repeated vertices), parts
    crossing the antimeridian box, and a part too large for the grid."""
    cw, ch = 360.0 / (1 << zoom), 180.0 / (1 << zoom)

    def ring(pts):
        return np.asarray(list(pts) + [pts[0]], np.float64)

    def box(x0, y0, w, h):
        return ring([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)])

    parts = []
    for k in range(24):
        fid = "P%d" % (k % 7)  # ids repeat across parts
        x0, y0 = rng.uniform(-40.0, 40.0), rng.uniform(-40.0, 40.0)
        kind = k % 6
        if kind == 0:  # polygon with a hole
            w, h = rng.uniform(3 * cw, 9 * cw, 2)
            parts.append((fid, [box(x0, y0, w, h), box(x0 + w / 3, y0 + h / 3, w / 3, h / 3)[::-1]]))
        elif kind == 1:  # vertices and edges on cell boundaries
            n = 1 << zoom
            gx = int(rng.integers(n // 4, 3 * n // 4)) * cw - 180.0
            gy = 90.0 - int(rng.integers(n // 4, 3 * n // 4)) * ch
            nx, ny = (int(v) for v in rng.integers(1, 6, 2))
            parts.append((fid, [box(gx, gy, nx * cw, ny * ch)]))
        elif kind == 2:  # random star-shaped ring
            t = np.sort(rng.uniform(0.0, 2 * np.pi, int(rng.integers(3, 12))))
            r = rng.uniform(0.2, 8.0, t.size)
            parts.append((fid, [ring(list(zip(x0 + r * np.cos(t), y0 + r * np.sin(t))))]))
        elif kind == 3:  # narrower than one cell
            parts.append((fid, [box(x0, y0, cw / 7, ch / 5)]))
        elif kind == 4:  # degenerate: one point, zero area, repeated vertex
            parts.append((fid, [np.asarray([(x0, y0)], np.float64)]))
            parts.append((fid, [ring([(x0, y0), (x0 + 2.0, y0 + 2.0), (x0 + 2.0, y0 + 2.0)])]))
        else:  # crossing the map edge
            parts.append((fid, [box(175.0, 80.0, 10.0, 15.0)]))
    if zoom >= 9:  # more than 250k cells: left out of the grid
        parts.append(("BIG", [box(-179.0, -89.0, 358.0, 178.0)]))
    else:
        parts.append(("BIG", [box(-60.0, -30.0, 100.0, 70.0)[::-1]]))
    return parts


@pytest.mark.parametrize("zoom", [6, 7, 8, 9, 10])
def test_grid_build_equals_spec_fixture(zoom):
    _assert_grid_equals_spec(PolygonIndex(fixture_features(), grid_zoom=zoom), zoom)


@pytest.mark.parametrize("zoom,budget", [(6, 61), (7, None), (8, None), (9, None), (10, 61)])
def test_grid_build_equals_spec_random(zoom, budget, monkeypatch):
    """Also with a tiny chunk budget, so the segment and center chunks split."""
    if budget:
        monkeypatch.setattr(pip_index, "_GRID_BUDGET", budget)
    idx = PolygonIndex(_random_parts(np.random.default_rng(zoom), zoom), grid_zoom=zoom)
    _assert_grid_equals_spec(idx, zoom)
    assert idx._nongrid_parts == ([len(idx.ids) - 1] if zoom >= 9 else [])
    assert any(cov for cov, _ in idx.grid.values())
    assert sum(len(cand) > 1 for _, cand in idx.grid.values()) > 0


@pytest.fixture(scope="module")
def index():
    return PolygonIndex(fixture_features(), grid_zoom=8)


@pytest.fixture(scope="module")
def index_nogrid():
    return PolygonIndex(fixture_features(), grid_zoom=None)


GOLDEN = {
    # entity → expected sorted country set (hand-checked against the fixture)
    "Alpha_City": ["AAA"],  # (12.3, 7.6)
    "Delta_Town": ["DDD"],  # (21.5, 14.2) in DDD only (EEE starts at lon 15? no: lon 14.2 < 15)
    "Epsilon_Village": ["AAA"],  # (3.3, 3.9)
    "Zeta_Port": ["DDD"],  # (28.7, 33.1) in DDD part 2 (30..36 × 25..31)? lon=33.1 lat=28.7 → yes
    "Eta_Springs": ["DDD"],  # (35.5, 5.5) lon=5.5 lat=35.5 → DDD part1 (0..18 × 20..40)
    "Theta_Falls": ["BBB"],  # (8.8, 26.5)
    "Iota_Ridge": ["BBB", "EEE"],  # (17.0, 28.0): BBB (10..30 × 0..20)? lat 17 → yes; EEE (15..30 × 10..32) → yes
    "Kappa_Bay": ["BBB", "EEE"],  # (5.0, 15.0)? lat=5: BBB yes; EEE lat≥10 no → ["BBB"]
    "Pi_Junction": ["AAA", "BBB"],  # on shared border lon=10
    "Rho_Corner": ["BBB", "EEE", "FFF"],  # (lat 20, lon 20): BBB top edge, EEE interior, FFF bottom edge
    "Sigma_Edge": ["BBB"],  # (0.0, 22.5) on lat=0 bottom edge of BBB
    "Tau_Meridian": ["AAA"],  # (15.0, 0.0) on lon=0 west edge of AAA
    "Upsilon_Isle": [],
    "Phi_Outpost": [],
    "Omega_Anchor": ["AAA"],  # inside CCC's hole → AAA only
}


def test_golden_assignments(index):
    gaz = {name: (lat, lon) for name, lat, lon in GAZETTEER}
    # fix the two golden entries computed inline above
    golden = dict(GOLDEN)
    golden["Kappa_Bay"] = ["BBB"]
    for entity, expected in golden.items():
        lat, lon = gaz[entity]
        got = index.join_points(np.array([lon]), np.array([lat]))[0]
        assert got == expected, (entity, got, expected)


def test_grid_equals_exact(index, index_nogrid):
    rng = np.random.default_rng(42)
    lon = rng.uniform(-5, 45, 3000)
    lat = rng.uniform(-5, 45, 3000)
    exact = index_nogrid.join_points(lon, lat)
    grid = index.join_points_grid(lon, lat)
    assert exact == grid


def test_grid_has_covered_cells(index):
    covered = [c for c, (cov, cand) in index.grid.items() if cov]
    assert len(covered) > 0, "fixture polygons should fully cover interior cells"


def test_overlap_emits_set(index):
    # EEE overlaps BBB in (15..30 × 10..20)
    got = index.join_points(np.array([20.0]), np.array([15.0]))[0]
    assert got == ["BBB", "EEE"]


def test_hole_boundary_is_inside_inner_country(index):
    # point on CCC's hole edge: boundary of hole belongs to CCC (JTS intersects)
    got = index.join_points(np.array([6.0]), np.array([6.5]))[0]
    assert "CCC" in got and "AAA" in got


def test_multipolygon_exploded():
    feats = parse_countries_csv("id;wkt\nMM;MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))\n")
    assert len(feats) == 2
    assert all(fid == "MM" for fid, _ in feats)


def test_csv_header_sniffing():
    feats = parse_countries_csv("ISO_A3;Geometry\nXYZ;POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))\n")
    assert feats[0][0] == "XYZ"
    with pytest.raises(ValueError):
        parse_countries_csv("foo;bar\nX;POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))\n")


def test_empty_index():
    idx = PolygonIndex([], grid_zoom=8)
    assert idx.join_points(np.array([1.0]), np.array([1.0])) == [[]]


# -- join_geoms: the batched probe equals the per-geometry spec --------------

def _pack(geoms):
    """[(kind, data)] → the flat (xs, ys, ring_off, geom_off, kinds) batch;
    data None packs as a geometry without rings."""
    rings, geom_off, kinds = [], [0], []
    for kind, data in geoms:
        if data is not None:
            if kind == "Point":
                rings.append(np.asarray([data], np.float64))
            elif kind == "LineString":
                rings.append(np.asarray(data, np.float64))
            else:
                rings.extend(np.asarray(r, np.float64) for r in data)
        geom_off.append(len(rings))
        kinds.append(pip_index._KIND_CODE[kind])
    xy = np.vstack(rings) if rings else np.zeros((0, 2))
    ring_off = np.cumsum([0] + [len(r) for r in rings])
    return xy[:, 0], xy[:, 1], ring_off, np.asarray(geom_off), np.asarray(kinds)


def _random_geoms(rng: np.random.Generator, index: PolygonIndex, n: int):
    """Points, lines and polygons (some with holes, some empty), a third of
    their coordinates snapped onto the index's part vertices and edges."""
    edges = [(rx[j], ry[j], rx[j + 1], ry[j + 1])
             for rings in index.rings for rx, ry in rings for j in range(len(rx) - 1)]
    if not edges:
        edges = [(0.0, 0.0, 10.0, 10.0)]

    def coord():
        r = rng.random()
        if r < 0.35:
            x1, y1, x2, y2 = edges[rng.integers(len(edges))]
            t = rng.choice([0.0, 0.25, 0.5, 1.0])  # dyadic: exactly on the edge
            return (x1 + t * (x2 - x1), y1 + t * (y2 - y1))
        if r < 0.6:
            return tuple(float(v) for v in rng.integers(-2, 42, 2))
        return tuple(rng.uniform(-5.0, 45.0, 2))

    def box(x0, y0, w, h):
        return np.asarray([(x0, y0), (x0 + w, y0), (x0 + w, y0 + h),
                           (x0, y0 + h), (x0, y0)], np.float64)

    geoms = []
    for _ in range(n):
        k = rng.random()
        if k < 0.04:
            geoms.append((["Point", "LineString", "Polygon"][rng.integers(3)], None))
        elif k < 0.35:
            geoms.append(("Point", coord()))
        elif k < 0.65:
            geoms.append(("LineString", [coord() for _ in range(rng.integers(1, 9))]))
        elif k < 0.85:
            x0, y0 = coord()
            w, h = (float(v) for v in rng.integers(1, 25, 2))
            shell = box(x0, y0, w, h)
            if rng.random() < 0.5 and w > 2 and h > 2:
                geoms.append(("Polygon", [shell, box(x0 + 1, y0 + 1, w - 2, h - 2)[::-1]]))
            else:
                geoms.append(("Polygon", [shell]))
        else:
            pts = [coord() for _ in range(rng.integers(3, 7))]
            geoms.append(("Polygon", [np.asarray(pts + [pts[0]], np.float64)]))
    return geoms


def _repeat_index() -> PolygonIndex:
    """Ids repeat across parts; one part has a hole."""
    def ring(pts):
        return np.asarray(pts + [pts[0]], np.float64)

    return PolygonIndex([
        ("XX", [ring([(0, 0), (12, 0), (12, 12), (0, 12)]),
                ring([(4, 4), (8, 4), (8, 8), (4, 8)])]),
        ("YY", [ring([(10, 10), (25, 10), (25, 25)])]),
        ("XX", [ring([(20, 0), (30, 0), (30, 8), (20, 8)])]),
        ("ZZ", [ring([(6, 5), (7, 5), (7, 7), (6, 7)])]),
        ("YY", [ring([(-3, 30), (40, 30), (40, 31), (-3, 31)])]),
    ], grid_zoom=None)


@pytest.mark.parametrize("which,n", [("fixture", 5000), ("repeat", 2000), ("empty", 200)])
def test_join_geoms_equals_spec(which, n, index_nogrid):
    idx = {"fixture": index_nogrid, "repeat": _repeat_index(),
           "empty": PolygonIndex([], grid_zoom=None)}[which]
    rng = np.random.default_rng(7 + n)
    geoms = _random_geoms(rng, idx, n)
    got = idx.join_geoms(*_pack(geoms))
    want = [join_geom_spec(idx, kind, data) for kind, data in geoms]
    assert got == want
    assert [idx.join_geom(kind, data) for kind, data in geoms[:300]] == want[:300]
    if which != "empty":
        assert sum(map(bool, want)) > n // 3 and sum(len(w) > 1 for w in want) > 10


def test_join_points_equals_spec(index_nogrid):
    rng = np.random.default_rng(11)
    pts = [g[1] for g in _random_geoms(rng, index_nogrid, 3000)
           if g[0] == "Point" and g[1] is not None]
    got = index_nogrid.join_points(np.asarray([p[0] for p in pts]),
                                   np.asarray([p[1] for p in pts]))
    assert got == [join_geom_spec(index_nogrid, "Point", p) for p in pts]


@pytest.mark.parametrize("budget", [pip_index._GRID_BUDGET, 61])
def test_join_geoms_chunked_grids_equal_spec(budget, monkeypatch):
    """Grids that cross the chunk budget must still equal the spec.

    A 64-edge circular part; a 20,000-vertex line winding through every
    part (vertex test: 20,000 x 64 cells), a 20,000-vertex ring around the
    circle that touches no part vertex inside it (edge test over the full
    grid), and many small polygons (shell-vertex test). The tiny budget
    runs the same cases on shorter lines."""
    monkeypatch.setattr(pip_index, "_GRID_BUDGET", budget)
    nv = 20_000 if budget > 61 else 2_000
    t = np.linspace(0.0, 2 * np.pi, 65)
    circle = np.column_stack([20 + 9 * np.cos(t), 20 + 9 * np.sin(t)])
    circle[-1] = circle[0]
    idx = PolygonIndex(fixture_features() + [("CIR", [circle])], grid_zoom=None)
    s = np.linspace(0.0, 1.0, nv)
    wave = np.column_stack([-4 + 48 * s, 20 + 22 * np.sin(40 * s)])
    u = np.linspace(0.0, 2 * np.pi, nv)
    around = np.column_stack([20 + 9.5 * np.cos(u), 20 + 9.5 * np.sin(u)])
    geoms = [("LineString", wave), ("LineString", around),
             ("Polygon", [np.vstack([around, around[:1]])])]
    geoms += _random_geoms(np.random.default_rng(3), idx, 1500 if budget > 61 else 200)
    got = idx.join_geoms(*_pack(geoms))
    assert got == [join_geom_spec(idx, kind, data) for kind, data in geoms]
    assert got[0] == ["AAA", "BBB", "CIR", "DDD", "EEE", "FFF"]
    assert "CIR" not in got[1] and "CIR" in got[2]
