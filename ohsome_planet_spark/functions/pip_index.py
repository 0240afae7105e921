"""Broadcast polygon index for point-in-polygon country joins.

Pure-NumPy re-expression of the reference's two spatial-join strategies:

- `SpatialIndexJoiner` (`/root/reference/ohsome-contributions/src/main/java/
  org/heigit/ohsome/contributions/spatialjoin/SpatialIndexJoiner.java:17-43`):
  bbox-prefilter on a packed tree, then exact prepared-geometry intersects.
  Here: vectorized bbox test over packed (F,4) arrays + ray-casting PIP with
  boundary inclusion.
- `SpatialGridJoiner` (`SpatialGridJoiner.java:26-96`, grid build
  `BuildGridAction.java:43-93`): a precomputed grid where cells fully covered
  by features skip the exact test, and only boundary cells fall back to exact
  PIP ("ray-casting tie-break on boundaries"). Here: a zxy-cell dictionary
  cell → (covered ids, boundary candidate parts).

The index is built once on the driver from the exploded country parts and
broadcast; executors probe whole batches against it with zero per-row
Python. `join_geoms` is the one exact probe: points, lines and polygons
with holes arrive as flat coordinate arrays with ring and geometry offsets,
and every test runs per part over all candidate geometries at once, with
the (point x edge) and (edge x edge) grids cut into bounded chunks.
`join_points` and the one-geometry `join_geom` are thin calls of it; the
history kernels call it once per partition.

Output contract matches the reference joiner: a **sorted set** of feature ids
per geometry (`SpatialGridJoiner.join:49-62` returns a Set; we sort for
determinism).
"""

from __future__ import annotations

import functools

import numpy as np

from . import geometry_np as gnp
from .cells import zxy_cell


class PolygonIndex:
    """Packed polygon-part index: ids, bboxes, rings; optional covered grid."""

    def __init__(self, features: list[tuple[str, list[np.ndarray]]], grid_zoom: int | None = 8):
        """features: [(id, [ring (N,2) arrays; ring0 = shell]), ...] —
        already exploded into single-polygon parts (one entry per part, ids
        may repeat, mirroring SpatialJoiner.readCSV's per-part explode)."""
        self.ids: list[str] = []
        self.rings: list[list[tuple[np.ndarray, np.ndarray]]] = []
        boxes = []
        for fid, rings in features:
            shell = np.asarray(rings[0], np.float64)
            rs = [(np.asarray(r, np.float64)[:, 0], np.asarray(r, np.float64)[:, 1]) for r in rings]
            self.ids.append(str(fid))
            self.rings.append(rs)
            boxes.append(
                (shell[:, 0].min(), shell[:, 1].min(), shell[:, 0].max(), shell[:, 1].max())
            )
        self.boxes = np.asarray(boxes, np.float64).reshape(len(boxes), 4)
        self.grid_zoom = grid_zoom
        # cell → (tuple of fully-covering ids, tuple of candidate part indexes)
        self.grid: dict[int, tuple[tuple[str, ...], tuple[int, ...]]] = {}
        if grid_zoom is not None and len(self.ids) > 0:
            self._build_grid(grid_zoom)

    # -- grid build (BuildGridAction analog) --------------------------------
    def _build_grid(self, zoom: int) -> None:
        """Classify every cell of each part's bbox at once: a cell some
        segment's bbox overlaps is a boundary cell (the part is a candidate
        there); any other cell is fully inside or fully outside, so its
        center decides whether the part covers it. Cells enter the dict in
        part order, then x-major cell order."""
        n = 1 << zoom
        cell_w = 360.0 / n
        cell_h = 180.0 / n
        per_cell: dict[int, tuple[list[str], list[int]]] = {}
        self._nongrid_parts: list[int] = []
        for pi, (fid, rings) in enumerate(zip(self.ids, self.rings)):
            xmin, ymin, xmax, ymax = self.boxes[pi]
            ix0 = max(0, int((xmin + 180.0) // cell_w))
            ix1 = min(n - 1, int((xmax + 180.0) // cell_w))
            iy0 = max(0, int((90.0 - ymax) // cell_h))
            iy1 = min(n - 1, int((90.0 - ymin) // cell_h))
            if (ix1 - ix0 + 1) * (iy1 - iy0 + 1) > 250_000:
                # degenerate: part spans too many cells at this zoom —
                # exclude it from the grid and probe it exactly every time
                self._nongrid_parts.append(pi)
                continue
            ix = np.arange(ix0, ix1 + 1)
            iy = np.arange(iy0, iy1 + 1)
            bxmin = ix * cell_w - 180.0
            bxmax = bxmin + cell_w
            bymax = 90.0 - iy * cell_h
            bymin = bymax - cell_h
            x1 = np.concatenate([r[0][:-1] for r in rings])
            y1 = np.concatenate([r[1][:-1] for r in rings])
            x2 = np.concatenate([r[0][1:] for r in rings])
            y2 = np.concatenate([r[1][1:] for r in rings])
            boundary = _bbox_overlap_any(
                bxmin, bxmax, np.minimum(x1, x2), np.maximum(x1, x2),
                bymin, bymax, np.minimum(y1, y2), np.maximum(y1, y2))
            qx, qy = np.nonzero(~boundary)
            cx = (bxmin + bxmax) / 2.0
            cy = (bymin + bymax) / 2.0
            covered = np.zeros_like(boundary)
            step = max(1, _GRID_BUDGET // max(x1.size, 1))
            for s in range(0, qx.size, step):
                covered[qx[s:s + step], qy[s:s + step]] = gnp.points_in_polygon(
                    cx[qx[s:s + step]], cy[qy[s:s + step]], rings)
            for a, b in zip(*np.nonzero(boundary | covered)):
                cell = (zoom << 58) | (int(ix[a]) << 29) | int(iy[b])
                entry = per_cell.setdefault(cell, ([], []))
                if boundary[a, b]:
                    entry[1].append(pi)
                else:
                    entry[0].append(fid)
        self.grid = {
            c: (tuple(sorted(set(cov))), tuple(cand)) for c, (cov, cand) in per_cell.items()
        }

    # -- probes (SpatialIndexJoiner / SpatialGridJoiner analogs) ------------
    def join_points(self, px: np.ndarray, py: np.ndarray) -> list[list[str]]:
        """Sorted id set per point — exact-index path (J4 semantics)."""
        px = np.asarray(px, np.float64)
        off = np.arange(px.size + 1)
        return self.join_geoms(px, py, off, off, np.full(px.size, POINT))

    def join_points_grid(self, px: np.ndarray, py: np.ndarray) -> list[list[str]]:
        """Sorted id set per point using the covered-cell shortcut (J5).

        Fully-covered cells contribute their ids without any exact test;
        boundary cells ray-cast only against the cell's candidate parts.
        Produces identical results to join_points (grid is an optimization,
        exactly as SpatialGridJoiner vs SpatialIndexJoiner).
        """
        if self.grid_zoom is None or not self.grid:
            return self.join_points(px, py)
        px = np.asarray(px, np.float64)
        py = np.asarray(py, np.float64)
        cells = zxy_cell(px, py, self.grid_zoom)
        out_sets: list[set] = [set() for _ in range(px.size)]
        order = np.argsort(cells, kind="stable")
        sorted_cells = cells[order]
        bounds = np.nonzero(np.diff(sorted_cells))[0] + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [sorted_cells.size]])
        for s, e in zip(starts, ends):
            cell = int(sorted_cells[s])
            idxs = order[s:e]
            entry = self.grid.get(cell)
            if entry is None:
                continue
            covered, candidates = entry
            for idx in idxs:
                out_sets[idx].update(covered)
            for pi in candidates:
                hit = gnp.points_in_polygon(px[idxs], py[idxs], self.rings[pi])
                for idx in idxs[hit]:
                    out_sets[idx].add(self.ids[pi])
        # parts too large for the grid are probed exactly for every point
        for pi in getattr(self, "_nongrid_parts", []):
            b = self.boxes[pi]
            sel = np.nonzero(
                (px >= b[0]) & (px <= b[2]) & (py >= b[1]) & (py <= b[3])
            )[0]
            if sel.size:
                hit = gnp.points_in_polygon(px[sel], py[sel], self.rings[pi])
                for idx in sel[hit]:
                    out_sets[idx].add(self.ids[pi])
        return [sorted(s) for s in out_sets]

    def join_geom(self, kind: str, data) -> list[str]:
        """Sorted id set for one geometry: `join_geoms` of a one-geometry
        batch. kind "Point" takes data (x, y), "LineString" (N,2) coords,
        "Polygon" a list of (N,2) rings, shell first; data None is the
        empty geometry."""
        if data is None:
            return []
        if kind == "Point":
            rings = [np.asarray([data], np.float64)]
        elif kind == "LineString":
            rings = [np.asarray(data, np.float64)]
        elif kind == "Polygon":
            rings = [np.asarray(r, np.float64) for r in data]
        else:
            raise ValueError(kind)
        xy = np.vstack(rings)
        ring_off = np.cumsum([0] + [len(r) for r in rings])
        return self.join_geoms(xy[:, 0], xy[:, 1], ring_off, [0, len(rings)],
                               [_KIND_CODE[kind]])[0]

    def join_geoms(self, xs, ys, ring_off, geom_off, kinds) -> list[list[str]]:
        """Sorted id set per geometry (JTS `intersects` analog, J4): one
        columnar probe for a whole batch of geometries.

        Geometry g owns rings [geom_off[g], geom_off[g+1]) and ring r the
        vertices xs/ys[ring_off[r]:ring_off[r+1]]; geom_off spans every
        ring. kinds holds the WKB type code per geometry (POINT,
        LINESTRING or POLYGON; a polygon's rings are closed, shell first).
        A geometry whose first ring is missing or empty joins nothing.

        A part intersects a geometry whose first-ring bbox meets the part
        bbox iff any geometry vertex lies in the part, OR (polygons only)
        any part-shell vertex lies in the geometry, OR any geometry edge
        crosses or touches a part edge — the exact-test fallback of
        `SpatialIndexJoiner.join:32-43`. Per part, each test runs over all
        candidate geometries at once, and every (point x edge) or
        (edge x edge) grid is cut into chunks of at most `_GRID_BUDGET`
        cells, so memory stays bounded on 10^5-vertex borders.
        """
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        ring_off = np.asarray(ring_off, np.int64)
        geom_off = np.asarray(geom_off, np.int64)
        kinds = np.asarray(kinds)
        ng = geom_off.size - 1
        if not ng or not self.ids:
            return [[] for _ in range(ng)]
        nring = np.diff(geom_off)
        ring_n = np.diff(ring_off)
        vs = ring_off[geom_off[:-1]]  # geometry g's vertices: vs[g] + [0, vc[g])
        vc = ring_off[geom_off[1:]] - vs
        first_n = np.zeros(ng, np.int64)
        has_ring = nring > 0
        first_n[has_ring] = ring_n[geom_off[:-1][has_ring]]
        live = first_n > 0
        # first-ring bbox (NaN propagates like ndarray.min/max)
        box = np.full((4, ng), np.nan)
        if live.any():
            cut = np.stack([vs[live], vs[live] + first_n[live]], 1).ravel()
            xp = np.append(xs, 0.0)  # reduceat cuts must stay below the size
            yp = np.append(ys, 0.0)
            box[0, live] = np.minimum.reduceat(xp, cut)[::2]
            box[1, live] = np.minimum.reduceat(yp, cut)[::2]
            box[2, live] = np.maximum.reduceat(xp, cut)[::2]
            box[3, live] = np.maximum.reduceat(yp, cut)[::2]
        # every edge: start vertex, owning geometry, per-geometry edge range
        e_cnt = np.maximum(ring_n - 1, 0)
        e_start = _spans(ring_off[:-1], e_cnt)
        e_geom = np.repeat(np.repeat(np.arange(ng), nring), e_cnt)
        e_first = np.searchsorted(e_geom, np.arange(ng + 1))
        e_n = np.diff(e_first)
        # the versions of one element share most vertices and edges: each
        # test runs once per distinct vertex / edge (same bytes, same result)
        _, v_rep, v_id = np.unique(np.column_stack([xs, ys]).view("V16").ravel(),
                                   return_index=True, return_inverse=True)
        _, e_rep, e_id = np.unique(v_id[e_start] * v_rep.size + v_id[e_start + 1],
                                   return_index=True, return_inverse=True)
        e_rep = e_start[e_rep]
        hit_g: list[np.ndarray] = []
        hit_p: list[np.ndarray] = []
        for pi, part in enumerate(self._parts):
            b = self.boxes[pi]
            cand = np.flatnonzero(live & ~(
                (box[2] < b[0]) | (box[0] > b[2]) | (box[3] < b[1]) | (box[1] > b[3])))
            if not cand.size:
                continue
            # any geometry vertex inside the part
            inside = _once_each(v_id[_spans(vs[cand], vc[cand])], v_rep, lambda v: np.concatenate(
                [blk[:, 0] for blk in _inside_polygons(xs[v], ys[v], part)]))
            hit = np.logical_or.reduceat(inside, np.cumsum(vc[cand]) - vc[cand])
            # any part-shell vertex inside a polygon geometry
            pg = np.flatnonzero(~hit & (kinds[cand] == POLYGON))
            if pg.size:
                g = cand[pg]
                polys = _Rings.gather(xs, ys, ring_off, _spans(geom_off[g], nring[g]),
                                      np.cumsum(nring[g]) - nring[g])
                shell = slice(0, part.ring_off[1])
                for blk in _inside_polygons(part.x[shell], part.y[shell], polys):
                    hit[pg] |= blk.any(axis=0)
            # any geometry edge crossing or touching a part edge
            rest = np.flatnonzero(~hit & (e_n[cand] > 0))
            if rest.size:
                g = cand[rest]
                touch = _once_each(e_id[_spans(e_first[g], e_n[g])], e_rep, lambda e: _edges_touch(
                    xs[e], ys[e], xs[e + 1], ys[e + 1], part))
                hit[rest] = np.logical_or.reduceat(touch, np.cumsum(e_n[g]) - e_n[g])
            hit_g.append(cand[hit])
            hit_p.append(np.full(int(hit.sum()), pi))
        return self._id_lists(ng, hit_g, hit_p)

    @functools.cached_property
    def _parts(self) -> list[_Rings]:
        """Every part packed for the batched tests (built once per process)."""
        parts = []
        for rings in self.rings:
            n = [len(rx) for rx, _ in rings]
            parts.append(_Rings(np.concatenate([rx for rx, _ in rings]),
                                np.concatenate([ry for _, ry in rings]),
                                np.cumsum([0] + n), np.asarray([0])))
        return parts

    @functools.cached_property
    def _id_codes(self) -> tuple[list[str], np.ndarray]:
        """Distinct ids in sorted order, and each part's position in it."""
        names = sorted(set(self.ids))
        code = {fid: i for i, fid in enumerate(names)}
        return names, np.asarray([code[fid] for fid in self.ids], np.int64)

    def _id_lists(self, ng: int, hit_g, hit_p) -> list[list[str]]:
        """(geometry, part) hit pairs → sorted id set per geometry."""
        out: list[list[str]] = [[] for _ in range(ng)]
        if not hit_g:
            return out
        names, part_code = self._id_codes
        key = np.unique(np.concatenate(hit_g) * len(names)
                        + part_code[np.concatenate(hit_p)])
        for g, c in zip((key // len(names)).tolist(), (key % len(names)).tolist()):
            out[g].append(names[c])
        return out


# WKB type codes of the geometries `join_geoms` probes
POINT, LINESTRING, POLYGON = 1, 2, 3
_KIND_CODE = {"Point": POINT, "LineString": LINESTRING, "Polygon": POLYGON}

# cells per chunk of a (point x edge) or (edge x edge) grid: about a dozen
# float64 temporaries of this many cells are live at once (~2 MB each)
_GRID_BUDGET = 1 << 18


def _bbox_overlap_any(bxmin, bxmax, sxmin, sxmax, bymin, bymax, symin, symax) -> np.ndarray:
    """(cols x rows) grid: does any segment bbox overlap cell (i, j), whose
    bbox is (bxmin[i], bymin[j], bxmax[i], bymax[j])? The overlap test
    splits per axis, so the (cells x segments) grid is an (x-overlap) by
    (y-overlap) matrix product, taken over segment chunks of the budget."""
    out = np.zeros((bxmin.size, bymin.size), bool)
    step = max(1, _GRID_BUDGET // max(bxmin.size + bymin.size, 1))
    for s in range(0, sxmin.size, step):
        c = slice(s, s + step)
        ox = ~((sxmax[None, c] < bxmin[:, None]) | (sxmin[None, c] > bxmax[:, None]))
        oy = ~((symax[None, c] < bymin[:, None]) | (symin[None, c] > bymax[:, None]))
        out |= (ox.astype(np.float32) @ oy.T.astype(np.float32)) > 0
    return out


def _once_each(ids: np.ndarray, rep: np.ndarray, test) -> np.ndarray:
    """test(rep[u]) -> bool per distinct u among ids, spread back to ids."""
    need = np.zeros(rep.size, bool)
    need[ids] = True
    u = np.flatnonzero(need)
    out = np.zeros(rep.size, bool)
    out[u] = test(rep[u])
    return out[ids]


def _spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated index ranges [s, s + c) for each (s, c)."""
    total = int(counts.sum())
    if not total:
        return np.zeros(0, np.int64)
    base = np.cumsum(counts) - counts
    return np.arange(total) + np.repeat(starts - base, counts)


class _Rings:
    """Polygons packed flat: ring r owns vertices [ring_off[r],
    ring_off[r+1]), polygon q owns rings [poly_off[q], poly_off[q+1]) with
    its shell first; the edges of every ring are precomputed."""

    def __init__(self, x, y, ring_off, poly_off):
        self.x, self.y = x, y
        self.ring_off = np.asarray(ring_off, np.int64)
        self.poly_off = np.asarray(poly_off, np.int64)
        cnt = np.maximum(np.diff(self.ring_off) - 1, 0)
        e = _spans(self.ring_off[:-1], cnt)
        self.x1, self.y1, self.x2, self.y2 = x[e], y[e], x[e + 1], y[e + 1]
        self.edge_ring = np.repeat(np.arange(cnt.size), cnt)

    @classmethod
    def gather(cls, xs, ys, ring_off, rings, poly_off) -> "_Rings":
        """The rings `rings` of a flat batch, grouped into polygons."""
        n = ring_off[rings + 1] - ring_off[rings]
        vi = _spans(ring_off[rings], n)
        return cls(xs[vi], ys[vi], np.cumsum(np.concatenate([[0], n])), poly_off)


def _inside_polygons(px: np.ndarray, py: np.ndarray, polys: _Rings):
    """Yield a (block, Q) bool matrix per consecutive block of points: point
    inside polygon q, boundary included, holes excluded.

    `gnp.points_in_polygon` over every polygon of `polys` at once, with its
    float expressions: the half-open even-odd ray cast per ring and the
    exact on-segment test per edge."""
    nr = polys.ring_off.size - 1
    ne = polys.x1.size
    step = max(1, _GRID_BUDGET // max(nr, ne, 1))
    eb = max(1, _GRID_BUDGET // step)
    shells = polys.poly_off
    for lo in range(0, px.size, step):
        pxc = px[lo:lo + step, None]
        pyc = py[lo:lo + step, None]
        par = np.zeros((pxc.shape[0], nr), bool)
        on = np.zeros((pxc.shape[0], nr), bool)
        for a in range(0, ne, eb):
            x1, y1 = polys.x1[a:a + eb], polys.y1[a:a + eb]
            x2, y2 = polys.x2[a:a + eb], polys.y2[a:a + eb]
            cond = (y1 <= pyc) != (y2 <= pyc)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
            cross = (x2 - x1) * (pyc - y1) - (y2 - y1) * (pxc - x1)
            seg_on = (cross == 0.0) & _in_box(pxc, pyc, x1, y1, x2, y2)
            er = polys.edge_ring[a:a + eb]
            st = np.flatnonzero(np.concatenate([[True], er[1:] != er[:-1]]))
            par[:, er[st]] ^= np.logical_xor.reduceat(cond & (pxc < xint), st, axis=1)
            on[:, er[st]] |= np.logical_or.reduceat(seg_on, st, axis=1)
        holes = par.copy()
        holes[:, shells] = False
        yield ((par[:, shells] & ~np.logical_or.reduceat(holes, shells, axis=1))
               | np.logical_or.reduceat(on, shells, axis=1))


def _edges_touch(ax1, ay1, ax2, ay2, part: _Rings) -> np.ndarray:
    """Per edge a: it properly crosses some edge b of `part`, or an endpoint
    of b lies exactly on a. (a1 exactly on b needs no test here: every
    geometry vertex already went through the part's on-segment test, whose
    expression equals d3.)"""
    nb = part.x1.size
    out = np.zeros(ax1.size, bool)
    step = max(1, _GRID_BUDGET // max(nb, 1))
    eb = max(1, _GRID_BUDGET // step)
    for lo in range(0, ax1.size, step):
        a1x, a1y = ax1[lo:lo + step, None], ay1[lo:lo + step, None]
        a2x, a2y = ax2[lo:lo + step, None], ay2[lo:lo + step, None]
        for b in range(0, nb, eb):
            b1x, b1y = part.x1[b:b + eb], part.y1[b:b + eb]
            b2x, b2y = part.x2[b:b + eb], part.y2[b:b + eb]
            d1 = (a2x - a1x) * (b1y - a1y) - (a2y - a1y) * (b1x - a1x)
            d2 = (a2x - a1x) * (b2y - a1y) - (a2y - a1y) * (b2x - a1x)
            d3 = (b2x - b1x) * (a1y - b1y) - (b2y - b1y) * (a1x - b1x)
            d4 = (b2x - b1x) * (a2y - b1y) - (b2y - b1y) * (a2x - b1x)
            hit = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
            hit |= (d1 == 0) & _in_box(b1x, b1y, a1x, a1y, a2x, a2y)
            hit |= (d2 == 0) & _in_box(b2x, b2y, a1x, a1y, a2x, a2y)
            out[lo:lo + step] |= hit.any(axis=1)
    return out


def _in_box(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Point within the bbox of segment (x1, y1)-(x2, y2), elementwise."""
    return (
        (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )
