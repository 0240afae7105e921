"""Temporal history semantics: minor-version merge + contribution view.

The one genuinely custom operator of the reference (SURVEY §2.3 J6/J7,
§2.5 W1–W9): for each parent element (way), merge its major versions with its
members' edit histories into a stream of contributions — one row per major
version plus one *minor version* per group of member edits sharing a
changeset between two majors — then derive the output columns of the
reference's converter.

Semantics parity (all behaviors below are reproduced exactly, including the
reference's quirks):

- `ContributionsEntity` (`/root/reference/ohsome-contributions/src/main/java/
  org/heigit/ohsome/contributions/contrib/ContributionsEntity.java:82-150`):
  * member as-of snapshot at a major version consumes edits with
    ts ≤ major.ts OR changeset == major.changeset (`initMembers:89-93`);
  * between majors, a priority queue over member streams ordered by
    (ts, changeset) groups consecutive same-changeset edits into one minor
    version stamped with the ts of the LAST consumed edit (`computeNext:
    124-133`);
  * member iterators persist across major versions (the `oshContributions`
    cache) — consumption is never rewound;
  * missing members behave as empty histories (`EmptyContributions`).
- `ContributionsAvroConverter` (`ContributionsAvroConverter.java:57-176`):
  * same-(version, changeset) runs collapse, keeping the LAST row (`:67-74`)
    — but valid_to/last_edit come from the RAW neighbors of the kept row;
  * minorVersion resets when the RAW predecessor has a different version,
    else increments from the previous EMITTED value (`:85-90`) — so a
    collapsed first run yields minor_version ≥ 1, and a new version whose
    first run collapsed keeps counting from the previous version's value;
  * deleted rows reuse the previous emitted geometry (`:106`);
  * area/length deltas are vs the previous EMITTED row (`:143-148`);
  * contrib_type: DELETION | CREATION | TAG/GEOMETRY combos — faithfully
    including the reference's inverted TAG test (`:156-158` adds "TAG" when
    tags did NOT change: `filter(not(equals)).isEmpty()`);
  * status: deleted / history / latest, overridden by "invalid" when the
    geometry is empty (`:79-84,139-140`);
  * empty geometry ⇒ xz(-1, 0) (`:126-127`).

Spark shape: the ways' member-node histories (`explode(refs)` ⋈ nodes
shuffle) are packed with the ways into one frame, repartitioned by element
id, and merged per partition by an Arrow kernel (`mapInArrow`) — the
shuffle replaces the reference's RocksDB minor store, the kernel replaces
its hand-fused iterator pipeline. The production kernels are
`history_arrow.way_partition_table` and
`relation_arrow.relation_partition_table`; nodes need no merge and run as
window functions (`node_contributions`). This module holds the three
plans, the history filters, the changeset join, the output schemas and
the vectorized geometry passes both kernels share (`batch_geometries`,
`batch_gc_moment_cols`). The readable per-row spec of the semantics above
and the dict-kernel reference twins of all three paths live in
`tests/history_spec.py`; tests compare the production paths against them
bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import geodesy as gd
from ..functions import geometry_np as gnp
from ..functions.cells import xz2_code
from ..functions.waygeom import _segments_self_intersect
from ..session import drop_spark_zip_finders

MAX_TS = pd.Timestamp("2262-01-01")  # practical +inf inside pandas range
VALID_TO_SENTINEL = pd.Timestamp("2222-01-01")
# int64-nanosecond twins: the way kernel runs its merge walk in the integer
# time domain (python-int tuple compares are several times cheaper than
# pd.Timestamp compares in the priority-queue inner loop)
MAX_TS_NS = MAX_TS.value
VALID_TO_SENTINEL_NS = VALID_TO_SENTINEL.value
_CS_MAX = np.iinfo(np.int64).max

CONTRIB_SCHEMA = (
    "osm_type string, osm_id long, osm_version int, osm_minor_version int, "
    "osm_edits int, osm_last_edit timestamp_ntz, valid_from timestamp_ntz, "
    "valid_to timestamp_ntz, user_id long, user string, changeset long, "
    "tags map<string,string>, tags_before map<string,string>, "
    "status string, contrib_type string, geometry_type string, "
    "geometry binary, xmin double, ymin double, xmax double, ymax double, "
    "centroid_x double, centroid_y double, xz_level int, xz_code long, "
    "countries array<string>, area double, area_delta double, "
    "length double, length_delta double, refs array<long>"
)
_CONTRIB_COLS = [f.split()[0] for f in CONTRIB_SCHEMA.split(", ")]


# ---------------------------------------------------------------------------
# Partition-wide geometry: every geometry request of a partition in one
# vectorized pass (segmented sums, reduceat bboxes, one trig call over all
# coordinates, one uint8 WKB buffer) instead of small-array NumPy calls per
# contribution. Float caveat: sums here are sequential (reduceat) while
# np.sum is pairwise — identical for the short rings of real ways, and
# sequential matches the DuckDB oracles.
# ---------------------------------------------------------------------------


def _pt_sums(vals: np.ndarray, voff: np.ndarray, nz: np.ndarray) -> np.ndarray:
    """Per-request sums of per-point values. add.reduceat over the starts of
    NONZERO requests: each segment gets a fresh left-fold accumulation —
    cumsum-and-difference would leak prefix rounding error across requests
    and break exact-double oracle parity."""
    out = np.zeros(voff.size - 1)
    if vals.size and nz.any():
        out[nz] = np.add.reduceat(vals, voff[:-1][nz])
    return out


def _seg_sums(vals: np.ndarray, segmask: np.ndarray, vc: np.ndarray) -> np.ndarray:
    """Per-request sums of per-adjacent-pair values. Cross-request boundary
    slots are dropped (not zero-added — adding 0.0 can flip a -0.0 sum),
    then summed fresh per request like _pt_sums."""
    vals_c = vals[segmask]
    scnt = np.maximum(vc - 1, 0)
    soff = np.concatenate([[0], np.cumsum(scnt)])
    has = scnt > 0
    out = np.zeros(vc.size)
    if vals_c.size and has.any():
        out[has] = np.add.reduceat(vals_c, soff[:-1][has])
    return out


def batch_geometries(counts: np.ndarray, isarea: np.ndarray, ml: np.ndarray,
                     mt: np.ndarray, mv: np.ndarray,
                     with_bytes: bool = True) -> dict:
    """All geometry values of the partition in one vectorized pass.

    counts: member count per geometry request; isarea: per-request area flag;
    ml/mt/mv: flat member lon/lat/visible across all requests.
    Exactly reproduces, per request, what `way_geometry` → (bbox, centroid,
    geodesic area/length, WKB) computes; see the float-order note in the
    section comment above."""
    R = counts.size
    moff = np.concatenate([[0], np.cumsum(counts)])
    ok = (mv & ~np.isnan(ml) & ~np.isnan(mt)
          & (ml >= -180.0) & (ml <= 180.0) & (mt >= -90.0) & (mt <= 90.0))
    cs_ok = np.concatenate([[0], np.cumsum(ok)])
    vc = cs_ok[moff[1:]] - cs_ok[moff[:-1]]
    xs = ml[ok]
    ys = mt[ok]
    voff = np.concatenate([[0], np.cumsum(vc)])
    K = int(xs.size)
    starts = voff[:-1]
    ends = voff[1:]
    nz = vc > 0
    empty = ~nz

    # kind decision (way_geometry:137-160 order: area+valid ring → Polygon;
    # 0 or ≥2 pts → LineString; 1 pt → Point)
    closed = np.zeros(R, bool)
    if K:
        closed[nz] = (xs[starts[nz]] == xs[ends[nz] - 1]) & (
            ys[starts[nz]] == ys[ends[nz] - 1])
    ring_ok = empty.copy()  # empty ring is valid (ring_is_valid)
    for r in np.nonzero(isarea & (vc >= 4) & closed)[0]:
        s, e = starts[r], ends[r]
        ring_ok[r] = not _segments_self_intersect(xs[s:e], ys[s:e])
    poly = isarea & ring_ok
    kind = np.where(poly, 3, np.where(vc == 1, 1, 2)).astype(np.int8)

    # bbox: reduceat over starts-of-nonzero-requests (zero-length requests
    # occupy no coords, so each nonzero segment ends at the next start)
    xmin = np.full(R, np.nan)
    ymin = np.full(R, np.nan)
    xmax = np.full(R, np.nan)
    ymax = np.full(R, np.nan)
    if K and nz.any():
        snz = starts[nz]
        xmin[nz] = np.minimum.reduceat(xs, snz)
        xmax[nz] = np.maximum.reduceat(xs, snz)
        ymin[nz] = np.minimum.reduceat(ys, snz)
        ymax[nz] = np.maximum.reduceat(ys, snz)

    # segment mask: adjacent-pair slots that cross request boundaries
    segmask = np.ones(max(K - 1, 0), bool)
    if K > 1:
        bpos = voff[1:-1] - 1
        segmask[bpos[(bpos >= 0) & (bpos < K - 1)]] = False

    cx = np.full(R, np.nan)
    cy = np.full(R, np.nan)
    length = np.zeros(R)
    area = np.zeros(R)
    is_pt = kind == 1
    if K and is_pt.any():
        cx[is_pt] = xs[starts[is_pt]]
        cy[is_pt] = ys[starts[is_pt]]

    is_ls = (kind == 2) & nz
    if K > 1 and is_ls.any():
        # centroid_linestring: length-weighted midpoints (planar)
        dx = np.diff(xs)
        dy = np.diff(ys)
        seg_len = np.sqrt(dx * dx + dy * dy)
        total = _seg_sums(seg_len, segmask, vc)
        mx = (xs[:-1] + xs[1:]) / 2.0
        my = (ys[:-1] + ys[1:]) / 2.0
        sx = _seg_sums(mx * seg_len, segmask, vc)
        sy = _seg_sums(my * seg_len, segmask, vc)
        w = is_ls & (total > 0.0)
        cx[w] = sx[w] / total[w]
        cy[w] = sy[w] / total[w]
        w0 = is_ls & (total == 0.0)
        cx[w0] = xs[starts[w0]]
        cy[w0] = ys[starts[w0]]
        # geodesic_length (GeometryTools.lengthOf): spheroid-corrected radians
        lat_r = np.arctan(gd.SPHERE_FACT * np.tan(np.radians(ys)))
        dlon = np.diff(np.radians(xs))
        dlat = np.diff(lat_r)
        mid = (lat_r[1:] + lat_r[:-1]) / 2.0
        dlon = dlon * np.cos(mid)
        glen = np.sqrt(dlon * dlon + dlat * dlat)
        ls2 = is_ls & (vc >= 2)
        gsum = _seg_sums(glen, segmask, vc)
        length[ls2] = gsum[ls2] * gd.EARTH_RADIUS_MEAN

    is_pg = (kind == 3) & nz
    if K and is_pg.any():
        # within-request roll(-1) index (every coord belongs to a nonzero
        # request, so every request end gets wrapped — no out-of-bounds)
        idx_nxt = np.arange(1, K + 1)
        idx_nxt[ends[nz] - 1] = starts[nz]
        x2 = xs[idx_nxt]
        y2 = ys[idx_nxt]
        # centroid_polygon, single ring: cx = sx/ring_a (its sign algebra
        # reduces to this exactly — ±1 multiplies are lossless)
        cross = xs * y2 - x2 * ys
        ring_a = _pt_sums(cross, voff, nz) / 2.0
        sx = _pt_sums((xs + x2) * cross, voff, nz) / 6.0
        sy = _pt_sums((ys + y2) * cross, voff, nz) / 6.0
        w = is_pg & (ring_a != 0.0)
        cx[w] = sx[w] / ring_a[w]
        cy[w] = sy[w] / ring_a[w]
        w0 = is_pg & (ring_a == 0.0)
        if w0.any():  # degenerate ring → centroid_points (mean incl. closing dup)
            cx[w0] = (_pt_sums(xs, voff, nz) / np.maximum(vc, 1))[w0]
            cy[w0] = (_pt_sums(ys, voff, nz) / np.maximum(vc, 1))[w0]
        # geodesic_ring_area (GeometryTools.ringArea index scheme):
        # sinLat from coords[i+1], deltaLon = coords[i+2].x - coords[i].x
        idx2 = idx_nxt[idx_nxt]
        tanv = gd.F_ * np.tan(np.radians(y2))
        sin_lat = tanv / np.sqrt(tanv * tanv + 1.0)
        raw_a = _pt_sums(np.radians(xs[idx2] - xs) * sin_lat, voff, nz)
        mid_lat = (ymax + ymin) / 2.0
        factor = (0.5 * gd.EARTH_RADIUS_EQUATOR * gd.EARTH_RADIUS_EQUATOR
                  * (1.0 - 1.0 / gd.EARTH_INVERSE_FLATTENING
                     * np.cos(np.radians(mid_lat)) ** 2))
        ga = np.abs(raw_a * factor)
        wa = is_pg & (vc > 2)
        area[wa] = ga[wa]

    # WKB: one uint8 buffer for the whole partition (JTS layout, big-endian)
    sizes = np.where(kind == 1, 21,
                     np.where(kind == 3,
                              np.where(empty, 9, 13 + 16 * vc),
                              9 + 16 * vc))
    ooff = np.concatenate([[0], np.cumsum(sizes)])
    buf = np.zeros(int(ooff[-1]), np.uint8)
    o = ooff[:-1]
    if R:
        buf[o + 4] = kind  # bytes 1-3 of the big-endian u32 code stay 0
        ls_any = kind == 2
        for b in range(4):
            shift = 8 * (3 - b)
            buf[o[ls_any] + 5 + b] = (vc[ls_any] >> shift) & 0xFF
        pg_full = (kind == 3) & nz
        buf[o[pg_full] + 8] = 1  # one ring
        for b in range(4):
            shift = 8 * (3 - b)
            buf[o[pg_full] + 9 + b] = (vc[pg_full] >> shift) & 0xFF
    if K:
        hdr = np.where(kind == 1, 5, np.where(kind == 3, 13, 9))
        base = o + hdr - 16 * starts
        dest = np.repeat(base[nz], vc[nz]) + 16 * np.arange(K)
        pts = np.empty((K, 2), np.float64)
        pts[:, 0] = xs
        pts[:, 1] = ys
        be = pts.astype(">f8").view(np.uint8).ravel()
        buf[(dest[:, None] + np.arange(16)).ravel()] = be
    wkb_all = (
        [buf[ooff[r]:ooff[r + 1]].tobytes() for r in range(R)]
        if with_bytes else None
    )

    return {
        "kind": kind, "empty": empty, "wkb": wkb_all,
        "xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax,
        "cx": cx, "cy": cy, "area": area, "length": length,
        "xs": xs, "ys": ys, "voff": voff,
        # raw WKB buffer + offsets: the arrow kernel builds a zero-copy
        # BinaryArray from these instead of the per-request bytes list
        "wkb_buf": buf, "wkb_off": ooff,
    }


def xz2_udf():
    """(xmin, ymin, xmax, ymax) → struct<level int, code long> as one
    vectorized Arrow batch per call: the XZ2 kernel of the node plan's
    single Python projection.

    Every xz value in the converters derives from the row's bbox, so the
    computation factors out of the per-element merge kernels entirely —
    called per contribution with 1-element arrays, the Böhm loop was 53% of
    the kernel profile; batched here it costs microseconds per row. Null
    bbox → (-1, 0), the reference's invalid marker
    (`ContributionsAvroConverter.java:127`)."""

    @F.pandas_udf("level int, code long")
    def xz2_from_bbox(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
                      ymax: pd.Series) -> pd.DataFrame:
        drop_spark_zip_finders()
        x0 = np.asarray(pd.to_numeric(xmin, errors="coerce"), np.float64)
        y0 = np.asarray(pd.to_numeric(ymin, errors="coerce"), np.float64)
        x1 = np.asarray(pd.to_numeric(xmax, errors="coerce"), np.float64)
        y1 = np.asarray(pd.to_numeric(ymax, errors="coerce"), np.float64)
        valid = ~np.isnan(x0)
        lvl = np.full(x0.shape, -1, np.int32)
        code = np.zeros(x0.shape, np.int64)
        if valid.any():
            l, c = xz2_code(x0[valid], y0[valid], x1[valid], y1[valid])
            lvl[valid] = l
            code[valid] = c
        return pd.DataFrame({"level": lvl, "code": code})

    return xz2_from_bbox


def way_contributions(ways: DataFrame, nodes: DataFrame, country_index=None) -> DataFrame:
    """Distributed temporal merge + conversion (Arrow-native kernel).

    ways:  id, version, ts, changeset, user_id, user, visible, tags, refs
    nodes: id, version, ts, changeset, user_id, user, visible, lon, lat

    Delegates to `history_arrow.way_contributions_arrow`, whose production
    partition kernel is `history_arrow.way_partition_table`. Its dict-kernel
    reference twin is `_way_partition_kernel` in `tests/history_spec.py`:
    tests run both on the same packed partition and compare bit for bit.
    """
    from .history_arrow import way_contributions_arrow

    return way_contributions_arrow(ways, nodes, country_index)


# The node plan is built from SQL text: one gateway round trip per
# expression, where every Column method (alias, cast, over, ==, ...) pays
# about eight for the call-site capture of pyspark's DataFrame debugging.
# Every window shares one partitioning and ordering, so the plan sorts once.
_NODE_W = "OVER (PARTITION BY id ORDER BY version, ts)"
_NODE_W_RUN = (
    "OVER (PARTITION BY id ORDER BY version, ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)
_EMPTY_TAGS = "CAST(map() AS MAP<STRING, STRING>)"
_NO_COUNTRIES = "CAST(array() AS ARRAY<STRING>)"


def node_contributions(nodes: DataFrame, country_index=None) -> DataFrame:
    """Node contribution view (the TransformerNodes path) — DECLARATIVE.

    Nodes have no members, so the priority-queue merge degenerates and the
    whole converter is window functions + vectorized kernels: run collapse
    via lead(), raw-neighbor validity/last-edit via lag()/lead(), geometry
    carry-forward via last_value(IGNORE NULLS), point WKB / XZ2 / countries
    via the existing Arrow kernels. Zero per-row Python — on a planet-scale
    run nodes are ~90% of the entities, so this path staying whole-stage-
    codegen'd is THE throughput lever (measured ~10× over the kernel).

    The executed plan has one Sort (every window is over id ordered by
    version, ts) and one ArrowEvalPython, after the last window, that
    computes the point WKB, the countries and the XZ2 cell together.

    The original imperative twin, `node_contributions_kernel` in
    `tests/history_spec.py`, is the cross-check (tests assert row-identical
    output on adversarial histories). Semantics per ContributionsAvroConverter —
    including the quirks: the empty-geometry WKB of an invalid VISIBLE
    node compares as an empty LineString for the GEOMETRY flag while the
    row itself reports geometry_type='Point', and a deleted row carrying
    an invalid geometry is 'invalid', not 'deleted'.

    Input contract (as for the twin): one row per (id, version, ts);
    duplicate (id, version, ts) keys have no defined collapse order.
    """
    from ..plans.enrich import point_wkb_udf

    w, run = _NODE_W, _NODE_W_RUN
    raw = nodes.selectExpr(
        "id", "version", "ts", "changeset", "user_id", "user", "visible",
        f"coalesce(tags, {_EMPTY_TAGS}) AS tags", "lon", "lat",
        "lon IS NOT NULL AND lat IS NOT NULL AND lon >= -180.0D AND lon <= 180.0D"
        " AND lat >= -90.0D AND lat <= 90.0D AS _cv",
    ).selectExpr(
        "*",
        # RAW-neighbor columns (computed before the collapse filter:
        # valid_to/last_edit/tags_before come from raw neighbors)
        f"lag(version) {w} AS _before_version",
        f"lag(ts) {w} AS _last_edit",
        f"lead(ts) {w} AS _valid_to",
        f"lag(tags) {w} AS _tags_before",
        f"lag(visible) {w} AS _before_visible",
        f"lag(id) {w} IS NULL AS _is_first",
        # run collapse: keep the LAST row of each (version, changeset) run
        f"NOT ((lead(version) {w} = version AND lead(changeset) {w} = changeset)"
        " <=> true) AS _keep",
    )
    # carry-forward state over EMITTED rows: coords + validity of the most
    # recent VISIBLE row (including the current row when visible)
    emitted = raw.where("_keep").selectExpr(
        "*",
        # _eff: a non-empty geometry exists; _had_vis: any visible row yet
        f"last(CASE WHEN visible THEN _cv END) IGNORE NULLS {run} <=> true AS _eff",
        f"last(CASE WHEN visible THEN _cv END) IGNORE NULLS {run} IS NOT NULL AS _had_vis",
        f"last(CASE WHEN visible AND _cv THEN lon END) IGNORE NULLS {run} AS _glon",
        f"last(CASE WHEN visible AND _cv THEN lat END) IGNORE NULLS {run} AS _glat",
        f"row_number() {w} AS _edits",
    ).selectExpr(
        "*",
        # minor_version (converter :86-90, with its quirks): per EMITTED
        # row, reset to 0 when the RAW predecessor is absent or a different
        # version; otherwise previous emitted value + 1. So a new version
        # whose first run collapsed raw rows does NOT reset (its raw
        # predecessor shares the version) — it keeps counting from the
        # previous version's value, and a collapsed FIRST run starts at 1.
        "_is_first OR NOT (_before_version <=> version) AS _reset",
        # geometry-change state: the twin compares the internal geometry
        # tuple's WKB (empty-LineString sentinel for an invalid-coords
        # state). Here the comparison runs on the pre-WKB state struct
        # instead, so that NO window runs after the WKB pandas UDF: a Python
        # eval node between two same-key windows re-shuffles the whole
        # stream (ArrowEvalPython does not propagate partitioning to
        # EnsureRequirements), and nodes are ~90% of planet rows.
        # struct<e,x,y> equality ≡ WKB-bytes equality: null ⟺ never-visible
        # (no bytes), e=false ⟺ the empty-LS sentinel, (x,y) ⟺ the point
        # payload. Only divergence: SQL doubles compare by value (-0.0 =
        # 0.0) while bytes are bitwise — unreachable for OSM coords, which
        # decode from fixed-point integers (int 0 → +0.0 only).
        "CASE WHEN _had_vis THEN named_struct('e', _eff,"
        " 'x', CASE WHEN _eff THEN _glon END, 'y', CASE WHEN _eff THEN _glat END)"
        " END AS _gstate",
    ).selectExpr(
        "*",
        f"lag(_gstate) {w} AS _gstate_prev",
        # the emitted row number at which the current minor-version group
        # started; groups are contiguous runs in (version, ts) order, so
        # _edits - start is the group's row_number - 1, and the rows before
        # the first reset (a collapsed first run) count from 1: _edits
        f"last(CASE WHEN _reset THEN _edits END) IGNORE NULLS {run} AS _grp_start",
    )
    out = emitted.selectExpr(
        "'node' AS osm_type",
        "id AS osm_id",
        "CAST(version AS INT) AS osm_version",
        "CAST(_edits - coalesce(_grp_start, 0) AS INT) AS osm_minor_version",
        "CAST(_edits AS INT) AS osm_edits",
        "_last_edit AS osm_last_edit",
        "ts AS valid_from",
        f"coalesce(_valid_to, CAST('{VALID_TO_SENTINEL}' AS TIMESTAMP_NTZ)) AS valid_to",
        "user_id",
        "user",
        "changeset",
        "tags",
        f"coalesce(_tags_before, {_EMPTY_TAGS}) AS tags_before",
        "CASE WHEN NOT _eff THEN 'invalid' ELSE CASE WHEN NOT visible THEN 'deleted'"
        " WHEN _valid_to IS NOT NULL THEN 'history' ELSE 'latest' END END AS status",
        "CASE WHEN NOT visible THEN 'DELETION'"
        " WHEN _is_first OR NOT _before_visible THEN 'CREATION'"
        " ELSE concat_ws('_',"
        # reference quirk: TAG set when tags did NOT change (:156-158)
        # (maps have no SQL equality — compare sorted entry arrays)
        "  CASE WHEN array_sort(map_entries(tags)) <=> array_sort(map_entries("
        f"coalesce(_tags_before, {_EMPTY_TAGS}))) THEN 'TAG' END,"
        "  CASE WHEN NOT (_gstate <=> _gstate_prev) THEN 'GEOMETRY' END)"
        " END AS contrib_type",
        "'Point' AS geometry_type",
        "CASE WHEN _eff THEN _glon END AS xmin",
        "CASE WHEN _eff THEN _glat END AS ymin",
        "CASE WHEN _eff THEN _glon END AS xmax",
        "CASE WHEN _eff THEN _glat END AS ymax",
        "CASE WHEN _eff THEN _glon END AS centroid_x",
        "CASE WHEN _eff THEN _glat END AS centroid_y",
        "0D AS area",
        "0D AS area_delta",
        "0D AS length",
        "0D AS length_delta",
        "CAST(array() AS ARRAY<BIGINT>) AS refs",
        "_eff",
    )
    # the one Python eval of the plan, after every window: point WKB, XZ2
    # and countries in one projection, so one ArrowEvalPython computes all
    # three from (xmin, ymin) — a point's bbox and centroid are the point.
    # Every guard is _eff: the WKB kernel never returns null for a row it
    # runs on, so "geometry IS NOT NULL" would only inline the kernel again.
    x, y = F.col("xmin"), F.col("ymin")
    py = {"_wkb": point_wkb_udf(x, y), "_xz": xz2_udf()(x, y, x, y)}
    countries = _NO_COUNTRIES
    if country_index is not None:
        from .spatial_join import countries_udf

        py["_countries"] = countries_udf(nodes.sparkSession, country_index)(x, y)
        countries = f"CASE WHEN _eff THEN _countries ELSE {_NO_COUNTRIES} END"
    final = {
        "geometry": "CASE WHEN _eff THEN _wkb END AS geometry",
        "xz_level": "_xz.level AS xz_level",
        "xz_code": "_xz.code AS xz_code",
        "countries": f"{countries} AS countries",
    }
    return out.withColumns(py).selectExpr(*(final.get(c, c) for c in _CONTRIB_COLS))


def with_changeset_metadata(
    contribs: DataFrame,
    changesets: DataFrame,
    changeset_col: str = "changeset",
) -> DataFrame:
    """J3 (`util/Utils.java:50-67`): broadcast left join of changeset
    metadata with the reference's default record on miss (created_at =
    epoch 0, num_changes = -1, empty tags → empty hashtags/editor)."""
    from ..functions.text import hashtags_col

    cs = changesets.select(
        F.col("id").alias("_cs_id"),
        F.col("created_at").alias("changeset_created_at"),
        F.col("closed_at").alias("changeset_closed_at"),
        F.col("num_changes").alias("changeset_num_changes"),
        F.col("tags").alias("_cs_tags"),
    )
    joined = contribs.join(
        F.broadcast(cs), contribs[changeset_col] == cs["_cs_id"], "left"
    )
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return (
        joined.withColumn(
            "changeset_created_at", F.coalesce("changeset_created_at", epoch0)
        )
        .withColumn(
            "changeset_num_changes",
            F.coalesce("changeset_num_changes", F.lit(-1)).cast("int"),
        )
        .withColumn("changeset_editor", F.col("_cs_tags").getItem("created_by"))
        .withColumn(
            "changeset_hashtags",
            hashtags_col(F.col("_cs_tags").getItem("hashtags"), F.col("_cs_tags").getItem("comment")),
        )
        .drop("_cs_id", "_cs_tags")
    )


def filter_by_tag_keys(df: DataFrame, keys: list[str], tags_col: str = "tags") -> DataFrame:
    """Row-level include-keys predicate (keep rows having at least one of
    `keys` among their tag keys) — pure JVM expression. The contributions
    job uses the HISTORY-level variant below; this row form is the
    per-version building block (and is what the `tag_filter` oracle pins)."""
    if not keys:
        return df
    return df.where(
        F.arrays_overlap(F.map_keys(F.col(tags_col)), F.array(*[F.lit(k) for k in keys]))
    )


def filter_untagged(df: DataFrame, tags_col: str = "tags") -> DataFrame:
    """Row-level untagged predicate (drop rows with no tags). The
    contributions job uses the HISTORY-level variant below."""
    return df.where(F.size(F.map_keys(F.col(tags_col))) > 0)


def filter_untagged_history(
    df: DataFrame, id_col: str = "id", tags_col: str = "tags"
) -> DataFrame:
    """F1, `hasNoTags` at the reference's actual granularity
    (`util/Utils.java:21-23`, applied per OSH in `TransformerNodes:118`,
    `TransformerWays:129`, `Contributions2Parquet:184`): an element is
    dropped only when EVERY version of its history is untagged — an element
    tagged at any point keeps its whole history, including its untagged
    versions (they carry validity windows and tags_before transitions)."""
    w = Window.partitionBy(id_col)
    return (
        df.withColumn(
            "_ever_tagged",
            F.max((F.size(F.map_keys(F.col(tags_col))) > 0).cast("int")).over(w),
        )
        .where(F.col("_ever_tagged") == 1)
        .drop("_ever_tagged")
    )


def filter_by_tag_keys_history(
    df: DataFrame, keys: list[str], id_col: str = "id", tags_col: str = "tags"
) -> DataFrame:
    """F2, `filterOut` at history granularity (`util/Utils.java:25-32`): an
    element survives when ANY version carries at least one of `keys`; all
    its versions then flow to the merge. In the reference job the key
    filter applies to RELATIONS only (`Contributions2Parquet:142,184`)."""
    if not keys:
        return df
    w = Window.partitionBy(id_col)
    hit = F.arrays_overlap(
        F.map_keys(F.col(tags_col)), F.array(*[F.lit(k) for k in keys])
    )
    return (
        df.withColumn("_key_hit", F.max(hit.cast("int")).over(w))
        .where(F.col("_key_hit") == 1)
        .drop("_key_hit")
    )


# ---------------------------------------------------------------------------
# Relations (J2 transitive member resolution + K4/K5/K6 geometry)
# ---------------------------------------------------------------------------

REL_CONTRIB_SCHEMA = CONTRIB_SCHEMA.replace(
    "refs array<long>",
    "member_types array<string>, member_ids array<long>, member_roles array<string>, "
    "member_geom_types array<string>, member_geoms array<binary>",
)

_MEMBERS_TYPE = "ARRAY<STRUCT<type: STRING, id: BIGINT, role: STRING>>"
MEMBERS_THRESHOLD = 500  # ContributionGeometry.java:24


def batch_gc_moment_cols(geo: dict) -> dict:
    """Per-request JTS collection-centroid moments over `batch_geometries`'
    flat coordinate layout: the nine accumulator components (aw, gx, gy:
    area-weighted polygon centroid; tl, lx, ly: length-weighted segment
    midpoints; npt, px, py: point fallback) as float64 columns plus a
    `valid` mask (False = empty request, all components 0). A request's
    components are what one member geometry adds to the accumulators, so
    sequential folds over these columns in member order reproduce the
    centroid's += chain exactly. `_gc_moments` in `tests/history_spec.py`
    is the per-request scalar spec: branch choices and zeros match it bit
    for bit, sums to the last bits (reduceat and np.sum associate
    differently)."""
    kind = geo["kind"]
    xs, ys, voff = geo["xs"], geo["ys"], geo["voff"]
    R = int(kind.shape[0])
    K = int(xs.size)
    vc = np.diff(voff)
    starts = voff[:-1]
    ends = voff[1:]
    nz = vc > 0

    total = np.zeros(R)
    sx = np.zeros(R)
    sy = np.zeros(R)
    if K > 1:
        segmask = np.ones(K - 1, bool)
        bpos = voff[1:-1] - 1
        segmask[bpos[(bpos >= 0) & (bpos < K - 1)]] = False
        seg = np.hypot(np.diff(xs), np.diff(ys))
        total = _seg_sums(seg, segmask, vc)
        sx = _seg_sums((xs[:-1] + xs[1:]) * 0.5 * seg, segmask, vc)
        sy = _seg_sums((ys[:-1] + ys[1:]) * 0.5 * seg, segmask, vc)

    a_abs = np.zeros(R)
    if K and ((kind == 3) & nz).any():
        idx_nxt = np.arange(1, K + 1)
        idx_nxt[ends[nz] - 1] = starts[nz]
        cross = xs * ys[idx_nxt] - xs[idx_nxt] * ys
        a_abs = np.abs(_pt_sums(cross, voff, nz) / 2.0)

    x0 = np.zeros(R)
    y0 = np.zeros(R)
    if K and nz.any():
        x0[nz] = xs[starts[nz]]
        y0[nz] = ys[starts[nz]]

    valid = ~geo["empty"]
    poly = valid & (kind == 3)
    line = valid & (kind != 1) & (total > 0.0)
    # a point, or a line or ring of zero length, adds its first point
    pt = valid & ~line
    return {
        "valid": valid,
        "aw": np.where(poly, a_abs, 0.0),
        "gx": np.where(poly, a_abs * geo["cx"], 0.0),
        "gy": np.where(poly, a_abs * geo["cy"], 0.0),
        "tl": np.where(line, total, 0.0),
        "lx": np.where(line, sx, 0.0),
        "ly": np.where(line, sy, 0.0),
        "npt": pt.astype(np.float64),
        "px": np.where(pt, x0, 0.0),
        "py": np.where(pt, y0, 0.0),
    }


def _envelope_geom(bx: tuple[float, float, float, float]) -> tuple:
    """JTS GeometryFactory.toGeometry(Envelope): point/line for degenerate
    envelopes, else the bbox polygon (the stored geometry of collection-type
    rows, `ContributionsAvroConverter.java:114-117`)."""
    xmin, ymin, xmax, ymax = bx
    if xmin == xmax and ymin == ymax:
        return ("Point", (xmin, ymin))
    if xmin == xmax or ymin == ymax:
        return ("LineString", np.asarray([[xmin, ymin], [xmax, ymax]], np.float64))
    ring = np.asarray(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
        np.float64,
    )
    return ("Polygon", [ring])


def _poly_area_centroid(rings: list[np.ndarray]):
    """(planar net area, centroid) of one polygon part — used to weight the
    multipolygon centroid like JTS does."""
    c0x, c0y = gnp.centroid_polygon([(r[:, 0], r[:, 1]) for r in rings])
    a = abs(gnp.ring_signed_area(rings[0][:, 0], rings[0][:, 1]))
    for r in rings[1:]:
        a -= abs(gnp.ring_signed_area(r[:, 0], r[:, 1]))
    return max(a, 1e-300), (c0x, c0y)


def relation_contributions(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame, country_index=None
) -> DataFrame:
    """Distributed relation history merge (J2: transitive member resolution).

    relations: id, version, ts, changeset, user_id, user, visible, tags,
               members array<struct<type:string, id:long, role:string>>
    ways/nodes: as in way_contributions.

    Member routing: relation → member way ids → way histories; way refs ∪
    direct node members → node histories; all shuffled to the relation id
    and merged in one kernel (the reference's two-level multiGet,
    `Contributions2Parquet.processRelation:233-266`).
    """
    spark = relations.sparkSession

    # built from SQL text: one gateway round trip per expression (see
    # node_contributions)
    rel_way_ids = relations.selectExpr(
        "id AS rel_id", "explode(filter(members, m -> m.type = 'way')) AS m"
    ).selectExpr("rel_id", "m.id AS way_id").distinct()
    # ONE dedup exchange for the whole (rel_id, node_id) feed: the old
    # plan paid three (per-feed distinct + union distinct). Dup sources —
    # refs repeated across way VERSIONS (factor = version count, large at
    # planet scale) and direct members across relation versions — all
    # collapse map-side in this single partial-aggregate exchange. The
    # kernel additionally drops any adjacent identical node rows
    # (`_adjacent_node_dup_mask`), so correctness never depends on this
    # plan-level dedup — it is purely the shuffle-volume optimization.
    rel_node_direct = relations.selectExpr(
        "id AS rel_id", "explode(filter(members, m -> m.type = 'node')) AS m"
    ).selectExpr("rel_id", "m.id AS node_id")

    rel_ways = rel_way_ids.join(
        ways.selectExpr("id AS way_id", "version", "ts", "changeset", "user_id",
                        "user", "visible", "tags", "refs"),
        "way_id",
    )
    rel_way_nodes = rel_ways.selectExpr("rel_id", "explode(refs) AS node_id")
    rel_nodes = (
        rel_node_direct.unionByName(rel_way_nodes)
        .distinct()
        .join(nodes.selectExpr("id AS node_id", "version", "ts", "changeset",
                               "user_id", "user", "visible", "lon", "lat"),
              "node_id")
    )

    # pack ways + nodes into one side for the 2-way cogroup
    ways_packed = rel_ways.selectExpr(
        "rel_id",
        "'way' AS kind",
        "way_id AS member_id",
        "version", "ts", "changeset", "user_id", "user", "visible",
        "tags", "refs",
        "CAST(NULL AS DOUBLE) AS lon",
        "CAST(NULL AS DOUBLE) AS lat",
        f"CAST(NULL AS {_MEMBERS_TYPE}) AS rel_member_list",
    )
    nodes_packed = rel_nodes.selectExpr(
        "rel_id",
        "'node' AS kind",
        "node_id AS member_id",
        "version", "ts", "changeset", "user_id", "user", "visible",
        "CAST(NULL AS MAP<STRING, STRING>) AS tags",
        "CAST(NULL AS ARRAY<BIGINT>) AS refs",
        "lon", "lat",
        f"CAST(NULL AS {_MEMBERS_TYPE}) AS rel_member_list",
    )

    # relations ride in the same frame (kind='rel'), so one repartition to
    # the relation id feeds a partition-level kernel (same shape as the
    # node/way operators — per-key applyInPandas machinery is the bottleneck)
    rels_packed = relations.selectExpr(
        "id AS rel_id",
        "'rel' AS kind",
        "id AS member_id",
        "version", "ts", "changeset", "user_id", "user", "visible",
        "tags",
        "CAST(NULL AS ARRAY<BIGINT>) AS refs",
        "CAST(NULL AS DOUBLE) AS lon",
        "CAST(NULL AS DOUBLE) AS lat",
        "members AS rel_member_list",
    )

    # explicit partition count: exempt from AQE post-shuffle coalescing,
    # which would serialize the compute-bound Python kernel on small-byte
    # inputs (see the note in history_arrow.way_contributions_arrow; count
    # rationale in session.kernel_partitions — one wave of cores)
    from ohsome_planet_spark.session import kernel_partitions

    nparts = kernel_partitions(spark)
    all_packed = (
        ways_packed.unionByName(nodes_packed)
        .unionByName(rels_packed)
        .repartition(nparts, "rel_id")
        # kind literals sort node < rel < way — the order the stream
        # collector expects; sorting JVM-side keeps the Python kernel a
        # pure array pass (same pattern as way_contributions_arrow)
        .sortWithinPartitions("rel_id", "kind", "member_id", "version", "ts")
    )

    from .history_arrow import run_partition_kernel
    from .relation_arrow import relation_partition_table

    return run_partition_kernel(all_packed, relation_partition_table,
                                REL_CONTRIB_SCHEMA, country_index)
