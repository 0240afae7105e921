"""Readable reference twins of the history merge, for the tests.

`ohsome_planet_spark.operators.history` runs one production path per
element type: `history_arrow.way_partition_table` for ways,
`relation_arrow.relation_partition_table` for relations and a SQL-text
window plan (`node_contributions`) for nodes. This module keeps the
per-row spec those paths are checked against, bit for bit:

- the per-row spec: `_Hist`, the minor-store filters `minor_node_filter`
  and `minor_way_filter`, `merge_contributions` (the reference's
  `ContributionsEntity.computeNext`) and `convert_contributions` (its
  `ContributionsAvroConverter`);
- the way dict twin `_way_partition_kernel` (pandas in and out) with its
  columnar converter (`collect_element_columnar` / `finalize_columnar`);
- the relation dict twin `_relation_partition_kernel` with its member
  geometry (`_MemberEntryBatch`, `_member_entry`, `_relation_geom_info`)
  and `convert_relation_contributions`; `_gc_moments` is the per-request
  scalar spec of the library's `batch_gc_moment_cols`;
- the node twin `node_contributions_kernel`, a `mapInPandas` plan.

No library module imports this one. The node twin's `mapInPandas`
function runs in a Spark Python worker, which imports this module by
name: run the tests from the root of the checkout, or with it on
PYTHONPATH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ohsome_planet_spark.functions import geodesy as gd
from ohsome_planet_spark.functions import geometry_np as gnp
from ohsome_planet_spark.functions.waygeom import is_area, way_geometry
from ohsome_planet_spark.functions.wkb import wkb_dumps
from ohsome_planet_spark.operators.history import (
    _CONTRIB_COLS,
    _CS_MAX,
    CONTRIB_SCHEMA,
    MAX_TS,
    MAX_TS_NS,
    MEMBERS_THRESHOLD,
    VALID_TO_SENTINEL,
    VALID_TO_SENTINEL_NS,
    _envelope_geom,
    _poly_area_centroid,
    batch_gc_moment_cols,
    batch_geometries,
    xz2_udf,
)
from ohsome_planet_spark.operators.history_arrow import _MinQueue
from ohsome_planet_spark.session import drop_spark_zip_finders


class _Hist:
    """Member edit stream with prev/peek/next cursor (Contributions analog).

    Works in either time domain: rows may carry pd.Timestamp or int64-ns
    `ts` values — pass the matching `max_ts` sentinel (MAX_TS / MAX_TS_NS).
    Head keys are precomputed once so the priority-queue min() compares
    plain tuples without per-call dict lookups. `pos`, `n`, `keys` and
    `sentinel` are the slots `history_arrow._MinQueue` reads, the same as
    the production cursor `_AHist`'s."""

    __slots__ = ("rows", "pos", "n", "keys", "sentinel")

    def __init__(self, rows: list, max_ts=MAX_TS):
        self.rows = rows  # list of dict-like with ts, changeset, ...
        self.pos = -1
        self.n = len(rows)
        self.keys = [(r["ts"], r["changeset"]) for r in rows]
        self.sentinel = (max_ts, _CS_MAX)

    def has_next(self) -> bool:
        return self.pos + 1 < self.n

    def peek(self):
        return self.rows[self.pos + 1]

    def next(self):
        self.pos += 1
        return self.rows[self.pos]

    def prev(self):
        return self.rows[self.pos] if self.pos >= 0 else None

    def head_key(self):
        p = self.pos + 1
        return self.keys[p] if p < self.n else self.sentinel

    def clone(self) -> "_Hist":
        """Fresh cursor over the same rows (shares the precomputed keys)."""
        h = _Hist.__new__(_Hist)
        h.rows = self.rows
        h.pos = -1
        h.n = self.n
        h.keys = self.keys
        h.sentinel = self.sentinel
        return h


def minor_node_filter(rows: list[dict]) -> list[dict]:
    """The minor-node store's version filter (`MinorNode.java:55-63`,
    exercised by the reference's `MinorTest.testMinorNode`): the real
    pipeline resolves way/relation member nodes through this store, so a
    member-node version only exists for the merge when it changes geometry
    or visibility. Rules, in feed order (version order):

    * leading and consecutive invisible versions are skipped entirely;
    * a visibility flip (either direction) is always kept;
    * visible→visible is kept only when BOTH lon and lat differ from the
      last KEPT coords — the reference's `&&` (a lone-axis move is dropped;
      quirk preserved verbatim for output parity, its wire format only
      requires the both-zero delta to be reserved for visibility flips);
    * `lon/lat` state advances only on keep, so drops cascade against the
      last kept version, not the previous row.

    This is what closes the reference's own @Disabled 'minor contributions
    based only on changes in geometry' gap at the PIPELINE level (the merge
    kernel itself still opens a minor per member event, matching the
    reference's unit layer — see test_history_merge's strict xfails).
    """
    out: list[dict] = []
    vis = False
    llon = llat = None
    for r in rows:
        if r["visible"] or vis:
            if (not r["visible"]) or (not vis) or (
                r["lon"] != llon and r["lat"] != llat
            ):
                out.append(r)
                llon = r["lon"]
                llat = r["lat"]
            vis = r["visible"]
    return out


def minor_way_filter(rows: list[dict]) -> list[dict]:
    """The minor-way store's version filter (`MinorWay.java:76-91`,
    `MinorTest.testMinorWay`): relation member ways resolve through this
    store, so a member-way version only exists for the relation merge when
    its refs changed or it was deleted. Invisible versions are always
    recorded (the store keeps them as empty-refs markers — even
    consecutively, unlike the node store); visible versions are kept iff
    their refs differ from the last recorded entry (tag-only way edits
    vanish). The last-entry state starts as [] (`Builder.clear()` seeds
    `allRefs` with an empty list), so a first visible version with refs
    survives — and, matching the reference verbatim, a degenerate first
    visible version with EMPTY refs compares equal to the seed and is
    dropped."""
    out: list[dict] = []
    last_refs: list = []
    for r in rows:
        if not r["visible"]:
            out.append(r)
            last_refs = []
        elif r["refs"] != last_refs:
            out.append(r)
            last_refs = r["refs"]
    return out


def merge_contributions(
    majors: list[dict], member_hists: dict[int, _Hist], max_ts=MAX_TS
) -> list[dict]:
    """Raw contribution stream for one element (pre-converter).

    majors: sorted version dicts with ts/changeset/user_id/user/visible/tags/refs.
    Returns dicts: ts, changeset, user_id, user, version, visible, tags, refs,
    members (list of member snapshot dicts or None).
    """
    out: list[dict] = []
    empty = _Hist([], max_ts=max_ts)
    i = 0
    while i < len(majors):
        major = majors[i]
        ts = major["ts"]
        cs = major["changeset"]
        uid = major["user_id"]
        user = major["user"]
        refs = major["refs"]
        active: dict[int, _Hist] = {}
        for ref in refs:
            h = active.get(ref)
            if h is None:
                h = member_hists.get(ref, empty)
                active[ref] = h
            while h.has_next() and (h.peek()["ts"] <= ts or h.peek()["changeset"] == cs):
                h.next()
        members = [active[r].prev() for r in refs]
        queue = _MinQueue(list({id(h): h for h in active.values()}.values()))
        next_major_ts = majors[i + 1]["ts"] if i + 1 < len(majors) else max_ts

        while True:
            out.append(
                {
                    "ts": ts,
                    "changeset": cs,
                    "user_id": uid,
                    "user": user,
                    "version": major["version"],
                    "visible": major["visible"],
                    "tags": major["tags"],
                    "refs": refs,
                    "members": list(members),
                }
            )
            head = queue.min() if queue else None
            if head is not None and head.has_next():
                p = head.peek()
                ts, cs, uid, user = p["ts"], p["changeset"], p["user_id"], p["user"]
            else:
                ts, cs, uid, user = max_ts, _CS_MAX, -1, ""
            # consume all member edits of this changeset before the next major
            while queue:
                head = queue.min()
                if not head.has_next():
                    break
                p = head.peek()
                if p["changeset"] != cs or not (p["ts"] < next_major_ts):
                    break
                ts = p["ts"]
                head.next()
            if ts < next_major_ts:
                # minor version: refresh member snapshots as-of (ts, cs)
                for r in refs:
                    h = active[r]
                    while (
                        h.has_next()
                        and h.peek()["ts"] <= ts
                        and h.peek()["changeset"] == cs
                    ):
                        h.next()
                members = [active[r].prev() for r in refs]
            else:
                i += 1
                break
    return out


def convert_contributions(
    osm_type: str,
    osm_id: int,
    raw: list[dict],
    country_join=None,
) -> list[dict]:
    """ContributionsAvroConverter analog: collapse same-(version, changeset)
    runs, derive window columns, geometry, deltas, status, contrib_type."""
    out: list[dict] = []
    n = len(raw)
    minor_version = 0
    edits = 0
    geometry_before = None  # (wkb_bytes, kind) of previous emitted
    area_before = 0.0
    length_before = 0.0
    k = 0
    prev_raw = None
    while k < n:
        c = raw[k]
        # run collapse: skip while next has same (version, changeset)
        while k + 1 < n and raw[k + 1]["version"] == c["version"] and raw[k + 1]["changeset"] == c["changeset"]:
            prev_raw = c
            k += 1
            c = raw[k]
        nxt = raw[k + 1] if k + 1 < n else None
        before = prev_raw

        if before is None or c["version"] != before["version"]:
            minor_version = 0
        else:
            minor_version += 1
        edits += 1

        if c["visible"]:
            members = c["members"]
            lons = np.asarray(
                [m["lon"] if m is not None else np.nan for m in members], np.float64
            )
            lats = np.asarray(
                [m["lat"] if m is not None else np.nan for m in members], np.float64
            )
            vis = np.asarray(
                [bool(m["visible"]) if m is not None else False for m in members], bool
            )
            refs = c["refs"]
            geom = way_geometry(
                lons, lats, vis, c["tags"],
                refs[0] if refs else -1, refs[-1] if refs else -2, len(refs),
            )
            geom_t = (geom[0], geom[1], wkb_dumps(geom))
        else:
            geom_t = geometry_before  # carry forward (may be None)

        status = "latest"
        if not c["visible"]:
            status = "deleted"
        elif nxt is not None:
            status = "history"

        row: dict = {
            "osm_type": osm_type,
            "osm_id": osm_id,
            "osm_version": int(c["version"]),
            "osm_minor_version": int(minor_version),
            "osm_edits": int(edits),
            "osm_last_edit": before["ts"] if before is not None else None,
            "valid_from": c["ts"],
            "valid_to": nxt["ts"] if nxt is not None else VALID_TO_SENTINEL,
            "user_id": int(c["user_id"]),
            "user": c["user"],
            "changeset": int(c["changeset"]),
            "tags": c["tags"],
            "tags_before": before["tags"] if before is not None else {},
            "refs": list(c["refs"]),
        }

        area = 0.0
        length = 0.0
        if geom_t is not None and geom_t[1] is not None:
            kind, data, wkb_bytes = geom_t
            coords = _geom_coords(geom_t)
            bx = gnp.bbox(coords[:, 0], coords[:, 1])
            cx, cy = _geom_centroid(geom_t, coords)
            # xz_level/xz_code are derived from bbox AFTER the kernel, in one
            # vectorized batch (with_xz2_from_bbox) — per-row xz2_code calls
            # were 53% of this kernel's profile
            row.update(
                geometry_type=kind,
                geometry=wkb_bytes,
                xmin=bx[0], ymin=bx[1], xmax=bx[2], ymax=bx[3],
                centroid_x=cx, centroid_y=cy,
                xz_level=-1, xz_code=0,
            )
            area = _geom_area(geom_t)
            length = _geom_length(geom_t)
            row["countries"] = country_join(geom_t) if country_join else []
        else:
            row.update(
                geometry_type=geom_t[0] if geom_t is not None else None,
                geometry=None,
                xmin=None, ymin=None, xmax=None, ymax=None,
                centroid_x=None, centroid_y=None,
                xz_level=-1, xz_code=0,
                countries=[],
            )
            status = "invalid"

        row["status"] = status
        row["area"] = area
        row["area_delta"] = area - area_before
        row["length"] = length
        row["length_delta"] = length - length_before
        area_before = area
        length_before = length

        types = []
        if not c["visible"]:
            types.append("DELETION")
        elif before is None or not before["visible"]:
            types.append("CREATION")
        else:
            # reference quirk (`:156-158`): TAG is set when tags are UNCHANGED
            if before["tags"] == c["tags"]:
                types.append("TAG")
            if not _geom_equal(geometry_before, geom_t):
                types.append("GEOMETRY")
        row["contrib_type"] = "_".join(types)

        geometry_before = geom_t
        out.append(row)
        prev_raw = c
        k += 1
    return out


def _geom_equal(a, b) -> bool:
    """Objects.equals(geometryBefore, geometry) analog — WKB byte equality."""
    if a is None or b is None:
        return a is b
    return a[2] == b[2]


def _geom_coords(geom_t) -> np.ndarray:
    kind, data, _ = geom_t
    if kind == "Point":
        return np.asarray([data], np.float64)
    if kind == "LineString":
        return np.asarray(data, np.float64)
    if kind == "Polygon":
        return np.vstack(data)
    raise ValueError(kind)


def _geom_centroid(geom_t, coords: np.ndarray):
    kind, data, _ = geom_t
    if kind == "Point":
        return float(data[0]), float(data[1])
    if kind == "LineString":
        return gnp.centroid_linestring(coords[:, 0], coords[:, 1])
    if kind == "Polygon":
        return gnp.centroid_polygon([(r[:, 0], r[:, 1]) for r in data])
    raise ValueError(kind)


def _geom_area(geom_t) -> float:
    kind, data, _ = geom_t
    if kind != "Polygon":
        return 0.0
    outer = (data[0][:, 0], data[0][:, 1])
    inners = [(r[:, 0], r[:, 1]) for r in data[1:]]
    return gd.geodesic_polygon_area(outer, inners)


def _geom_length(geom_t) -> float:
    kind, data, _ = geom_t
    if kind != "LineString":
        return 0.0
    return gd.geodesic_length(data[:, 0], data[:, 1])


# ---------------------------------------------------------------------------
# Way dict twin: the columnar converter, a partition-wide batched twin of
# convert_contributions
# ---------------------------------------------------------------------------
#
# convert_contributions above computes geometry per contribution with
# 1-element-ish NumPy arrays. The columnar twin splits the converter:
#   phase A (per element, Python): the run-collapse walk emits only plain
#     columns + flat coordinate buffers — zero geometry math;
#   phase B (per PARTITION, NumPy): the library's `batch_geometries`;
#   phase C (per partition, NumPy): carry-forward / status / contrib_type /
#     deltas as array window ops keyed by element ordinal.
# Semantics are identical to convert_contributions (test_history_merge and
# test_history_spark assert row equality).

_KIND_NAME = (None, "Point", "LineString", "Polygon")


class _ConvertBufs:
    """Partition-wide accumulator for the columnar converter."""

    __slots__ = ("cols", "elem_id", "visible", "base_status", "is_deletion",
                 "is_creation", "tag_unchanged", "req_idx", "req_isarea",
                 "req_count", "mem_lon", "mem_lat", "mem_vis", "n_elem")

    _COLS = ("osm_type", "osm_id", "osm_version", "osm_minor_version",
             "osm_edits", "osm_last_edit", "valid_from", "valid_to",
             "user_id", "user", "changeset", "tags", "tags_before", "refs")

    def __init__(self):
        self.cols = {c: [] for c in self._COLS}
        self.elem_id = []
        self.visible = []
        self.base_status = []
        self.is_deletion = []
        self.is_creation = []
        self.tag_unchanged = []
        self.req_idx = []       # geometry-request ordinal per row (-1: none)
        self.req_isarea = []    # per request
        self.req_count = []     # member count per request
        self.mem_lon = []       # flat member coords across all requests
        self.mem_lat = []
        self.mem_vis = []
        self.n_elem = 0


def collect_element_columnar(bufs: _ConvertBufs, osm_type: str, osm_id: int,
                             raw: list[dict],
                             valid_to_sentinel=VALID_TO_SENTINEL) -> None:
    """Phase A: run-collapse walk of one element (same traversal as
    convert_contributions) emitting plain columns + geometry
    requests into the partition buffers. `valid_to_sentinel` must live in
    the same time domain as the raw rows' ts values."""
    nan = float("nan")
    c_append = {k: v.append for k, v in bufs.cols.items()}
    n = len(raw)
    eid = bufs.n_elem
    bufs.n_elem += 1
    minor_version = 0
    edits = 0
    k = 0
    prev_raw = None
    while k < n:
        c = raw[k]
        while (k + 1 < n and raw[k + 1]["version"] == c["version"]
               and raw[k + 1]["changeset"] == c["changeset"]):
            prev_raw = c
            k += 1
            c = raw[k]
        nxt = raw[k + 1] if k + 1 < n else None
        before = prev_raw
        if before is None or c["version"] != before["version"]:
            minor_version = 0
        else:
            minor_version += 1
        edits += 1
        visible = c["visible"]
        if visible:
            members = c["members"]
            refs = c["refs"]
            bufs.req_idx.append(len(bufs.req_count))
            bufs.req_isarea.append(is_area(
                c["tags"], refs[0] if refs else -1,
                refs[-1] if refs else -2, len(refs)))
            bufs.req_count.append(len(members))
            ml, mt, mv = bufs.mem_lon, bufs.mem_lat, bufs.mem_vis
            for m in members:
                if m is None:
                    ml.append(nan)
                    mt.append(nan)
                    mv.append(False)
                else:
                    ml.append(m["lon"])
                    mt.append(m["lat"])
                    mv.append(m["visible"])
        else:
            bufs.req_idx.append(-1)
        is_del = not visible
        is_cre = visible and (before is None or not before["visible"])
        bufs.elem_id.append(eid)
        bufs.visible.append(visible)
        bufs.base_status.append(
            "deleted" if is_del else ("history" if nxt is not None else "latest"))
        bufs.is_deletion.append(is_del)
        bufs.is_creation.append(is_cre)
        bufs.tag_unchanged.append(
            not is_del and not is_cre and before["tags"] == c["tags"])
        c_append["osm_type"](osm_type)
        c_append["osm_id"](osm_id)
        c_append["osm_version"](int(c["version"]))
        c_append["osm_minor_version"](minor_version)
        c_append["osm_edits"](edits)
        c_append["osm_last_edit"](before["ts"] if before is not None else None)
        c_append["valid_from"](c["ts"])
        c_append["valid_to"](nxt["ts"] if nxt is not None else valid_to_sentinel)
        c_append["user_id"](int(c["user_id"]))
        c_append["user"](c["user"])
        c_append["changeset"](int(c["changeset"]))
        c_append["tags"](c["tags"])
        c_append["tags_before"](before["tags"] if before is not None else {})
        c_append["refs"](list(c["refs"]))
        prev_raw = c
        k += 1


def _request_geom_tuple(geo: dict, r: int):
    """(kind, data) of request r for the country joiner."""
    kind = int(geo["kind"][r])
    s, e = int(geo["voff"][r]), int(geo["voff"][r + 1])
    if e == s:
        return (_KIND_NAME[kind], None)
    xs = geo["xs"][s:e]
    ys = geo["ys"][s:e]
    if kind == 1:
        return ("Point", (float(xs[0]), float(ys[0])))
    if kind == 3:
        return ("Polygon", [np.column_stack([xs, ys])])
    return ("LineString", np.column_stack([xs, ys]))


def finalize_columnar(bufs: _ConvertBufs, joiner=None, ts_int=False) -> pd.DataFrame:
    """Phase B + C: batch geometry, then resolve the sequential columns
    (carry-forward, invalid status, GEOMETRY flag, deltas) as array ops.
    ts_int: the buffers carry int64-ns timestamps (the fast kernel domain) —
    converted back to datetime64 here in one vectorized view."""
    N = len(bufs.elem_id)
    if N == 0:
        return pd.DataFrame()
    geo = batch_geometries(
        np.asarray(bufs.req_count, np.int64),
        (np.asarray(bufs.req_isarea, bool)
         if bufs.req_count else np.zeros(0, bool)),
        np.asarray(bufs.mem_lon, np.float64),
        np.asarray(bufs.mem_lat, np.float64),
        np.asarray(bufs.mem_vis, bool),
    )
    wkb_all = geo["wkb"]
    kind = geo["kind"]
    elem = np.asarray(bufs.elem_id, np.int64)
    vis = np.asarray(bufs.visible, bool)
    req = np.asarray(bufs.req_idx, np.int64)
    rows = np.arange(N)

    # effective geometry source = last visible row at-or-before this row in
    # the same element (convert_contributions' geometry_before carry chain)
    acc = np.maximum.accumulate(np.where(vis, rows, -1))
    acc_c = np.maximum(acc, 0)
    eff_ok = (acc >= 0) & (elem[acc_c] == elem)
    eff_req = np.where(eff_ok, req[acc_c], -1)
    eff_c = np.maximum(eff_req, 0)

    first = np.ones(N, bool)
    first[1:] = elem[1:] != elem[:-1]
    prev_req = np.empty(N, np.int64)
    prev_req[0] = -1
    prev_req[1:] = eff_req[:-1]
    prev_req[first] = -1

    def at(a: np.ndarray) -> np.ndarray:
        # a request column per row; the caller masks rows without a request,
        # which is every row when no version is visible (no requests)
        return a[eff_c] if len(kind) else np.zeros(N, a.dtype)

    nonempty = eff_ok & ~at(geo["empty"])
    base_status = np.asarray(bufs.base_status, object)
    status = np.where(nonempty, base_status, "invalid")

    area_row = np.where(nonempty, at(geo["area"]), 0.0)
    length_row = np.where(nonempty, at(geo["length"]), 0.0)
    area_prev = np.empty(N)
    area_prev[0] = 0.0
    area_prev[1:] = area_row[:-1]
    area_prev[first] = 0.0
    length_prev = np.empty(N)
    length_prev[0] = 0.0
    length_prev[1:] = length_row[:-1]
    length_prev[first] = 0.0

    is_del = np.asarray(bufs.is_deletion, bool)
    is_cre = np.asarray(bufs.is_creation, bool)
    tag_un = np.asarray(bufs.tag_unchanged, bool)
    geom_changed = np.zeros(N, bool)
    for i in np.nonzero(~is_del & ~is_cre & (prev_req != eff_req))[0]:
        a, b = prev_req[i], eff_req[i]
        geom_changed[i] = (a < 0 or b < 0) or wkb_all[a] != wkb_all[b]
    contrib_type = np.select(
        [is_del, is_cre, tag_un & geom_changed, tag_un, geom_changed],
        ["DELETION", "CREATION", "TAG_GEOMETRY", "TAG", "GEOMETRY"],
        default="",
    )

    if joiner is None:
        countries = [[] for _ in range(N)]
    else:
        cache: dict[int, list] = {}
        countries = []
        for i in range(N):
            r = int(eff_req[i]) if nonempty[i] else -1
            if r < 0:
                countries.append([])
                continue
            hit = cache.get(r)
            if hit is None:
                kname, data = _request_geom_tuple(geo, r)
                hit = cache[r] = joiner(kname, data)
            countries.append(hit)

    geometry = [wkb_all[eff_req[i]] if nonempty[i] else None for i in range(N)]
    geometry_type = [
        _KIND_NAME[kind[eff_req[i]]] if eff_req[i] >= 0 else None
        for i in range(N)
    ]

    def _masked(vals: np.ndarray) -> pd.arrays.FloatingArray:
        return pd.arrays.FloatingArray(
            np.where(nonempty, vals, 0.0), mask=~nonempty)

    def _obj(vals) -> np.ndarray:
        a = np.empty(N, object)
        a[:] = vals
        return a

    b = bufs.cols
    if ts_int:
        valid_from = np.asarray(b["valid_from"], np.int64).view("M8[ns]")
        valid_to = np.asarray(b["valid_to"], np.int64).view("M8[ns]")
        nat = np.iinfo(np.int64).min  # NaT bit pattern
        last_edit = np.fromiter(
            (v if v is not None else nat for v in b["osm_last_edit"]),
            np.int64, N).view("M8[ns]")
    else:
        valid_from, valid_to, last_edit = (
            b["valid_from"], b["valid_to"], b["osm_last_edit"])

    out = {
        "osm_type": _obj(b["osm_type"]),
        "osm_id": np.asarray(b["osm_id"], np.int64),
        "osm_version": np.asarray(b["osm_version"], np.int64),
        "osm_minor_version": np.asarray(b["osm_minor_version"], np.int64),
        "osm_edits": np.asarray(b["osm_edits"], np.int64),
        "osm_last_edit": last_edit,
        "valid_from": valid_from,
        "valid_to": valid_to,
        "user_id": np.asarray(b["user_id"], np.int64),
        "user": _obj(b["user"]),
        "changeset": np.asarray(b["changeset"], np.int64),
        "tags": _obj(b["tags"]),
        "tags_before": _obj(b["tags_before"]),
        "refs": _obj(b["refs"]),
        "status": status,
        "contrib_type": contrib_type,
        "geometry_type": _obj(geometry_type),
        "geometry": _obj(geometry),
        "xmin": _masked(at(geo["xmin"])), "ymin": _masked(at(geo["ymin"])),
        "xmax": _masked(at(geo["xmax"])), "ymax": _masked(at(geo["ymax"])),
        "centroid_x": _masked(at(geo["cx"])),
        "centroid_y": _masked(at(geo["cy"])),
        "xz_level": np.full(N, -1, np.int32), "xz_code": np.zeros(N, np.int64),
        "countries": _obj(countries),
        "area": area_row, "area_delta": area_row - area_prev,
        "length": length_row, "length_delta": length_row - length_prev,
    }
    return pd.DataFrame({c: out[c] for c in _CONTRIB_COLS})


def _way_partition_kernel(pdf: pd.DataFrame, joiner=None) -> pd.DataFrame:
    """One partition of the way merge, pandas in/out — the reference twin
    of `history_arrow.way_partition_table` (no Spark plan runs it).

    pdf is the packed partition (way rows kind "w", member-node rows kind
    "n"); xz columns are left at (-1, 0)."""
    # one partition-wide presort + column extraction: per-group work is
    # then pure-python slice walking (no pandas per group)
    pdf = pdf.sort_values(
        ["way_id", "kind", "node_id", "version", "ts"], kind="stable"
    )
    way_id_a = pdf["way_id"].to_numpy()
    kind_a = pdf["kind"].to_numpy()
    node_id_a = pdf["node_id"].to_numpy()
    version_a = pdf["version"].to_numpy()
    # int64-ns time domain: the merge walk compares (ts, changeset)
    # tuples millions of times — python ints beat pd.Timestamp several-fold
    ts_a = pdf["ts"].to_numpy().view("i8").tolist()
    cs_a = pdf["changeset"].to_numpy()
    uid_a = pdf["user_id"].to_numpy()
    user_a = pdf["user"].to_numpy()
    vis_a = pdf["visible"].to_numpy()
    tags_a = pdf["tags"].to_numpy()
    refs_a = pdf["refs"].to_numpy()
    lon_a = pdf["lon"].to_numpy()
    lat_a = pdf["lat"].to_numpy()

    n = len(pdf)
    cuts = np.nonzero(way_id_a[1:] != way_id_a[:-1])[0] + 1
    starts = np.concatenate([[0], cuts])
    ends = np.concatenate([cuts, [n]])

    bufs = _ConvertBufs()
    for s, e in zip(starts, ends):
        majors = []
        node_rows: dict[int, list] = {}
        cur_nid = None
        cur_rows: list[dict] | None = None
        for i in range(s, e):
            if kind_a[i] == "n":
                nid = int(node_id_a[i])
                if nid != cur_nid:
                    cur_rows = []
                    node_rows[nid] = cur_rows
                    cur_nid = nid
                cur_rows.append(
                    {
                        "ts": ts_a[i],
                        "changeset": int(cs_a[i]),
                        "user_id": int(uid_a[i]),
                        "user": user_a[i],
                        "version": int(version_a[i]),
                        "visible": bool(vis_a[i]),
                        "lon": float(lon_a[i]),
                        "lat": float(lat_a[i]),
                    }
                )
            else:
                majors.append(
                    {
                        "version": int(version_a[i]),
                        "ts": ts_a[i],
                        "changeset": int(cs_a[i]),
                        "user_id": int(uid_a[i]),
                        "user": user_a[i],
                        "visible": bool(vis_a[i]),
                        "tags": dict(tags_a[i]) if tags_a[i] is not None else {},
                        "refs": [int(x) for x in refs_a[i]],
                    }
                )
        if not majors:
            continue
        majors.sort(key=lambda m: (m["version"], m["ts"]))
        # _Hist precomputes head keys, so rows must be complete first;
        # member histories pass the minor-node store filter exactly
        # where the reference reads them back from RocksDB
        # (`TransformerWays.fetchMinors:163`)
        hists = {
            nid: _Hist(minor_node_filter(rows), max_ts=MAX_TS_NS)
            for nid, rows in node_rows.items()
        }
        raw = merge_contributions(majors, hists, max_ts=MAX_TS_NS)
        collect_element_columnar(bufs, "way", int(way_id_a[s]), raw,
                                 valid_to_sentinel=VALID_TO_SENTINEL_NS)
    return finalize_columnar(bufs, joiner=joiner, ts_int=True)


# ---------------------------------------------------------------------------
# Node twin: the imperative partition kernel behind one mapInPandas hop
# ---------------------------------------------------------------------------


def with_xz2_from_bbox(df: DataFrame) -> DataFrame:
    """Fill xz_level/xz_code from (xmin..ymax) with `xz2_udf`."""
    return (
        df.withColumn("_xz", xz2_udf()("xmin", "ymin", "xmax", "ymax"))
        .withColumn("xz_level", F.col("_xz.level"))
        .withColumn("xz_code", F.col("_xz.code"))
        .drop("_xz")
    )


def node_contributions_kernel(nodes: DataFrame, country_index=None) -> DataFrame:
    """Imperative twin of node_contributions (the original partition kernel)
    — kept as the semantics cross-check; tests assert identical output."""
    spark = nodes.sparkSession
    bc = spark.sparkContext.broadcast(country_index) if country_index is not None else None

    from ohsome_planet_spark.session import kernel_partitions

    repartitioned = nodes.repartition(kernel_partitions(spark), "id")

    def partition_fn(batches):
        drop_spark_zip_finders()
        joiner = None
        if bc is not None:
            idx = bc.value

            def joiner(geom_t):
                return idx.join_geom(geom_t[0], geom_t[1])

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["id", "version", "ts"], kind="stable"
        )
        id_a = pdf["id"].to_numpy()
        version_a = pdf["version"].to_numpy()
        ts_a = pdf["ts"].to_list()
        cs_a = pdf["changeset"].to_numpy()
        uid_a = pdf["user_id"].to_numpy()
        user_a = pdf["user"].to_numpy()
        vis_a = pdf["visible"].to_numpy()
        tags_a = pdf["tags"].to_numpy()
        lon_a = pdf["lon"].to_numpy()
        lat_a = pdf["lat"].to_numpy()
        n = len(pdf)
        cuts = np.nonzero(id_a[1:] != id_a[:-1])[0] + 1
        starts = np.concatenate([[0], cuts])
        ends = np.concatenate([cuts, [n]])
        out_rows: list[dict] = []
        for s, e in zip(starts, ends):
            raw = []
            for i in range(s, e):
                lon, lat = float(lon_a[i]), float(lat_a[i])
                valid = -180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0
                raw.append(
                    {
                        "ts": pd.Timestamp(ts_a[i]),
                        "changeset": int(cs_a[i]),
                        "user_id": int(uid_a[i]),
                        "user": user_a[i],
                        "version": int(version_a[i]),
                        "visible": bool(vis_a[i]),
                        "tags": dict(tags_a[i]) if tags_a[i] is not None else {},
                        "refs": [],
                        # a node is its own single "member": reuse the way
                        # converter's coordinate plumbing
                        "members": [
                            {
                                "version": int(version_a[i]),
                                "visible": bool(vis_a[i]) and valid,
                                "lon": lon,
                                "lat": lat,
                            }
                        ],
                    }
                )
            rows = convert_contributions("node", int(id_a[s]), raw, country_join=joiner)
            for row in rows:
                if row["geometry"] is None:
                    # nodeGeometry yields an EMPTY POINT for invalid coords
                    # (`ContributionGeometry.java:185-191`), not a linestring
                    row["geometry_type"] = "Point"
            out_rows.extend(rows)
        if out_rows:
            yield pd.DataFrame(out_rows)

    return with_xz2_from_bbox(repartitioned.mapInPandas(partition_fn, CONTRIB_SCHEMA))


# ---------------------------------------------------------------------------
# Relation dict twin (J2 transitive member resolution + K4/K5/K6 geometry)
# ---------------------------------------------------------------------------


def _way_coords_from_members(members: list) -> np.ndarray:
    """Visible, in-range node snapshot coords in ref order (the coordinate
    extraction under wayGeometry, `ContributionGeometry.java:138-146`)."""
    pts = []
    for m in members or []:
        if m is None or not m.get("visible", False):
            continue
        lon = m.get("lon")
        lat = m.get("lat")
        if lon is None or lat is None:
            continue
        if not (-180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0):
            continue
        pts.append((float(lon), float(lat)))
    return np.asarray(pts, np.float64).reshape(len(pts), 2)


def _gc_all_coords(geoms: list[tuple]) -> np.ndarray:
    parts = []
    for kind, data in geoms:
        if kind == "Point":
            parts.append(np.asarray([data], np.float64))
        elif kind == "LineString":
            parts.append(np.asarray(data, np.float64))
        elif kind == "Polygon":
            parts.append(np.vstack(data))
    return np.vstack(parts) if parts else np.empty((0, 2), np.float64)


def _gc_moments(kind: str, data) -> tuple:
    """(area_w, cg_x, cg_y, tlen, lcx, lcy, npt, pcx, pcy) — ONE member
    geometry's contribution to the JTS collection centroid accumulators of
    `_gc_centroid`. Every field is a single += in the original loop, so
    adding cached per-member moments in member order is float-identical to
    the uncached accumulation (way polygons are single-ring, so no
    multi-ring re-association can occur)."""
    area_w = cg_x = cg_y = 0.0
    tlen = lcx = lcy = 0.0
    npt = 0
    pcx = pcy = 0.0

    def seq_terms(r: np.ndarray):
        r = np.asarray(r, np.float64)
        if r.shape[0] >= 2:
            seg = np.hypot(np.diff(r[:, 0]), np.diff(r[:, 1]))
            s = float(seg.sum())
            if s > 0.0:
                mx = (r[:-1, 0] + r[1:, 0]) * 0.5
                my = (r[:-1, 1] + r[1:, 1]) * 0.5
                return s, float((seg * mx).sum()), float((seg * my).sum()), 0, 0.0, 0.0
        if r.shape[0] > 0:
            return 0.0, 0.0, 0.0, 1, float(r[0, 0]), float(r[0, 1])
        return 0.0, 0.0, 0.0, 0, 0.0, 0.0

    if kind == "Point":
        npt += 1
        pcx += float(data[0])
        pcy += float(data[1])
    elif kind == "LineString":
        tlen, lcx, lcy, npt, pcx, pcy = seq_terms(data)
    elif kind == "Polygon":
        for i, ring in enumerate(data):
            ring = np.asarray(ring, np.float64)
            a = abs(gnp.ring_signed_area(ring[:, 0], ring[:, 1]))
            cx, cy = gnp.centroid_polygon([(ring[:, 0], ring[:, 1])])
            w = a if i == 0 else -a
            area_w += w
            cg_x += w * cx
            cg_y += w * cy
            s, sx, sy, n0, p0x, p0y = seq_terms(ring)
            tlen += s
            lcx += sx
            lcy += sy
            npt += n0
            pcx += p0x
            pcy += p0y
    return (area_w, cg_x, cg_y, tlen, lcx, lcy, npt, pcx, pcy)


def _combine_centroid(moments: list[tuple]) -> tuple[float, float]:
    """Fold per-member moments in member order → _gc_centroid result."""
    area_w = cg_x = cg_y = 0.0
    tlen = lcx = lcy = 0.0
    npt = 0
    pcx = pcy = 0.0
    for aw, gx, gy, tl, lx, ly, n0, px, py in moments:
        area_w += aw
        cg_x += gx
        cg_y += gy
        tlen += tl
        lcx += lx
        lcy += ly
        npt += n0
        pcx += px
        pcy += py
    if abs(area_w) > 0.0:
        return cg_x / area_w, cg_y / area_w
    if tlen > 0.0:
        return lcx / tlen, lcy / tlen
    if npt > 0:
        return pcx / npt, pcy / npt
    return float("nan"), float("nan")


def batch_gc_moments(geo: dict) -> list:
    """Per-request `_gc_moments` tuples, read off the library's
    `batch_gc_moment_cols` columns. Empty requests → None."""
    cols = batch_gc_moment_cols(geo)
    keys = ("aw", "gx", "gy", "tl", "lx", "ly", "npt", "px", "py")
    out: list = [None] * cols["valid"].size
    for r in np.nonzero(cols["valid"])[0]:
        out[r] = tuple(float(cols[k][r]) for k in keys)
    return out


class _MemberEntryBatch:
    """Partition-wide batcher for relation member entries.

    `_member_entry` builds one snapshot's geometry with ~30 small-array
    NumPy calls; across a partition that is the dominant relation-kernel
    cost (profiled ~45% post-cache). This collector registers every unseen
    WAY snapshot during a pre-scan, computes ALL of them in one
    batch_geometries + batch_gc_moments pass, and pre-fills the shared
    entry cache that convert_relation_contributions consumes (node
    snapshots are single points — built inline, not worth batching)."""

    __slots__ = ("cache", "keys", "isarea", "counts", "lons", "lats", "vis",
                 "snaps")

    def __init__(self):
        self.cache: dict = {}
        self.keys: list = []
        self.isarea: list = []
        self.counts: list = []
        self.lons: list = []
        self.lats: list = []
        self.vis: list = []

    def scan(self, m: dict) -> None:
        snap = m.get("snapshot")
        if snap is None:
            return
        key = id(snap)
        if key in self.cache:
            return
        mtype = m["type"]
        if mtype == "node":
            self.cache[key] = _member_entry({}, m)
            return
        if mtype != "way":
            self.cache[key] = _member_entry({}, m)
            return
        self.cache[key] = None  # claimed; filled by finalize()
        self.keys.append(key)
        mems = snap.get("members") or []
        refs = snap.get("refs") or []
        self.isarea.append(is_area(
            snap.get("tags") or {},
            refs[0] if refs else -1, refs[-1] if refs else -2, len(refs)))
        self.counts.append(len(mems))
        nan = float("nan")
        ml, mt, mv = self.lons, self.lats, self.vis
        for x in mems:
            if x is None:
                ml.append(nan)
                mt.append(nan)
                mv.append(False)
            else:
                ml.append(x["lon"])
                mt.append(x["lat"])
                mv.append(x["visible"])

    def finalize(self) -> dict:
        if self.keys:
            geo = batch_geometries(
                np.asarray(self.counts, np.int64),
                np.asarray(self.isarea, bool),
                np.asarray(self.lons, np.float64),
                np.asarray(self.lats, np.float64),
                np.asarray(self.vis, bool),
            )
            moments = batch_gc_moments(geo)
            xs, ys, voff = geo["xs"], geo["ys"], geo["voff"]
            for i, key in enumerate(self.keys):
                kname = _KIND_NAME[geo["kind"][i]]
                s, e = int(voff[i]), int(voff[i + 1])
                coords = np.column_stack([xs[s:e], ys[s:e]])
                entry = {"gc": None, "mg": (kname, geo["wkb"][i]),
                         "bbox": None, "mom": None, "coords": coords}
                if not geo["empty"][i]:
                    if kname == "Point":
                        data = (float(xs[s]), float(ys[s]))
                    elif kname == "Polygon":
                        data = [coords]
                    else:
                        data = coords
                    entry["gc"] = (kname, data)
                    entry["bbox"] = (float(geo["xmin"][i]), float(geo["ymin"][i]),
                                     float(geo["xmax"][i]), float(geo["ymax"][i]))
                    entry["mom"] = moments[i]
                self.cache[key] = entry
        return self.cache


def _member_entry(cache: dict, m: dict):
    """Per-snapshot member cache: consecutive relation contributions share
    most member snapshots (only the member that opened the minor version
    changed), but the converter used to recompute way_geometry + WKB +
    bbox + centroid moments for EVERY member on EVERY row — the dominant
    cost of the relation kernel (~6 way_geometry calls per output row).
    Keyed by snapshot dict identity (snapshots stay alive in `raw` for the
    whole conversion, so ids are stable). Returns None for unresolved
    members (nested relations / missing)."""
    snap = m.get("snapshot")
    if snap is None:
        return None
    key = id(snap)
    e = cache.get(key)
    if e is not None:
        return e
    mtype = m["type"]
    e = {"gc": None, "mg": (None, None), "bbox": None, "mom": None, "coords": None}
    if mtype == "way":
        mems = snap.get("members") or []
        refs = snap.get("refs") or []
        lons = np.asarray([x["lon"] if x is not None else np.nan for x in mems], np.float64)
        lats = np.asarray([x["lat"] if x is not None else np.nan for x in mems], np.float64)
        vis = np.asarray([bool(x["visible"]) if x is not None else False for x in mems], bool)
        kind, data = way_geometry(
            lons, lats, vis, snap.get("tags") or {},
            refs[0] if refs else -1, refs[-1] if refs else -2, len(refs),
        )
        e["mg"] = (kind, wkb_dumps((kind, data)))
        if data is not None:
            e["gc"] = (kind, data)
        e["coords"] = _way_coords_from_members(mems)
    elif mtype == "node":
        lon, lat = snap.get("lon"), snap.get("lat")
        if (
            lon is not None and lat is not None and snap.get("visible", False)
            and -180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0
        ):
            g = ("Point", (float(lon), float(lat)))
            e["gc"] = g
            e["mg"] = ("Point", wkb_dumps(g))
        else:
            e["mg"] = ("Point", wkb_dumps(("Point", None)))
    if e["gc"] is not None:
        kind, data = e["gc"]
        coords = _gc_all_coords([e["gc"]])
        e["bbox"] = gnp.bbox(coords[:, 0], coords[:, 1])
        e["mom"] = _gc_moments(kind, data)
    cache[key] = e
    return e


def _relation_geom_info(tags: dict, members: list, entries: list, joiner=None) -> dict:
    """Geometry + every geometry-derived metric of ONE visible relation
    contribution, computed once and CARRIED by reference for deleted rows
    (the old per-row recompute of bbox/centroid/area on carried geometries
    is gone with it).

    Semantics: multipolygon per relIsMultipolygon
    (`ContributionGeometry.java:68-78`; 'inner' roles are holes,
    ''/'outer' are shells, other roles dropped —
    `relGeometryMultiPolygon:89-98`); assembly failure or non-MP type →
    GeometryCollection whose stored WKB is only the envelope geometry
    (`ContributionsAvroConverter.java:110-117`) and whose centroid follows
    JTS dimension priority (area → length → points,
    org.locationtech.jts.algorithm.Centroid). Collection bbox/centroid
    combine the CACHED per-member values (min/max and moment sums are
    float-identical to the uncached single pass)."""
    from ohsome_planet_spark.functions.mpbuild import MultiPolygonBuildError, build_multipolygon

    info = {"kind": None, "data": None, "wkb": None, "empty": True,
            "bbox": None, "cx": None, "cy": None, "area": 0.0, "countries": []}
    is_mp = (
        len(members) <= MEMBERS_THRESHOLD
        and (tags.get("type") or "").lower() in ("multipolygon", "boundary")
    )
    if is_mp:
        outers: list = []
        inners: list = []
        for m, e in zip(members, entries):
            if m["type"] != "way" or e is None or e["coords"] is None:
                continue
            coords = e["coords"]
            if coords.shape[0] == 0:
                continue
            role = (m.get("role") or "").strip()
            if role == "inner":
                inners.append([tuple(p) for p in coords])
            elif role in ("", "outer"):
                outers.append([tuple(p) for p in coords])
        data = None
        try:
            geom = build_multipolygon(outers, inners)
            if geom[1]:
                data = geom[1]
        except MultiPolygonBuildError:
            data = None
        info["kind"] = "MultiPolygon"
        if data is None:  # empty → invalid status upstream
            info["wkb"] = wkb_dumps(("MultiPolygon", None))
            return info
        info.update(data=data, empty=False, wkb=wkb_dumps(("MultiPolygon", data)))
        coords = np.vstack([np.vstack(rings) for rings in data])
        info["bbox"] = gnp.bbox(coords[:, 0], coords[:, 1])
        cx = cy = 0.0
        a_sum = 0.0
        for rings in data:
            pa, (px, py) = _poly_area_centroid(rings)
            cx += px * pa
            cy += py * pa
            a_sum += pa
        info["cx"], info["cy"] = (
            (cx / a_sum, cy / a_sum) if a_sum
            else gnp.centroid_points(coords[:, 0], coords[:, 1])
        )
        info["area"] = sum(
            gd.geodesic_polygon_area(
                (rings[0][:, 0], rings[0][:, 1]),
                [(r[:, 0], r[:, 1]) for r in rings[1:]],
            )
            for rings in data
        )
        if joiner:
            hits: set[str] = set()
            for rings in data:
                hits.update(joiner(("Polygon", list(rings), b"")))
            info["countries"] = sorted(hits)
        return info
    # GeometryCollection (relGeometryCollection:110-117): resolved members'
    # own geometries in member order, empties filtered out
    gc_entries = [e for e in entries if e is not None and e["gc"] is not None]
    info["kind"] = "GeometryCollection"
    if not gc_entries:
        info["wkb"] = wkb_dumps(("GeometryCollection", None))
        return info
    info["data"] = [e["gc"] for e in gc_entries]
    info["empty"] = False
    bx = (
        min(e["bbox"][0] for e in gc_entries),
        min(e["bbox"][1] for e in gc_entries),
        max(e["bbox"][2] for e in gc_entries),
        max(e["bbox"][3] for e in gc_entries),
    )
    info["bbox"] = bx
    info["wkb"] = wkb_dumps(_envelope_geom(bx))
    info["cx"], info["cy"] = _combine_centroid([e["mom"] for e in gc_entries])
    if joiner:
        hits = set()
        pts = _gc_all_coords(info["data"])
        for p in pts:
            hits.update(joiner(("Point", (float(p[0]), float(p[1])), b"")))
        info["countries"] = sorted(hits)
    return info


def convert_relation_contributions(
    osm_id: int, raw: list[dict], country_join=None,
    valid_to_sentinel=VALID_TO_SENTINEL,
    entry_cache: dict | None = None,
) -> list[dict]:
    """Relation converter: like convert_contributions but with relation
    geometry; GeometryCollection rows store only the bbox polygon as WKB
    (`ContributionsAvroConverter.java:110-117`).

    Geometry work is cached at two levels: per distinct member SNAPSHOT
    (_member_entry — consecutive contributions share most snapshots) and
    per distinct relation GEOMETRY (_relation_geom_info — deleted rows
    carry the previous info object, paying nothing)."""
    out: list[dict] = []
    n = len(raw)
    minor_version = 0
    edits = 0
    info_before: dict | None = None
    area_before = 0.0
    length_before = 0.0
    prev_raw = None
    # entry_cache: partition-wide pre-batched entries (_MemberEntryBatch);
    # otherwise a per-call cache filled on demand by _member_entry
    cache: dict = entry_cache if entry_cache is not None else {}
    k = 0
    while k < n:
        c = raw[k]
        while k + 1 < n and raw[k + 1]["version"] == c["version"] and raw[k + 1]["changeset"] == c["changeset"]:
            prev_raw = c
            k += 1
            c = raw[k]
        nxt = raw[k + 1] if k + 1 < n else None
        before = prev_raw
        if before is None or c["version"] != before["version"]:
            minor_version = 0
        else:
            minor_version += 1
        edits += 1

        entries = [_member_entry(cache, m) for m in c["rel_members"]]
        if c["visible"]:
            info = _relation_geom_info(
                c["tags"], c["rel_members"], entries, joiner=country_join)
        else:
            info = info_before  # carry forward (may be None)

        status = "latest"
        if not c["visible"]:
            status = "deleted"
        elif nxt is not None:
            status = "history"

        row: dict = {
            "osm_type": "relation",
            "osm_id": osm_id,
            "osm_version": int(c["version"]),
            "osm_minor_version": int(minor_version),
            "osm_edits": int(edits),
            "osm_last_edit": before["ts"] if before is not None else None,
            "valid_from": c["ts"],
            "valid_to": nxt["ts"] if nxt is not None else valid_to_sentinel,
            "user_id": int(c["user_id"]),
            "user": c["user"],
            "changeset": int(c["changeset"]),
            "tags": c["tags"],
            "tags_before": before["tags"] if before is not None else {},
            "member_types": [m["type"] for m in c["rel_members"]],
            "member_ids": [int(m["id"]) for m in c["rel_members"]],
            "member_roles": [m.get("role") or "" for m in c["rel_members"]],
            # per-member geometry output (ContributionsAvroConverter.member():
            # 194-209): resolved members carry their own geometry, unresolved
            # (nested relations / missing) carry nulls
            "member_geom_types": [
                e["mg"][0] if e is not None else None for e in entries
            ],
            "member_geoms": [
                e["mg"][1] if e is not None else None for e in entries
            ],
        }

        area = 0.0
        length = 0.0
        if info is not None and not info["empty"]:
            bx = info["bbox"]
            row.update(
                geometry_type=info["kind"],
                geometry=info["wkb"],
                xmin=bx[0], ymin=bx[1], xmax=bx[2], ymax=bx[3],
                centroid_x=info["cx"], centroid_y=info["cy"],
                xz_level=-1, xz_code=0,  # filled by with_xz2_from_bbox
                countries=info["countries"],
            )
            area = info["area"]
        else:
            row.update(
                geometry_type=info["kind"] if info is not None else None,
                geometry=None,
                xmin=None, ymin=None, xmax=None, ymax=None,
                centroid_x=None, centroid_y=None,
                xz_level=-1, xz_code=0,
                countries=[],
            )
            # invalid rows still get bbox/centroid/xz from the non-empty
            # member collection (ContributionsAvroConverter.java:128-131)
            gc_entries = [
                e for e in entries if e is not None and e["gc"] is not None
            ]
            if gc_entries:
                row.update(
                    xmin=min(e["bbox"][0] for e in gc_entries),
                    ymin=min(e["bbox"][1] for e in gc_entries),
                    xmax=max(e["bbox"][2] for e in gc_entries),
                    ymax=max(e["bbox"][3] for e in gc_entries),
                )
                cx, cy = _combine_centroid([e["mom"] for e in gc_entries])
                row.update(centroid_x=cx, centroid_y=cy)
            status = "invalid"

        row["status"] = status
        row["area"] = area
        row["area_delta"] = area - area_before
        row["length"] = length
        row["length_delta"] = length - length_before
        area_before = area
        length_before = length

        types = []
        if not c["visible"]:
            types.append("DELETION")
        elif before is None or not before["visible"]:
            types.append("CREATION")
        else:
            if before["tags"] == c["tags"]:
                types.append("TAG")
            # Objects.equals(geometryBefore, geometry) analog on the stored WKB
            if info_before is None or info is None:
                changed = info_before is not info
            else:
                changed = info_before["wkb"] != info["wkb"]
            if changed:
                types.append("GEOMETRY")
        row["contrib_type"] = "_".join(types)

        info_before = info
        out.append(row)
        prev_raw = c
        k += 1
    return out


def _relation_partition_kernel(pdf: pd.DataFrame, joiner=None):
    """One partition of the relation merge, pandas in/out — the reference
    twin of `relation_arrow.relation_partition_table` (no Spark plan runs
    it). Member geometry batches through `_MemberEntryBatch`, conversion
    through the per-relation `convert_relation_contributions`; tests
    compare the production kernel against it bit for bit. xz columns are
    left at (-1, 0)."""

    def merge_one_relation(
        rel_id: int, node_hists: dict, way_rows: dict, majors: list
    ) -> list[dict]:
        # way member histories = their own merged contribution streams; each
        # way merge gets FRESH node cursors over the shared row lists (the
        # reference allocates per-entity Contributions objects)
        way_hists: dict[int, _Hist] = {}
        for wid, way_majors in way_rows.items():
            fresh = {nid: h.clone() for nid, h in node_hists.items()}
            raw_way = merge_contributions(way_majors, fresh, max_ts=MAX_TS_NS)
            way_hists[wid] = _Hist(raw_way, max_ts=MAX_TS_NS)

        # adapt: merge_contributions keys member histories by the ref value —
        # here refs are (type, id, role) triples
        hists: dict = {}
        for m in {ref for mj in majors for ref in mj["refs"]}:
            mtype, mid, _role = m
            if mtype == "way" and mid in way_hists:
                hists[m] = way_hists[mid].clone()
            elif mtype == "node" and mid in node_hists:
                hists[m] = node_hists[mid].clone()
        raw = merge_contributions(majors, hists, max_ts=MAX_TS_NS)
        for c in raw:
            c["rel_members"] = [
                {
                    "type": ref[0],
                    "id": ref[1],
                    "role": ref[2],
                    "snapshot": snap,
                }
                for ref, snap in zip(c["refs"], c["members"])
            ]
        return raw

    # one partition-wide presort + column extraction (same shape as the
    # way kernel): per-group pandas slicing/itertuples was ~60% of the
    # relation kernel's profile at ~19 itertuples() calls per relation
    pdf = pdf.sort_values(
        ["rel_id", "kind", "member_id", "version", "ts"], kind="stable"
    )
    rel_a = pdf["rel_id"].to_numpy()
    kind_a = pdf["kind"].to_numpy()
    mid_a = pdf["member_id"].to_numpy()
    ver_a = pdf["version"].to_numpy()
    # int64-ns time domain (see the way kernel): cheap queue compares
    ts_a = pdf["ts"].to_numpy().view("i8").tolist()
    cs_a = pdf["changeset"].to_numpy()
    uid_a = pdf["user_id"].to_numpy()
    user_a = pdf["user"].to_numpy()
    vis_a = pdf["visible"].to_numpy()
    tags_a = pdf["tags"].to_numpy()
    refs_a = pdf["refs"].to_numpy()
    lon_a = pdf["lon"].to_numpy()
    lat_a = pdf["lat"].to_numpy()
    rml_a = pdf["rel_member_list"].to_numpy()

    n = len(pdf)
    cuts = np.nonzero(rel_a[1:] != rel_a[:-1])[0] + 1
    starts = np.concatenate([[0], cuts])
    ends = np.concatenate([cuts, [n]])

    out_rows: list[dict] = []
    merged: list[tuple[int, list]] = []
    for s, e in zip(starts, ends):
        node_lists: dict[int, list] = {}
        way_rows: dict[int, list] = {}
        majors: list[dict] = []
        for i in range(s, e):
            k = kind_a[i]
            if k == "node":
                node_lists.setdefault(int(mid_a[i]), []).append(
                    {
                        "ts": ts_a[i],
                        "changeset": int(cs_a[i]),
                        "user_id": int(uid_a[i]),
                        "user": user_a[i],
                        "version": int(ver_a[i]),
                        "visible": bool(vis_a[i]),
                        "lon": float(lon_a[i]),
                        "lat": float(lat_a[i]),
                    }
                )
            elif k == "way":
                way_rows.setdefault(int(mid_a[i]), []).append(
                    {
                        "version": int(ver_a[i]),
                        "ts": ts_a[i],
                        "changeset": int(cs_a[i]),
                        "user_id": int(uid_a[i]),
                        "user": user_a[i],
                        "visible": bool(vis_a[i]),
                        "tags": dict(tags_a[i]) if tags_a[i] is not None else {},
                        "refs": [int(x) for x in refs_a[i]] if refs_a[i] is not None else [],
                    }
                )
            else:  # rel major
                rml = rml_a[i]
                majors.append(
                    {
                        "version": int(ver_a[i]),
                        "ts": ts_a[i],
                        "changeset": int(cs_a[i]),
                        "user_id": int(uid_a[i]),
                        "user": user_a[i],
                        "visible": bool(vis_a[i]),
                        "tags": dict(tags_a[i]) if tags_a[i] is not None else {},
                        "refs": [
                            (m["type"], int(m["id"]), m["role"] or "")
                            for m in (rml if rml is not None else [])
                        ],
                    }
                )
        if not majors:
            continue
        # member ways and nodes both resolve through their minor-store
        # filters (`Contributions.memberOf(minorNodes, minorWays)`,
        # Contributions2Parquet.processRelation:259-268)
        node_hists = {
            nid: _Hist(minor_node_filter(rows), max_ts=MAX_TS_NS)
            for nid, rows in node_lists.items()
        }
        way_rows = {
            wid: minor_way_filter(rows) for wid, rows in way_rows.items()
        }
        merged.append(
            (int(rel_a[s]),
             merge_one_relation(int(rel_a[s]), node_hists, way_rows, majors))
        )
    # batch ALL member-snapshot geometry of the partition in one pass,
    # then convert each relation against the pre-filled entry cache
    batcher = _MemberEntryBatch()
    for _, raw in merged:
        for c in raw:
            for m in c["rel_members"]:
                batcher.scan(m)
    entry_cache = batcher.finalize()
    for rel_id, raw in merged:
        out_rows.extend(convert_relation_contributions(
            rel_id, raw, country_join=joiner,
            valid_to_sentinel=VALID_TO_SENTINEL_NS,
            entry_cache=entry_cache,
        ))
    if out_rows:
        # back to datetime64 BEFORE DataFrame construction: pandas would
        # coerce the int/None osm_last_edit mix to float64 and int-ns
        # values exceed 2^53 (silent precision loss)
        nat = np.iinfo(np.int64).min
        n_out = len(out_rows)
        vf = np.fromiter((r["valid_from"] for r in out_rows),
                         np.int64, n_out).view("M8[ns]")
        vt = np.fromiter((r["valid_to"] for r in out_rows),
                         np.int64, n_out).view("M8[ns]")
        le = np.fromiter(
            (r["osm_last_edit"] if r["osm_last_edit"] is not None else nat
             for r in out_rows), np.int64, n_out).view("M8[ns]")
        pdf_out = pd.DataFrame(out_rows)
        pdf_out["valid_from"] = vf
        pdf_out["valid_to"] = vt
        pdf_out["osm_last_edit"] = le
        return pdf_out
    return None
