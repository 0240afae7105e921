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
window functions (`node_contributions`). The dict kernels kept here
(`_way_partition_kernel`, `_relation_partition_kernel`,
`node_contributions_kernel`) are reference twins that no production plan
runs: tests compare the production kernels against them bit for bit.
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
from ..functions.waygeom import _segments_self_intersect, is_area, way_geometry
from ..functions.wkb import wkb_dumps
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


class _Hist:
    """Member edit stream with prev/peek/next cursor (Contributions analog).

    Works in either time domain: rows may carry pd.Timestamp or int64-ns
    `ts` values — pass the matching `max_ts` sentinel (MAX_TS / MAX_TS_NS).
    Head keys are precomputed once so the priority-queue min() compares
    plain tuples without per-call dict lookups."""

    __slots__ = ("rows", "pos", "keys", "sentinel")

    def __init__(self, rows: list, max_ts=MAX_TS):
        self.rows = rows  # list of dict-like with ts, changeset, ...
        self.pos = -1
        self.keys = [(r["ts"], r["changeset"]) for r in rows]
        self.sentinel = (max_ts, _CS_MAX)

    def has_next(self) -> bool:
        return self.pos + 1 < len(self.rows)

    def peek(self):
        return self.rows[self.pos + 1]

    def next(self):
        self.pos += 1
        return self.rows[self.pos]

    def prev(self):
        return self.rows[self.pos] if self.pos >= 0 else None

    def head_key(self):
        p = self.pos + 1
        keys = self.keys
        return keys[p] if p < len(keys) else self.sentinel

    def clone(self) -> "_Hist":
        """Fresh cursor over the same rows (shares the precomputed keys)."""
        h = _Hist.__new__(_Hist)
        h.rows = self.rows
        h.pos = -1
        h.keys = self.keys
        h.sentinel = self.sentinel
        return h


class _MinQueue:
    """Priority access to member streams.

    Small queues (the common case: ways average ~10 member nodes) use a
    plain list min() — cheaper than heap bookkeeping. Large queues (long
    ways, boundary relations with 1000+ members) switch to a lazy heap:
    entries are (ts, changeset, queue_index); a popped entry whose key no
    longer matches the stream's current head (the cursor advanced) is
    refreshed and re-sunk. Tie order (ts, cs, index) reproduces min()'s
    first-minimal-in-list-order pick exactly, so the two strategies are
    output-identical."""

    __slots__ = ("hists", "heap")

    _HEAP_THRESHOLD = 16

    def __init__(self, hists: list):
        self.hists = hists
        if len(hists) > self._HEAP_THRESHOLD:
            import heapq

            self.heap = [h.head_key() + (i,) for i, h in enumerate(hists)]
            heapq.heapify(self.heap)
        else:
            self.heap = None

    def __bool__(self) -> bool:
        return bool(self.hists)

    def min(self):
        hists = self.hists
        if self.heap is None:
            return min(hists, key=_Hist.head_key) if hists else None
        import heapq

        heap = self.heap
        while True:
            ts, cs, i = heap[0]
            h = hists[i]
            k = h.head_key()
            if k[0] == ts and k[1] == cs:
                return h
            heapq.heapreplace(heap, k + (i,))


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
# Spark operator
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Columnar converter: partition-wide batched twin of convert_contributions
# ---------------------------------------------------------------------------
#
# convert_contributions above computes geometry (way_geometry + bbox +
# centroid + geodesic area/length + WKB) per contribution with 1-element-ish
# NumPy arrays — at planet scale those small-array calls dominate the merge
# kernel (~25% of its profile; the XZ2 batching in with_xz2_from_bbox was the
# same fix for the same reason). The columnar twin splits the converter:
#   phase A (per element, Python): the run-collapse walk emits only plain
#     columns + flat coordinate buffers — zero geometry math;
#   phase B (per PARTITION, NumPy): every geometry of the partition is
#     computed in one vectorized pass — segmented cumsum sums, reduceat
#     bboxes, one trig call over all coordinates, one uint8 WKB buffer;
#   phase C (per partition, NumPy): carry-forward / status / contrib_type /
#     deltas as array window ops keyed by element ordinal.
# Semantics are identical to convert_contributions (the per-row twin stays
# as the cross-check; test_history_spark asserts row equality). Float caveat:
# sums here are sequential (cumsum) while np.sum is pairwise — identical for
# the short rings of real ways, and sequential matches the DuckDB oracles.

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
    convert_contributions:181-314) emitting plain columns + geometry
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
    """Phase B: all geometry values of the partition in one vectorized pass.

    counts: member count per geometry request; isarea: per-request area flag;
    ml/mt/mv: flat member lon/lat/visible across all requests.
    Exactly reproduces, per request, what the per-row twin computes via
    way_geometry → (bbox, centroid, geodesic area/length, WKB); see the
    float-order note in the section comment above."""
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
        # centroid_polygon, single ring: cx = sx/ring_a (sign algebra of the
        # per-row twin reduces to this exactly — ±1 multiplies are lossless)
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


def xz2_udf():
    """(xmin, ymin, xmax, ymax) → struct<level int, code long> as one
    vectorized Arrow batch per call: the XZ2 kernel shared by
    `with_xz2_from_bbox` and the node plan's single Python projection.

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


def with_xz2_from_bbox(df: DataFrame) -> DataFrame:
    """Fill xz_level/xz_code from (xmin..ymax) with `xz2_udf`."""
    return (
        df.withColumn("_xz", xz2_udf()("xmin", "ymin", "xmax", "ymax"))
        .withColumn("xz_level", F.col("_xz.level"))
        .withColumn("xz_code", F.col("_xz.code"))
        .drop("_xz")
    )


def way_contributions(ways: DataFrame, nodes: DataFrame, country_index=None) -> DataFrame:
    """Distributed temporal merge + conversion (Arrow-native kernel).

    ways:  id, version, ts, changeset, user_id, user, visible, tags, refs
    nodes: id, version, ts, changeset, user_id, user, visible, lon, lat

    Delegates to `history_arrow.way_contributions_arrow`, whose production
    partition kernel is `history_arrow.way_partition_table`.
    `_way_partition_kernel` below is its dict-kernel reference twin: tests
    run both on the same packed partition and compare bit for bit.
    """
    from .history_arrow import way_contributions_arrow

    return way_contributions_arrow(ways, nodes, country_index)


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

    `node_contributions_kernel` below is the original imperative twin,
    kept as the cross-check (tests assert row-identical output on
    adversarial histories). Semantics per ContributionsAvroConverter —
    including the quirks: the empty-geometry WKB of an invalid VISIBLE
    node compares as an empty LineString for the GEOMETRY flag while the
    row itself reports geometry_type='Point', and a deleted row carrying
    an invalid geometry is 'invalid', not 'deleted'.

    Input contract (as for the kernel): one row per (id, version, ts);
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
        # geometry-change state: the kernel compares the internal geometry
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


def batch_gc_moment_cols(geo: dict) -> dict:
    """Array form of `batch_gc_moments`: the nine `_gc_moments` accumulator
    components as per-request float64/int64 columns plus a `valid` mask
    (False = empty request, the tuple version's None). Every element equals
    the corresponding tuple field bit-for-bit — the expressions are the
    same, evaluated element-wise — so np.add.reduceat folds over these
    columns in member order reproduce `_combine_centroid` exactly."""
    moments = batch_gc_moments(geo)
    R = len(moments)
    valid = np.zeros(R, bool)
    cols = np.zeros((9, R))
    for r, t in enumerate(moments):
        if t is None:
            continue
        valid[r] = True
        cols[:, r] = t
    return {
        "valid": valid,
        "aw": cols[0], "gx": cols[1], "gy": cols[2],
        "tl": cols[3], "lx": cols[4], "ly": cols[5],
        "npt": cols[6], "px": cols[7], "py": cols[8],
    }


def batch_gc_moments(geo: dict) -> list:
    """Per-request `_gc_moments` tuples computed in one vectorized pass over
    batch_geometries' flat coordinate layout (same segment machinery; the
    per-member tuple fields match the scalar twin's += accumulation, so
    _combine_centroid folds them identically). Empty requests → None."""
    kind = geo["kind"]
    empty = geo["empty"]
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

    out: list = [None] * R
    for r in range(R):
        if empty[r]:
            continue
        k = kind[r]
        if k == 1:
            out[r] = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1, x0[r], y0[r])
        elif k == 2:
            if total[r] > 0.0:
                out[r] = (0.0, 0.0, 0.0, total[r], sx[r], sy[r], 0, 0.0, 0.0)
            else:
                out[r] = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1, x0[r], y0[r])
        else:  # polygon: area-weighted centroid + line fallback terms
            a = a_abs[r]
            if total[r] > 0.0:
                out[r] = (a, a * geo["cx"][r], a * geo["cy"][r],
                          total[r], sx[r], sy[r], 0, 0.0, 0.0)
            else:
                out[r] = (a, a * geo["cx"][r], a * geo["cy"][r],
                          0.0, 0.0, 0.0, 1, x0[r], y0[r])
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
    from ..functions.mpbuild import MultiPolygonBuildError, build_multipolygon

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

