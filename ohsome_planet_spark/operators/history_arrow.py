"""Arrow-native way-history merge: zero-dict, zero-pandas kernel.

Same semantics as the dict kernel in tests/history_spec.py
(`merge_contributions` / `collect_element_columnar` / `finalize_columnar`,
which mirror the reference's `ContributionsEntity.computeNext`
`ContributionsEntity.java:82-150` and `ContributionsAvroConverter.java:
57-176`) — re-engineered for 100×-scale throughput:

* the partition arrives as Arrow record batches (`mapInArrow`), never
  materialized as pandas: numeric columns are zero-copy NumPy views, the
  map/list/string columns stay Arrow and are only ever touched by C++
  `take` kernels;
* member histories are ARRAY CURSORS (`_AHist`): a list of global row
  indices + precomputed (ts, changeset) key tuples; the priority-queue walk
  compares plain int tuples and emits four integer buffers per
  contribution (major row, changeset-stamp row, ts-stamp row, flat member
  rows) — no per-row Python dicts anywhere;
* the minor-node store filter (`MinorNode.java:55-63`) runs vectorized
  over the whole partition, with an exact per-segment Python fallback only
  for segments where a coordinate-revert drop cascades (rare in real data);
* the converter phase (`ContributionsAvroConverter`: run collapse, window
  columns, minor version, edits, contribution type, status, area deltas,
  the tags/user columns) is `contribution_batch`, pure NumPy over the
  emitted integer buffers, and shared with the relation kernel
  (`relation_arrow`); each kernel hands it only its own geometry phase;
* output columns are built directly as Arrow arrays: WKB geometry is a
  zero-copy BinaryArray over the partition-wide buffer + C++ `take`,
  tags/tags_before/refs/user are `take`s from the INPUT columns, the small
  categorical columns (status, contrib_type, geometry_type) are dictionary
  `take`s. XZ2 codes are computed in-kernel from the request bboxes, so
  the separate post-pass Arrow round-trip disappears;
* the country join is one `PolygonIndex.join_geoms` probe over every
  distinct geometry the partition emits, spread to rows by an Arrow `take`
  (no per-geometry Python call).

`way_partition_table` is the production way kernel, and
`run_partition_kernel` the one `mapInArrow` runner of both merge kernels.
Its reference twin is the dict kernel `_way_partition_kernel` in
tests/history_spec.py, which no Spark plan runs: tests/test_history_arrow.py
(Spark `way_contributions` on adversarial fixtures, with and without a
country index) and tests/test_history_arrow_sweep.py (the kernel alone on
seeded fixtures) compare the two bit for bit on the same packed partition.
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.cells import xz2_code
from ..functions.waygeom import is_area
from ..session import drop_spark_zip_finders
from .history import (
    CONTRIB_SCHEMA,
    MAX_TS_NS,
    VALID_TO_SENTINEL_NS,
    _CS_MAX,
    batch_geometries,
)

_TS = pa.timestamp("us")
_MAP = pa.map_(pa.string(), pa.string())

OUT_SCHEMA = pa.schema([
    ("osm_type", pa.string()),
    ("osm_id", pa.int64()),
    ("osm_version", pa.int32()),
    ("osm_minor_version", pa.int32()),
    ("osm_edits", pa.int32()),
    ("osm_last_edit", _TS),
    ("valid_from", _TS),
    ("valid_to", _TS),
    ("user_id", pa.int64()),
    ("user", pa.string()),
    ("changeset", pa.int64()),
    ("tags", _MAP),
    ("tags_before", _MAP),
    ("status", pa.string()),
    ("contrib_type", pa.string()),
    ("geometry_type", pa.string()),
    ("geometry", pa.binary()),
    ("xmin", pa.float64()),
    ("ymin", pa.float64()),
    ("xmax", pa.float64()),
    ("ymax", pa.float64()),
    ("centroid_x", pa.float64()),
    ("centroid_y", pa.float64()),
    ("xz_level", pa.int32()),
    ("xz_code", pa.int64()),
    ("countries", pa.list_(pa.string())),
    ("area", pa.float64()),
    ("area_delta", pa.float64()),
    ("length", pa.float64()),
    ("length_delta", pa.float64()),
    ("refs", pa.list_(pa.int64())),
])

_SENTINEL_KEY = (MAX_TS_NS, _CS_MAX)


class _AHist:
    """Array-cursor member history (`Contributions` iterator analog).

    idx:  global row indices of the (minor-filtered) member versions;
    keys: matching (ts_ns, changeset) tuples, precomputed once.
    The stream type `_MinQueue` orders (head_key / has_next).
    """

    __slots__ = ("idx", "keys", "pos", "n", "sentinel")

    def __init__(self, idx, keys, sentinel=_SENTINEL_KEY):
        self.idx = idx
        self.keys = keys
        self.pos = -1
        self.n = len(idx)
        self.sentinel = sentinel

    def has_next(self) -> bool:
        return self.pos + 1 < self.n

    def head_key(self):
        p = self.pos + 1
        return self.keys[p] if p < self.n else self.sentinel


class _MinQueue:
    """Priority access to member streams (`_AHist` cursors; the spec's dict
    cursor in tests/history_spec.py has the same slots).

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
            return min(hists, key=_AHist.head_key) if hists else None
        import heapq

        heap = self.heap
        while True:
            ts, cs, i = heap[0]
            h = hists[i]
            k = h.head_key()
            if k[0] == ts and k[1] == cs:
                return h
            heapq.heapreplace(heap, k + (i,))


def _merge_walk(maj_rows, maj_ts, maj_cs, maj_refs, member_hists,
                o_maj, o_open, o_last, o_mem) -> None:
    """Queue walk of ONE element emitting integer buffers.

    Exact twin of `merge_contributions` in tests/history_spec.py (reference
    `ContributionsEntity.computeNext:107-150`): as-of consumption at each
    major (ts ≤ major.ts OR changeset == major.changeset), same-changeset
    minor grouping stamped with the LAST consumed edit's ts and the FIRST
    (opener) edit's changeset/user, persistent member cursors. Instead of
    dict rows it appends, per contribution: the major's global row, the
    opener row (changeset/user_id/user source), the last-consumed row (ts
    source), and the current member row per ref into the flat o_mem buffer
    (-1 = no snapshot yet / missing member).
    """
    max_ts, cs_max = _SENTINEL_KEY
    empty = _AHist((), ())
    mem_append = o_mem.append
    nmaj = len(maj_rows)
    i = 0
    while i < nmaj:
        g = maj_rows[i]
        ts = maj_ts[i]
        cs = maj_cs[i]
        open_row = last_row = g
        refs = maj_refs[i]
        active = {}
        for ref in refs:
            h = active.get(ref)
            if h is None:
                h = member_hists.get(ref, empty)
                active[ref] = h
            while h.pos + 1 < h.n:
                kt, kc = h.keys[h.pos + 1]
                if kt <= ts or kc == cs:
                    h.pos += 1
                else:
                    break
        queue = _MinQueue(list({id(h): h for h in active.values()}.values()))
        next_major_ts = maj_ts[i + 1] if i + 1 < nmaj else max_ts

        while True:
            o_maj.append(g)
            o_open.append(open_row)
            o_last.append(last_row)
            for r in refs:
                h = active[r]
                mem_append(h.idx[h.pos] if h.pos >= 0 else -1)
            head = queue.min() if queue else None
            if head is not None and head.pos + 1 < head.n:
                p = head.pos + 1
                ts, cs = head.keys[p]
                open_row = last_row = head.idx[p]
            else:
                ts, cs = max_ts, cs_max
                open_row = last_row = -1
            # consume all member edits of this changeset before the next major
            while queue:
                head = queue.min()
                p = head.pos + 1
                if p >= head.n:
                    break
                kt, kc = head.keys[p]
                if kc != cs or not (kt < next_major_ts):
                    break
                ts = kt
                last_row = head.idx[p]
                head.pos = p
            if ts < next_major_ts:
                # minor version: refresh member snapshots as-of (ts, cs)
                for r in refs:
                    h = active[r]
                    while h.pos + 1 < h.n:
                        kt, kc = h.keys[h.pos + 1]
                        if kt <= ts and kc == cs:
                            h.pos += 1
                        else:
                            break
            else:
                i += 1
                break


def _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat) -> np.ndarray:
    """Vectorized minor-node store filter (`MinorNode.java:55-63`; dict twin
    `minor_node_filter` in tests/history_spec.py) over ALL node rows of a
    partition.

    Per segment (one member node's version feed): leading/consecutive
    invisible rows are skipped; visibility flips always keep; visible →
    visible keeps only when BOTH lon and lat differ from the last KEPT row.

    The only loop-carried state is "last kept coords", and it only matters
    when a visible row is DROPPED (revert to the last-kept position on one
    axis). The vectorized pass assumes last-kept == previous processed row;
    any segment where that assumption could differ (i.e. containing a
    dropped row) is re-run with the exact sequential rule — rare in real
    feeds (a drop needs a lone-axis move or exact revert).
    """
    m = node_rows.size
    keep_mask = np.zeros(m, bool)
    if not m:
        return keep_mask
    # processed (enters the filter's state machine) = visible, or previous
    # raw row of the segment is visible (the flip-marker rule)
    pv = np.zeros(m, bool)
    pv[1:] = nv[:-1]
    prev_ok = ~seg_new
    processed = nv | (prev_ok & pv)
    proc_idx = np.nonzero(processed)[0]
    if not proc_idx.size:
        return keep_mask
    seg_ord = np.cumsum(seg_new) - 1
    p_seg = seg_ord[proc_idx]
    first_p = np.ones(proc_idx.size, bool)
    first_p[1:] = p_seg[1:] != p_seg[:-1]
    ppv = np.zeros(proc_idx.size, bool)
    ppv[1:] = nv[proc_idx[:-1]]
    cur_v = nv[proc_idx]
    plon = np.full(proc_idx.size, np.nan)
    plat = np.full(proc_idx.size, np.nan)
    plon[1:] = nlon[proc_idx[:-1]]
    plat[1:] = nlat[proc_idx[:-1]]
    keep0 = (first_p | ~cur_v | ~ppv
             | ((nlon[proc_idx] != plon) & (nlat[proc_idx] != plat)))
    keep_mask[proc_idx[keep0]] = True
    bad = ~keep0
    if bad.any():
        # exact sequential re-run of every segment containing a drop
        seg_starts = np.nonzero(seg_new)[0]
        seg_ends = np.append(seg_starts[1:], m)
        for sg in np.unique(p_seg[bad]):
            a, b = int(seg_starts[sg]), int(seg_ends[sg])
            keep_mask[a:b] = False
            vis_state = False
            llon = llat = np.nan
            for j in range(a, b):
                vj = bool(nv[j])
                if vj or vis_state:
                    lj = float(nlon[j])
                    tj = float(nlat[j])
                    if (not vj) or (not vis_state) or (lj != llon and tj != llat):
                        keep_mask[j] = True
                        llon = lj
                        llat = tj
                    vis_state = vj
    return keep_mask


def _ranges(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated."""
    total = int(counts.sum())
    if not total:
        return np.zeros(0, np.int64)
    csum = np.concatenate([[0], np.cumsum(counts[:-1])])
    return np.arange(total) - np.repeat(csum, counts)


def _dict_take(values: list[str], codes: np.ndarray,
               mask: np.ndarray | None = None) -> pa.Array:
    """Small-dictionary string column: C++ take of per-row codes."""
    idx = pa.array(codes.astype(np.int32), mask=mask)
    return pa.array(values, type=pa.string()).take(idx)


def _chunk(tbl: pa.Table, name: str) -> pa.Array:
    return tbl.column(name).chunk(0)


def _read_columns(tbl: pa.Table) -> SimpleNamespace:
    """The columns both packed partitions share (tbl single-chunk): NumPy
    views of the numeric ones, ts in the int64-ns time domain (exact µs→ns;
    python-int tuple compares in the walk), and the user/tags/refs Arrow
    arrays, which only C++ `take`s touch."""

    def num(name: str) -> np.ndarray:
        return _chunk(tbl, name).to_numpy(zero_copy_only=False)

    return SimpleNamespace(
        n=tbl.num_rows,
        version=num("version").astype(np.int64, copy=False),
        ts=_chunk(tbl, "ts").cast(pa.int64()).to_numpy(zero_copy_only=False) * 1000,
        changeset=num("changeset").astype(np.int64, copy=False),
        user_id=num("user_id"),
        visible=num("visible"),
        lon=num("lon").astype(np.float64, copy=False),
        lat=num("lat").astype(np.float64, copy=False),
        user=_chunk(tbl, "user"),
        tags=_chunk(tbl, "tags"),
        refs=_chunk(tbl, "refs"),
    )


class _Emitted(NamedTuple):
    """The rows `contribution_batch` emits, one entry each, as a kernel's
    geometry phase sees them."""

    K: np.ndarray  # raw-contribution index
    major: np.ndarray  # input row of the element version
    visible: np.ndarray
    # geometry_before chain: a row carries the geometry of the element's
    # last visible emitted row `source`, unless `carried` is False (no
    # visible row yet in this element)
    source: np.ndarray
    carried: np.ndarray


class _Geometry(NamedTuple):
    """A kernel's geometry phase, per emitted row."""

    valid: np.ndarray  # non-empty geometry; status "invalid" otherwise
    key: np.ndarray  # the row's geometry in `wkb`, -1 = none
    wkb: pa.Array
    geometry_type: pa.Array
    columns: list  # xmin ... countries, in schema order
    area: np.ndarray
    length: np.ndarray
    tail: list  # the kernel's own columns after length_delta


def _prev_in_element(vals: np.ndarray, efirst: np.ndarray, fill) -> np.ndarray:
    """vals shifted down one row, `fill` on each element's first row."""
    prev = np.empty_like(vals)
    prev[0] = fill
    prev[1:] = vals[:-1]
    prev[efirst] = fill
    return prev


def contribution_batch(cols: SimpleNamespace, osm_type: str,
                       elem_id: np.ndarray, majr: np.ndarray,
                       opnr: np.ndarray, lastr: np.ndarray, tags_of,
                       geometry, schema: pa.Schema) -> pa.RecordBatch:
    """The converter phase of both kernels (`ContributionsAvroConverter.
    java:57-176`): raw contributions in, one output batch out, pure NumPy
    over the walk's integer buffers.

    Per raw contribution, in walk order (each element's rows contiguous):
    elem_id is the element's id (adjacent elements differ, which marks
    element starts), majr its major input row, opnr the opener row
    (changeset / user source), lastr the last-consumed row (ts source).
    tags_of(row) is a major row's tags dict, read for the few major
    transitions only. geometry(emitted) is the kernel's geometry phase: it
    receives the `_Emitted` rows and returns their `_Geometry`.
    """
    n_raw = majr.size
    rver = cols.version[majr]
    rcs = cols.changeset[opnr]
    rts = cols.ts[lastr]
    rvis = cols.visible[majr]
    new_elem = np.ones(n_raw, bool)
    new_elem[1:] = elem_id[1:] != elem_id[:-1]
    # run collapse: of each same-(version, changeset) run keep the LAST row
    same_run = np.zeros(n_raw, bool)
    same_run[1:] = (~new_elem[1:]) & (rver[1:] == rver[:-1]) & (rcs[1:] == rcs[:-1])
    keep = np.ones(n_raw, bool)
    keep[:-1] = ~same_run[1:]
    K = np.nonzero(keep)[0]
    nk = K.size

    Km1 = np.maximum(K - 1, 0)
    Kp1 = np.minimum(K + 1, n_raw - 1)
    has_before = ~new_elem[K]
    has_next = (K + 1 < n_raw) & ~new_elem[Kp1]
    valid_from = rts[K]
    valid_to = np.where(has_next, rts[Kp1], VALID_TO_SENTINEL_NS)
    last_edit = rts[Km1]  # masked by has_before at emission
    # minorVersion resets when the RAW predecessor has a different version,
    # else increments from the previous EMITTED value (converter :85-90).
    # The accumulate baseline must ALSO restart at each element: an element
    # whose first emitted row is non-reset (its first raw rows collapsed a
    # same-(version,changeset) run) counts from 1, never from the previous
    # element's last reset position — hence the efirst -> j-1 floor.
    reset = ~has_before | (rver[Km1] != rver[K])
    j = np.arange(nk)
    ke = elem_id[K]
    efirst = np.ones(nk, bool)
    if nk > 1:
        efirst[1:] = ke[1:] != ke[:-1]
    mv_base = np.maximum.accumulate(
        np.where(reset, j, np.where(efirst, j - 1, -1)))
    mv_col = j - mv_base
    edits = j - np.maximum.accumulate(np.where(efirst, j, 0)) + 1

    bmaj = majr[Km1]
    cmaj = majr[K]
    visK = rvis[K]
    is_del = ~visK
    is_cre = visK & (~has_before | ~rvis[Km1])
    # reference quirk (`:156-158`): TAG set when tags are UNCHANGED
    tag_eq = (bmaj == cmaj)
    need = np.nonzero(~is_del & ~is_cre & ~tag_eq)[0]
    for t in need.tolist():  # one per major transition — few
        tag_eq[t] = tags_of(int(bmaj[t])) == tags_of(int(cmaj[t]))
    tag_un = ~is_del & ~is_cre & tag_eq

    acc = np.maximum.accumulate(np.where(visK, j, -1))
    source = np.maximum(acc, 0)
    g = geometry(_Emitted(K, cmaj, visK, source,
                          (acc >= 0) & (ke[source] == ke)))

    # GEOMETRY flag: WKB equality via C++ take + equal (converter `:156-163`)
    prev_key = _prev_in_element(g.key, efirst, -1)
    cand = ~is_del & ~is_cre & (prev_key != g.key)
    geom_changed = cand & ((prev_key < 0) | (g.key < 0))
    both = np.nonzero(cand & (prev_key >= 0) & (g.key >= 0))[0]
    if both.size:
        eqs = pc.equal(g.wkb.take(pa.array(prev_key[both])),
                       g.wkb.take(pa.array(g.key[both])))
        geom_changed[both] = np.invert(eqs.to_numpy(zero_copy_only=False))
    contrib_code = np.select(
        [is_del, is_cre, tag_un & geom_changed, tag_un, geom_changed],
        [0, 1, 2, 3, 4], default=5)
    status_code = np.where(
        ~g.valid, 3, np.where(is_del, 0, np.where(has_next, 1, 2)))

    # map/string columns: C++ takes from the INPUT arrays; the appended
    # sentinel row supplies the {} fill for null/absent maps
    n = cols.n
    ext_tags = pa.concat_arrays([cols.tags, pa.array([[]], type=cols.tags.type)])
    tagnull = pc.is_null(cols.tags).to_numpy(zero_copy_only=False)
    t_idx = np.where(tagnull[cmaj], n, cmaj)
    tb_idx = np.where(has_before & ~tagnull[bmaj], bmaj, n)
    opener = opnr[K]
    return pa.record_batch(
        [
            _dict_take([osm_type], np.zeros(nk, np.int64)),
            pa.array(ke.astype(np.int64, copy=False)),
            pa.array(rver[K].astype(np.int32)),
            pa.array(mv_col.astype(np.int32)),
            pa.array(edits.astype(np.int32)),
            pa.array(last_edit // 1000, type=_TS, mask=~has_before),
            pa.array(valid_from // 1000, type=_TS),
            pa.array(valid_to // 1000, type=_TS),
            pa.array(cols.user_id[opener].astype(np.int64)),
            cols.user.take(pa.array(opener)).cast(pa.string()),
            pa.array(rcs[K]),
            ext_tags.take(pa.array(t_idx)).cast(_MAP),
            ext_tags.take(pa.array(tb_idx)).cast(_MAP),
            _dict_take(["deleted", "history", "latest", "invalid"], status_code),
            _dict_take(
                ["DELETION", "CREATION", "TAG_GEOMETRY", "TAG", "GEOMETRY", ""],
                contrib_code),
            g.geometry_type,
            g.wkb.take(pa.array(np.maximum(g.key, 0), mask=~g.valid)),
            *g.columns,
            pa.array(g.area),
            pa.array(g.area - _prev_in_element(g.area, efirst, 0.0)),
            pa.array(g.length),
            pa.array(g.length - _prev_in_element(g.length, efirst, 0.0)),
            *g.tail,
        ],
        schema=schema,
    )


def way_partition_table(tbl: pa.Table, index=None) -> pa.RecordBatch | None:
    """One partition of the way merge, Arrow in → Arrow out.

    tbl must be sorted by (way_id, kind, node_id, version, ts) — the plan
    does this JVM-side with sortWithinPartitions. index: optional country
    `PolygonIndex` (the broadcast value); every geometry the partition
    emits is joined in one `join_geoms` probe.
    """
    n = tbl.num_rows
    if not n:
        return None
    tbl = tbl.combine_chunks()
    cols = _read_columns(tbl)
    way_np = _chunk(tbl, "way_id").to_numpy(zero_copy_only=False)
    is_way = pc.equal(_chunk(tbl, "kind"), pa.scalar("w")).to_numpy(zero_copy_only=False)
    node_id_np = _chunk(tbl, "node_id").fill_null(-1).to_numpy(zero_copy_only=False)

    # ----- member ingestion: vectorized minor-node filter + array cursors
    node_rows = np.nonzero(~is_way)[0]
    if node_rows.size:
        nv = cols.visible[node_rows]
        nlon = cols.lon[node_rows]
        nlat = cols.lat[node_rows]
        seg_new = np.ones(node_rows.size, bool)
        seg_new[1:] = (
            (np.diff(node_rows) != 1)
            | (node_id_np[node_rows[1:]] != node_id_np[node_rows[:-1]])
            | (way_np[node_rows[1:]] != way_np[node_rows[:-1]])
        )
        keep_mask = _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat)
        kept_m = np.nonzero(keep_mask)[0]
        kept_g = node_rows[kept_m]
        seg_ord = np.cumsum(seg_new) - 1
        kept_seg = seg_ord[kept_m]
        # per-kept-segment boundaries (a filtered-to-empty node simply has
        # no segment here and resolves to the shared empty history)
        kch = np.ones(kept_m.size, bool)
        kch[1:] = kept_seg[1:] != kept_seg[:-1]
        kseg_starts = np.nonzero(kch)[0]
        kseg_ends = np.append(kseg_starts[1:], kept_m.size)
        kseg_nid = node_id_np[kept_g[kseg_starts]] if kept_m.size else np.zeros(0, np.int64)
        kept_g_l = kept_g.tolist()
        kept_keys = list(zip(cols.ts[kept_g].tolist(), cols.changeset[kept_g].tolist()))
    else:
        kept_g = np.zeros(0, np.int64)
        kseg_starts = kseg_ends = np.zeros(0, np.int64)
        kseg_nid = np.zeros(0, np.int64)
        kept_g_l = []
        kept_keys = []

    # ----- per-major python values (few rows: tags dicts, refs lists)
    way_rows = np.nonzero(is_way)[0]
    way_prefix = np.concatenate([[0], np.cumsum(is_way)])  # row -> way ordinal
    w_take = pa.array(way_rows)
    refs_py = cols.refs.take(w_take).to_pylist()
    tags_py = [dict(x) if x else {} for x in cols.tags.take(w_take).to_pylist()]
    refs_py = [r if r is not None else [] for r in refs_py]
    way_ts_l = cols.ts[way_rows].tolist()
    way_cs_l = cols.changeset[way_rows].tolist()
    way_ver = cols.version[way_rows]

    # ----- element walk
    cuts = np.nonzero(way_np[1:] != way_np[:-1])[0] + 1
    e_starts = np.concatenate([[0], cuts])
    e_ends = np.concatenate([cuts, [n]])
    o_maj: list[int] = []
    o_open: list[int] = []
    o_last: list[int] = []
    o_mem: list[int] = []
    for s, e in zip(e_starts.tolist(), e_ends.tolist()):
        w0 = int(e - (way_prefix[e] - way_prefix[s]))  # first major row
        if w0 == e:
            continue  # member rows without a parent way (filtered ways)
        a = int(np.searchsorted(kept_g, s, "left"))
        b = int(np.searchsorted(kept_g, e, "left"))
        hists: dict[int, _AHist] = {}
        if a < b:
            t0 = int(np.searchsorted(kseg_starts, a, "right")) - 1
            t1 = int(np.searchsorted(kseg_starts, b, "left"))
            for t in range(t0, t1):
                ka, kb = int(kseg_starts[t]), int(kseg_ends[t])
                hists[int(kseg_nid[t])] = _AHist(
                    kept_g_l[ka:kb], kept_keys[ka:kb])
        ords = list(range(int(way_prefix[w0]), int(way_prefix[w0]) + (e - w0)))
        # defensive (version, ts) order — the JVM sort already guarantees it
        ords.sort(key=lambda t: (way_ver[t], way_ts_l[t]))
        maj_rows = [int(way_rows[t]) for t in ords]
        maj_ts = [way_ts_l[t] for t in ords]
        maj_cs = [way_cs_l[t] for t in ords]
        maj_refs = [refs_py[t] for t in ords]
        _merge_walk(maj_rows, maj_ts, maj_cs, maj_refs, hists,
                    o_maj, o_open, o_last, o_mem)

    if not o_maj:
        return None
    majr = np.asarray(o_maj, np.int64)
    mem = np.asarray(o_mem, np.int64)

    def geometry(em: _Emitted) -> _Geometry:
        # ----- geometry requests (visible kept rows) + one batched pass
        nref_all = pc.list_value_length(cols.refs).fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64)
        rnref = nref_all[majr]
        moff = np.concatenate([[0], np.cumsum(rnref)])
        req_rows = np.nonzero(em.visible)[0]
        rk = em.K[req_rows]
        counts = rnref[rk]
        flat_idx = np.repeat(moff[rk], counts) + _ranges(counts)
        gmem = mem[flat_idx] if flat_idx.size else np.zeros(0, np.int64)
        okm = gmem >= 0
        gsafe = np.where(okm, gmem, 0)
        ml = np.where(okm, cols.lon[gsafe], np.nan)
        mt = np.where(okm, cols.lat[gsafe], np.nan)
        mvv = okm & cols.visible[gsafe]
        isarea_by_word = np.fromiter(
            (is_area(tags_py[t], refs_py[t][0] if refs_py[t] else -1,
                     refs_py[t][-1] if refs_py[t] else -2, len(refs_py[t]))
             for t in range(len(way_rows))),
            bool, len(way_rows)) if len(way_rows) else np.zeros(0, bool)
        isarea_req = isarea_by_word[way_prefix[majr[rk]]]
        geo = batch_geometries(counts, isarea_req, ml, mt, mvv, with_bytes=False)
        R = counts.size
        nk = em.K.size

        # the carried geometry of each row is a request
        req_of = np.full(nk, -1, np.int64)
        req_of[req_rows] = np.arange(R)
        eff_req = np.where(em.carried, req_of[em.source], -1)
        eff_c = np.maximum(eff_req, 0)

        def at(a: np.ndarray) -> np.ndarray:
            # a request column per row; the caller masks rows without a
            # request, which is every row when no version is visible (R == 0)
            return a[eff_c] if R else np.zeros(nk, a.dtype)

        nonempty = em.carried & ~at(geo["empty"])

        # zero-copy WKB BinaryArray over the partition buffer
        if geo["wkb_off"][-1] > np.iinfo(np.int32).max:
            raise ValueError(
                "partition WKB exceeds 2GB (arrow binary offsets are int32): "
                "raise spark.sql.shuffle.partitions so way partitions shrink")
        ooff = geo["wkb_off"].astype(np.int32)
        req_bin = pa.Array.from_buffers(
            pa.binary(), R,
            [None, pa.py_buffer(ooff), pa.py_buffer(geo["wkb_buf"])])
        gt_code = at(geo["kind"]).astype(np.int64) - 1

        # XZ2 from request bboxes (folded in: no separate post-pass round trip)
        xz_lvl = np.full(nk, -1, np.int32)
        xz_cod = np.zeros(nk, np.int64)
        valid_req = np.nonzero(~geo["empty"])[0]
        if valid_req.size:
            lv, cd = xz2_code(geo["xmin"][valid_req], geo["ymin"][valid_req],
                              geo["xmax"][valid_req], geo["ymax"][valid_req])
            lv_all = np.full(R, -1, np.int64)
            cd_all = np.zeros(R, np.int64)
            lv_all[valid_req] = lv
            cd_all[valid_req] = cd
            xz_lvl = np.where(nonempty, lv_all[eff_c], -1).astype(np.int32)
            xz_cod = np.where(nonempty, cd_all[eff_c], 0)

        if index is None:
            countries_col = pa.ListArray.from_arrays(
                np.zeros(nk + 1, np.int32), pa.array([], type=pa.string()))
        else:
            # one probe over the distinct requests the emitted rows use
            used = np.unique(eff_req[nonempty])
            vcnt = geo["voff"][used + 1] - geo["voff"][used]
            vi = np.repeat(geo["voff"][used], vcnt) + _ranges(vcnt)
            off = np.concatenate([[0], np.cumsum(vcnt)])
            hits = index.join_geoms(geo["xs"][vi], geo["ys"][vi], off,
                                    np.arange(used.size + 1), geo["kind"][used])
            slot = np.full(R + 1, used.size)  # R + 1: eff_c is 0 when R == 0
            slot[used] = np.arange(used.size)
            countries_col = pa.array(hits + [[]], type=pa.list_(pa.string())).take(
                pa.array(np.where(nonempty, slot[eff_c], used.size)))

        def f64(name: str) -> pa.Array:
            return pa.array(np.where(nonempty, at(geo[name]), np.nan),
                            mask=~nonempty)

        return _Geometry(
            valid=nonempty,
            key=eff_req,
            wkb=req_bin,
            geometry_type=_dict_take(["Point", "LineString", "Polygon"],
                                     gt_code, mask=eff_req < 0),
            columns=[*map(f64, ("xmin", "ymin", "xmax", "ymax", "cx", "cy")),
                     pa.array(xz_lvl), pa.array(xz_cod), countries_col],
            area=np.where(nonempty, at(geo["area"]), 0.0),
            length=np.where(nonempty, at(geo["length"]), 0.0),
            tail=[cols.refs.take(pa.array(em.major)).cast(pa.list_(pa.int64()))],
        )

    return contribution_batch(
        cols, "way", way_np[majr], majr, np.asarray(o_open, np.int64),
        np.asarray(o_last, np.int64), lambda g: tags_py[int(way_prefix[g])],
        geometry, OUT_SCHEMA)


def run_partition_kernel(packed, kernel, schema: str, country_index=None):
    """`kernel(table, index)` over every partition of `packed` through one
    `mapInArrow` hop; index is the broadcast country index (or None).

    The worker concatenates the partition's batches into one table, so the
    kernel sees the whole partition, and yields its output in slices of
    bounded size for the downstream consumers."""
    bc = (packed.sparkSession.sparkContext.broadcast(country_index)
          if country_index is not None else None)

    def partition_fn(batches):
        drop_spark_zip_finders()
        batch_list = list(batches)
        if not batch_list:
            return
        out = kernel(pa.Table.from_batches(batch_list),
                     bc.value if bc is not None else None)
        if out is None:
            return
        step = 1 << 16
        for off in range(0, out.num_rows, step):
            yield out.slice(off, step)

    return packed.mapInArrow(partition_fn, schema)


def way_contributions_arrow(ways, nodes, country_index=None):
    """Distributed temporal merge + conversion — Arrow-native plan.

    One hash exchange on way_id over the ways unioned with their exploded
    member-node histories; the partition sort happens JVM-side
    (sortWithinPartitions) and the kernel is `way_partition_table`:
    Arrow in, Arrow out, no pandas materialization and no post-pass XZ2
    round trip.
    """
    spark = ways.sparkSession

    # built from SQL text: one gateway round trip per expression (see
    # history.node_contributions)
    refs_pairs = ways.selectExpr("id AS way_id", "explode(refs) AS node_id").distinct()
    member_hist = refs_pairs.join(
        nodes.selectExpr("id AS node_id", "version", "ts", "changeset", "user_id",
                         "user", "visible", "lon", "lat"),
        "node_id",
    )
    ways_packed = ways.selectExpr(
        "id AS way_id",
        "'w' AS kind",
        "version", "ts", "changeset", "user_id", "user", "visible",
        "tags", "refs",
        "CAST(NULL AS BIGINT) AS node_id",
        "CAST(NULL AS DOUBLE) AS lon",
        "CAST(NULL AS DOUBLE) AS lat",
    )
    nodes_packed = member_hist.selectExpr(
        "way_id",
        "'n' AS kind",
        "version", "ts", "changeset", "user_id", "user", "visible",
        "CAST(NULL AS MAP<STRING, STRING>) AS tags",
        "CAST(NULL AS ARRAY<BIGINT>) AS refs",
        "node_id", "lon", "lat",
    )
    # explicit partition count ON PURPOSE (same call as the relation op):
    # AQE post-shuffle coalescing targets shuffle BYTES, so a byte-small
    # packed table feeding a compute-bound Python kernel gets coalesced to
    # 1-2 partitions and the kernel serializes — wide elements (48-node
    # ways, boundary relations) are exactly the rows where that hurts.
    # (r4 had chosen bare repartition here because per-partition worker
    # startup looked dominant on small inputs; r5 traced that cost to
    # first-touch page faults in the VM, not to worker startup — with warm
    # workers the explicit count wins on every fixture and is the only
    # choice that survives a skewed 100 TB run. Count rationale:
    # session.kernel_partitions.)
    from ohsome_planet_spark.session import kernel_partitions

    packed = (
        ways_packed.unionByName(nodes_packed)
        .repartition(kernel_partitions(spark), "way_id")
        .sortWithinPartitions("way_id", "kind", "node_id", "version", "ts")
    )

    return run_partition_kernel(packed, way_partition_table, CONTRIB_SCHEMA,
                                country_index)
