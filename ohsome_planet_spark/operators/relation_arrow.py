"""Array-cursor relation merge: the relation twin of history_arrow.

The production relation kernel is `relation_partition_table` (Arrow in →
Arrow out), run by `history.relation_contributions` through
`history_arrow.run_partition_kernel`.
Its reference twin is the dict kernel `_relation_partition_kernel` in
tests/history_spec.py (with `_MemberEntryBatch` and
`convert_relation_contributions`), mirroring
`Contributions2Parquet.processRelation:233-266`: member ways resolve
through their own merged contribution streams over shared node cursors,
then the relation merges over (type, id, role) member streams. The
production kernel applies the way kernel's machinery end to end:

* node member feeds run through the VECTORIZED minor-node store filter
  (`history_arrow._minor_node_keep_mask`) — no per-row dicts;
* every inner way merge is a `_merge_walk` emitting integer buffers (the
  way's raw contribution stream is four int arrays, not a list of dicts
  with per-member snapshot lists);
* the relation-level walk runs over ENCODED member positions: a node
  snapshot is its global partition row, a way snapshot is `n + j` where j
  is the partition-wide way-contribution ordinal — one int per member per
  contribution;
* ALL way-snapshot geometries of the partition batch through ONE
  `batch_geometries` + `batch_gc_moment_cols` pass;
* the converter phase (run collapse, window columns, minor version,
  edits, status/contrib codes, area deltas, tags/user columns) is the way
  kernel's `history_arrow.contribution_batch`; this kernel hands it only
  its geometry phase and the five `member_*` columns;
* the GeometryCollection bbox/centroid folds (sequential left folds over
  encoded member positions — float-identical to the += chain of
  `_combine_centroid` in tests/history_spec.py), envelope WKB, XZ2 codes,
  and the per-member geometry list columns are all NumPy/Arrow-kernel
  work; only the MultiPolygon assembly (`mpbuild`, inherently iterative
  ring-joining) remains per-row Python.
  No pandas materialization anywhere;
* the optional country join is two probes per partition: one
  `PolygonIndex.join_points` over every member point of the
  GeometryCollection rows, one `join_geoms` over every MultiPolygon
  polygon, each unioned per row.

tests/test_relation_arrow.py pins `relation_partition_table` bit for bit
against the dict twin on adversarial fixtures (with and without a country
join), and the relation_history / relation_geom_history /
relation_mp_history / contributions_e2e oracles value-check the Spark path
cross-engine.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions import geometry_np as gnp
from ..functions import geodesy as gd
from ..functions.cells import xz2_code
from ..functions.pip_index import POLYGON
from ..functions.waygeom import is_area
from ..functions.wkb import point_wkb_matrix, wkb_dumps
from .history import (
    MEMBERS_THRESHOLD,
    _envelope_geom,
    _poly_area_centroid,
    batch_gc_moment_cols,
    batch_geometries,
)
from .history_arrow import (
    OUT_SCHEMA,
    _AHist,
    _chunk,
    _dict_take,
    _Emitted,
    _Geometry,
    _merge_walk,
    _minor_node_keep_mask,
    _ranges,
    _read_columns,
    contribution_batch,
)

REL_OUT_SCHEMA = pa.schema([
    *(f for f in OUT_SCHEMA if f.name != "refs"),
    ("member_types", pa.list_(pa.string())),
    ("member_ids", pa.list_(pa.int64())),
    ("member_roles", pa.list_(pa.string())),
    ("member_geom_types", pa.list_(pa.string())),
    ("member_geoms", pa.list_(pa.binary())),
])


def _collect_streams(rel_a, is_node, is_way, is_rel, mid_a, ver_a, ts_ns,
                     cs_a, vis_a, lon_a, lat_a, refs_of, rml_of) -> dict:
    """Phase 1 of `relation_partition_table`: minor-filtered node cursors,
    encoded inner way streams, and the relation-level merge buffers.

    Rows must arrive sorted by (rel_id, kind, member_id, version, ts) with
    kind ordered node < rel < way (the packed frame's literal strings sort
    that way). Returns every integer buffer the output phase needs."""
    n = int(rel_a.shape[0])
    ts_l = ts_ns.tolist()
    cs_l = cs_a.tolist()

    # ----- node member feeds: vectorized minor filter + per-segment cursors
    node_rows = np.nonzero(is_node)[0]
    if node_rows.size:
        nv = vis_a[node_rows].astype(bool)
        nlon = lon_a[node_rows]
        nlat = lat_a[node_rows]
        seg_new = np.ones(node_rows.size, bool)
        seg_new[1:] = (
            (np.diff(node_rows) != 1)
            | (mid_a[node_rows[1:]] != mid_a[node_rows[:-1]])
            | (rel_a[node_rows[1:]] != rel_a[node_rows[:-1]])
        )
        keep_mask = _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat)
        kept_m = np.nonzero(keep_mask)[0]
        kept_g = node_rows[kept_m]
        seg_ord = np.cumsum(seg_new) - 1
        kept_seg = seg_ord[kept_m]
        kch = np.ones(kept_m.size, bool)
        kch[1:] = kept_seg[1:] != kept_seg[:-1]
        kseg_starts = np.nonzero(kch)[0]
        kseg_ends = np.append(kseg_starts[1:], kept_m.size)
        kseg_nid = mid_a[kept_g[kseg_starts]] if kept_m.size else np.zeros(0)
        kept_g_l = kept_g.tolist()
        kept_keys = list(zip(ts_ns[kept_g].tolist(), cs_a[kept_g].tolist()))
    else:
        kept_g = np.zeros(0, np.int64)
        kseg_starts = kseg_ends = np.zeros(0, np.int64)
        kseg_nid = np.zeros(0)
        kept_g_l = []
        kept_keys = []

    # ----- walk every relation: inner way streams + the relation stream
    cuts = np.nonzero(rel_a[1:] != rel_a[:-1])[0] + 1
    e_starts = np.concatenate([[0], cuts]).tolist()
    e_ends = np.concatenate([cuts, [n]]).tolist()
    way_pfx = np.concatenate([[0], np.cumsum(is_way)])
    rel_pfx = np.concatenate([[0], np.cumsum(is_rel)])
    node_pfx = np.concatenate([[0], np.cumsum(is_node)])

    # partition-wide way-contribution buffers (encoded ids are n + ordinal)
    ws_maj: list[int] = []
    ws_open: list[int] = []
    ws_last: list[int] = []
    ws_mem: list[int] = []
    # relation-level buffers
    rl_maj: list[int] = []
    rl_open: list[int] = []
    rl_last: list[int] = []
    rl_mem: list[int] = []

    for s, e in zip(e_starts, e_ends):
        n_node = int(node_pfx[e] - node_pfx[s])
        n_rel = int(rel_pfx[e] - rel_pfx[s])
        n_way = int(way_pfx[e] - way_pfx[s])
        if not n_rel:
            continue
        rel_lo = s + n_node
        way_lo = rel_lo + n_rel
        # node cursors of this relation, keyed by node id
        a = int(np.searchsorted(kept_g, s, "left"))
        b = int(np.searchsorted(kept_g, e, "left"))
        node_hists: dict[int, tuple[list, list]] = {}
        if a < b:
            t0 = int(np.searchsorted(kseg_starts, a, "right")) - 1
            t1 = int(np.searchsorted(kseg_starts, b, "left"))
            for t in range(t0, t1):
                ka, kb = int(kseg_starts[t]), int(kseg_ends[t])
                node_hists[int(kseg_nid[t])] = (
                    kept_g_l[ka:kb], kept_keys[ka:kb])

        # inner way merges → encoded streams
        way_streams: dict[int, tuple[list, list]] = {}  # wid -> (enc, keys)
        if n_way:
            wcut = np.nonzero(
                mid_a[way_lo + 1:e] != mid_a[way_lo:e - 1])[0] + 1
            wstarts = np.concatenate([[0], wcut]) + way_lo
            wends = np.append(wstarts[1:], e)
            for ws, we in zip(wstarts.tolist(), wends.tolist()):
                ords = list(range(ws, we))
                ords.sort(key=lambda g: (ver_a[g], ts_l[g]))
                # minor-way store filter (`MinorWay.java:76-91`): invisible
                # always recorded (resets state), visible iff refs changed
                filt: list[int] = []
                last_refs: list = []
                for g in ords:
                    if not vis_a[g]:
                        filt.append(g)
                        last_refs = []
                    elif refs_of(g) != last_refs:
                        filt.append(g)
                        last_refs = refs_of(g)
                if not filt:
                    continue
                fresh = {
                    nid: _AHist(idx, keys)
                    for nid, (idx, keys) in node_hists.items()
                }
                base = len(ws_maj)
                _merge_walk(
                    filt,
                    [ts_l[g] for g in filt],
                    [cs_l[g] for g in filt],
                    [refs_of(g) for g in filt],
                    fresh, ws_maj, ws_open, ws_last, ws_mem,
                )
                count = len(ws_maj) - base
                enc = list(range(n + base, n + base + count))
                keys = [
                    (ts_l[ws_last[base + p]], cs_l[ws_open[base + p]])
                    for p in range(count)
                ]
                way_streams[int(mid_a[ws])] = (enc, keys)

        # relation-level walk over (type, id, role) member streams
        rords = list(range(rel_lo, way_lo))
        rords.sort(key=lambda g: (ver_a[g], ts_l[g]))
        maj_refs = [rml_of(g) for g in rords]
        hists: dict = {}
        for mrefs in maj_refs:
            for trip in mrefs:
                if trip in hists:
                    continue
                mtype, mid, _role = trip
                if mtype == "way" and mid in way_streams:
                    enc, keys = way_streams[mid]
                    hists[trip] = _AHist(enc, keys)
                elif mtype == "node" and mid in node_hists:
                    idx, keys = node_hists[mid]
                    hists[trip] = _AHist(idx, keys)
        _merge_walk(
            rords,
            [ts_l[g] for g in rords],
            [cs_l[g] for g in rords],
            maj_refs, hists, rl_maj, rl_open, rl_last, rl_mem,
        )

    return {
        "n": n,
        "ws_maj": ws_maj, "ws_open": ws_open, "ws_last": ws_last,
        "ws_mem": ws_mem,
        "rl_maj": rl_maj, "rl_open": rl_open, "rl_last": rl_last,
        "rl_mem": rl_mem,
    }


def _adjacent_node_dup_mask(rel_a, kind_is_node, mid_a, ver_a, ts_a) -> np.ndarray:
    """True for a node row identical (rel, member, version, ts) to the row
    right above it. Such rows are exact duplicates of the same node-history
    row — the member-resolution plan skips the (rel_id, node_id) dedup
    exchange and lets the sorted kernel drop them here (a node history has
    one row per (id, version), so key-equal rows are payload-equal)."""
    n = rel_a.shape[0]
    dup = np.zeros(n, bool)
    if n > 1:
        dup[1:] = (
            kind_is_node[1:] & kind_is_node[:-1]
            & (rel_a[1:] == rel_a[:-1]) & (mid_a[1:] == mid_a[:-1])
            & (ver_a[1:] == ver_a[:-1]) & (ts_a[1:] == ts_a[:-1])
        )
    return dup


def _drop_adjacent_node_dups(tbl: pa.Table) -> pa.Table:
    """Drop the rows `_adjacent_node_dup_mask` flags (single-chunk table)."""
    kind_is_node = pc.equal(
        tbl.column("kind").chunk(0), pa.scalar("node")
    ).to_numpy(zero_copy_only=False)
    dup = _adjacent_node_dup_mask(
        tbl.column("rel_id").chunk(0).to_numpy(zero_copy_only=False),
        kind_is_node,
        tbl.column("member_id").chunk(0).to_numpy(zero_copy_only=False),
        tbl.column("version").chunk(0).to_numpy(zero_copy_only=False),
        tbl.column("ts").chunk(0).cast(pa.int64()).to_numpy(zero_copy_only=False),
    )
    if not dup.any():
        return tbl
    return tbl.filter(pa.array(~dup)).combine_chunks()


def _union_by_row(rows: list, hits: list, out: list) -> None:
    """out[row] = sorted union of the id lists of the probes of that row."""
    acc: dict = {}
    for r, h in zip(rows, hits):
        acc.setdefault(r, set()).update(h)
    for r, ids in acc.items():
        out[r] = sorted(ids)


def relation_partition_table(tbl: pa.Table, index=None) -> pa.RecordBatch | None:
    """One partition of the relation merge, Arrow in → Arrow out.

    tbl must be sorted by (rel_id, kind, member_id, version, ts) — the plan
    does this JVM-side with sortWithinPartitions (kind literals sort
    node < rel < way, the order the stream collector expects).
    index: optional country `PolygonIndex` (the broadcast value), probed
    once per partition for the GeometryCollection member points and once
    for the MultiPolygon polygons.

    Semantics are the spec's `convert_relation_contributions`
    (tests/history_spec.py) verbatim, re-expressed as whole-partition
    array work (see the module docstring); the only per-row Python left is
    MultiPolygon ring assembly. Float doctrine: the GeometryCollection
    centroid folds are sequential left folds over per-member moment
    columns in member order, so every sum associates exactly like the
    spec's `_combine_centroid` += chain.
    """
    n = tbl.num_rows
    if not n:
        return None
    # the plan ships (rel_id, node_id) node feeds WITHOUT a dedup shuffle
    # (a node shared by several member ways of one relation arrives once
    # per way) — identical rows are adjacent after the partition sort, so
    # one vectorized mask replaces a whole exchange
    tbl = _drop_adjacent_node_dups(tbl.combine_chunks())
    n = tbl.num_rows

    cols = _read_columns(tbl)
    rel_np = _chunk(tbl, "rel_id").to_numpy(zero_copy_only=False)
    kind_arr = _chunk(tbl, "kind")
    is_node = pc.equal(kind_arr, pa.scalar("node")).to_numpy(zero_copy_only=False)
    is_way = pc.equal(kind_arr, pa.scalar("way")).to_numpy(zero_copy_only=False)
    is_rel = pc.equal(kind_arr, pa.scalar("rel")).to_numpy(zero_copy_only=False)
    mid_np = _chunk(tbl, "member_id").to_numpy(zero_copy_only=False)
    vis_np, lon_np, lat_np = cols.visible, cols.lon, cols.lat
    rml_arr = _chunk(tbl, "rel_member_list")

    # python-side values only for the few major rows (ways: refs+tags for
    # the walk/geometry; rels: tags + member triples)
    way_rows = np.nonzero(is_way)[0]
    way_pfx = np.concatenate([[0], np.cumsum(is_way)])
    refs_py = cols.refs.take(pa.array(way_rows)).to_pylist()
    refs_py = [[int(x) for x in r] if r else [] for r in refs_py]
    wtags_py = [dict(x) if x else {}
                for x in cols.tags.take(pa.array(way_rows)).to_pylist()]
    rel_rows = np.nonzero(is_rel)[0]
    rel_pfx = np.concatenate([[0], np.cumsum(is_rel)])
    rtags_py = [dict(x) if x else {}
                for x in cols.tags.take(pa.array(rel_rows)).to_pylist()]
    rml_py = rml_arr.take(pa.array(rel_rows)).to_pylist()
    rml_py = [
        [(m["type"], int(m["id"]), m["role"] or "") for m in (lst or [])]
        for lst in rml_py
    ]

    def refs_of(g: int) -> list:
        return refs_py[int(way_pfx[g])]

    def tags_of(g: int) -> dict:
        return rtags_py[int(rel_pfx[g])]

    def rml_of(g: int) -> list:
        return rml_py[int(rel_pfx[g])]

    st = _collect_streams(rel_np, is_node, is_way, is_rel, mid_np,
                          cols.version, cols.ts, cols.changeset, vis_np,
                          lon_np, lat_np, refs_of, rml_of)
    rl_maj = st["rl_maj"]
    if not rl_maj:
        return None
    ws_maj, ws_open, ws_last, ws_mem = (
        st["ws_maj"], st["ws_open"], st["ws_last"], st["ws_mem"])

    # ----- way-snapshot geometry: ONE batched pass for the partition
    n_ws = len(ws_maj)
    if n_ws:
        wmaj = np.asarray(ws_maj, np.int64)
        nref = np.asarray([len(refs_of(int(g))) for g in wmaj], np.int64)
        mem = np.asarray(ws_mem, np.int64)
        okm = mem >= 0
        gsafe = np.where(okm, mem, 0)
        ml = np.where(okm, lon_np[gsafe], np.nan)
        mt = np.where(okm, lat_np[gsafe], np.nan)
        mvv = okm & vis_np[gsafe].astype(bool)
        isarea_w = np.asarray([
            is_area(wtags_py[int(way_pfx[g])],
                    refs_of(int(g))[0] if refs_of(int(g)) else -1,
                    refs_of(int(g))[-1] if refs_of(int(g)) else -2,
                    len(refs_of(int(g))))
            for g in wmaj], bool)
        geo = batch_geometries(nref, isarea_w, ml, mt, mvv, with_bytes=False)
        mom = batch_gc_moment_cols(geo)
        way_kind = geo["kind"].astype(np.int64)
        way_empty = geo["empty"]
        way_xmin, way_ymin = geo["xmin"], geo["ymin"]
        way_xmax, way_ymax = geo["xmax"], geo["ymax"]
        way_wkb_off = geo["wkb_off"].astype(np.int64)
        way_wkb_buf = geo["wkb_buf"]
        gxs, gys, gvoff = geo["xs"], geo["ys"], geo["voff"]
    else:
        way_kind = np.zeros(0, np.int64)
        way_empty = np.zeros(0, bool)
        way_xmin = way_ymin = way_xmax = way_ymax = np.zeros(0)
        way_wkb_off = np.zeros(1, np.int64)
        way_wkb_buf = np.zeros(0, np.uint8)
        gxs = gys = np.zeros(0)
        gvoff = np.zeros(1, np.int64)
        mom = {k: np.zeros(0) for k in
               ("aw", "gx", "gy", "tl", "lx", "ly", "npt", "px", "py")}
        mom["valid"] = np.zeros(0, bool)

    # ----- per-position arrays over the encoded member space [0, n + n_ws)
    # (a node snapshot is its global row; a way snapshot is n + ordinal)
    node_ok = (is_node & vis_np & ~np.isnan(lon_np) & ~np.isnan(lat_np)
               & (lon_np >= -180.0) & (lon_np <= 180.0)
               & (lat_np >= -90.0) & (lat_np <= 90.0))
    pos_valid = np.concatenate([node_ok, ~way_empty])
    pos_kind = np.concatenate([np.ones(n, np.int64), way_kind])
    pos_x0 = np.concatenate([lon_np, way_xmin])
    pos_y0 = np.concatenate([lat_np, way_ymin])
    pos_x1 = np.concatenate([lon_np, way_xmax])
    pos_y1 = np.concatenate([lat_np, way_ymax])
    zn = np.zeros(n)
    pos_mom = {
        "aw": np.concatenate([zn, mom["aw"]]),
        "gx": np.concatenate([zn, mom["gx"]]),
        "gy": np.concatenate([zn, mom["gy"]]),
        "tl": np.concatenate([zn, mom["tl"]]),
        "lx": np.concatenate([zn, mom["lx"]]),
        "ly": np.concatenate([zn, mom["ly"]]),
        "npt": np.concatenate([np.ones(n), mom["npt"]]),
        "px": np.concatenate([lon_np, mom["px"]]),
        "py": np.concatenate([lat_np, mom["py"]]),
    }

    # member-geometry WKB per position: nodes are fixed 21-byte points
    # (NaN coords encode the JTS empty point), ways ride the zero-copy
    # partition buffer from batch_geometries
    node_buf = point_wkb_matrix(np.where(node_ok, lon_np, np.nan),
                                np.where(node_ok, lat_np, np.nan)).reshape(-1)
    total_bytes = int(node_buf.size) + int(way_wkb_off[-1])
    if total_bytes > np.iinfo(np.int32).max:
        raise ValueError(
            "partition WKB exceeds 2GB (arrow binary offsets are int32): "
            "raise spark.sql.shuffle.partitions so relation partitions shrink")
    pos_off = np.concatenate([
        np.arange(0, 21 * n, 21, dtype=np.int64),
        21 * n + way_wkb_off,
    ]).astype(np.int32)
    pos_buf = np.concatenate([node_buf, way_wkb_buf])
    pos_bin = pa.Array.from_buffers(
        pa.binary(), n + n_ws,
        [None, pa.py_buffer(pos_off), pa.py_buffer(pos_buf)])

    # ----- decode relation buffers to flat raw-contribution arrays
    rl_maj_a = np.asarray(rl_maj, np.int64)
    enc_open = np.concatenate([np.arange(n, dtype=np.int64),
                               np.asarray(ws_open, np.int64)])
    enc_last = np.concatenate([np.arange(n, dtype=np.int64),
                               np.asarray(ws_last, np.int64)])
    r_open = enc_open[np.asarray(st["rl_open"], np.int64)]
    r_last = enc_last[np.asarray(st["rl_last"], np.int64)]
    rl_mem_a = np.asarray(st["rl_mem"], np.int64)
    rml_len = np.asarray([len(rml_of(int(g))) for g in rl_maj_a], np.int64)
    rl_off = np.concatenate([[0], np.cumsum(rml_len)])

    def geometry(em: _Emitted) -> _Geometry:
        K, cmaj, visK = em.K, em.major, em.visible
        nk = K.size
        # ----- member slices of the EMITTED rows
        counts_k = rml_len[K]
        moffs = np.concatenate([[0], np.cumsum(counts_k)])
        flat_idx = (np.repeat(rl_off[K], counts_k) + _ranges(counts_k)
                    if moffs[-1] else np.zeros(0, np.int64))
        enc = rl_mem_a[flat_idx] if flat_idx.size else np.zeros(0, np.int64)
        enc_ok = enc >= 0
        enc_c = np.where(enc_ok, enc, 0)
        row_of = np.repeat(np.arange(nk), counts_k)

        # ----- own GeometryCollection folds (bbox + centroid over valid
        # member entries, member order — used for GC infos AND the
        # invalid-branch bbox/centroid of empty rows)
        vmask = enc_ok & pos_valid[enc_c]
        comp = np.nonzero(vmask)[0]
        own_has = np.zeros(nk, bool)
        own_xmin = np.full(nk, np.nan)
        own_ymin = np.full(nk, np.nan)
        own_xmax = np.full(nk, np.nan)
        own_ymax = np.full(nk, np.nan)
        own_cx = np.full(nk, np.nan)
        own_cy = np.full(nk, np.nan)
        if comp.size:
            crow = row_of[comp]
            cpos = enc[comp]
            gstart = np.ones(comp.size, bool)
            gstart[1:] = crow[1:] != crow[:-1]
            gs = np.nonzero(gstart)[0]
            rw = crow[gs]
            own_has[rw] = True
            own_xmin[rw] = np.minimum.reduceat(pos_x0[cpos], gs)
            own_ymin[rw] = np.minimum.reduceat(pos_y0[cpos], gs)
            own_xmax[rw] = np.maximum.reduceat(pos_x1[cpos], gs)
            own_ymax[rw] = np.maximum.reduceat(pos_y1[cpos], gs)
            # moment sums must be SEQUENTIAL left folds in member order
            # (np.add.reduceat is pairwise from n>=3 and would diverge from
            # the spec's _combine_centroid += chain, which the DuckDB
            # oracles replay):
            # ladder fold — one vectorized += pass per member ordinal.
            # BOUNDED (r6, r5-advice item 3): GeometryCollection rows are not
            # capped by MEMBERS_THRESHOLD, so one planet-scale relation with
            # tens of thousands of members would otherwise make every ladder
            # rung pay an O(n_groups) mask over ALL groups — groups above
            # _LADDER_MAX instead take a per-group plain-Python sequential
            # fold (same 0.0-init left fold in member order, so bit-identical;
            # ~9 float adds per member, no per-rung NumPy dispatch overhead).
            ng = gs.size
            cnt_g = np.append(gs[1:], comp.size) - gs
            keys = ("aw", "gx", "gy", "tl", "lx", "ly", "npt", "px", "py")
            accs = {k: np.zeros(ng) for k in keys}
            _LADDER_MAX = 64
            small = np.nonzero(cnt_g <= _LADDER_MAX)[0]
            if small.size:
                cnt_s = cnt_g[small]
                for t in range(int(cnt_s.max())):
                    sel = small[cnt_s > t]
                    p = cpos[gs[sel] + t]
                    for k in keys:
                        accs[k][sel] += pos_mom[k][p]
            for j in np.nonzero(cnt_g > _LADDER_MAX)[0].tolist():
                g0, gn = int(gs[j]), int(cnt_g[j])
                idx = cpos[g0:g0 + gn]
                for k in keys:
                    acc = 0.0
                    for v in pos_mom[k][idx].tolist():
                        acc += v
                    accs[k][j] = acc
            aw, gx, gy = accs["aw"], accs["gx"], accs["gy"]
            tl, lx, ly = accs["tl"], accs["lx"], accs["ly"]
            npt, px, py = accs["npt"], accs["px"], accs["py"]
            # JTS dimension priority: area -> length -> points
            with np.errstate(invalid="ignore", divide="ignore"):
                cx = np.where(np.abs(aw) > 0.0, gx / aw,
                              np.where(tl > 0.0, lx / tl,
                                       np.where(npt > 0, px / npt, np.nan)))
                cy = np.where(np.abs(aw) > 0.0, gy / aw,
                              np.where(tl > 0.0, ly / tl,
                                       np.where(npt > 0, py / npt, np.nan)))
            own_cx[rw] = cx
            own_cy[rw] = cy

        # ----- per-visible-row geometry info (MultiPolygon loop + GC arrays)
        is_mp_row = np.zeros(nk, bool)
        for i in np.nonzero(visK)[0].tolist():
            t = tags_of(int(cmaj[i]))
            if (counts_k[i] <= MEMBERS_THRESHOLD
                    and (t.get("type") or "").lower() in ("multipolygon", "boundary")):
                is_mp_row[i] = True

        info_kind = np.where(is_mp_row, 0, 1)  # 0=MultiPolygon, 1=GeometryCollection
        info_ne = np.zeros(nk, bool)
        info_xmin = np.full(nk, np.nan)
        info_ymin = np.full(nk, np.nan)
        info_xmax = np.full(nk, np.nan)
        info_ymax = np.full(nk, np.nan)
        info_cx = np.full(nk, np.nan)
        info_cy = np.full(nk, np.nan)
        info_area = np.zeros(nk)
        info_wkb: list = [None] * nk
        info_countries: list = [None] * nk

        gc_rows = np.nonzero(visK & ~is_mp_row)[0]
        _EMPTY_GC_WKB = wkb_dumps(("GeometryCollection", None))
        for i in gc_rows.tolist():
            if not own_has[i]:
                info_wkb[i] = _EMPTY_GC_WKB
                continue
            info_ne[i] = True
            info_xmin[i] = own_xmin[i]
            info_ymin[i] = own_ymin[i]
            info_xmax[i] = own_xmax[i]
            info_ymax[i] = own_ymax[i]
            info_cx[i] = own_cx[i]
            info_cy[i] = own_cy[i]
            info_wkb[i] = wkb_dumps(_envelope_geom(
                (own_xmin[i], own_ymin[i], own_xmax[i], own_ymax[i])))
        if index is not None and gc_rows.size:
            # every valid member point of the non-empty GeometryCollection rows
            # (a node member's own point, every vertex of a way member) in one
            # join_points probe, then the union per row
            gc_ne = np.zeros(nk, bool)
            gc_ne[gc_rows] = own_has[gc_rows]
            slots = np.flatnonzero(vmask & gc_ne[row_of])
            start = enc[slots]
            cnt = np.ones(slots.size, np.int64)
            w = np.flatnonzero(start >= n)
            jw = start[w] - n
            cnt[w] = gvoff[jw + 1] - gvoff[jw]
            start[w] = n + gvoff[jw]
            vi = np.repeat(start, cnt) + _ranges(cnt)
            hits = index.join_points(np.concatenate([lon_np, gxs])[vi],
                                     np.concatenate([lat_np, gys])[vi])
            _union_by_row(np.repeat(row_of[slots], cnt).tolist(), hits, info_countries)

        mp_rows = np.nonzero(is_mp_row)[0]
        if mp_rows.size:
            from ..functions.mpbuild import MultiPolygonBuildError, build_multipolygon
            _EMPTY_MP_WKB = wkb_dumps(("MultiPolygon", None))
            mp_polys: list = []  # (row, rings) of every assembled polygon
            for i in mp_rows.tolist():
                mrefs = rml_of(int(cmaj[i]))
                s0 = int(moffs[i])
                outers: list = []
                inners: list = []
                for t, trip in enumerate(mrefs):
                    ec = int(enc[s0 + t])
                    if trip[0] != "way" or ec < n:
                        continue
                    jj = ec - n
                    a0, b0 = int(gvoff[jj]), int(gvoff[jj + 1])
                    if b0 == a0:
                        continue
                    coords = np.column_stack([gxs[a0:b0], gys[a0:b0]])
                    role = trip[2].strip()
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
                if data is None:
                    info_wkb[i] = _EMPTY_MP_WKB
                    continue
                info_ne[i] = True
                info_wkb[i] = wkb_dumps(("MultiPolygon", data))
                coords = np.vstack([np.vstack(rings) for rings in data])
                bx = gnp.bbox(coords[:, 0], coords[:, 1])
                info_xmin[i], info_ymin[i], info_xmax[i], info_ymax[i] = bx
                ccx = ccy = 0.0
                a_sum = 0.0
                for rings in data:
                    pa_, (px_, py_) = _poly_area_centroid(rings)
                    ccx += px_ * pa_
                    ccy += py_ * pa_
                    a_sum += pa_
                if a_sum:
                    info_cx[i], info_cy[i] = ccx / a_sum, ccy / a_sum
                else:
                    info_cx[i], info_cy[i] = gnp.centroid_points(
                        coords[:, 0], coords[:, 1])
                info_area[i] = sum(
                    gd.geodesic_polygon_area(
                        (rings[0][:, 0], rings[0][:, 1]),
                        [(r[:, 0], r[:, 1]) for r in rings[1:]],
                    )
                    for rings in data
                )
                mp_polys.extend((i, rings) for rings in data)
            if index is not None and mp_polys:
                # every polygon of the partition in one join_geoms probe
                rings = [r for _, poly in mp_polys for r in poly]
                xy = np.vstack(rings)
                hits = index.join_geoms(
                    xy[:, 0], xy[:, 1], np.cumsum([0] + [len(r) for r in rings]),
                    np.cumsum([0] + [len(poly) for _, poly in mp_polys]),
                    np.full(len(mp_polys), POLYGON))
                _union_by_row([i for i, _ in mp_polys], hits, info_countries)

        # ----- carry-forward chain (deleted rows reuse the previous info)
        has_info = em.carried
        eff = np.where(has_info, em.source, 0)
        info_ok = has_info & info_ne[eff]

        final_xmin = np.where(info_ok, info_xmin[eff],
                              np.where(own_has, own_xmin, np.nan))
        final_ymin = np.where(info_ok, info_ymin[eff],
                              np.where(own_has, own_ymin, np.nan))
        final_xmax = np.where(info_ok, info_xmax[eff],
                              np.where(own_has, own_xmax, np.nan))
        final_ymax = np.where(info_ok, info_ymax[eff],
                              np.where(own_has, own_ymax, np.nan))
        final_cx = np.where(info_ok, info_cx[eff],
                            np.where(own_has, own_cx, np.nan))
        final_cy = np.where(info_ok, info_cy[eff],
                            np.where(own_has, own_cy, np.nan))

        if index is None:
            countries_col = pa.ListArray.from_arrays(
                np.zeros(nk + 1, np.int32), pa.array([], type=pa.string()))
        else:
            countries_col = pa.array(
                [(info_countries[int(eff[i])] or []) if info_ok[i] else []
                 for i in range(nk)],
                type=pa.list_(pa.string()))

        # XZ2 from the FINAL bbox (invalid rows carry their member bbox too)
        xz_lvl = np.full(nk, -1, np.int32)
        xz_cod = np.zeros(nk, np.int64)
        bbok = ~np.isnan(final_xmin)
        if bbok.any():
            lv, cd = xz2_code(final_xmin[bbok], final_ymin[bbok],
                              final_xmax[bbok], final_ymax[bbok])
            xz_lvl[bbok] = lv.astype(np.int32)
            xz_cod[bbok] = cd

        empty_rml = pa.array([[]], type=rml_arr.type)
        ext_rml = pa.concat_arrays([rml_arr, empty_rml])
        rmlnull = pc.is_null(rml_arr).to_numpy(zero_copy_only=False)
        m_idx = np.where(rmlnull[cmaj], n, cmaj)
        mlists = ext_rml.take(pa.array(m_idx))
        mstruct = pc.list_flatten(mlists)
        l_off = moffs.astype(np.int32)
        member_types_col = pa.ListArray.from_arrays(
            l_off, mstruct.field("type").cast(pa.string()))
        member_ids_col = pa.ListArray.from_arrays(
            l_off, mstruct.field("id").cast(pa.int64()))
        member_roles_col = pa.ListArray.from_arrays(
            l_off, pc.fill_null(mstruct.field("role").cast(pa.string()), ""))

        mg_kind = pos_kind[enc_c]
        member_geom_types_col = pa.ListArray.from_arrays(
            l_off, _dict_take(["Point", "LineString", "Polygon"],
                              mg_kind - 1, mask=~enc_ok))
        member_geoms_col = pa.ListArray.from_arrays(
            l_off, pos_bin.take(pa.array(enc_c, mask=~enc_ok)))

        def f64(vals: np.ndarray) -> pa.Array:
            return pa.array(vals, mask=np.isnan(vals))

        return _Geometry(
            valid=info_ok,
            key=np.where(has_info, em.source, -1),
            wkb=pa.array(info_wkb, type=pa.binary()),
            geometry_type=_dict_take(["MultiPolygon", "GeometryCollection"],
                                     info_kind[eff], mask=~has_info),
            columns=[*map(f64, (final_xmin, final_ymin, final_xmax, final_ymax,
                                final_cx, final_cy)),
                     pa.array(xz_lvl), pa.array(xz_cod), countries_col],
            area=np.where(info_ok, info_area[eff], 0.0),
            length=np.zeros(nk),
            tail=[member_types_col, member_ids_col, member_roles_col,
                  member_geom_types_col, member_geoms_col],
        )

    return contribution_batch(
        cols, "relation", rel_np[rl_maj_a], rl_maj_a, r_open, r_last, tags_of,
        geometry, REL_OUT_SCHEMA)
