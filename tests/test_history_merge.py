"""Temporal merge goldens — the reference's ContributionsWayTest cases
(/root/reference/ohsome-contributions/src/test/java/.../ContributionsWayTest.java)
re-expressed as scenario goldens over merge_contributions, plus converter
semantics checks (F6 collapse, minor versions, deltas, status).

Each scenario builds micro-histories and asserts the emitted contribution
sequence: (changeset, timestamp-sec, member versions).
"""

import numpy as np
import pandas as pd
import pytest

from tests.history_spec import (
    _Hist,
    convert_contributions,
    merge_contributions,
)


def node(v, ts, cs, lon=0.0, lat=0.0, visible=True, uid=1, user=""):
    return {
        "ts": pd.Timestamp(ts, unit="s"),
        "changeset": cs,
        "user_id": uid,
        "user": user,
        "version": v,
        "visible": visible,
        "lon": lon,
        "lat": lat,
    }


def way(v, ts, cs, refs, visible=True, tags=None, uid=1, user=""):
    return {
        "version": v,
        "ts": pd.Timestamp(ts, unit="s"),
        "changeset": cs,
        "user_id": uid,
        "user": user,
        "visible": visible,
        "tags": tags or {},
        "refs": refs,
    }


def run(majors, node_map):
    hists = {nid: _Hist(rows) for nid, rows in node_map.items()}
    return merge_contributions(majors, hists)


def seq(contribs):
    """(changeset, ts_epoch_sec, [member versions or None]) per contribution."""
    out = []
    for c in contribs:
        mv = [m["version"] if m is not None else None for m in c["members"]]
        out.append((c["changeset"], int(c["ts"].timestamp()), mv))
    return out


def test_node_versions_before_way():
    # ContributionsWayTest.testNodeVersionsBeforeWay:52-73
    nodes = {1: [node(1, 0, 1), node(2, 1, 2)]}
    majors = [way(1, 2, 1, [1])]
    assert seq(run(majors, nodes)) == [(1, 2, [2])]


def test_way_exists_before_node_same_changeset():
    # testWayExistsBeforeNode:75-96: node created later but in the way's
    # changeset → consumed by the as-of OR-changeset rule, single contribution
    nodes = {1: [node(1, 2, 1, lon=1.0)]}
    majors = [way(1, 1, 1, [1])]
    got = seq(run(majors, nodes))
    assert got == [(1, 1, [1])]


def test_node_versions_before_plus_minor_versions():
    # testNodeVersionsBeforePlusMinorVersionWay:98-137
    nodes = {
        1: [
            node(1, 0, 1, lon=1.0),
            node(2, 1, 2, lon=2.0),
            node(3, 5, 5, lon=3.0),
            node(4, 6, 6, lon=4.0),
        ]
    }
    majors = [way(1, 2, 1, [1]), way(2, 7, 1, [1])]
    assert seq(run(majors, nodes)) == [
        (1, 2, [2]),
        (5, 5, [3]),
        (6, 6, [4]),
        (1, 7, [4]),
    ]


def test_two_nodes_moved_in_different_changesets():
    # testTwoNodesMovedInDifferentChangesets:139-189
    nodes = {
        1: [node(1, 1, 1, lon=1.0), node(2, 2, 2, lon=1.1)],
        2: [node(1, 1, 1, lon=2.0), node(2, 2, 3, lon=2.2)],
    }
    majors = [way(1, 1, 1, [1, 2])]
    assert seq(run(majors, nodes)) == [
        (1, 1, [1, 1]),
        (2, 2, [2, 1]),
        (3, 2, [2, 2]),
    ]


def test_two_nodes_moved_in_different_changesets_different_times():
    # testTwoNodesMovedInDifferentChangesetsAtDifferentTimepoints:191-238
    nodes = {
        1: [node(1, 1, 1, lon=1.0), node(2, 2, 2, lon=1.1)],
        2: [node(1, 1, 1, lon=2.0), node(2, 3, 3, lon=2.2)],
    }
    majors = [way(1, 1, 1, [1, 2])]
    assert seq(run(majors, nodes)) == [
        (1, 1, [1, 1]),
        (2, 2, [2, 1]),
        (3, 3, [2, 2]),
    ]


def test_node_moved_multiple_times_within_one_changeset():
    # testNodeMovedMultipleTimesWithinOneChangeset:240-266: both edits of
    # changeset 2 fold into ONE minor version stamped with the LAST edit's ts
    nodes = {1: [node(1, 1, 1, lon=1.0), node(2, 2, 2, lon=2.0), node(3, 3, 2, lon=3.0)]}
    majors = [way(1, 1, 1, [1])]
    assert seq(run(majors, nodes)) == [(1, 1, [1]), (2, 3, [3])]


def test_two_nodes_moved_within_one_changeset():
    # testTwoNodesMovedWithinOneChangeset:294-323
    nodes = {
        1: [node(1, 1, 1, lon=1.0), node(2, 2, 2, lon=1.1)],
        2: [node(1, 1, 1, lon=2.0), node(2, 2, 2, lon=2.2)],
    }
    majors = [way(1, 1, 1, [1, 2])]
    got = seq(run(majors, nodes))
    assert [g[0] for g in got] == [1, 2]


def test_two_nodes_moved_at_different_times_one_changeset():
    # testTwoNodesMovedAtDifferentTimepointsWithinOneChangeset:325-353
    nodes = {
        1: [node(1, 1, 1, lon=1.0), node(2, 2, 2, lon=1.1)],
        2: [node(1, 1, 1, lon=2.0), node(2, 3, 2, lon=2.2)],
    }
    majors = [way(1, 1, 1, [1, 2])]
    assert seq(run(majors, nodes)) == [(1, 1, [1, 1]), (2, 3, [2, 2])]


def test_multiple_nodes_reverse_order_one_changeset():
    # testMultipleNodesMovedInReverseOrderWithinOneChangeset:355-385
    nodes = {
        1: [node(1, 1, 1, lon=1.0), node(2, 3, 2, lon=1.1)],
        2: [node(1, 1, 1, lon=2.0), node(2, 2, 2, lon=2.2)],
    }
    majors = [way(1, 1, 1, [1, 2])]
    assert seq(run(majors, nodes)) == [(1, 1, [1, 1]), (2, 3, [2, 2])]


def test_referenced_node_older_ts_same_changeset():
    # testReferencedNodeHasOlderTimestampThanWay:387-414: member edit with
    # later ts but same changeset as the way → absorbed at init, no minor
    nodes = {1: [node(1, 1, 1, lon=1.0)], 2: [node(1, 3, 1, lon=2.0)]}
    majors = [way(1, 2, 1, [1, 2])]
    assert seq(run(majors, nodes)) == [(1, 2, [1, 1])]


def test_missing_member_yields_none_snapshot():
    # EmptyContributions analog (contrib/Contributions.java:17-23)
    majors = [way(1, 1, 1, [1, 99])]
    nodes = {1: [node(1, 1, 1, lon=1.0)]}
    got = run(majors, nodes)
    assert seq(got) == [(1, 1, [1, None])]


# ---------------------------------------------------------------------------
# converter semantics
# ---------------------------------------------------------------------------


def test_converter_minor_versions_and_status():
    nodes = {
        1: [
            node(1, 0, 1, lon=1.0),
            node(2, 1, 2, lon=2.0),
            node(3, 5, 5, lon=3.0),
            node(4, 6, 6, lon=4.0),
        ],
        2: [node(1, 0, 1, lon=0.0, lat=1.0)],
    }
    majors = [way(1, 2, 1, [1, 2]), way(2, 7, 1, [1, 2])]
    raw = merge_contributions(majors, {k: _Hist(v) for k, v in nodes.items()})
    rows = convert_contributions("way", 10, raw)
    assert [r["osm_version"] for r in rows] == [1, 1, 1, 2]
    assert [r["osm_minor_version"] for r in rows] == [0, 1, 2, 0]
    assert [r["osm_edits"] for r in rows] == [1, 2, 3, 4]
    assert [r["status"] for r in rows] == ["history", "history", "history", "latest"]
    # valid_from/valid_to chain
    assert rows[0]["valid_to"] == rows[1]["valid_from"]
    assert rows[-1]["valid_to"] == pd.Timestamp("2222-01-01")
    # geometry: two distinct points → LineString
    assert rows[0]["geometry_type"] == "LineString"
    assert rows[0]["length"] > 0
    assert rows[0]["contrib_type"] == "CREATION"
    # node 1 moved → GEOMETRY changes; tags unchanged → reference quirk adds TAG
    assert rows[1]["contrib_type"] == "TAG_GEOMETRY"


def test_converter_same_changeset_collapse():
    # raw run with same (version, changeset) keeps only the last, and the
    # first emitted row of a collapsed run starts at minor_version ≥ 1
    nodes = {1: [node(1, 1, 1, lon=1.0), node(2, 2, 1, lon=2.0)]}
    majors = [way(1, 1, 1, [1])]
    raw = merge_contributions(majors, {k: _Hist(v) for k, v in nodes.items()})
    # same changeset 1 → member edit at ts2 absorbed at init (OR-changeset), so
    # actually a single raw row here
    assert len(raw) == 1
    rows = convert_contributions("way", 10, raw)
    assert len(rows) == 1 and rows[0]["osm_minor_version"] == 0


def test_converter_collapse_run_keeps_last():
    # force a same-(version,changeset) run via two members edited in the same
    # changeset at different times with a different changeset id than the way
    nodes = {
        1: [node(1, 1, 1, lon=1.0), node(2, 2, 2, lon=1.5), node(3, 4, 2, lon=1.7)],
    }
    majors = [way(1, 1, 1, [1])]
    raw = merge_contributions(majors, {k: _Hist(v) for k, v in nodes.items()})
    assert seq(raw) == [(1, 1, [1]), (2, 4, [3])]
    rows = convert_contributions("way", 10, raw)
    assert len(rows) == 2
    assert rows[0]["valid_to"] == rows[1]["valid_from"]


def test_converter_deleted_carries_geometry():
    nodes = {1: [node(1, 1, 1, lon=1.0)], 2: [node(1, 1, 1, lon=2.0)]}
    majors = [way(1, 1, 1, [1, 2]), way(2, 5, 9, [1, 2], visible=False)]
    raw = merge_contributions(majors, {k: _Hist(v) for k, v in nodes.items()})
    rows = convert_contributions("way", 10, raw)
    assert rows[1]["status"] == "deleted"
    assert rows[1]["contrib_type"] == "DELETION"
    assert rows[1]["geometry"] == rows[0]["geometry"]  # carried forward
    assert rows[1]["area_delta"] == 0.0


def test_converter_polygon_area_and_invalid():
    ring_nodes = {
        1: [node(1, 1, 1, lon=0.0, lat=0.0)],
        2: [node(1, 1, 1, lon=0.01, lat=0.0)],
        3: [node(1, 1, 1, lon=0.01, lat=0.01)],
        4: [node(1, 1, 1, lon=0.0, lat=0.01)],
    }
    majors = [way(1, 1, 1, [1, 2, 3, 4, 1], tags={"building": "yes"})]
    raw = merge_contributions(majors, {k: _Hist(v) for k, v in ring_nodes.items()})
    rows = convert_contributions("way", 10, raw)
    assert rows[0]["geometry_type"] == "Polygon"
    assert 1.2e6 < rows[0]["area"] < 1.25e6
    # xz is filled from bbox by with_xz2_from_bbox AFTER the kernel (batched);
    # the kernel emits the bbox and the placeholder
    assert rows[0]["xz_level"] == -1
    assert rows[0]["xmin"] == 0.0 and rows[0]["xmax"] == 0.01
    import numpy as np

    from ohsome_planet_spark.functions.cells import xz2_code

    lvl, code = xz2_code(
        np.array([rows[0]["xmin"]]), np.array([rows[0]["ymin"]]),
        np.array([rows[0]["xmax"]]), np.array([rows[0]["ymax"]]),
    )
    assert lvl[0] > 0
    # invisible-only members → empty geometry → invalid
    ghost = {1: [node(1, 1, 1, lon=1.0, visible=False)]}
    majors2 = [way(1, 1, 1, [1])]
    raw2 = merge_contributions(majors2, {k: _Hist(v) for k, v in ghost.items()})
    rows2 = convert_contributions("way", 11, raw2)
    assert rows2[0]["status"] == "invalid"
    assert rows2[0]["xz_level"] == -1 and rows2[0]["xz_code"] == 0


def test_converter_area_no_override():
    ring_nodes = {
        1: [node(1, 1, 1, lon=0.0, lat=0.0)],
        2: [node(1, 1, 1, lon=0.01, lat=0.0)],
        3: [node(1, 1, 1, lon=0.01, lat=0.01)],
    }
    majors = [way(1, 1, 1, [1, 2, 3, 1], tags={"building": "yes", "area": "no"})]
    raw = merge_contributions(majors, {k: _Hist(v) for k, v in ring_nodes.items()})
    rows = convert_contributions("way", 10, raw)
    assert rows[0]["geometry_type"] == "LineString"


# --- the reference's two @Disabled cases (ContributionsWayTest.java:19-20,
# 269-291): its own documented semantic gaps, carried here as strict xfails.
# THIS engine exhibits the reference's ACTUAL behavior at the KERNEL layer
# (a member edit always opens a minor version, even when the geometry it
# contributes is unchanged), not the INTENDED behavior the disabled
# assertions describe — so both tests below assert the intended semantics
# and xfail. NOTE: at the PIPELINE layer both engines get the intended
# outcome anyway, because member histories resolve through the minor-node
# store whose version filter discards geometry-neutral edits before the
# merge (MinorNode.java:55-63 → minor_node_filter in the
# way_contributions/relation_contributions feed; see
# test_history_spark.test_member_tags_only_edit_no_minor and the
# way_history_minor_store oracle). These xfails pin the raw kernel only. ---


@pytest.mark.xfail(
    strict=True,
    reason="reference @Disabled testWays: 'Missing logic to pick up minor "
    "contributions based only on changes in geometry' — node re-versions at "
    "unchanged positions still emit a minor contribution",
)
def test_disabled_testWays_geometry_unchanged_minor_suppressed():
    raw = run(
        [way(1, 1, 1, [1, 2])],
        {
            1: [node(1, 1, 1, 0.0, 0.0), node(2, 2, 2, 0.0, 0.0)],
            2: [node(1, 1, 1, 0.0, 0.0), node(2, 2, 2, 0.0, 0.0)],
        },
    )
    rows = convert_contributions("way", 10, raw)
    # intended: one contribution only (geometry never changed)
    assert len(rows) == 1


def test_disabled_testWays_actual_behavior():
    """What this engine (and the reference engine) actually emits for the
    @Disabled testWays input: the node re-versions open one minor version;
    its geometry is unchanged so the contribution is TAG-only."""
    raw = run(
        [way(1, 1, 1, [1, 2])],
        {
            1: [node(1, 1, 1, 0.0, 0.0), node(2, 2, 2, 0.0, 0.0)],
            2: [node(1, 1, 1, 0.0, 0.0), node(2, 2, 2, 0.0, 0.0)],
        },
    )
    rows = convert_contributions("way", 10, raw)
    assert [(r["osm_version"], r["osm_minor_version"]) for r in rows] == [(1, 0), (1, 1)]
    assert rows[1]["contrib_type"] == "TAG"  # tags unchanged + geometry unchanged


@pytest.mark.xfail(
    strict=True,
    reason="reference @Disabled testNodeTagsModifiedMultipleTimesWithinOneChangeset: "
    "'Missing logic to discard geometry-unrelated edits to node'",
)
def test_disabled_node_tag_edits_within_changeset_suppressed():
    raw = run(
        [way(1, 1, 1, [1])],
        {1: [node(1, 1, 1, 1.0, 0.0), node(2, 2, 2, 1.0, 0.0), node(3, 3, 2, 1.0, 0.0)]},
    )
    rows = convert_contributions("way", 10, raw)
    # intended: the tag-only node edits never surface as a way contribution
    assert len(rows) == 1


def test_disabled_node_tag_edits_actual_behavior():
    """Actual behavior for the second @Disabled input: the two same-changeset
    node edits group into ONE minor version stamped with the LAST edit's ts."""
    raw = run(
        [way(1, 1, 1, [1])],
        {1: [node(1, 1, 1, 1.0, 0.0), node(2, 2, 2, 1.0, 0.0), node(3, 3, 2, 1.0, 0.0)]},
    )
    assert seq(raw) == [(1, 1, [1]), (2, 3, [3])]
    rows = convert_contributions("way", 10, raw)
    assert len(rows) == 2


# --- randomized parity: columnar converter vs the per-row twin -------------


def _rand_element(rng, eid):
    """Adversarial way history: deletions, invalid coords, area tags,
    same-(version,changeset) collapse runs, missing members."""
    n_nodes = rng.randint(1, 5)
    node_ids = list(range(eid * 100, eid * 100 + n_nodes))
    node_map = {}
    for nid in node_ids:
        rows = []
        t = 1000 + rng.randint(0, 50)
        for v in range(1, rng.randint(2, 6)):
            t += rng.randint(1, 300)
            rows.append(node(
                v, t, rng.randint(1, 6),
                lon=float(rng.choice([rng.uniform(-179, 179), 999.0])),
                lat=float(rng.uniform(-89, 89)),
                visible=bool(rng.random() > 0.15),
            ))
        node_map[nid] = rows
    majors = []
    t = 900
    closed = bool(rng.random() > 0.5) and n_nodes >= 3
    refs = node_ids + [node_ids[0]] if closed else node_ids
    # sprinkle a missing member
    if rng.random() > 0.7:
        refs = refs + [eid * 100 + 99]
    for v in range(1, rng.randint(2, 5)):
        t += rng.randint(0, 400)
        cs = rng.randint(1, 6)
        tags = {"building": "yes"} if closed and rng.random() > 0.3 else (
            {"name": f"w{v}"} if rng.random() > 0.5 else {})
        majors.append(way(v, t, cs, list(refs),
                          visible=bool(rng.random() > 0.2), tags=tags))
        # occasional same-(version, changeset) duplicate to force collapse
        if rng.random() > 0.8:
            t += rng.randint(1, 50)
            majors.append(way(v, t, cs, list(refs), visible=True, tags=tags))
    return majors, node_map


def test_columnar_converter_matches_per_row_twin():
    import numpy as np

    from tests.history_spec import (
        _ConvertBufs,
        collect_element_columnar,
        finalize_columnar,
    )

    rng = np.random.RandomState(42)
    bufs = _ConvertBufs()
    expected = []
    for eid in range(60):
        majors, node_map = _rand_element(rng, eid)
        raw = run(majors, node_map)
        expected.extend(convert_contributions("way", eid, raw))
        # fresh histories for the columnar pass (cursors are consumed)
        raw2 = run(majors, node_map)
        collect_element_columnar(bufs, "way", eid, raw2)
    got = finalize_columnar(bufs)
    assert len(got) == len(expected)
    exact_cols = [
        "osm_type", "osm_id", "osm_version", "osm_minor_version", "osm_edits",
        "osm_last_edit", "valid_from", "valid_to", "user_id", "user",
        "changeset", "tags", "tags_before", "status", "contrib_type",
        "geometry_type", "geometry", "refs", "countries",
    ]
    for i, exp in enumerate(expected):
        for c in exact_cols:
            g = got[c].iloc[i]
            e = exp[c]
            if c in ("osm_last_edit",) and e is None:
                assert pd.isna(g), (i, c)
            else:
                assert (g == e) or (g is None and e is None) or (
                    isinstance(g, float) and isinstance(e, float)
                    and g != g and e != e), (i, c, g, e)
        for c in ("xmin", "ymin", "xmax", "ymax"):
            g = got[c].iloc[i]
            e = exp[c]
            if e is None:
                assert g is pd.NA or pd.isna(g), (i, c, g)
            else:
                assert g == e, (i, c, g, e)  # min/max: associativity-free, exact
        # summed quantities (centroids, geodesics): the per-row twin uses
        # np.sum (PAIRWISE association from n=4 up) while the columnar
        # converter folds sequentially via add.reduceat — sequential is the
        # canonical order (it is what the DuckDB oracles compute), so the
        # twin may differ in the last ulp for geometries with ≥4 terms
        for c in ("centroid_x", "centroid_y"):
            g = got[c].iloc[i]
            e = exp[c]
            if e is None:
                assert g is pd.NA or pd.isna(g), (i, c, g)
            else:
                assert g == pytest.approx(e, rel=1e-13, abs=1e-300), (i, c, g, e)
        for c in ("area", "area_delta", "length", "length_delta"):
            assert got[c].iloc[i] == pytest.approx(exp[c], rel=1e-12, abs=1e-30), (i, c)


def test_minqueue_heap_matches_list_min():
    """The lazy-heap queue (taken for >16 members — long ways, boundary
    relations) must be output-identical to the list-min path, INCLUDING
    tie order: members sharing an edit (ts, changeset) but differing in
    uid/user must resolve to the first-in-queue-order stream (min()'s
    first-minimal pick == heap's (ts, cs, index) order)."""
    import numpy as np

    from ohsome_planet_spark.operators.history_arrow import _MinQueue

    rng = np.random.RandomState(7)
    n_members = 40  # > _HEAP_THRESHOLD → heap path in one run
    node_map = {}
    for nid in range(n_members):
        rows = []
        t = 1000
        for v in range(1, 6):
            # coarse time grid + small changeset range → many exact
            # (ts, changeset) ties across members
            t += int(rng.randint(1, 4)) * 100
            rows.append(node(v, t, int(rng.randint(1, 4)),
                             lon=float(nid), lat=float(v),
                             uid=nid, user=f"u{nid}"))
        node_map[nid] = rows
    majors = [way(1, 950, 1, list(range(n_members)))]

    def run_with_threshold(thr):
        old = _MinQueue._HEAP_THRESHOLD
        _MinQueue._HEAP_THRESHOLD = thr
        try:
            return run(majors, {k: list(v) for k, v in node_map.items()})
        finally:
            _MinQueue._HEAP_THRESHOLD = old

    raw_list = run_with_threshold(10_000)   # force list-min
    raw_heap = run_with_threshold(0)        # force heap
    assert len(raw_list) == len(raw_heap) > 5
    for a, b in zip(raw_list, raw_heap):
        assert (a["ts"], a["changeset"], a["user_id"], a["user"]) == (
            b["ts"], b["changeset"], b["user_id"], b["user"])
        assert a["members"] == b["members"]


def test_columnar_edge_cases():
    """Degenerate inputs through the columnar converter: empty refs (empty
    LineString), element starting deleted (no geometry to carry), members
    with out-of-range coords only (empty after filtering)."""
    from tests.history_spec import (
        _ConvertBufs,
        collect_element_columnar,
        finalize_columnar,
    )

    bufs = _ConvertBufs()
    # 1: way with no refs at all
    raw1 = run([way(1, 10, 1, [])], {})
    collect_element_columnar(bufs, "way", 1, raw1)
    # 2: first version deleted, second visible
    raw2 = run(
        [way(1, 10, 1, [5], visible=False), way(2, 20, 2, [5])],
        {5: [node(1, 1, 1, lon=3.0, lat=4.0)]},
    )
    collect_element_columnar(bufs, "way", 2, raw2)
    # 3: all member coords out of range → empty geometry while visible
    raw3 = run([way(1, 10, 1, [7])], {7: [node(1, 1, 1, lon=999.0, lat=0.0)]})
    collect_element_columnar(bufs, "way", 3, raw3)
    got = finalize_columnar(bufs)

    r1 = got[got.osm_id == 1].iloc[0]
    assert r1["status"] == "invalid" and r1["geometry"] is None
    assert r1["geometry_type"] == "LineString"  # empty linestring kind

    r2 = got[got.osm_id == 2].reset_index(drop=True)
    assert r2.loc[0, "status"] == "invalid"  # deleted with nothing to carry
    assert r2.loc[0, "geometry_type"] is None
    assert r2.loc[1, "status"] == "latest"
    assert r2.loc[1, "geometry_type"] == "Point"
    assert r2.loc[1, "contrib_type"] == "CREATION"

    r3 = got[got.osm_id == 3].iloc[0]
    assert r3["status"] == "invalid" and r3["geometry"] is None
    # cross-check against convert_contributions directly
    for osm_id, majors, nm in (
        (1, [way(1, 10, 1, [])], {}),
        (2, [way(1, 10, 1, [5], visible=False), way(2, 20, 2, [5])],
         {5: [node(1, 1, 1, lon=3.0, lat=4.0)]}),
        (3, [way(1, 10, 1, [7])], {7: [node(1, 1, 1, lon=999.0, lat=0.0)]}),
    ):
        rows = convert_contributions("way", osm_id, run(majors, nm))
        sub = got[got.osm_id == osm_id].reset_index(drop=True)
        assert len(rows) == len(sub)
        for i, e in enumerate(rows):
            assert sub.loc[i, "status"] == e["status"]
            assert sub.loc[i, "contrib_type"] == e["contrib_type"]
            g = sub.loc[i, "geometry"]
            assert (g == e["geometry"]) or (g is None and e["geometry"] is None)


# --- minor-store version filters (MinorNode.java:55-63, MinorWay.java:76-91;
# the reference's MinorTest ported verbatim). These run at the member-FEED
# layer of way_contributions / relation_contributions, which is how the real
# pipeline realizes the @Disabled tests' intended semantics (member versions
# that don't change geometry never reach the merge). ---


def test_minor_node_filter_reference_minortest():
    from tests.history_spec import minor_node_filter

    rows = [
        node(0, 0, 0, 0.0, 0.0, visible=False, uid=1, user="test"),
        node(1, 1, 1, 0.0, 0.0, uid=1, user="test"),
        node(2, 2, 2, 1.0, 1.0, uid=1, user="test"),
        node(3, 3, 3, 1.0, 1.0, uid=1, user="test"),   # tags-only edit
        node(4, 4, 4, 2.0, 2.0, uid=1, user="test"),
        node(5, 5, 5, 2.0, 2.0, visible=False, uid=1, user="test"),
        node(6, 6, 6, 2.0, 2.0, uid=6, user="6"),
    ]
    kept = minor_node_filter(rows)
    assert len(kept) == 5
    assert [r["lon"] for r in kept] == [0.0, 1.0, 2.0, 2.0, 2.0]
    assert kept[3]["visible"] is False
    assert kept[4]["visible"] is True
    assert kept[4]["user_id"] == 6 and kept[4]["user"] == "6"


def test_minor_node_filter_single_axis_move_dropped():
    """The reference's `&&`: a visible→visible version moving only ONE axis
    is dropped, and the next version compares against the last KEPT coords
    (state advances only on keep)."""
    from tests.history_spec import minor_node_filter

    rows = [
        node(1, 1, 1, 0.0, 0.0),
        node(2, 2, 2, 0.0, 5.0),   # lon unchanged → dropped
        node(3, 3, 3, 1.0, 5.0),   # vs KEPT (0,0): both differ → kept
        node(4, 4, 4, 1.0, 9.0),   # lon unchanged vs kept (1,5) → dropped
    ]
    kept = minor_node_filter(rows)
    assert [(r["lon"], r["lat"]) for r in kept] == [(0.0, 0.0), (1.0, 5.0)]


def test_minor_node_filter_leading_and_consecutive_invisible_skipped():
    from tests.history_spec import minor_node_filter

    rows = [
        node(1, 1, 1, 0.0, 0.0, visible=False),
        node(2, 2, 2, 0.0, 0.0, visible=False),
        node(3, 3, 3, 1.0, 1.0),
        node(4, 4, 4, 1.0, 1.0, visible=False),
        node(5, 5, 5, 1.0, 1.0, visible=False),  # consecutive invisible
        node(6, 6, 6, 1.0, 1.0),                 # restore, same coords: kept
    ]
    kept = minor_node_filter(rows)
    assert [(r["version"], r["visible"]) for r in kept] == [
        (3, True), (4, False), (6, True)]


def test_minor_way_filter_reference_minortest():
    from tests.history_spec import minor_way_filter

    rows = [
        way(1, 1, 1, [3, 4, 5, 1, 2, 3], uid=1, user="heigit"),
        way(2, 2, 2, [3, 4, 5, 1, 2, 3], uid=23, user="ohsome"),  # tag-only
        way(3, 3, 3, [], visible=False, uid=999, user="test"),
        way(4, 4, 4, [1, 2, 3, 4, 5, 6], uid=123, user="123"),
    ]
    kept = minor_way_filter(rows)
    assert len(kept) == 3
    assert kept[0]["refs"] == [3, 4, 5, 1, 2, 3] and kept[0]["user"] == "heigit"
    assert kept[1]["visible"] is False and kept[1]["user_id"] == 999
    assert kept[2]["refs"] == [1, 2, 3, 4, 5, 6] and kept[2]["user"] == "123"


def test_minor_way_filter_empty_refs_first_version_dropped():
    """Verbatim reference quirk (`MinorWay.Builder.clear()` seeds allRefs
    with an empty list): a degenerate FIRST visible version with empty refs
    compares equal to the seed and is dropped — only the deletion marker
    and the later real version survive."""
    from tests.history_spec import minor_way_filter

    rows = [
        way(1, 1, 1, []),                       # visible, refs=[] → dropped
        way(2, 2, 2, [], visible=False),        # deletion marker → kept
        way(3, 3, 3, [1, 2]),                   # refs change → kept
    ]
    kept = minor_way_filter(rows)
    assert [(r["version"], r["visible"]) for r in kept] == [(2, False), (3, True)]
