"""Relation temporal-merge goldens — the reference's ContributionsRelationTest
scenarios (/root/reference/ohsome-contributions/src/test/java/.../
ContributionsRelationTest.java:66-231) re-expressed against the local kernel:
node/way member edits propagate as relation minor versions; member lists can
change across major versions.
"""

import pandas as pd

from tests.history_spec import _Hist, merge_contributions


def node(v, ts, cs, lon=0.0, lat=0.0):
    return {
        "ts": pd.Timestamp(ts, unit="s"), "changeset": cs, "user_id": cs,
        "user": "", "version": v, "visible": True, "lon": lon, "lat": lat,
    }


def way_major(v, ts, cs, refs):
    return {
        "version": v, "ts": pd.Timestamp(ts, unit="s"), "changeset": cs,
        "user_id": cs, "user": "", "visible": True, "tags": {}, "refs": refs,
    }


def rel_major(v, ts, cs, member_keys):
    return {
        "version": v, "ts": pd.Timestamp(ts, unit="s"), "changeset": cs,
        "user_id": cs, "user": "", "visible": True, "tags": {},
        "refs": member_keys,
    }


# fixture histories mirroring the reference's nodes A/B/C and ways AB/BC/CA
NODES = {
    1: [node(1, 1, 1, 0.0, 0.0), node(2, 2, 2, 1.0, 0.0)],
    2: [node(1, 1, 1, 0.0, 0.5), node(2, 2, 2, 0.0, 1.0)],
    3: [node(1, 1, 1, 0.0, 2.0)],
}
WAYS = {
    12: [way_major(1, 1, 1, [1, 2])],
    23: [way_major(1, 1, 1, [2, 3])],
    31: [way_major(1, 2, 2, [3, 1]), way_major(2, 3, 3, [3, 1])],
}


def build_member_hists():
    node_hists = {k: _Hist(v) for k, v in NODES.items()}
    way_hists = {}
    for wid, majors in WAYS.items():
        fresh = {k: _Hist(h.rows) for k, h in node_hists.items()}
        way_hists[wid] = _Hist(merge_contributions(majors, fresh))
    return node_hists, way_hists


def run_relation(rel_majors, member_map):
    raw = merge_contributions(rel_majors, member_map)
    return [(c["version"], c["changeset"], int(c["ts"].timestamp())) for c in raw]


def test_single_node_relation():
    # ContributionsRelationTest.testSingleNodeRelation:67-93
    node_hists, _ = build_member_hists()
    majors = [rel_major(1, 1, 1, [("node", 1, "busstop")])]
    members = {("node", 1, "busstop"): _Hist(node_hists[1].rows)}
    assert run_relation(majors, members) == [(1, 1, 1), (1, 2, 2)]


def test_two_nodes_relation():
    # :95-121 — node B v2 and relation share changeset 2 → absorbed, 1 contribution
    node_hists, _ = build_member_hists()
    majors = [rel_major(1, 2, 2, [("node", 2, "busstop"), ("node", 3, "busstop")])]
    members = {
        ("node", 2, "busstop"): _Hist(node_hists[2].rows),
        ("node", 3, "busstop"): _Hist(node_hists[3].rows),
    }
    assert run_relation(majors, members) == [(1, 2, 2)]


def test_two_ways_relation():
    # :123-152 — way AB's minor (node edits @2, cs2) propagates to the relation
    _, way_hists = build_member_hists()
    majors = [rel_major(1, 1, 1, [("way", 12, "busline"), ("way", 23, "busline")])]
    members = {
        ("way", 12, "busline"): _Hist(way_hists[12].rows),
        ("way", 23, "busline"): _Hist(way_hists[23].rows),
    }
    assert run_relation(majors, members) == [(1, 1, 1), (1, 2, 2)]


def test_minor_versions_from_nodes_and_ways():
    # :154-192 — minor @2 (node edits via member ways) and minor @3 (way CA v2)
    _, way_hists = build_member_hists()
    keys = [("way", 12, "busline"), ("way", 23, "busline"), ("way", 31, "busline")]
    majors = [rel_major(1, 1, 1, keys)]
    members = {k: _Hist(way_hists[k[1]].rows) for k in keys}
    assert run_relation(majors, members) == [(1, 1, 1), (1, 2, 2), (1, 3, 3)]


def test_major_versions_with_different_members():
    # :194-231 — member list shrinks at v2; no extra minors emitted
    _, way_hists = build_member_hists()
    keys = [("way", 12, "busline"), ("way", 23, "busline"), ("way", 31, "busline")]
    majors = [rel_major(1, 2, 2, keys), rel_major(2, 3, 3, keys[:2])]
    members = {k: _Hist(way_hists[k[1]].rows) for k in keys}
    raw = merge_contributions(majors, members)
    got = [(c["version"], c["changeset"], int(c["ts"].timestamp()), len(c["members"])) for c in raw]
    assert got == [(1, 2, 2, 3), (2, 3, 3, 2)]
