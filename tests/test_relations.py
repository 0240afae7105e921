"""Relation contributions: transitive member resolution (J2), multipolygon
geometry (K4/K5), GeometryCollection bbox storage (K6), minor versions from
member-way/node edits (ported from ContributionsRelationTest scenarios)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.functions.wkb import wkb_loads
from ohsome_planet_spark.operators.history import relation_contributions

REL_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, "
    "members array<struct<type:string, id:long, role:string>>"
)
WAY_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, refs array<long>"
)
NODE_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, lon double, lat double"
)


def ts(s):
    return pd.Timestamp(s, unit="s").to_pydatetime()


@pytest.fixture(scope="module")
def data(spark):
    # square outer ring from two ways (1: bottom+right, 2: top+left),
    # plus a hole way (3), plus a non-MP relation with a node member
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 0.0, 0.0),
            (2, 1, ts(1), 1, 1, "a", True, 10.0, 0.0),
            (3, 1, ts(1), 1, 1, "a", True, 10.0, 10.0),
            (4, 1, ts(1), 1, 1, "a", True, 0.0, 10.0),
            (5, 1, ts(1), 1, 1, "a", True, 4.0, 4.0),
            (6, 1, ts(1), 1, 1, "a", True, 6.0, 4.0),
            (7, 1, ts(1), 1, 1, "a", True, 6.0, 6.0),
            (8, 1, ts(1), 1, 1, "a", True, 4.0, 6.0),
            # node 3 moves later (changeset 5) → relation minor version
            (3, 2, ts(30), 5, 2, "b", True, 11.0, 11.0),
            (9, 1, ts(1), 1, 1, "a", True, 2.0, 2.0),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (101, 1, ts(2), 1, 1, "a", True, {}, [1, 2, 3]),
            (102, 1, ts(2), 1, 1, "a", True, {}, [3, 4, 1]),
            (103, 1, ts(2), 1, 1, "a", True, {}, [5, 6, 7, 8, 5]),
        ],
        WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [
            (
                1001, 1, ts(10), 1, 1, "a", True, {"type": "multipolygon"},
                [("way", 101, "outer"), ("way", 102, "outer"), ("way", 103, "inner")],
            ),
            (
                1002, 1, ts(10), 1, 1, "a", True, {"type": "route"},
                [("way", 101, ""), ("node", 9, "stop")],
            ),
        ],
        REL_SCHEMA,
    )
    return relations, ways, nodes


def test_multipolygon_relation_geometry(spark, data):
    relations, ways, nodes = data
    got = relation_contributions(relations, ways, nodes).where(
        F.col("osm_id") == 1001
    ).orderBy("osm_edits").collect()
    assert len(got) == 2  # major @10 + minor when node 3 moves @30
    first = got[0]
    assert first["geometry_type"] == "MultiPolygon"
    kind, polys = wkb_loads(bytes(first["geometry"]))
    assert kind == "MultiPolygon" and len(polys) == 1
    assert len(polys[0]) == 2  # shell + hole
    assert first["status"] == "history"
    assert first["osm_minor_version"] == 0
    # hole excluded from area: 100-ish minus 4-ish in degree² geodesic m²
    assert first["area"] > 0
    second = got[1]
    assert second["osm_minor_version"] == 1
    assert second["changeset"] == 5
    assert pd.Timestamp(second["valid_from"]) == pd.Timestamp(30, unit="s")
    assert second["contrib_type"] == "TAG_GEOMETRY"
    # moved corner is reflected in the new shell
    _, polys2 = wkb_loads(bytes(second["geometry"]))
    shell_pts = {tuple(p) for p in polys2[0][0]}
    assert (11.0, 11.0) in shell_pts


def test_non_mp_relation_bbox_only(spark, data):
    relations, ways, nodes = data
    got = relation_contributions(relations, ways, nodes).where(
        F.col("osm_id") == 1002
    ).orderBy("osm_edits").collect()
    first = got[0]
    assert first["geometry_type"] == "GeometryCollection"
    kind, rings = wkb_loads(bytes(first["geometry"]))
    assert kind == "Polygon"  # bbox polygon stored in place of the collection
    xs = [p[0] for p in rings[0]]
    ys = [p[1] for p in rings[0]]
    assert min(xs) == 0.0 and max(xs) == 10.0
    assert min(ys) == 0.0 and max(ys) == 10.0
    assert first["member_types"] == ["way", "node"]
    assert first["member_roles"] == ["", "stop"]


def test_members_threshold_forces_collection(spark):
    # >500 members → not a multipolygon even with type=multipolygon
    n_members = 501
    nodes = spark.createDataFrame(
        [(i, 1, ts(1), 1, 1, "a", True, float(i % 10), float(i // 10 % 10)) for i in range(1, 4)],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(200 + i, 1, ts(1), 1, 1, "a", True, {}, [1, 2, 3]) for i in range(n_members)],
        WAY_SCHEMA,
    )
    members = [("way", 200 + i, "outer") for i in range(n_members)]
    relations = spark.createDataFrame(
        [(2001, 1, ts(5), 1, 1, "a", True, {"type": "multipolygon"}, members)],
        REL_SCHEMA,
    )
    got = relation_contributions(relations, ways, nodes).collect()
    assert got[0]["geometry_type"] == "GeometryCollection"


def test_invalid_mp_empty_geometry(spark):
    # multipolygon whose member ways cross → build fails → invalid status
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 0.0, 0.0),
            (2, 1, ts(1), 1, 1, "a", True, 2.0, 0.0),
            (3, 1, ts(1), 1, 1, "a", True, 2.0, 2.0),
            (4, 1, ts(1), 1, 1, "a", True, 0.0, 2.0),
            (5, 1, ts(1), 1, 1, "a", True, 1.0, 1.0),
            (6, 1, ts(1), 1, 1, "a", True, 3.0, 1.0),
            (7, 1, ts(1), 1, 1, "a", True, 3.0, 3.0),
            (8, 1, ts(1), 1, 1, "a", True, 1.0, 3.0),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (301, 1, ts(1), 1, 1, "a", True, {}, [1, 2, 3, 4, 1]),
            (302, 1, ts(1), 1, 1, "a", True, {}, [5, 6, 7, 8, 5]),
        ],
        WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [(3001, 1, ts(5), 1, 1, "a", True, {"type": "multipolygon"},
          [("way", 301, "outer"), ("way", 302, "outer")])],
        REL_SCHEMA,
    )
    got = relation_contributions(relations, ways, nodes).collect()
    assert got[0]["status"] == "invalid"
    assert got[0]["geometry"] is None
    # bbox/centroid/xz still come from the non-empty member collection
    # (ContributionsAvroConverter.java:128-131)
    assert (got[0]["xmin"], got[0]["ymin"], got[0]["xmax"], got[0]["ymax"]) == (0.0, 0.0, 3.0, 3.0)
    assert (got[0]["centroid_x"], got[0]["centroid_y"]) == (1.5, 1.5)
    assert got[0]["xz_level"] >= 0


def test_non_outer_roles_dropped_from_multipolygon(spark):
    """Only 'outer'/blank roles are outers; 'subarea' etc. are dropped
    (ContributionGeometry.relGeometryMultiPolygon:89-98, ADVICE r1)."""
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 0.0, 0.0),
            (2, 1, ts(1), 1, 1, "a", True, 2.0, 0.0),
            (3, 1, ts(1), 1, 1, "a", True, 2.0, 2.0),
            (4, 1, ts(1), 1, 1, "a", True, 0.0, 2.0),
            # far-away square that must NOT join the geometry
            (5, 1, ts(1), 1, 1, "a", True, 50.0, 50.0),
            (6, 1, ts(1), 1, 1, "a", True, 52.0, 50.0),
            (7, 1, ts(1), 1, 1, "a", True, 52.0, 52.0),
            (8, 1, ts(1), 1, 1, "a", True, 50.0, 52.0),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (401, 1, ts(1), 1, 1, "a", True, {}, [1, 2, 3, 4, 1]),
            (402, 1, ts(1), 1, 1, "a", True, {}, [5, 6, 7, 8, 5]),
        ],
        WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [(4001, 1, ts(5), 1, 1, "a", True, {"type": "multipolygon"},
          [("way", 401, "outer"), ("way", 402, "subarea")])],
        REL_SCHEMA,
    )
    got = relation_contributions(relations, ways, nodes).collect()
    assert got[0]["geometry_type"] == "MultiPolygon"
    # bbox covers only the outer ring — the subarea way is dropped
    assert (got[0]["xmin"], got[0]["ymin"], got[0]["xmax"], got[0]["ymax"]) == (0.0, 0.0, 2.0, 2.0)
    kind, polys = wkb_loads(bytes(got[0]["geometry"]))
    assert kind == "MultiPolygon" and len(polys) == 1


def test_gc_centroid_dimension_priority(spark):
    """JTS getCentroid over a collection: lines dominate points
    (length-weighted), polygons dominate lines (area-weighted) — ADVICE r1."""
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 0.0, 0.0),
            (2, 1, ts(1), 1, 1, "a", True, 10.0, 0.0),
            # stray point member far away — must not shift the centroid
            (9, 1, ts(1), 1, 1, "a", True, 100.0, 80.0),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(501, 1, ts(1), 1, 1, "a", True, {}, [1, 2])],
        WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [(5001, 1, ts(5), 1, 1, "a", True, {"type": "route"},
          [("way", 501, ""), ("node", 9, "")])],
        REL_SCHEMA,
    )
    got = relation_contributions(relations, ways, nodes).collect()
    assert got[0]["geometry_type"] == "GeometryCollection"
    # length-weighted: midpoint of the line, point member ignored
    assert (got[0]["centroid_x"], got[0]["centroid_y"]) == (5.0, 0.0)
    # bbox still covers everything
    assert (got[0]["xmax"], got[0]["ymax"]) == (100.0, 80.0)


def test_gc_degenerate_envelope_stored_as_point(spark):
    """Single-node collection → envelope degenerates → stored WKB is a
    Point (GeometryFactory.toGeometry(Envelope) semantics)."""
    nodes = spark.createDataFrame(
        [(9, 1, ts(1), 1, 1, "a", True, 7.0, 8.0)], NODE_SCHEMA
    )
    ways = spark.createDataFrame([], WAY_SCHEMA)
    relations = spark.createDataFrame(
        [(6001, 1, ts(5), 1, 1, "a", True, {"type": "site"}, [("node", 9, "")])],
        REL_SCHEMA,
    )
    got = relation_contributions(relations, ways, nodes).collect()
    kind, data = wkb_loads(bytes(got[0]["geometry"]))
    assert kind == "Point" and data == (7.0, 8.0)
    assert (got[0]["centroid_x"], got[0]["centroid_y"]) == (7.0, 8.0)


def test_member_geometries_emitted(spark):
    """Per-member geometry_type + WKB land in the relation output
    (ContributionsAvroConverter.member():194-209)."""
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 0.0, 0.0),
            (2, 1, ts(1), 1, 1, "a", True, 2.0, 0.0),
            (9, 1, ts(1), 1, 1, "a", True, 7.0, 8.0),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(701, 1, ts(1), 1, 1, "a", True, {}, [1, 2])], WAY_SCHEMA
    )
    relations = spark.createDataFrame(
        [(7001, 1, ts(5), 1, 1, "a", True, {"type": "route"},
          [("way", 701, ""), ("node", 9, "stop"), ("relation", 42, "sub")])],
        REL_SCHEMA,
    )
    got = relation_contributions(relations, ways, nodes).collect()[0]
    assert got["member_geom_types"] == ["LineString", "Point", None]
    line = wkb_loads(bytes(got["member_geoms"][0]))
    assert line[0] == "LineString" and [tuple(p) for p in line[1]] == [(0.0, 0.0), (2.0, 0.0)]
    pt = wkb_loads(bytes(got["member_geoms"][1]))
    assert pt == ("Point", (7.0, 8.0))
    assert got["member_geoms"][2] is None  # unresolved nested relation


def test_batched_member_entries_match_scalar_path():
    """_MemberEntryBatch (one vectorized pass per partition) must agree with
    the on-demand scalar _member_entry path for every converter column.
    Randomized relations: way members of varied sizes (incl. closed area
    ways → Polygons), hidden/missing member nodes, deletions. Summed floats
    (centroids/areas) compare at last-ulp tolerance — the scalar twin uses
    np.sum (pairwise from n=4) where the batch folds sequentially."""
    import numpy as np
    import pandas as pd

    from tests.history_spec import (
        _Hist,
        _MemberEntryBatch,
        convert_relation_contributions,
        merge_contributions,
    )

    rng = np.random.RandomState(11)

    def build_relation(rid):
        n_ways = rng.randint(1, 4)
        way_rows = {}
        node_hists = {}
        nid = 0
        for w in range(n_ways):
            n_nodes = rng.randint(2, 8)
            refs = list(range(nid, nid + n_nodes))
            closed = n_nodes >= 3 and rng.random() > 0.5
            if closed:
                refs = refs + [refs[0]]
            for r in range(nid, nid + n_nodes):
                rows = []
                t = 1_000_000_000_000_000  # after the relation major's ts
                for v in range(1, rng.randint(2, 5)):
                    t += int(rng.randint(1, 500)) * 1_000_000_000
                    rows.append({
                        "ts": t, "changeset": int(rng.randint(1, 5)),
                        "user_id": 1, "user": "u", "version": v,
                        "visible": bool(rng.random() > 0.1),
                        "lon": float(rng.uniform(-170, 170)),
                        "lat": float(rng.uniform(-80, 80)),
                    })
                node_hists[r] = rows
            nid += n_nodes
            tags = {"building": "yes"} if closed and rng.random() > 0.4 else {}
            way_rows[w] = [{
                "version": 1, "ts": 999_000_000_000_000, "changeset": 1,
                "user_id": 1, "user": "u", "visible": True,
                "tags": tags, "refs": refs,
            }]
        majors = [{
            "version": 1, "ts": 999_500_000_000_000, "changeset": 1,
            "user_id": 1, "user": "u", "visible": True,
            "tags": {"type": "route"},
            "refs": [("way", w, "") for w in way_rows] + [("node", 0, "")],
        }]
        way_hists = {}
        for wid, wm in way_rows.items():
            fresh = {k: _Hist(list(v), max_ts=1 << 62) for k, v in node_hists.items()}
            way_hists[wid] = _Hist(merge_contributions(wm, fresh, max_ts=1 << 62),
                                   max_ts=1 << 62)
        hists = {}
        for m in majors[0]["refs"]:
            if m[0] == "way":
                hists[m] = way_hists[m[1]].clone()
            elif m[1] in node_hists:
                hists[m] = _Hist(list(node_hists[m[1]]), max_ts=1 << 62)
        raw = merge_contributions(majors, hists, max_ts=1 << 62)
        for c in raw:
            c["rel_members"] = [
                {"type": r[0], "id": r[1], "role": r[2], "snapshot": s}
                for r, s in zip(c["refs"], c["members"])
            ]
        return raw

    rels = [build_relation(rid) for rid in range(25)]
    # scalar path: per-call on-demand cache
    scalar = []
    for rid, raw in enumerate(rels):
        scalar.extend(convert_relation_contributions(rid, raw, valid_to_sentinel=1 << 61))
    # batched path: partition-wide pre-scan + vectorized entry pass
    b = _MemberEntryBatch()
    for raw in rels:
        for c in raw:
            for m in c["rel_members"]:
                b.scan(m)
    cache = b.finalize()
    batched = []
    for rid, raw in enumerate(rels):
        batched.extend(convert_relation_contributions(
            rid, raw, valid_to_sentinel=1 << 61, entry_cache=cache))
    assert len(scalar) == len(batched) > 50
    approx_cols = {"centroid_x", "centroid_y", "area", "area_delta"}
    for a, g in zip(scalar, batched):
        assert set(a) == set(g)
        for c, av in a.items():
            gv = g[c]
            if c in approx_cols and isinstance(av, float) and av == av:
                assert gv == pytest.approx(av, rel=1e-12, abs=1e-250), (c, av, gv)
            elif isinstance(av, float) and av != av:
                assert gv != gv, c
            else:
                assert av == gv, (c, av, gv)


def test_member_way_tag_only_edit_no_relation_minor(spark):
    """Minor-way store filter at the relation feed (`MinorWay.java:83`):
    a member-way re-version whose refs are unchanged (tag-only edit) never
    reaches the relation merge, so no relation minor version opens; a later
    refs change does."""
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 0.0, 0.0),
            (2, 1, ts(1), 1, 1, "a", True, 5.0, 5.0),
            (3, 1, ts(1), 1, 1, "a", True, 9.0, 2.0),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (201, 1, ts(2), 1, 1, "a", True, {}, [1, 2]),
            (201, 2, ts(30), 5, 2, "b", True, {"highway": "path"}, [1, 2]),
            (201, 3, ts(40), 6, 2, "b", True, {}, [1, 2, 3]),
        ],
        WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [(2001, 1, ts(10), 1, 1, "a", True, {"type": "route"},
          [("way", 201, "")])],
        REL_SCHEMA,
    )
    rows = (relation_contributions(relations, ways, nodes)
            .orderBy("osm_edits").collect())
    # v2 (tag-only, refs unchanged) filtered; v3 (refs change) opens a minor
    assert [(r["osm_version"], r["osm_minor_version"]) for r in rows] == [
        (1, 0), (1, 1)]
    assert pd.Timestamp(rows[1]["valid_from"]) == pd.Timestamp(40, unit="s")
