"""Distributed way_contributions == local merge+convert, plus plan checks."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.functions.pip_index import PolygonIndex
from ohsome_planet_spark.operators.history import way_contributions
from ohsome_planet_spark.sources.countries import fixture_features
from tests.history_spec import (
    _Hist,
    convert_contributions,
    merge_contributions,
    minor_node_filter,
)
from tests.test_pip_index import join_geom_spec

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
def micro(spark):
    ways = spark.createDataFrame(
        [
            # way 10: square building that later loses a corner move
            (10, 1, ts(10), 1, 1, "a", True, {"building": "yes"}, [1, 2, 3, 4, 1]),
            (10, 2, ts(50), 7, 2, "b", True, {"building": "yes", "name": "x"}, [1, 2, 3, 4, 1]),
            # way 11: open path, later deleted
            (11, 1, ts(10), 1, 1, "a", True, {"highway": "path"}, [5, 6]),
            (11, 2, ts(40), 9, 3, "c", False, {}, [5, 6]),
            # way 12: single-node way (degenerate)
            (12, 1, ts(5), 2, 1, "a", True, {}, [5]),
        ],
        WAY_SCHEMA,
    )
    nodes = spark.createDataFrame(
        [
            # node 1's v2 moves BOTH axes: the minor-node store filter keeps
            # a visible→visible version only when lon AND lat change
            # (MinorNode.java:57 — see test_member_single_axis_move_no_minor)
            (1, 1, ts(1), 1, 1, "a", True, 7.0, 12.0),
            (1, 2, ts(20), 3, 2, "b", True, 7.05, 12.02),
            (2, 1, ts(1), 1, 1, "a", True, 7.1, 12.0),
            (3, 1, ts(1), 1, 1, "a", True, 7.1, 12.1),
            (4, 1, ts(1), 1, 1, "a", True, 7.0, 12.1),
            (5, 1, ts(2), 2, 1, "a", True, 20.0, 15.0),
            (5, 2, ts(30), 8, 3, "c", True, 20.5, 15.2),
            (6, 1, ts(2), 2, 1, "a", True, 21.0, 15.5),
        ],
        NODE_SCHEMA,
    )
    return ways, nodes


def local_expected(ways_rows, nodes_rows, way_id, index=None):
    majors = [
        {
            "version": r[1], "ts": pd.Timestamp(r[2]), "changeset": r[3],
            "user_id": r[4], "user": r[5], "visible": r[6], "tags": r[7],
            "refs": r[8],
        }
        for r in sorted((r for r in ways_rows if r[0] == way_id), key=lambda r: (r[1], r[2]))
    ]
    by_node = {}
    for r in sorted(nodes_rows, key=lambda r: (r[0], r[1], r[2])):
        by_node.setdefault(r[0], []).append(
            {
                "ts": pd.Timestamp(r[2]), "changeset": r[3], "user_id": r[4],
                "user": r[5], "version": r[1], "visible": r[6],
                "lon": r[7], "lat": r[8],
            }
        )
    ref_ids = {x for m in majors for x in m["refs"]}
    # the local twin resolves members through the same minor-store filter as
    # the distributed feed layer (way_contributions partition_fn)
    hists = {
        k: _Hist(minor_node_filter(v))
        for k, v in by_node.items() if k in ref_ids
    }
    raw = merge_contributions(majors, hists)
    joiner = (lambda g: join_geom_spec(index, g[0], g[1])) if index else None
    return convert_contributions("way", way_id, raw, country_join=joiner)


def test_spark_matches_local(spark, micro):
    ways, nodes = micro
    idx = PolygonIndex(fixture_features(), grid_zoom=None)
    got = (
        way_contributions(ways, nodes, country_index=idx)
        .orderBy("osm_id", "osm_edits")
        .collect()
    )
    ways_rows = [tuple(r) for r in ways.collect()]
    nodes_rows = [tuple(r) for r in nodes.collect()]
    exp = []
    for wid in (10, 11, 12):
        exp.extend(local_expected(ways_rows, nodes_rows, wid, index=idx))
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert g["osm_id"] == e["osm_id"]
        assert g["osm_version"] == e["osm_version"]
        assert g["osm_minor_version"] == e["osm_minor_version"]
        assert g["status"] == e["status"]
        assert g["contrib_type"] == e["contrib_type"]
        assert g["geometry_type"] == e["geometry_type"]
        assert (bytes(g["geometry"]) if g["geometry"] is not None else None) == e["geometry"]
        assert g["countries"] == e["countries"]
        assert g["area"] == pytest.approx(e["area"])
        assert g["length"] == pytest.approx(e["length"])
        assert pd.Timestamp(g["valid_from"]) == e["valid_from"]
        assert pd.Timestamp(g["valid_to"]) == e["valid_to"]


def test_minor_versions_emitted(spark, micro):
    ways, nodes = micro
    df = way_contributions(ways, nodes)
    w10 = df.where(F.col("osm_id") == 10).orderBy("osm_edits").collect()
    # way 10: v1@10, minor (node1 v2 moved @20 cs3), v2@50
    assert [(r["osm_version"], r["osm_minor_version"]) for r in w10] == [
        (1, 0), (1, 1), (2, 0),
    ]
    assert w10[0]["geometry_type"] == "Polygon"
    assert w10[1]["contrib_type"] == "TAG_GEOMETRY"
    assert w10[2]["tags_before"] == {"building": "yes"}


def test_deleted_way_carries_geometry(spark, micro):
    ways, nodes = micro
    df = way_contributions(ways, nodes)
    w11 = df.where(F.col("osm_id") == 11).orderBy("osm_edits").collect()
    assert [r["status"] for r in w11] == ["history", "history", "deleted"]
    assert bytes(w11[2]["geometry"]) == bytes(w11[1]["geometry"])


def test_way_countries_line_crossing(spark, micro):
    """Way 11 is a line inside BBB/EEE overlap → both countries."""
    ways, nodes = micro
    idx = PolygonIndex(fixture_features(), grid_zoom=None)
    df = way_contributions(ways, nodes, country_index=idx)
    w11 = df.where((F.col("osm_id") == 11)).orderBy("osm_edits").first()
    assert w11["countries"] == ["BBB", "EEE"]


def test_member_tags_only_edit_no_minor(spark):
    """End-to-end realization of the reference's @Disabled 'minor
    contributions based only on changes in geometry': a member-node version
    with unchanged coords (a tag/user-only edit) is filtered by the
    minor-node store feed, so the way emits NO minor version — matching the
    real pipeline, where member nodes resolve through the RocksDB store
    (TransformerWays.fetchMinors) rather than the raw history."""
    ways = spark.createDataFrame(
        [(20, 1, ts(10), 1, 1, "a", True, {}, [7, 8])], WAY_SCHEMA)
    nodes = spark.createDataFrame(
        [
            (7, 1, ts(1), 1, 1, "a", True, 1.0, 2.0),
            (7, 2, ts(30), 5, 2, "b", True, 1.0, 2.0),   # tags-only re-version
            (8, 1, ts(1), 1, 1, "a", True, 3.0, 4.0),
        ],
        NODE_SCHEMA,
    )
    rows = way_contributions(ways, nodes).collect()
    assert [(r["osm_version"], r["osm_minor_version"]) for r in rows] == [(1, 0)]


def test_member_single_axis_move_no_minor(spark):
    """The store's `&&` quirk, preserved verbatim (MinorNode.java:57): a
    member move that changes only one axis is dropped from the minor store,
    so it opens no way minor version; a later both-axis move compares
    against the last KEPT coords and does."""
    ways = spark.createDataFrame(
        [(21, 1, ts(10), 1, 1, "a", True, {}, [7, 8])], WAY_SCHEMA)
    nodes = spark.createDataFrame(
        [
            (7, 1, ts(1), 1, 1, "a", True, 1.0, 2.0),
            (7, 2, ts(30), 5, 2, "b", True, 1.5, 2.0),   # lat unchanged: dropped
            (7, 3, ts(40), 6, 2, "b", True, 1.7, 2.2),   # both changed: minor
            (8, 1, ts(1), 1, 1, "a", True, 3.0, 4.0),
        ],
        NODE_SCHEMA,
    )
    rows = (way_contributions(ways, nodes)
            .orderBy("osm_edits").collect())
    assert [(r["osm_version"], r["osm_minor_version"]) for r in rows] == [
        (1, 0), (1, 1)]
    assert pd.Timestamp(rows[1]["valid_from"]) == pd.Timestamp(40, unit="s")
