"""Relation kernel parity: the production Arrow kernel
(`relation_arrow.relation_partition_table`) must equal its dict-kernel
reference twin (`history_spec._relation_partition_kernel`) bit for bit, on every
output column, with and without a country join. The dict kernel carries the
ported reference scenarios + oracles; these tests pin production to it."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from ohsome_planet_spark.functions.cells import xz2_code
from ohsome_planet_spark.operators.relation_arrow import relation_partition_table
from tests.history_spec import _relation_partition_kernel
from tests.test_pip_index import join_geom_spec

_PACKED_PA_SCHEMA = pa.schema([
    ("rel_id", pa.int64()),
    ("kind", pa.string()),
    ("member_id", pa.int64()),
    ("version", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("changeset", pa.int64()),
    ("user_id", pa.int64()),
    ("user", pa.string()),
    ("visible", pa.bool_()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("refs", pa.list_(pa.int64())),
    ("lon", pa.float64()),
    ("lat", pa.float64()),
    ("rel_member_list", pa.list_(pa.struct([
        ("type", pa.string()), ("id", pa.int64()), ("role", pa.string())]))),
])


def _packed_table(pdf):
    """The packed frame as the plan delivers it: Arrow, sorted by
    (rel_id, kind, member_id, version, ts)."""
    spdf = pdf.sort_values(
        ["rel_id", "kind", "member_id", "version", "ts"], kind="stable"
    ).reset_index(drop=True)
    spdf = spdf.assign(tags=spdf["tags"].map(
        lambda d: None if d is None else list(d.items())))
    return pa.Table.from_pandas(spdf, schema=_PACKED_PA_SCHEMA,
                                preserve_index=False)


def _norm_cell(x):
    if isinstance(x, dict):
        return sorted([list(kv) for kv in x.items()])
    if isinstance(x, (list, tuple, np.ndarray)):
        return [_norm_cell(v) for v in list(x)]
    return x


def _isna(v):
    if v is None:
        return True
    if isinstance(v, (list, tuple, np.ndarray, dict, bytes, str)):
        return False
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def _compare_table(pdf, index=None) -> pd.DataFrame:
    """relation_partition_table (production, probing `index` once per
    partition) vs the dict twin (the per-geometry spec joiner over the same
    index), every output column, floats exact (the dict kernel's xz
    post-pass is replayed). Returns the production rows, sorted."""
    joiner = None
    if index is not None:
        def joiner(geom_t):
            return join_geom_spec(index, geom_t[0], geom_t[1])
    old = _relation_partition_kernel(pdf.copy(), joiner)
    batch = relation_partition_table(_packed_table(pdf), index)
    assert (old is None) == (batch is None)
    if old is None:
        return pd.DataFrame()
    new = batch.to_pandas()

    bx = old[["xmin", "ymin", "xmax", "ymax"]].to_numpy(float)
    ok = ~np.isnan(bx[:, 0])
    lvl = np.full(len(old), -1, np.int64)
    cod = np.zeros(len(old), np.int64)
    if ok.any():
        lv, cd = xz2_code(bx[ok, 0], bx[ok, 1], bx[ok, 2], bx[ok, 3])
        lvl[ok] = lv
        cod[ok] = cd
    old = old.assign(xz_level=lvl, xz_code=cod)

    key = ["osm_id", "osm_version", "valid_from", "changeset"]
    for f in ("valid_from", "valid_to", "osm_last_edit"):
        new[f] = pd.to_datetime(new[f]).astype("datetime64[ns]")
    old = old.sort_values(key).reset_index(drop=True)
    new = new.sort_values(key).reset_index(drop=True)
    assert sorted(old.columns) == sorted(new.columns)
    assert len(old) == len(new)

    for col in old.columns:
        a, b = old[col], new[col]
        if str(a.dtype).startswith("float") and str(b.dtype).startswith("float"):
            aa, bb = a.to_numpy(float), b.to_numpy(float)
            assert ((np.isnan(aa) & np.isnan(bb)) | (aa == bb)).all(), col
            continue
        for i in range(len(a)):
            x, y = a.iloc[i], b.iloc[i]
            if _isna(x) or _isna(y):
                assert _isna(x) and _isna(y), (col, i, x, y)
                continue
            assert _norm_cell(x) == _norm_cell(y), (col, i, x, y)
    return new


@pytest.fixture(scope="module")
def country_index():
    """The relation plan's country index over the fixture features."""
    from ohsome_planet_spark.operators.spatial_join import build_index
    from ohsome_planet_spark.sources.countries import fixture_features

    return build_index(fixture_features())


def _with_countries(out: pd.DataFrame) -> int:
    return int(out["countries"].map(len).gt(0).sum())


def _ts(day: int) -> pd.Timestamp:
    return pd.Timestamp("2020-01-01") + pd.Timedelta(days=day)


def _node(rel, nid, ver, day, cs, vis=True, lon=0.0, lat=0.0):
    return dict(rel_id=rel, kind="node", member_id=nid, version=ver,
                ts=_ts(day), changeset=cs, user_id=9, user="n", visible=vis,
                tags=None, refs=None, lon=lon, lat=lat, rel_member_list=None)


def _way(rel, wid, ver, day, cs, refs, vis=True, tags=None):
    return dict(rel_id=rel, kind="way", member_id=wid, version=ver,
                ts=_ts(day), changeset=cs, user_id=8, user="w", visible=vis,
                tags=tags or {}, refs=refs, lon=np.nan, lat=np.nan,
                rel_member_list=None)


def _rel(rel, ver, day, cs, members, vis=True, tags=None):
    return dict(rel_id=rel, kind="rel", member_id=rel, version=ver,
                ts=_ts(day), changeset=cs, user_id=7, user="r", visible=vis,
                tags=tags or {"type": "multipolygon"}, refs=None,
                lon=np.nan, lat=np.nan, rel_member_list=members)


def m(t, i, role=""):
    return {"type": t, "id": i, "role": role}


def _adversarial_pdf():
    rows = []
    # relation 1: multipolygon, outer square + inner triangle, node edits
    # between rel versions, a tag-only way edit (minor-way filtered), a
    # deleted+revived way version, a lone-axis node move (minor-node
    # filtered), missing member way 99 and a nested relation member
    for nid, (lon, lat) in enumerate(
            [(0, 0), (10, 0), (10, 10), (0, 10)], start=100):
        rows.append(_node(1, nid, 1, 0, 1, lon=float(lon), lat=float(lat)))
    rows.append(_node(1, 100, 2, 40, 60, lon=1.0, lat=0.0))   # lone-axis: filtered
    rows.append(_node(1, 101, 2, 45, 61, lon=11.0, lat=-1.0))  # real move
    for nid, (lon, lat) in enumerate([(2, 2), (5, 2), (3, 5)], start=200):
        rows.append(_node(1, nid, 1, 0, 2, lon=float(lon), lat=float(lat)))
    rows.append(_way(1, 10, 1, 1, 3, [100, 101, 102, 103, 100]))
    rows.append(_way(1, 10, 2, 50, 62, [100, 101, 102, 103, 100],
                     tags={"touched": "yes"}))  # tag-only: refs unchanged -> filtered
    rows.append(_way(1, 11, 1, 1, 4, [200, 201, 202, 200]))
    rows.append(_way(1, 11, 2, 55, 63, [], vis=False))          # deletion
    rows.append(_way(1, 11, 3, 58, 64, [200, 202, 201, 200]))   # revive, reordered
    rows.append(_rel(1, 1, 2, 5, [m("way", 10, "outer"), m("way", 11, "inner"),
                                  m("way", 99), m("relation", 5, "sub"),
                                  m("node", 100, "admin_centre")]))
    rows.append(_rel(1, 2, 60, 65, [m("way", 10, "outer"),
                                    m("way", 11, "inner")]))

    # relation 2: route (non-MP), direct node members only, deleted rel
    # version carrying geometry forward, duplicate member entries
    rows.append(_node(2, 300, 1, 0, 11, lon=1.5, lat=2.5))
    rows.append(_node(2, 300, 2, 20, 12, lon=2.5, lat=3.5))
    rows.append(_node(2, 301, 1, 0, 11, lon=-4.0, lat=0.5, vis=False))
    rows.append(_node(2, 301, 2, 25, 13, lon=-4.5, lat=1.0))
    rows.append(_rel(2, 1, 1, 14, [m("node", 300), m("node", 301),
                                   m("node", 300)], tags={"type": "route"}))
    rows.append(_rel(2, 2, 30, 15, [], vis=False, tags={}))
    rows.append(_rel(2, 3, 40, 16, [m("node", 300)], tags={"type": "route"}))

    # relation 3: same-changeset rel+member edits (run collapse)
    rows.append(_node(3, 400, 1, 0, 21, lon=0.0, lat=0.0))
    rows.append(_node(3, 400, 2, 10, 22, lon=1.0, lat=1.0))
    rows.append(_way(3, 30, 1, 0, 21, [400]))
    rows.append(_rel(3, 1, 10, 22, [m("way", 30)], tags={"type": "x"}))

    return pd.DataFrame(rows)


def _randomized_pdf():
    import random

    rng = random.Random(7)
    rows = []
    nid = 1000
    for rel in range(1, 25):
        n_nodes = rng.randint(0, 6)
        node_ids = list(range(nid, nid + n_nodes))
        nid += n_nodes
        for node in node_ids:
            lon, lat = rng.uniform(-5, 5), rng.uniform(-5, 5)
            for v in range(1, rng.randint(1, 5)):
                kind = rng.random()
                vis = kind > 0.15
                if kind > 0.7:
                    lon += rng.uniform(0.1, 1)
                    lat += rng.uniform(0.1, 1)
                elif kind > 0.5:
                    lon += rng.uniform(0.1, 1)  # lone axis
                rows.append(_node(rel, node, v, v * 7 + rng.randint(0, 30),
                                  rng.choice([3, 4, rel * 10]), vis=vis,
                                  lon=lon, lat=lat))
        wids = list(range(rel * 100, rel * 100 + rng.randint(0, 3)))
        for wid in wids:
            for v in range(1, rng.randint(1, 4)):
                vis = rng.random() > 0.2
                refs = (rng.sample(node_ids, min(len(node_ids),
                                                 rng.randint(1, 4)))
                        if node_ids and vis else [])
                rows.append(_way(rel, wid, v, v * 11 + rng.randint(0, 20),
                                 rng.choice([5, 6, rel * 10]), refs, vis=vis,
                                 tags={"t": str(v)} if rng.random() > 0.5 else {}))
        for v in range(1, rng.randint(2, 4)):
            members = []
            for wid in wids:
                if rng.random() > 0.3:
                    members.append(m("way", wid,
                                     rng.choice(["outer", "inner", ""])))
            for node in node_ids[:2]:
                if rng.random() > 0.5:
                    members.append(m("node", node))
            if rng.random() > 0.8:
                members.append(m("way", 99999))  # missing
            rows.append(_rel(rel, v, v * 13 + rng.randint(0, 10),
                             rng.choice([8, rel * 10]), members,
                             vis=rng.random() > 0.15,
                             tags=rng.choice([{"type": "multipolygon"},
                                              {"type": "route"}, {}])))
    return pd.DataFrame(rows)


def _build_packed(sf_dir: str, n_ways: int) -> pd.DataFrame:
    """The bench way_merge fixture: n_ways ways x 3-node refs over node
    histories derived from the events table (node id = event_id % 30000),
    packed as the way plan ships it (kind "w" / "n")."""
    import duckdb

    ev = duckdb.sql(
        f"select event_id, ts, user_id from '{sf_dir}/events.parquet'"
    ).df()
    nid = (ev.event_id % 30000).to_numpy()
    keep = nid < n_ways * 3
    ev = ev[keep].reset_index(drop=True)
    ev["nid"] = nid[keep]
    ev = ev.sort_values(["nid", "ts", "event_id"], kind="stable").reset_index(drop=True)
    ev["version"] = ev.groupby("nid").cumcount() + 1
    nodes = pd.DataFrame({
        "way_id": (ev.nid // 3).astype(np.int64),
        "kind": "n",
        "version": ev.version.astype(np.int64),
        "ts": ev.ts,
        "changeset": (ev.event_id % 17).astype(np.int64),
        "user_id": ev.user_id.astype(np.int64),
        "user": "u",
        "visible": True,
        "tags": None,
        "refs": None,
        "node_id": ev.nid.astype(np.float64),
        "lon": ((ev.event_id * 7 % 360) - 180.0).astype(np.float64),
        "lat": ((ev.event_id * 11 % 180) - 90.0).astype(np.float64),
    })
    refs = np.empty(n_ways, object)
    refs[:] = [[3 * i % 30000, (3 * i + 1) % 30000, (3 * i + 2) % 30000]
               for i in range(n_ways)]
    tags = np.empty(n_ways, object)
    tags[:] = [{} for _ in range(n_ways)]
    ways = pd.DataFrame({
        "way_id": np.arange(n_ways, dtype=np.int64),
        "kind": "w",
        "version": np.int64(1),
        "ts": pd.Timestamp("2020-01-01 00:00:00"),
        "changeset": np.int64(1),
        "user_id": np.int64(1),
        "user": "u",
        "visible": True,
        "tags": tags,
        "refs": refs,
        "node_id": np.nan,
        "lon": np.nan,
        "lat": np.nan,
    })
    return pd.concat([nodes, ways], ignore_index=True)


def _build_rel_packed(sf_dir: str, n_rels: int) -> pd.DataFrame:
    """The bench relation_merge fixture: n_rels route relations x 3 member
    ways (the `_build_packed` ways 3r..3r+2) with their node rows."""
    wp = _build_packed(sf_dir, n_rels * 3)
    wp["ts"] = wp["ts"].astype("datetime64[ns]")
    nodes = wp[wp.kind == "n"]
    ways = wp[wp.kind == "w"]
    nrows = pd.DataFrame({
        "rel_id": (nodes.way_id // 3).astype(np.int64), "kind": "node",
        "member_id": nodes.node_id.astype(np.int64),
        "version": nodes.version, "ts": nodes.ts, "changeset": nodes.changeset,
        "user_id": nodes.user_id, "user": nodes.user, "visible": nodes.visible,
        "tags": None, "refs": None, "lon": nodes.lon, "lat": nodes.lat,
        "rel_member_list": None,
    })
    wrows = pd.DataFrame({
        "rel_id": (ways.way_id // 3).astype(np.int64), "kind": "way",
        "member_id": ways.way_id.astype(np.int64),
        "version": ways.version, "ts": ways.ts, "changeset": ways.changeset,
        "user_id": ways.user_id, "user": ways.user, "visible": ways.visible,
        "tags": ways.tags, "refs": ways.refs, "lon": np.nan, "lat": np.nan,
        "rel_member_list": None,
    })
    rml = np.empty(n_rels, object)
    rml[:] = [[{"type": "way", "id": 3 * r + j, "role": ""} for j in range(3)]
              for r in range(n_rels)]
    tags = np.empty(n_rels, object)
    tags[:] = [{"type": "route"} for _ in range(n_rels)]
    rrows = pd.DataFrame({
        "rel_id": np.arange(n_rels, dtype=np.int64), "kind": "rel",
        "member_id": np.arange(n_rels, dtype=np.int64),
        "version": np.int64(1), "ts": pd.Timestamp("2020-01-02"),
        "changeset": np.int64(1), "user_id": np.int64(1), "user": "u",
        "visible": True, "tags": tags, "refs": None,
        "lon": np.nan, "lat": np.nan, "rel_member_list": rml,
    })
    return pd.concat([nrows, wrows, rrows], ignore_index=True)


def _giant_gc_pdf():
    """An 80-node-member GeometryCollection relation (above the centroid
    ladder's _LADDER_MAX=64, so it takes the per-group sequential fold)
    next to a 5-member one (folded by the ladder) in the same partition."""
    rows = []
    big, small = 80, 5
    for i in range(big):
        rows.append(_node(9, 1000 + i, 1, 0, 1,
                          lon=(i % 13) * 1.7, lat=float(i % 7) - 3.0))
    rows.append(_rel(9, 1, 2, 5, [m("node", 1000 + i) for i in range(big)],
                     tags={"type": "site"}))
    for i in range(small):
        rows.append(_node(10, 2000 + i, 1, 0, 1,
                          lon=float(i) * 0.3, lat=1.0 - i * 0.1))
    rows.append(_rel(10, 1, 2, 6, [m("node", 2000 + i) for i in range(small)],
                     tags={"type": "site"}))
    return pd.DataFrame(rows)


def _giant_gc_ways_pdf():
    """A GeometryCollection relation with 70 two-node way members spread
    over the fixture countries plus one node member; a member-node move
    between its two versions makes a minor version, and version 2 drops to
    66 members (still above _LADDER_MAX). A small GC relation with a way
    member shares the partition."""
    rows = []
    members = []
    for i in range(70):
        a, b = 5000 + 2 * i, 5001 + 2 * i
        lon, lat = (i % 15) * 2.0 + 0.5, (i % 9) * 4.0 + 1.0
        rows.append(_node(11, a, 1, 0, 1, lon=lon, lat=lat))
        rows.append(_node(11, b, 1, 0, 1, lon=lon + 0.7, lat=lat + 0.3))
        rows.append(_way(11, 600 + i, 1, 1, 2, [a, b]))
        members.append(m("way", 600 + i))
    rows.append(_node(11, 5000, 2, 5, 7, lon=3.0, lat=3.0))
    rows.append(_rel(11, 1, 2, 5, members + [m("node", 5000)],
                     tags={"type": "site"}))
    rows.append(_rel(11, 2, 8, 9, members[:66],
                     tags={"type": "site", "v": "2"}))
    for i in range(3):
        rows.append(_node(12, 7000 + i, 1, 0, 1,
                          lon=12.0 + i, lat=5.0 + i))
    rows.append(_way(12, 900, 1, 1, 3, [7000, 7001, 7002]))
    rows.append(_rel(12, 1, 2, 6, [m("way", 900), m("node", 7000)],
                     tags={"type": "site"}))
    return pd.DataFrame(rows)


def test_relation_arrow_parity_adversarial(country_index):
    """Adversarial fixture through the country join."""
    out = _compare_table(_adversarial_pdf(), country_index)
    assert len(out) > 10
    assert _with_countries(out) > 0


def test_relation_table_parity_adversarial():
    assert len(_compare_table(_adversarial_pdf())) > 10


def test_relation_arrow_parity_randomized(country_index):
    """Randomized fixture through the country join."""
    out = _compare_table(_randomized_pdf(), country_index)
    assert len(out) > 40
    assert _with_countries(out) > 0


def test_relation_table_parity_randomized():
    assert len(_compare_table(_randomized_pdf())) > 40


def test_relation_arrow_parity_bench_shape(sf_dir, country_index):
    """Bench-shaped routes through the country join."""
    out = _compare_table(_build_rel_packed(sf_dir, 40), country_index)
    assert len(out) > 100
    assert _with_countries(out) > 0


def test_relation_table_parity_bench_shape(sf_dir):
    assert len(_compare_table(_build_rel_packed(sf_dir, 40))) > 100


def test_relation_arrow_parity_giant_gc():
    """Groups above _LADDER_MAX take the per-group sequential fold; values
    must stay bit-identical to the dict twin, alongside small GC rows folded
    by the ladder in the same partition."""
    assert len(_compare_table(_giant_gc_pdf())) >= 2


@pytest.mark.parametrize("with_countries", [False, True])
def test_relation_table_parity_giant_gc_way_members(with_countries,
                                                    country_index):
    """A >_LADDER_MAX GeometryCollection with way members: the fold must
    leave the partition's encoded member space (nodes below the row count,
    way snapshots above it) intact for the tags columns, the member
    columns and the country join."""
    index = country_index if with_countries else None
    out = _compare_table(_giant_gc_ways_pdf(), index)
    assert len(out) >= 4
    if with_countries:
        assert _with_countries(out) == len(out)


def test_relation_table_parity_multipolygon_two_countries(country_index):
    """A multipolygon whose two polygons lie in different countries: the
    batched polygon probe must union both polygons' hits into the row."""
    rows = []
    squares = {40: (1.0, 1.0), 41: (31.0, 26.0)}  # in AAA; in DDD's 2nd part
    for wid, (x0, y0) in squares.items():
        corners = [(x0, y0), (x0 + 2, y0), (x0 + 2, y0 + 2), (x0, y0 + 2)]
        nids = [wid * 10 + k for k in range(4)]
        for nid, (lon, lat) in zip(nids, corners):
            rows.append(_node(20, nid, 1, 0, 1, lon=lon, lat=lat))
        rows.append(_way(20, wid, 1, 1, 2, nids + nids[:1]))
    rows.append(_rel(20, 1, 2, 3, [m("way", 40, "outer"), m("way", 41, "outer")]))
    rows.append(_rel(20, 2, 5, 4, [m("way", 41, "outer")]))
    out = _compare_table(pd.DataFrame(rows), country_index)
    assert out["countries"].map(list).tolist() == [["AAA", "DDD"], ["DDD"]]


def test_node_dup_rows_collapse():
    """The plan may ship a (rel_id, node_id) feed with duplicate node rows
    (shared members across ways; see relation_contributions' dedup note) —
    the production kernel must produce output identical to the clean feed."""
    base = _adversarial_pdf()
    dups = base[base["kind"] == "node"].iloc[::2]
    doubled = pd.concat([base, dups, dups.iloc[::3]], ignore_index=True)

    clean = relation_partition_table(_packed_table(base))
    dup = relation_partition_table(_packed_table(doubled))
    assert dup.equals(clean)
    assert len(_compare_table(doubled)) == clean.num_rows


def test_kernels_probe_countries_without_join_geom(monkeypatch, country_index):
    """The production kernels join countries with one batched probe per
    partition: with the per-geometry spec and `PolygonIndex.join_geom`
    raising, both kernels still give rows their countries (GeometryCollection
    and MultiPolygon relation rows alike)."""
    import tests.test_pip_index as spec_mod
    from ohsome_planet_spark.functions.pip_index import PolygonIndex
    from ohsome_planet_spark.operators.history_arrow import way_partition_table
    from tests.test_history_arrow_sweep import _random_fixture, _to_arrow

    def boom(*_args, **_kw):
        raise AssertionError("per-geometry country join called")

    monkeypatch.setattr(spec_mod, "join_geom_spec", boom)
    monkeypatch.setattr(PolygonIndex, "join_geom", boom)
    way_hits = 0
    for seed in range(4):
        out = way_partition_table(_to_arrow(_random_fixture(seed)), country_index)
        way_hits += sum(map(bool, out.column("countries").to_pylist()))
    assert way_hits > 0
    rel = pa.Table.from_batches([
        relation_partition_table(_packed_table(pdf), country_index)
        for pdf in (_adversarial_pdf(), _giant_gc_ways_pdf())
    ]).to_pandas()
    got = rel[rel["countries"].map(len) > 0]
    assert set(got["geometry_type"]) == {"GeometryCollection", "MultiPolygon"}


def test_minor_version_baseline_restarts_per_element():
    """The relation twin of the way kernel's minor-version regression: the
    accumulate baseline must restart at each relation. Relation 1 ends on
    a minor version (a member node moves after its only version), and
    relation 2's first emitted row collapses a same-(version, changeset)
    run, so its raw predecessor has the same version (no reset)."""
    rows = [
        _node(1, 10, 1, 0, 1, lon=0.0, lat=0.0),
        _rel(1, 1, 1, 2, [m("node", 10)], tags={"type": "route"}),
        _node(1, 10, 2, 2, 3, lon=5.0, lat=5.0),  # minor version of rel 1
        _node(2, 20, 1, 0, 1, lon=1.0, lat=1.0),
        # relation 2: two raw rows with the same (version, changeset)
        _rel(2, 1, 5, 5, [m("node", 20)], tags={"type": "route"}),
        _rel(2, 1, 6, 5, [m("node", 20)], tags={"type": "route"}),
        _rel(2, 2, 7, 6, [m("node", 20)], tags={"type": "route"}),
    ]
    out = _compare_table(pd.DataFrame(rows))
    minor = {rid: list(g.sort_values("valid_from")["osm_minor_version"])
             for rid, g in out.groupby("osm_id")}
    assert minor == {1: [0, 1], 2: [1, 0]}
