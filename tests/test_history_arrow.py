"""Way-kernel parity: Spark `way_contributions` (production kernel
`history_arrow.way_partition_table`) must equal its dict-kernel reference
twin `history_spec._way_partition_kernel` bit for bit.

The dict kernel carries the ported reference scenarios + oracles. These
tests run Spark over adversarial fixtures and the dict kernel over the
packed partition built in pandas from the same tuples, and assert
row-for-row equality; plus unit parity for the vectorized minor-node filter
(including the drop-cascade fallback segments).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from ohsome_planet_spark.functions.cells import xz2_code
from ohsome_planet_spark.operators.history import (
    CONTRIB_SCHEMA,
    REL_CONTRIB_SCHEMA,
    way_contributions,
)
from ohsome_planet_spark.operators.history_arrow import (
    OUT_SCHEMA,
    _minor_node_keep_mask,
)
from ohsome_planet_spark.operators.relation_arrow import REL_OUT_SCHEMA
from tests.history_spec import _way_partition_kernel, minor_node_filter
from tests.test_pip_index import join_geom_spec

_WAYS_DDL = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, refs array<long>"
)
_NODES_DDL = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, lon double, lat double"
)


def _norm(pdf):
    pdf = pdf.sort_values(
        ["osm_id", "osm_version", "valid_from", "changeset"]
    ).reset_index(drop=True)
    for c in ("valid_from", "valid_to", "osm_last_edit"):
        pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[ns]")
    for c in ("tags", "tags_before"):
        pdf[c] = pdf[c].map(
            lambda x: None if x is None else sorted(dict(x).items()))
    for c in ("refs", "countries"):
        pdf[c] = pdf[c].map(lambda x: None if x is None else list(x))
    return pdf


def _reference_rows(ways_rows, node_rows, country_index=None):
    """`_way_partition_kernel` over the packed partition the way plan ships
    (explode refs → distinct (way_id, node_id) ⋈ node history, unioned with
    the ways), built in pandas from the same tuples; the xz columns are
    filled by the same post-pass as test_history_arrow_sweep.py."""
    node_hist: dict = {}
    for r in node_rows:
        node_hist.setdefault(r[0], []).append(r)
    rows = [
        dict(way_id=w, kind="w", version=v, ts=ts, changeset=cs, user_id=uid,
             user=user, visible=vis, tags=tags, refs=refs, node_id=None,
             lon=None, lat=None)
        for w, v, ts, cs, uid, user, vis, tags, refs in ways_rows
    ]
    pairs = sorted({(w[0], nid) for w in ways_rows for nid in w[8]})
    for w, nid in pairs:
        for _, v, ts, cs, uid, user, vis, lon, lat in node_hist.get(nid, []):
            rows.append(dict(way_id=w, kind="n", version=v, ts=ts,
                             changeset=cs, user_id=uid, user=user,
                             visible=vis, tags=None, refs=None, node_id=nid,
                             lon=lon, lat=lat))
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    joiner = None
    if country_index is not None:
        def joiner(kind, data):
            return join_geom_spec(country_index, kind, data)
    out = _way_partition_kernel(pdf, joiner)

    valid = out["xmin"].notna().to_numpy()
    lvl = np.full(len(out), -1, np.int64)
    cod = np.zeros(len(out), np.int64)
    if valid.any():
        lv, cd = xz2_code(out["xmin"].to_numpy(float)[valid],
                          out["ymin"].to_numpy(float)[valid],
                          out["xmax"].to_numpy(float)[valid],
                          out["ymax"].to_numpy(float)[valid])
        lvl[valid] = lv
        cod[valid] = cd
    out["xz_level"] = lvl.astype(np.int32)
    out["xz_code"] = cod
    return _norm(out)


def _assert_paths_equal(spark, ways_rows, node_rows, country_index=None):
    ways = spark.createDataFrame(ways_rows, _WAYS_DDL)
    nodes = spark.createDataFrame(node_rows, _NODES_DDL)
    a = _norm(way_contributions(ways, nodes, country_index).toPandas())
    b = _reference_rows(ways_rows, node_rows, country_index)
    assert sorted(a.columns) == sorted(b.columns)
    assert len(a) == len(b) and len(a) > 0
    for col in b.columns:
        av, bv = a[col], b[col]
        if str(av.dtype).startswith("float"):
            aa, bb = av.to_numpy(float), bv.to_numpy(float)
            assert ((np.isnan(aa) & np.isnan(bb)) | (aa == bb)).all(), col
        else:
            def eq(x, y):
                if isinstance(x, (list, tuple, np.ndarray)) or isinstance(
                        y, (list, tuple, np.ndarray)):
                    return list(x) == list(y)
                xna = not isinstance(x, (list, np.ndarray)) and pd.isna(x)
                yna = not isinstance(y, (list, np.ndarray)) and pd.isna(y)
                if xna or yna:
                    return xna and yna
                return x == y

            neq = [i for i in range(len(av)) if not eq(av.iloc[i], bv.iloc[i])]
            assert not neq, (col, neq[:3], av.iloc[neq[0]] if neq else None,
                             bv.iloc[neq[0]] if neq else None)
    return a


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_arrow_parity_adversarial(spark):
    """Multi-version ways, deletions, tag changes, same-changeset ties,
    missing members, lone-axis moves (minor-filter drops), interleaved
    changesets — every branch of the walk + collapse in one fixture."""
    ways = [
        # way 1: 3 versions incl. deletion + revive, tags change then revert
        (1, 1, _ts("2020-01-01T00:00"), 10, 1, "a", True, {"k": "1"}, [100, 101]),
        (1, 2, _ts("2020-03-01T00:00"), 20, 2, "b", False, {}, []),
        (1, 3, _ts("2020-05-01T00:00"), 30, 3, "c", True, {"k": "1"}, [101, 102, 999]),
        # way 2: same-changeset major+member edits (run collapse), closed ring
        (2, 1, _ts("2020-01-10T00:00"), 40, 4, "d", True,
         {"building": "yes"}, [200, 201, 202, 200]),
        (2, 2, _ts("2020-06-01T00:00"), 41, 4, "d", True,
         {"building": "yes"}, [200, 201, 202, 200]),
        # way 3: duplicate refs + single-node way
        (3, 1, _ts("2020-02-01T00:00"), 50, 5, "e", True, {"x": "y"}, [300, 300]),
    ]
    nodes = [
        # node 100: lone-axis move (dropped by minor filter) then real move
        (100, 1, _ts("2019-12-01T00:00"), 1, 9, "n", True, 0.0, 0.0),
        (100, 2, _ts("2020-01-15T00:00"), 11, 9, "n", True, 0.0, 1.0),
        (100, 3, _ts("2020-02-01T00:00"), 12, 9, "n", True, 2.0, 2.0),
        # node 101: visibility flip dance + leading invisible
        (101, 1, _ts("2019-11-01T00:00"), 2, 8, "m", False, np.nan, np.nan),
        (101, 2, _ts("2019-12-15T00:00"), 3, 8, "m", True, 5.0, 5.0),
        (101, 3, _ts("2020-04-01T00:00"), 21, 8, "m", False, np.nan, np.nan),
        (101, 4, _ts("2020-06-15T00:00"), 31, 8, "m", True, 6.0, 6.0),
        # node 102: same ts as a way-2 edit (tie), same changeset as way 1 v3
        (102, 1, _ts("2020-05-01T00:00"), 30, 7, "c", True, 7.0, 7.0),
        (102, 2, _ts("2020-07-01T00:00"), 60, 7, "c", True, 8.0, 8.0),
        # nodes 200-202: ring, interleaved changesets between majors
        (200, 1, _ts("2020-01-05T00:00"), 4, 6, "f", True, 0.0, 0.0),
        (200, 2, _ts("2020-02-01T00:00"), 42, 6, "f", True, 0.1, 0.1),
        (201, 1, _ts("2020-01-05T00:00"), 4, 6, "f", True, 1.0, 0.0),
        (201, 2, _ts("2020-02-01T00:00"), 43, 6, "f", True, 1.1, 0.1),
        (201, 3, _ts("2020-02-01T00:00"), 42, 6, "f", True, 1.2, 0.2),
        (202, 1, _ts("2020-01-05T00:00"), 4, 6, "f", True, 0.5, 1.0),
        # node 300: exact revert (drop cascade in the minor filter)
        (300, 1, _ts("2020-01-20T00:00"), 51, 5, "e", True, 3.0, 3.0),
        (300, 2, _ts("2020-02-20T00:00"), 52, 5, "e", True, 3.0, 4.0),
        (300, 3, _ts("2020-03-20T00:00"), 53, 5, "e", True, 4.0, 4.0),
        # node 999 referenced by way 1 v3 has NO history (missing member)
    ]
    out = _assert_paths_equal(spark, ways, nodes)
    assert set(out["osm_id"]) == {1, 2, 3}
    assert (out["contrib_type"] != "").any()


def test_arrow_parity_randomized(spark):
    """Seeded random histories: many ways, random member edits/visibility/
    coords (with deliberate lone-axis moves and reverts), random tag and
    ref changes across versions."""
    rng = random.Random(42)
    ways = []
    nodes = []
    base = _ts("2020-01-01T00:00")
    import datetime

    def at(days):
        return base + datetime.timedelta(days=float(days))

    nid = 1000
    for w in range(1, 41):
        n_vers = rng.randint(1, 4)
        refs_pool = [nid + i for i in range(rng.randint(0, 5))]
        nid += len(refs_pool)
        for v in range(1, n_vers + 1):
            visible = rng.random() > 0.2
            tags = {"hw": rng.choice(["a", "b"])} if rng.random() > 0.3 else {}
            refs = (
                rng.sample(refs_pool, rng.randint(1, len(refs_pool)))
                if refs_pool and visible else []
            )
            ways.append((w, v, at(v * 30), w * 100 + v, v, f"u{v}",
                         visible, tags, refs))
        for node in refs_pool:
            lon, lat = rng.uniform(-10, 10), rng.uniform(-10, 10)
            for v in range(1, rng.randint(1, 6)):
                kind = rng.random()
                if kind < 0.15:
                    vis, dlon, dlat = False, 0.0, 0.0
                elif kind < 0.3:
                    vis, dlon, dlat = True, rng.uniform(0.1, 1), 0.0  # lone axis
                elif kind < 0.4:
                    vis, dlon, dlat = True, 0.0, 0.0  # exact revert/stay
                else:
                    vis, dlon, dlat = True, rng.uniform(0.1, 1), rng.uniform(0.1, 1)
                lon, lat = lon + dlon, lat + dlat
                cs = rng.choice([w * 100 + 1, 7, 8, 9])
                nodes.append((node, v, at(v * 17 + rng.randint(0, 40)), cs,
                              99, "nn", vis, lon, lat))
    _assert_paths_equal(spark, ways, nodes)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_minor_filter_vectorized_parity(seed):
    """The vectorized minor-node keep mask == the dict filter, including
    drop-cascade segments (lone-axis moves, exact reverts, flip chains)."""
    rng = random.Random(seed)
    rows = []
    seg_bounds = [0]
    for _seg in range(60):
        m = rng.randint(1, 10)
        lon = lat = 0.0
        for _ in range(m):
            kind = rng.random()
            vis = kind > 0.25
            if kind > 0.8:
                lon += 1.0  # lone-axis
            elif kind > 0.6:
                lon += 1.0
                lat += 1.0
            # else: stay (revert-like) or invisible
            rows.append((vis, lon, lat))
        seg_bounds.append(len(rows))
    n = len(rows)
    node_rows = np.arange(n)
    seg_new = np.zeros(n, bool)
    seg_new[np.asarray(seg_bounds[:-1])] = True
    nv = np.asarray([r[0] for r in rows])
    nlon = np.asarray([r[1] for r in rows], float)
    nlat = np.asarray([r[2] for r in rows], float)
    got = _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat)
    expect = np.zeros(n, bool)
    for a, b in zip(seg_bounds[:-1], seg_bounds[1:]):
        dicts = [
            {"visible": bool(nv[i]), "lon": float(nlon[i]),
             "lat": float(nlat[i]), "i": i}
            for i in range(a, b)
        ]
        for r in minor_node_filter(dicts):
            expect[r["i"]] = True
    assert (got == expect).all()


def test_arrow_kernel_country_join(spark):
    """The joiner path (broadcast PIP index) matches the dict twin."""
    from ohsome_planet_spark.operators.spatial_join import build_index
    from ohsome_planet_spark.sources.countries import fixture_features

    index = build_index(fixture_features())
    ways = [
        (1, 1, _ts("2020-01-01T00:00"), 1, 1, "u", True, {"building": "yes"},
         [1, 2, 3, 1]),
    ]
    nodes = [
        (1, 1, _ts("2019-01-01T00:00"), 1, 1, "u", True, 0.5, 0.5),
        (2, 1, _ts("2019-01-01T00:00"), 1, 1, "u", True, 1.5, 0.5),
        (3, 1, _ts("2019-01-01T00:00"), 1, 1, "u", True, 1.0, 1.5),
    ]
    out = _assert_paths_equal(spark, ways, nodes, index)
    assert all(len(c) > 0 for c in out["countries"])


def test_minor_version_baseline_restarts_per_element(spark):
    """Regression (round 5): the arrow kernel's minor_version accumulate
    baseline must restart at each element. Element 1 ends on a NON-reset row
    (a minor version), and element 2's first contribution collapses a
    same-(version, changeset) run, so its first emitted row has a raw
    predecessor with the same version (reset=False). The old formula leaked
    element 1's last reset position and emitted minor_version=2."""
    ways = [
        (1, 1, _ts("2020-01-01T00:00"), 1, 1, "a", True, {}, [10]),
        # element 2: two raw rows with same (version, changeset) -> collapse
        (2, 1, _ts("2020-01-05T00:00"), 5, 1, "a", True, {}, [20]),
        (2, 1, _ts("2020-01-06T00:00"), 5, 1, "a", True, {}, [20]),
        (2, 2, _ts("2020-01-07T00:00"), 6, 1, "a", True, {}, [20]),
    ]
    nodes = [
        (10, 1, _ts("2019-12-01T00:00"), 0, 9, "n", True, 0.0, 0.0),
        # node move after way 1 v1 -> way 1's LAST emitted row is a minor
        (10, 2, _ts("2020-01-02T00:00"), 2, 9, "n", True, 5.0, 5.0),
        (20, 1, _ts("2019-12-01T00:00"), 0, 9, "n", True, 1.0, 1.0),
    ]
    out = _assert_paths_equal(spark, ways, nodes)
    e2 = out[out["osm_id"] == 2].sort_values("valid_from")
    assert list(e2["osm_minor_version"]) == [1, 0]


def test_deletions_only_way_contributions(spark):
    """Every way version is a deletion, so no partition holds a visible
    version: each way still gets its DELETION row, equal to the dict twin's
    (the kernel raised IndexError on an empty geometry batch)."""
    ways = [
        (1, 1, _ts("2020-01-01T00:00"), 1, 1, "a", False, {}, []),
        (2, 3, _ts("2020-01-02T00:00"), 2, 2, "b", False, {"k": "v"}, [10]),
        (3, 2, _ts("2020-01-03T00:00"), 3, 3, "c", False, None, [10, 11]),
    ]
    nodes = [
        (10, 1, _ts("2019-12-01T00:00"), 0, 9, "n", True, 0.0, 0.0),
        (11, 1, _ts("2019-12-01T00:00"), 0, 9, "n", True, 1.0, 1.0),
    ]
    out = _assert_paths_equal(spark, ways, nodes)
    assert list(out["osm_id"]) == [1, 2, 3]
    assert set(out["contrib_type"]) == {"DELETION"}
    assert out["geometry"].isna().all()


def test_kernel_stage_keeps_one_wave_of_partitions(spark):
    """Regression guard for the r5 fix: the packed way-merge shuffle is
    byte-small, so AQE post-shuffle coalescing would serialize the
    compute-bound kernel onto 1-2 tasks (r4: wide-way fixture ran in ONE
    task with a [1.1, 5.6]s spread). The explicit repartition must pin the
    kernel stage at session.kernel_partitions() regardless of input bytes."""
    from ohsome_planet_spark.operators.history_arrow import (
        way_contributions_arrow)
    from ohsome_planet_spark.session import kernel_partitions

    ways = [(i, 1, _ts("2020-01-01T00:00"), 1, 1, "a", True, {},
             [10 + (i % 3)]) for i in range(40)]
    nodes = [(n, 1, _ts("2019-12-01T00:00"), 0, 9, "n", True, 0.0, 0.0)
             for n in (10, 11, 12)]
    wdf = spark.createDataFrame(ways, _WAYS_DDL)
    ndf = spark.createDataFrame(nodes, _NODES_DDL)
    out = way_contributions_arrow(wdf, ndf)
    kp = kernel_partitions(spark)
    assert kp >= 2  # the guard is vacuous on a 1-core session
    assert out.rdd.getNumPartitions() == kp
    assert out.count() == 40


def test_kernel_partitions_rule():
    """kernel_partitions = max(cores, shuffle.partitions // 2): one wave of
    cores locally; on a cluster tuned to thousands of shuffle partitions the
    memory-driven grain wins."""
    class _Conf:
        def __init__(self, n):
            self._n = n
        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return str(self._n)

    class _SC:
        def __init__(self, cores):
            self.defaultParallelism = cores

    class _Spark:
        def __init__(self, cores, shuffle):
            self.sparkContext = _SC(cores)
            self.conf = _Conf(shuffle)

    from ohsome_planet_spark.session import kernel_partitions
    assert kernel_partitions(_Spark(32, 64)) == 32      # local: one wave
    assert kernel_partitions(_Spark(4, 4)) == 4         # tests session
    assert kernel_partitions(_Spark(800, 4000)) == 2000  # cluster: memory grain


@pytest.mark.parametrize("arrow, ddl", [
    (OUT_SCHEMA, CONTRIB_SCHEMA),
    (REL_OUT_SCHEMA, REL_CONTRIB_SCHEMA),
], ids=["way", "relation"])
def test_kernel_schemas_match_spark_schemas(spark, arrow, ddl):
    """Each kernel's Arrow output schema is the one `mapInArrow` expects for
    its declared Spark schema, under Spark's own Arrow type mapping."""
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    declared = _parse_datatype_string(ddl)
    assert to_arrow_schema(declared, timestamp_utc=False) == arrow
    assert from_arrow_schema(arrow, prefer_timestamp_ntz=True) == declared
