"""Seeded differential sweep: arrow way kernel vs dict kernel, direct
(no Spark session) — 8 random fixtures per run, arrow-typed exactly as
the plan delivers them."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from ohsome_planet_spark.operators.history_arrow import way_partition_table
from tests.history_spec import _way_partition_kernel
from tests.test_pip_index import join_geom_spec

SCHEMA = pa.schema([
    ("way_id", pa.int64()), ("kind", pa.string()), ("version", pa.int64()),
    ("ts", pa.timestamp("us")), ("changeset", pa.int64()),
    ("user_id", pa.int64()), ("user", pa.string()), ("visible", pa.bool_()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("refs", pa.list_(pa.int64())),
    ("node_id", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64()),
])


def _random_fixture(seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    base = pd.Timestamp("2020-01-01").value // 1000  # µs
    nid0 = 1000
    for w in range(1, rng.randint(6, 18)):
        pool = [nid0 + i for i in range(rng.randint(0, 6))]
        nid0 += len(pool)
        for node in pool:
            lon, lat = rng.uniform(-20, 20), rng.uniform(-20, 20)
            for v in range(1, rng.randint(1, 6)):
                k = rng.random()
                vis = k > 0.15
                if k > 0.75:
                    lon += rng.uniform(0.1, 2)
                    lat += rng.uniform(0.1, 2)
                elif k > 0.55:
                    lon += rng.uniform(0.1, 2)  # lone-axis
                # else stay / invisible
                rows.append(dict(
                    way_id=w, kind="n", version=v,
                    ts=base + (v * 86400 + rng.randint(0, 86400)) * 1_000_000,
                    changeset=rng.choice([3, 4, 5, w * 10]),
                    user_id=9, user=f"u{v}", visible=vis,
                    tags=None, refs=None, node_id=node, lon=lon, lat=lat))
        for v in range(1, rng.randint(1, 4)):
            vis = rng.random() > 0.2
            refs = (rng.sample(pool, min(len(pool), rng.randint(1, 5)))
                    if pool and vis else [])
            if refs and rng.random() > 0.7:
                refs = refs + [refs[0]]  # closed ring candidate
            if rng.random() > 0.9:
                refs = refs + [999999]  # missing member
            rows.append(dict(
                way_id=w, kind="w", version=v,
                ts=base + (v * 777600 + rng.randint(0, 3600)) * 1_000_000,
                changeset=rng.choice([5, w * 10, 7]),
                user_id=v, user=f"w{v}", visible=vis,
                tags=({"building": "yes"} if rng.random() > 0.6 else
                      ({"k": str(v)} if rng.random() > 0.5 else {})),
                refs=refs, node_id=None, lon=None, lat=None))
    return pd.DataFrame(rows)


def _to_arrow(pdf: pd.DataFrame) -> pa.Table:
    cols = []
    for f in SCHEMA:
        if f.name == "ts":
            c = pa.array(pdf["ts"].astype("int64"), type=pa.int64()).cast(f.type)
        elif f.name == "tags":
            c = pa.array(
                pdf["tags"].map(
                    lambda d: list(d.items()) if isinstance(d, dict) else None
                ).tolist(), type=f.type)
        elif f.name in ("node_id",):
            c = pa.array(pd.array(pdf[f.name], dtype="Int64"), type=f.type)
        elif f.name in ("lon", "lat"):
            c = pa.array(pdf[f.name], type=f.type, from_pandas=True)
        else:
            c = pa.array(pdf[f.name], type=f.type, from_pandas=True)
        cols.append(c)
    tb = pa.table(cols, schema=SCHEMA)
    idx = pc.sort_indices(tb, sort_keys=[
        (k, "ascending") for k in ("way_id", "kind", "node_id", "version", "ts")])
    return tb.take(idx)


@pytest.mark.parametrize("seed", range(8))
def test_arrow_kernel_sweep(seed):
    _sweep(seed)


@pytest.mark.parametrize("seed", range(8))
def test_arrow_kernel_sweep_countries(seed):
    """With the fixture country index: the production kernel's one probe per
    partition equals the dict twin's per-geometry spec joins."""
    from ohsome_planet_spark.operators.spatial_join import build_index
    from ohsome_planet_spark.sources.countries import fixture_features

    new = _sweep(seed, build_index(fixture_features()))
    assert new is not None and new["countries"].map(len).gt(0).sum() > 0


def test_deleted_way_only_partition():
    """A partition whose one way version is a deletion has no geometry
    request: both kernels emit its DELETION row (invalid, no geometry)."""
    base = pd.Timestamp("2020-01-01").value // 1000
    pdf = pd.DataFrame([dict(
        way_id=7, kind="w", version=1, ts=base, changeset=3, user_id=1,
        user="u", visible=False, tags={}, refs=[], node_id=None, lon=None,
        lat=None)])
    new = _compare(pdf)
    assert new[["contrib_type", "status"]].values.tolist() == [["DELETION", "invalid"]]
    assert new["geometry"].isna().all()


def _sweep(seed, index=None):
    """Dict twin vs production kernel on seeded fixture `seed`."""
    return _compare(_random_fixture(seed), index, seed)


def _compare(pdf, index=None, seed=None):
    """Dict twin vs production kernel on the partition `pdf`, every column
    exact; returns the production rows (None when both are empty)."""
    dict_in = pdf.copy()
    dict_in["ts"] = dict_in["ts"].astype("int64").astype("datetime64[us]").astype("datetime64[ns]")
    dict_in["tags"] = dict_in["tags"].map(lambda d: d if isinstance(d, dict) else None)
    joiner = None
    if index is not None:
        def joiner(kind, data):
            return join_geom_spec(index, kind, data)
    old = _way_partition_kernel(dict_in, joiner)
    new_batch = way_partition_table(_to_arrow(pdf), index)
    if old is None or not len(old):
        assert new_batch is None or new_batch.num_rows == 0
        return None
    new = new_batch.to_pandas()
    key = ["osm_id", "osm_version", "valid_from", "changeset"]
    old = old.sort_values(key).reset_index(drop=True)
    new = new.sort_values(key).reset_index(drop=True)
    assert len(old) == len(new), seed
    # the dict kernel leaves xz at (-1, 0) (post-pass in that path)
    from ohsome_planet_spark.functions.cells import xz2_code

    valid = old["xmin"].notna().to_numpy()
    lvl = np.full(len(old), -1, np.int64)
    cod = np.zeros(len(old), np.int64)
    if valid.any():
        lv, cd = xz2_code(old["xmin"].to_numpy(float)[valid],
                          old["ymin"].to_numpy(float)[valid],
                          old["xmax"].to_numpy(float)[valid],
                          old["ymax"].to_numpy(float)[valid])
        lvl[valid] = lv
        cod[valid] = cd
    old["xz_level"] = lvl.astype(np.int32)
    old["xz_code"] = cod

    for col in old.columns:
        a, b = old[col], new[col]
        if col in ("tags", "tags_before"):
            b = b.map(lambda x: dict(x) if x is not None else None)
        if col in ("refs", "countries"):
            a = a.map(lambda x: None if x is None else list(x))
            b = b.map(lambda x: None if x is None else list(x))
        if str(a.dtype).startswith(("float", "Float")):
            aa = a.astype(float).to_numpy()
            bb = b.astype(float).to_numpy()
            assert ((np.isnan(aa) & np.isnan(bb)) | (aa == bb)).all(), (seed, col)
        else:
            for i in range(len(a)):
                x, y = a.iloc[i], b.iloc[i]
                if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
                    assert list(x) == list(y), (seed, col, i)
                elif not (pd.isna(x) if not isinstance(x, (list, np.ndarray)) else False):
                    assert x == y, (seed, col, i, x, y)
                else:
                    assert pd.isna(y), (seed, col, i)
    return new
