"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size). Each one is written
once under the work directory and reused by later runs with the same key, so
input generation never counts toward a timed number. The library's own
`pages_df` cannot serve here: its `salt` argument does not change the rows.

Next to each input the generator stores the facts a check needs that do not
come from the code under test: mention counts per entity, taken from the
arrays the generator drew before it rendered them into page text.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so stale cached inputs are not reused.
GEN_VERSION = 5

HOT_PAGES = 1_000_000
HIST_NODES = 2_000
HIST_STREET_NODES = 1_500
HIST_WAYS = 500
HIST_WIDE_WAYS = 6
HIST_RELATIONS = 50

_FILLERS = [
    "the quick survey of coastal shipping routes",
    "markets reopened after seasonal maintenance",
    "a regional council approved the new transit plan",
    "heavy rainfall was recorded across the basin",
    "local festivals drew record attendance this year",
    "engineers completed the bridge load assessment",
]
_LANGS = ["en", "de", "fr", "es", "zh"]
_BASE_EPOCH = 1_700_000_000


@dataclass
class Inputs:
    """Paths of one workload's stored inputs plus the facts its check uses."""

    root: str
    tables: dict[str, str]
    facts: dict = field(default_factory=dict)


def _cache_dir(work: str, name: str, seed: int, size: tuple) -> str:
    key = "-".join(str(s) for s in size)
    return os.path.join(work, "inputs", f"{name}-s{seed}-n{key}-v{GEN_VERSION}")


def _cached(path: str) -> dict | None:
    done = os.path.join(path, "_facts.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    return None


def _commit(path: str, facts: dict) -> None:
    tmp = os.path.join(path, "_facts.json.tmp")
    with open(tmp, "w") as f:
        json.dump(facts, f)
    os.replace(tmp, os.path.join(path, "_facts.json"))


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# ---------------------------------------------------------------- pages


def _hot_pages(spark, n: int, seed: int):
    """n pages with 1-3 `@@entity@@` mentions each, drawn from the built-in
    gazetteer with ~60% on its HOT_ENTITIES hot entities, plus the drawn
    entity array `_ents` (not part of the stored table)."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.sources.gazetteer import GAZETTEER, HOT_ENTITIES

    def h(slot: int):
        return F.xxhash64(F.col("id"), F.lit(seed), F.lit(slot))

    def pick(names, slot: int):
        return F.element_at(F.array(*[F.lit(x) for x in names]),
                            (F.pmod(h(slot), len(names)) + 1).cast("int"))

    hot = [e for e, _, _ in GAZETTEER[:HOT_ENTITIES]]
    cold = [e for e, _, _ in GAZETTEER[HOT_ENTITIES:]]
    ents = [
        F.when(F.pmod(h(10 + k), 100) < 60, pick(hot, 20 + k)).otherwise(pick(cold, 30 + k))
        for k in range(3)
    ]
    df = spark.range(n).select(
        "id", F.slice(F.array(*ents), 1, (F.pmod(h(1), 3) + 1).cast("int")).alias("_ents"))
    text = F.concat(
        pick(_FILLERS, 2), F.lit(" near "),
        F.array_join(F.transform("_ents", lambda e: F.concat(F.lit("@@"), e, F.lit("@@"))), " then "),
        F.lit(" "), pick(_FILLERS, 3), F.lit(" (crawl "), F.col("id").cast("string"), F.lit(")"),
    )
    return df.select(
        F.concat(
            F.lit("https://site"), F.pmod(h(4), 37).cast("string"),
            F.lit(".example.org/p/"), F.col("id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(_BASE_EPOCH) + F.pmod(h(5), 31_536_000)).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")),
                 "UTF-8").alias("html"),
        text.alias("text"),
        pick(_LANGS, 6).alias("lang"),
        "_ents",
    )


def hot_inputs(spark, work: str, seed: int) -> Inputs:
    """The stored pages table of enrich_hot and its mention counts per
    entity."""
    from pyspark.sql import functions as F

    path = _cache_dir(work, "enrich_hot", seed, (HOT_PAGES,))
    pages = os.path.join(path, "pages")
    facts = _cached(path)
    if facts is None:
        _fresh(path)
        df = _hot_pages(spark, HOT_PAGES, seed)
        df.drop("_ents").write.parquet(pages)
        rows = df.select(F.explode("_ents").alias("e")).groupBy("e").count().collect()
        facts = {"pages": HOT_PAGES, "mentions_by_entity": {r["e"]: r["count"] for r in rows}}
        _commit(path, facts)
    return Inputs(root=path, tables={"pages": pages}, facts=facts)


# ------------------------------------------------------------- histories

_TS_BASE_US = 1_400_000_000 * 1_000_000
_MEMBER = pa.struct([("type", pa.string()), ("id", pa.int64()), ("role", pa.string())])
_TAGS = pa.map_(pa.string(), pa.string())


def _version_times(rng, n_ids: int, max_versions: int, spread_days: float):
    """Id i gets i % max_versions + 1 versions at increasing random times.

    Counts of versions, members and refs follow the id, not the seed, so
    every seed asks for the same amount of work; the seed picks times,
    places and which elements connect."""
    k = np.arange(n_ids) % max_versions + 1
    ids = np.repeat(np.arange(1, n_ids + 1), k)
    version = np.concatenate([np.arange(1, c + 1) for c in k]).astype(np.int32)
    step = rng.integers(3_600, int(spread_days * 86_400), ids.size)
    start = np.repeat(rng.integers(0, 400 * 86_400, n_ids), k)
    # cumulative steps within each id
    csum = np.cumsum(step)
    first = np.repeat(np.cumsum(k) - k, k)
    offs = csum - csum[first] + step[first]
    ts = _TS_BASE_US + (start + offs) * 1_000_000
    last = np.zeros(ids.size, dtype=bool)
    last[np.cumsum(k) - 1] = True
    return ids.astype(np.int64), version, ts, last


def _meta_cols(rng, n: int) -> dict:
    cs = rng.integers(1, 5_000, n).astype(np.int64)
    uid = (cs % 97 + 1).astype(np.int64)
    return {"changeset": cs, "user_id": uid, "user": [f"u{u}" for u in uid]}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _node_positions(rng) -> tuple[np.ndarray, np.ndarray]:
    """Street nodes (ids 1..HIST_STREET_NODES) follow short random walks
    around town centres, so consecutive ids lie a few hundred metres apart;
    building nodes follow as groups of four square corners."""
    towns = HIST_STREET_NODES // 500
    steps = rng.normal(0.0, 0.0015, (HIST_STREET_NODES, 2))
    walk = np.cumsum(steps.reshape(towns, 500, 2), axis=1).reshape(-1, 2)
    centres = np.repeat(rng.uniform([1.0, 1.0], [35.0, 38.0], (towns, 2)), 500, axis=0)
    street = centres + walk
    groups = (HIST_NODES - HIST_STREET_NODES) // 4
    corner = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=np.float64) * 0.0005
    origin = street[rng.integers(0, HIST_STREET_NODES, groups)] + rng.normal(0, 0.002, (groups, 2))
    building = (origin[:, None, :] + corner[None, :, :]).reshape(-1, 2)
    pos = np.vstack([street, building])
    return pos[:, 0], pos[:, 1]


def _nodes_table(rng) -> pa.Table:
    ids, version, ts, last = _version_times(rng, HIST_NODES, 6, 40)
    n = ids.size
    base_lon, base_lat = _node_positions(rng)
    moved = rng.uniform(0, 1, n) < 0.6
    lon = base_lon[ids - 1] + np.where(moved, rng.normal(0, 0.00005, n), 0.0)
    lat = base_lat[ids - 1] + np.where(moved, rng.normal(0, 0.00005, n), 0.0)
    lat[np.arange(n) % 200 == 7] = 95.0  # invalid coordinates
    visible = ~(last & (ids % 20 == 3))
    tags = [[("amenity", "bench")] if i % 10 < 3 else [] for i in range(n)]
    return pa.table({
        "id": ids, "version": version,
        "ts": pa.array(ts, pa.timestamp("us")),
        **_meta_cols(rng, n),
        "visible": visible,
        "lon": pa.array(lon, mask=~visible),
        "lat": pa.array(lat, mask=~visible),
        "tags": pa.array(tags, _TAGS),
    })


def _ways_table(rng) -> pa.Table:
    """Ways 1..B close one building's four corners each; the rest run along
    2-11 street nodes, the last HIST_WIDE_WAYS of them along 200. Every
    second version moves a street way to other nodes."""
    ids, version, ts, _ = _version_times(rng, HIST_WAYS, 4, 60)
    n = ids.size
    buildings = _building_ways()
    refs, tags = [], []
    for i, wid in enumerate(ids):
        wid = int(wid)
        if wid <= buildings:
            first = HIST_STREET_NODES + 4 * (wid - 1) + 1
            refs.append([first, first + 1, first + 2, first + 3, first])
            tags.append([("building", "yes")])
            continue
        if version[i] % 2 == 1:
            k = 200 if wid > HIST_WAYS - HIST_WIDE_WAYS else 2 + wid % 10
            start = int(rng.integers(1, HIST_STREET_NODES - k))
            cur = list(range(start, start + k))
        refs.append(cur)
        tags.append([("highway", "residential")])
    return pa.table({
        "id": ids, "version": version,
        "ts": pa.array(ts, pa.timestamp("us")),
        **_meta_cols(rng, n),
        "visible": np.ones(n, dtype=bool),
        "tags": pa.array(tags, _TAGS),
        "refs": pa.array(refs, pa.list_(pa.int64())),
    })


def _building_ways() -> int:
    return (HIST_NODES - HIST_STREET_NODES) // 4


def _relations_table(rng) -> pa.Table:
    """Multipolygons over one or two building ways, and routes over two
    short street ways and a stop node."""
    ids, version, ts, _ = _version_times(rng, HIST_RELATIONS, 3, 80)
    n = ids.size
    buildings = _building_ways()
    members, tags = [], []
    for rid in ids:
        rid = int(rid)
        if rid % 3 == 0:
            first = int(rng.integers(1, buildings))
            m = [{"type": "way", "id": w, "role": "outer"}
                 for w in range(first, first + 1 + rid % 2)]
            tags.append([("type", "multipolygon"), ("landuse", "grass")])
        else:
            street = rng.integers(buildings + 1, HIST_WAYS - HIST_WIDE_WAYS + 1, 2)
            m = [{"type": "way", "id": int(w), "role": ""} for w in street]
            m.append({"type": "node", "id": int(rng.integers(1, HIST_STREET_NODES + 1)),
                      "role": "stop"})
            tags.append([("type", "route"), ("route", "bus")])
        members.append(m)
    return pa.table({
        "id": ids, "version": version,
        "ts": pa.array(ts, pa.timestamp("us")),
        **_meta_cols(rng, n),
        "visible": np.ones(n, dtype=bool),
        "tags": pa.array(tags, _TAGS),
        "members": pa.array(members, pa.list_(_MEMBER)),
    })


def history_inputs(spark, work: str, seed: int) -> Inputs:
    """Node, way and relation histories: versioned edits, small moves,
    deletions, invalid coordinates, closed building ways, some ways of
    200 nodes, and route and multipolygon relations over them."""
    size = (HIST_NODES, HIST_WAYS, HIST_RELATIONS)
    path = _cache_dir(work, "history_export", seed, size)
    tables = {k: os.path.join(path, k) for k in ("nodes", "ways", "relations")}
    facts = _cached(path)
    if facts is None:
        _fresh(path)
        rng = np.random.default_rng([seed, 3])
        nodes = _nodes_table(rng)
        ways = _ways_table(rng)
        rels = _relations_table(rng)
        for name, t in (("nodes", nodes), ("ways", ways), ("relations", rels)):
            _write(t, tables[name])
        facts = {"rows": {"nodes": nodes.num_rows, "ways": ways.num_rows,
                          "relations": rels.num_rows}}
        _commit(path, facts)
    return Inputs(root=path, tables=tables, facts=facts)
