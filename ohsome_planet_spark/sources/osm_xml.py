"""OSM XML source (S8/S9): .osm documents → nodes/ways/relations DataFrames.

Parity with the reference's StAX readers (`/root/reference/osm-xml/src/main/
java/org/heigit/ohsome/osm/xml/OSMXmlIterator.java:14-176`, changeset reader
`/root/reference/osm-changesets/.../ChangesetXmlReader.java:16-149`): element
attributes (id, version, timestamp, changeset, uid, user, visible defaulting
true), `<tag k v>`, `<nd ref>`, `<member type ref role>`.

Like the reference, this source exists for test fixtures and golden suites
(the production input is the pages table); files are parsed per-file inside
tasks via a parallelized file list, so even this path distributes.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..session import drop_spark_zip_finders

NODE_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, lon double, lat double"
)
WAY_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, refs array<long>"
)
REL_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, "
    "members array<struct<type:string, id:long, role:string>>"
)
CHANGESET_SCHEMA = (
    "id long, created_at timestamp_ntz, closed_at timestamp_ntz, "
    "num_changes int, tags map<string,string>"
)


def _parse_ts(val: str | None):
    if not val:
        return None
    t = pd.Timestamp(val)
    if t.tzinfo is not None:
        t = t.tz_localize(None)
    return t.to_pydatetime()


def _common_attrs(el) -> dict:
    return {
        "id": int(el.get("id")),
        "version": int(el.get("version", "1")),
        "ts": _parse_ts(el.get("timestamp")),
        "changeset": int(el.get("changeset", "-1")),
        "user_id": int(el.get("uid", "-1")),
        "user": el.get("user", ""),
        "visible": el.get("visible", "true") == "true",
        "tags": {t.get("k"): t.get("v") for t in el.findall("tag")},
    }


def parse_osm_xml(text: str) -> tuple[list[dict], list[dict], list[dict]]:
    root = ET.fromstring(text)
    nodes, ways, rels = [], [], []
    for el in root.iter("node"):
        row = _common_attrs(el)
        row["lon"] = float(el.get("lon", "nan"))
        row["lat"] = float(el.get("lat", "nan"))
        nodes.append(row)
    for el in root.iter("way"):
        row = _common_attrs(el)
        row["refs"] = [int(nd.get("ref")) for nd in el.findall("nd")]
        ways.append(row)
    for el in root.iter("relation"):
        row = _common_attrs(el)
        row["members"] = [
            (m.get("type"), int(m.get("ref")), m.get("role", "")) for m in el.findall("member")
        ]
        rels.append(row)
    return nodes, ways, rels


_XML_SUPERSET_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, lon double, "
    "lat double, refs array<long>, "
    "members array<struct<type:string, id:long, role:string>>, kind string"
)
_XML_BASE_COLS = ("id", "version", "ts", "changeset", "user_id", "user",
                  "visible", "tags")


def read_osm_xml(spark: SparkSession, paths: list[str | Path]):
    """→ (nodes_df, ways_df, relations_df) parsed per-file in tasks.

    Entities never touch the driver: each task parses its files into
    superset rows (per-type fields null) and the three outputs are type
    filters over that distributed frame — the same shape as the PBF
    source's blob-parallel decode (pbf.py). A multi-GB .osm therefore
    scales with executors instead of OOMing the driver."""
    from pyspark.sql import functions as F

    plist = [str(p) for p in paths]
    rdd = spark.sparkContext.parallelize(plist, max(1, len(plist)))

    def parse(path: str):
        n, w, r = parse_osm_xml(Path(path).read_text(encoding="utf-8"))
        for row in n:
            yield tuple(row[c] for c in _XML_BASE_COLS) + (
                row["lon"], row["lat"], None, None, "n")
        for row in w:
            yield tuple(row[c] for c in _XML_BASE_COLS) + (
                None, None, row["refs"], None, "w")
        for row in r:
            yield tuple(row[c] for c in _XML_BASE_COLS) + (
                None, None, None, row["members"], "r")

    sup = spark.createDataFrame(rdd.flatMap(parse), _XML_SUPERSET_SCHEMA)
    base = list(_XML_BASE_COLS)
    return (
        sup.where(F.col("kind") == "n").select(*base, "lon", "lat"),
        sup.where(F.col("kind") == "w").select(*base, "refs"),
        sup.where(F.col("kind") == "r").select(*base, "members"),
    )


def parse_changeset_xml(text: str) -> list[dict]:
    root = ET.fromstring(text)
    out = []
    for el in root.iter("changeset"):
        out.append(
            {
                "id": int(el.get("id")),
                "created_at": _parse_ts(el.get("created_at")),
                "closed_at": _parse_ts(el.get("closed_at")),
                "num_changes": int(el.get("num_changes", "-1")),
                "tags": {t.get("k"): t.get("v") for t in el.findall("tag")},
            }
        )
    return out


def read_changeset_xml(spark: SparkSession, path: str | Path) -> DataFrame:
    """Single-document changeset XML, parsed inside a task (no driver parse)."""
    rdd = spark.sparkContext.parallelize([str(path)], 1).flatMap(
        lambda p: [
            (r["id"], r["created_at"], r["closed_at"], r["num_changes"], r["tags"])
            for r in parse_changeset_xml(Path(p).read_text(encoding="utf-8"))
        ]
    )
    return spark.createDataFrame(rdd, CHANGESET_SCHEMA)


def read_changeset_xml_bz2(spark: SparkSession, path: str | Path) -> DataFrame:
    """S10 (`PBZ2Reader.java:13-111`): bz2-compressed changeset dumps.

    The reference hand-rolls a parallel BZh-block splitter; Spark's Hadoop
    bzip2 codec is already splittable, so `spark.read.text` gives distributed
    decompression for free — tasks then regroup `<changeset ...>` element
    spans and parse them (elements never nest, so line-spans regroup safely).
    """
    lines = spark.read.text(str(path))

    def parse_partition(batches):
        drop_spark_zip_finders()
        import pandas as pd

        buf: list[str] = []
        rows = []
        inside = False
        for pdf in batches:
            for line in pdf["value"]:
                s = line.strip()
                if "<changeset" in s:
                    inside = True
                    buf = [s]
                    # self-closing single-line element
                    if s.endswith("/>"):
                        rows.extend(parse_changeset_xml("<osm>" + s + "</osm>"))
                        inside = False
                    continue
                if inside:
                    buf.append(s)
                    if "</changeset>" in s:
                        rows.extend(
                            parse_changeset_xml("<osm>" + "\n".join(buf) + "</osm>")
                        )
                        inside = False
        yield pd.DataFrame(
            [
                (r["id"], r["created_at"], r["closed_at"], r["num_changes"], r["tags"])
                for r in rows
            ],
            columns=["id", "created_at", "closed_at", "num_changes", "tags"],
        )

    return lines.mapInPandas(parse_partition, CHANGESET_SCHEMA)
