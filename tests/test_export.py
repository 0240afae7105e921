"""Status-partitioned GeoParquet export — row-count goldens per partition."""

import datetime
import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.io.geoparquet import read_geo_metadata
from ohsome_planet_spark.operators.history import way_contributions
from ohsome_planet_spark.plans.export import write_contribution_export


def ts(s):
    return pd.Timestamp(s, unit="s").to_pydatetime()


def test_status_partitioned_export(spark, tmp_path):
    ways = spark.createDataFrame(
        [
            (10, 1, ts(10), 1, 1, "a", True, {"highway": "path"}, [1, 2]),
            (10, 2, ts(20), 2, 2, "b", True, {"highway": "path"}, [1, 2]),
            (11, 1, ts(10), 1, 1, "a", True, {}, [1, 2]),
            (11, 2, ts(30), 3, 3, "c", False, {}, [1, 2]),
            (12, 1, ts(10), 1, 1, "a", True, {}, [99]),  # missing node → invalid
        ],
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, tags map<string,string>, refs array<long>",
    )
    nodes = spark.createDataFrame(
        [
            (1, 1, ts(1), 1, 1, "a", True, 7.0, 12.0),
            (2, 1, ts(1), 1, 1, "a", True, 7.5, 12.5),
        ],
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, lon double, lat double",
    )
    contribs = way_contributions(ways, nodes)
    out = tmp_path / "contributions"
    counts = write_contribution_export(contribs, out)
    # goldens: way10 → history+latest; way11 → history + deleted (geometry
    # carried → not invalid); way12 → invalid (empty geometry)
    assert counts == {"latest": 1, "history": 2, "deleted": 1, "invalid": 1}
    # manifest written and matches
    assert json.loads((out / "_counts.json").read_text()) == counts
    # partitions are readable GeoParquet with footer metadata
    latest_files = list((out / "status=latest").glob("part-*.parquet"))
    assert latest_files
    meta = read_geo_metadata(latest_files[0])
    assert meta["primary_column"] == "geometry"
    back = spark.read.parquet(str(out / "status=history"))
    assert back.count() == 2


def test_export_file_properties(spark, tmp_path):
    # one task writes 128Ki + 5 rows per status, the latest rows arriving
    # in small batches interleaved with history rows: ZSTD level 3
    # everywhere, delta-encoded integer and timestamp leaves, no dictionary
    # on the geometry, the `geo` footer, and 128Ki-row groups however the
    # rows of one status are batched
    import pyarrow.parquet as pq

    from ohsome_planet_spark.io.geoparquet import COMPRESSION_LEVEL

    assert COMPRESSION_LEVEL == 3
    rows = 128 * 1024 + 5
    contribs = spark.range(2 * rows, numPartitions=1).selectExpr(
        "id AS osm_id",
        "IF(id % 2 = 0, 'latest', 'history') AS status",
        "CAST(CAST(id AS string) AS binary) AS geometry",
        "CAST(id % 3 AS string) AS user",
        "CAST(id % 5 AS int) AS osm_version",
        "CAST(timestamp_seconds(id) AS timestamp_ntz) AS valid_from",
        "array(id, id + 1) AS refs",
    )
    out = tmp_path / "contributions"
    counts = write_contribution_export(contribs, out)
    assert counts["latest"] == counts["history"] == rows
    for status in ("latest", "history"):
        (f,) = (out / f"status={status}").glob("part-*.parquet")
        meta = pq.ParquetFile(f).metadata
        assert [meta.row_group(i).num_rows for i in range(meta.num_row_groups)] \
            == [128 * 1024, 5]
    cols = {meta.row_group(0).column(i).path_in_schema: meta.row_group(0).column(i)
            for i in range(meta.num_columns)}
    assert {c.compression for c in cols.values()} == {"ZSTD"}
    for leaf in ("osm_id", "osm_version", "valid_from", "refs.list.element"):
        assert "DELTA_BINARY_PACKED" in cols[leaf].encodings, leaf
        assert not cols[leaf].has_dictionary_page, leaf
    assert not cols["geometry"].has_dictionary_page
    assert cols["user"].has_dictionary_page
    assert read_geo_metadata(f)["columns"]["geometry"]["encoding"] == "WKB"


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_export_reads_back_equal(spark, tmp_path, vectorized):
    # every leaf type the sink delta-encodes (int32, int64, timestamp_ntz,
    # list<bigint> elements, struct fields), next to dictionary and PLAIN
    # leaves, with NULLs, empty lists and NULL list elements, reads back
    # equal in Spark
    import pyarrow.parquet as pq

    ddl = ("osm_id long, status string, osm_version int, "
           "valid_to timestamp_ntz, refs array<long>, member_ids array<long>, "
           "user string, tags map<string,string>, geometry binary, xmin double, "
           "xz struct<level:int, code:long>")
    rows = [
        (i, ("latest", "history")[i % 2], None if i % 4 == 0 else i % 9 - 4,
         None if i % 3 == 0 else datetime.datetime(2020, 1, 1) +
         datetime.timedelta(seconds=977 * i),
         None if i % 5 == 0 else [] if i % 5 == 1 else
         [i * 1000 + j if j != 2 else None for j in range(i % 6)],
         [] if i % 2 else [-i, 2**40 + i],
         None if i % 7 == 0 else f"u{i % 3}",
         None if i % 6 == 0 else {"k": str(i % 4)},
         None if i % 8 == 0 else bytes([i % 256]) * (i % 5),
         None if i % 9 == 0 else i / 7,
         None if i % 10 == 0 else (i % 17, None if i % 4 == 1 else i * 31))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, ddl)
    out = tmp_path / "contributions"
    write_contribution_export(df, out)
    for f in out.rglob("part-*.parquet"):
        meta = pq.ParquetFile(f).metadata.row_group(0)
        enc = {meta.column(i).path_in_schema: meta.column(i).encodings
               for i in range(meta.num_columns)}
        for leaf in ("osm_id", "osm_version", "valid_to", "refs.list.element",
                     "member_ids.list.element", "xz.level", "xz.code"):
            assert "DELTA_BINARY_PACKED" in enc[leaf], (f, leaf)
        assert "RLE_DICTIONARY" in enc["tags.key_value.key"], f
    key = "spark.sql.parquet.enableVectorizedReader"
    old = spark.conf.get(key)
    spark.conf.set(key, vectorized)
    try:
        back = spark.read.parquet(str(out)).select(*df.columns).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted(back, key=lambda r: r.osm_id) == sorted(
        df.collect(), key=lambda r: r.osm_id)


def test_export_one_file_per_status_per_writer_task(spark, tmp_path):
    # an input split finer than one wave of cores is coalesced to one
    # writer task per core, and _counts.json (counts reported by the write
    # job) equals the row counts in the written footers
    import pyarrow.parquet as pq

    from ohsome_planet_spark.session import kernel_partitions

    kp = kernel_partitions(spark)
    contribs = spark.range(4000, numPartitions=3 * kp).selectExpr(
        "id AS osm_id",
        "element_at(array('latest', 'history', 'deleted', 'invalid'),"
        " int(id % 7 % 4) + 1) AS status",
        "CAST(CAST(id AS string) AS binary) AS geometry",
    )
    assert contribs.rdd.getNumPartitions() == 3 * kp
    out = tmp_path / "contributions"
    counts = write_contribution_export(contribs, out)
    footers = {}
    for status in ("latest", "history", "deleted", "invalid"):
        files = list((out / f"status={status}").glob("part-*.parquet"))
        assert 0 < len(files) <= kp, (status, len(files))
        footers[status] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert json.loads((out / "_counts.json").read_text()) == footers == counts
    assert sum(counts.values()) == 4000
    assert not list(out.rglob("*.tmp"))


def test_geoparquet_null_partition_value(spark, tmp_path):
    # NULL partition values land in Spark's default partition directory
    # and read back as NULL; no row is dropped
    from ohsome_planet_spark.io.geoparquet import NULL_PARTITION, write_geoparquet

    df = spark.range(10, numPartitions=2).selectExpr(
        "id", "IF(id % 3 = 0, NULL, CAST(id % 2 AS string)) AS part")
    files = write_geoparquet(df, tmp_path / "out", partition_by="part")
    rows = {}
    for f in files:
        assert f.path.startswith(f"part={f.value}/")
        rows[f.value] = rows.get(f.value, 0) + f.rows
    assert rows == {NULL_PARTITION: 4, "0": 3, "1": 3}
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.where("part IS NULL").count() == 4
    assert back.count() == 10


def test_fileinfo_reads_status_partitioned_export(spark, tmp_path):
    # tools/fileinfo.py walks the status=<v>/ directories of an export:
    # rows per status equal _counts.json, bytes and encodings per leaf
    import subprocess
    import sys
    from pathlib import Path

    contribs = spark.range(500, numPartitions=2).selectExpr(
        "id AS osm_id",
        "element_at(array('latest', 'history', 'deleted'), int(id % 3) + 1) AS status",
        "CAST(CAST(id AS string) AS binary) AS geometry",
        "CAST(id % 3 AS string) AS user",
    )
    out = tmp_path / "contributions"
    write_contribution_export(contribs, out)
    counts = json.loads((out / "_counts.json").read_text())
    tool = Path(__file__).resolve().parent.parent / "tools" / "fileinfo.py"
    info = json.loads(subprocess.run(
        [sys.executable, str(tool), str(out)],
        capture_output=True, text=True, check=True).stdout)
    parts = info["partitions"]
    assert {k: v["rows"] for k, v in parts.items()} == {
        f"status={s}": n for s, n in counts.items() if n}
    assert info["rows"] == sum(counts.values()) == 500
    assert {k: v["files"] for k, v in parts.items()} == {
        k: len(list((out / k).glob("*.parquet"))) for k in parts}
    assert info["geo"]
    leaves = info["leaves"]
    assert set(leaves) == {"osm_id", "status", "geometry", "user"}
    assert "DELTA_BINARY_PACKED" in leaves["osm_id"]["encodings"]
    assert "RLE_DICTIONARY" in leaves["user"]["encodings"]
    assert 0 < sum(v["bytes"] for v in leaves.values()) < info["bytes"]
