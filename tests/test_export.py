"""Status-partitioned GeoParquet export — row-count goldens per partition."""

import json

import pandas as pd
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
    # one task writes 128Ki + 5 rows: ZSTD everywhere, no dictionary on
    # the geometry and id columns, the `geo` footer, 128Ki-row groups
    import pyarrow.parquet as pq

    rows = 128 * 1024 + 5
    contribs = spark.range(rows, numPartitions=1).selectExpr(
        "id AS osm_id",
        "'latest' AS status",
        "CAST(CAST(id AS string) AS binary) AS geometry",
        "CAST(id % 3 AS string) AS user",
    )
    out = tmp_path / "contributions"
    assert write_contribution_export(contribs, out)["latest"] == rows
    (f,) = (out / "status=latest").glob("part-*.parquet")
    meta = pq.ParquetFile(f).metadata
    assert [meta.row_group(i).num_rows for i in range(meta.num_row_groups)] \
        == [128 * 1024, 5]
    cols = {meta.row_group(0).column(i).path_in_schema: meta.row_group(0).column(i)
            for i in range(meta.num_columns)}
    assert {c.compression for c in cols.values()} == {"ZSTD"}
    assert not cols["geometry"].has_dictionary_page
    assert not cols["osm_id"].has_dictionary_page
    assert cols["user"].has_dictionary_page
    assert read_geo_metadata(f)["columns"]["geometry"]["encoding"] == "WKB"
