"""Contribution export: the reference's output layout, Spark-side.

Mirrors `contributions/{latest,history}/...` hive partitioning with GeoParquet
files (`/root/reference/ohsome-contributions/src/main/java/org/heigit/ohsome/
contributions/transformer/Transformer.java:186-209`, `README.md:86-109`):
rows route by `status` (latest / history / deleted / invalid), each partition
directory holds GeoParquet files with the `geo` footer, and a small JSON
manifest records per-status row counts (the `geoparquet_counts` golden of
FIXTURES.md §8).

Single pass: the reference routes each row to a per-status writer during ONE
traversal (`Transformer.java:186-209`); this sink does the same via
`write_geoparquet(partition_by="status")` — one writer task per core splits
its Arrow batches by status and streams them into one file per status under
`status=<v>/`, buffering at most one row group per status. Counts come from
the write job itself (each task reports the rows of every file it wrote), so
the contributions DAG executes exactly once regardless of how many statuses
exist, and the driver never re-reads the output.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io.geoparquet import write_geoparquet

STATUSES = ("latest", "history", "deleted", "invalid")


def avsc_view(contribs: DataFrame, build_time_ms: int = 0) -> DataFrame:
    """Reshape the engine's flat contribution columns into the reference's
    output record shape (`ohsome-contributions/src/main/avro/contrib.avsc:
    1-373`): nested user / changeset / bbox / centroid / xzcode structs,
    members array, and the build_time stamp. Field names and order match
    the avsc so downstream consumers of the reference's GeoParquet can read
    this engine's output unchanged. Semantics are identical either way —
    this is a zero-shuffle projection over CONTRIB_SCHEMA.

    build_time_ms: the job's wall-clock stamp (`contrib.avsc:367-371`);
    pass e.g. int(time.time() * 1000) from the job driver.
    """
    cols = set(contribs.columns)

    def opt(name, default):
        return F.col(name) if name in cols else default

    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    changeset_struct = F.struct(
        F.col("changeset").alias("id"),
        opt("changeset_created_at", epoch0).alias("created_at"),
        opt("changeset_closed_at", F.lit(None).cast("timestamp_ntz")).alias("closed_at"),
        opt("changeset_tags", F.create_map().cast("map<string,string>")).alias("tags"),
        opt("changeset_hashtags", F.array().cast("array<string>")).alias("hashtags"),
        opt("changeset_editor", F.lit(None).cast("string")).alias("editor"),
        opt("changeset_num_changes", F.lit(-1).cast("int")).alias("numChanges"),
    )
    if "member_types" in cols and "member_geom_types" in cols:
        # per-member geometries ride along (ContributionsAvroConverter.
        # member():194-209 emits each resolved member's own geometry)
        members = F.when(
            F.col("member_types").isNotNull(),
            F.transform(
                F.arrays_zip(
                    "member_types", "member_ids", "member_roles",
                    "member_geom_types", "member_geoms",
                ),
                lambda z: F.struct(
                    z["member_types"].alias("type"),
                    z["member_ids"].alias("id"),
                    z["member_roles"].alias("role"),
                    z["member_geom_types"].alias("geometry_type"),
                    z["member_geoms"].alias("geometry"),
                ),
            ),
        )
    elif "member_types" in cols:
        members = F.when(
            F.col("member_types").isNotNull(),
            F.zip_with(
                F.arrays_zip("member_types", "member_ids"),
                F.col("member_roles"),
                lambda ti, role: F.struct(
                    ti["member_types"].alias("type"),
                    ti["member_ids"].alias("id"),
                    role.alias("role"),
                    F.lit(None).cast("string").alias("geometry_type"),
                    F.lit(None).cast("binary").alias("geometry"),
                ),
            ),
        )
    else:
        members = F.lit(None).cast(
            "array<struct<type:string,id:long,role:string,"
            "geometry_type:string,geometry:binary>>"
        )
    return contribs.select(
        "status",
        "valid_from",
        "valid_to",
        "osm_type",
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "osm_last_edit",
        F.struct(
            F.col("user_id").cast("int").alias("id"), F.col("user").alias("name")
        ).alias("user"),
        "tags",
        "tags_before",
        changeset_struct.alias("changeset"),
        F.when(
            F.col("xmin").isNotNull(),
            F.struct("xmin", "ymin", "xmax", "ymax"),
        ).alias("bbox"),
        F.when(
            F.col("centroid_x").isNotNull(),
            F.struct(F.col("centroid_x").alias("x"), F.col("centroid_y").alias("y")),
        ).alias("centroid"),
        F.struct(
            F.col("xz_level").alias("level"), F.col("xz_code").alias("code")
        ).alias("xzcode"),
        "geometry_type",
        "geometry",
        "area",
        "area_delta",
        "length",
        "length_delta",
        "contrib_type",
        (F.col("refs") if "refs" in cols else F.lit(None).cast("array<long>")).alias("refs"),
        members.alias("members"),
        "countries",
        F.lit(build_time_ms).cast("long").alias("build_time"),
    )


def write_contribution_export(
    contribs: DataFrame,
    path: str | Path,
    geometry_col: str = "geometry",
) -> dict[str, int]:
    """Write status-partitioned GeoParquet; returns per-status row counts.

    Deliberate layout divergence from the reference: its Writer bins files
    into just TWO physical directories, `contributions/{latest,history}`,
    with deleted/invalid rows living under history/ and the status FIELD
    retaining their value (`Writer.java:44-46,76-80`). Here every status
    value is its own hive partition (`status=latest/...`): the status
    column's semantics are identical row-for-row, but a filter like
    status='deleted' prunes at the directory level instead of scanning the
    whole history partition — the right trade at 100 TB."""
    out = Path(path)
    out.mkdir(parents=True, exist_ok=True)
    files = write_geoparquet(
        contribs, out, geometry_col=geometry_col, partition_by="status")
    counts = {s: 0 for s in STATUSES}
    for f in files:
        counts[f.value] = counts.get(f.value, 0) + f.rows
    (out / "_counts.json").write_text(json.dumps(counts, indent=1, sort_keys=True))
    return counts
