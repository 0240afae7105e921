"""GeoParquet sink: distributed parquet writes with `geo` footer metadata.

Spark's parquet writer cannot attach custom key/value footer metadata, so the
sink writes files from inside the tasks with pyarrow (one file per partition,
Arrow batches — no driver collect). This mirrors the reference's writer
configuration (`/root/reference/ohsome-contributions/src/main/java/org/
heigit/ohsome/contributions/transformer/Transformer.java:110-149`): GeoParquet
`geo` metadata declaring the WKB geometry column, ZSTD compression, 128Ki-row
row groups, and dictionary encoding disabled for id-like columns.

Idempotency: files are named from the Spark TaskContext partitionId and
written via tmp-file + atomic os.replace, so a retried or speculative task
overwrites its own output instead of duplicating it; the driver clears any
prior part files first (overwrite semantics), so re-running to the same path
never appends.

`partition_by` routes rows into hive-style `<col>=<value>/` subdirectories
from inside the same single pass (the reference's status-routing writers,
`Transformer.java:186-209`) — no per-partition re-scan of the input.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame

GEOPARQUET_VERSION = "1.1.0"
COMPRESSION = "zstd"
ROW_GROUP_ROWS = 128 * 1024


def geo_metadata(geometry_col: str = "geometry") -> dict:
    return {
        "version": GEOPARQUET_VERSION,
        "primary_column": geometry_col,
        "columns": {
            geometry_col: {
                "encoding": "WKB",
                "geometry_types": [],
                "crs": None,  # OGC:CRS84 default per GeoParquet spec
            }
        },
    }


def write_geoparquet(
    df: DataFrame,
    path: str | Path,
    geometry_col: str = "geometry",
    no_dict_columns: tuple[str, ...] = (),
    partition_by: str | None = None,
) -> list[str]:
    """Write df as GeoParquet; returns the written file names (relative).

    Each task writes its own deterministically-named file via mapInArrow
    (distributed, no shuffle, retry-safe); the 'geo' JSON lands in every
    footer. With `partition_by`, each task routes its rows into
    `<col>=<value>/part-<taskid>.parquet` — one input pass for all values.
    """
    out_dir = Path(path)
    out_dir.mkdir(parents=True, exist_ok=True)
    # overwrite semantics: clear part files from a previous run — only in
    # this sink's own layout (root + hive partition dirs); underscore-
    # prefixed scratch dirs (e.g. _entities) are not touched
    stale = list(out_dir.glob("part-*.parquet"))
    if partition_by:
        stale += list(out_dir.glob(f"{partition_by}=*/part-*.parquet"))
    for old in stale:
        old.unlink()
    meta_json = json.dumps(geo_metadata(geometry_col))
    out_str = str(out_dir)
    no_dict = list(no_dict_columns)
    part_col = partition_by

    def _write_table(table, fname):
        import pyarrow.parquet as pq

        schema_meta = {**(table.schema.metadata or {}), b"geo": meta_json.encode()}
        table = table.replace_schema_metadata(schema_meta)
        use_dict: bool | list[str] = [
            c for c in table.column_names if c not in no_dict
        ] if no_dict else True
        tmp = fname + ".tmp"
        pq.write_table(
            table,
            tmp,
            compression=COMPRESSION,
            row_group_size=ROW_GROUP_ROWS,
            use_dictionary=use_dict,
            data_page_version="2.0",
        )
        os.replace(tmp, fname)  # atomic: retries overwrite, never duplicate

    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        batches = list(batches)
        if batches:
            table = pa.Table.from_batches(batches)
            if part_col is None:
                _write_table(table, os.path.join(out_str, f"part-{pid:05d}.parquet"))
            else:
                for v in pc.unique(table.column(part_col)).to_pylist():
                    sub = table.filter(pc.equal(table[part_col], v))
                    d = os.path.join(out_str, f"{part_col}={v}")
                    os.makedirs(d, exist_ok=True)
                    _write_table(sub, os.path.join(d, f"part-{pid:05d}.parquet"))
        if False:
            yield  # generator with no output rows

    df.mapInArrow(write_partition, "dummy int").count()
    written = list(out_dir.glob("part-*.parquet"))
    if partition_by:
        written += list(out_dir.glob(f"{partition_by}=*/part-*.parquet"))
    return sorted(str(p.relative_to(out_dir)) for p in written)


def read_geo_metadata(file_path: str | Path) -> dict | None:
    import pyarrow.parquet as pq

    meta = pq.read_schema(str(file_path)).metadata or {}
    raw = meta.get(b"geo")
    return json.loads(raw.decode()) if raw else None


def partition_row_counts(root: str | Path, partition_by: str) -> dict[str, int]:
    """Per-partition row counts from parquet footers only — no data read."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for d in sorted(Path(root).glob(f"{partition_by}=*")):
        if not d.is_dir():
            continue
        v = d.name.split("=", 1)[1]
        counts[v] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in d.glob("part-*.parquet")
        )
    return counts
