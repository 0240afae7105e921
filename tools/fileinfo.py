"""fileinfo — the reference's second CLI entry point (`FileInfo.call`,
`/root/reference/ohsome-contributions/src/main/java/org/heigit/ohsome/
contributions/FileInfo.java:18-50`), Spark-side: print the metadata of an
input without scanning data.

  python tools/fileinfo.py <path.osm.pbf | snapshot-table-dir | parquet-dir>

A parquet directory may be hive-partitioned, as the contribution export
is (`status=<value>/part-*.parquet`): its report gives files and rows per
partition directory, and compressed bytes and encodings per leaf column.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    target = Path(sys.argv[1])
    if target.is_file() and target.suffix == ".pbf" or str(target).endswith(".osm.pbf"):
        from ohsome_planet_spark.sources.pbf import (
            _read_blob_payload,
            decode_header_block,
            scan_blob_headers,
        )

        headers = scan_blob_headers(target)
        hdr_blob = next(h for h in headers if h["type"] == "OSMHeader")
        header = decode_header_block(
            _read_blob_payload(str(target), hdr_blob["offset"], hdr_blob["size"])
        )
        print(json.dumps(
            {
                "kind": "osm.pbf",
                "blobs": len(headers),
                "data_blobs": sum(1 for h in headers if h["type"] == "OSMData"),
                "bbox": header.get("bbox"),
                "required_features": header.get("required_features"),
                "optional_features": header.get("optional_features"),
                # osmosis replication block (`Header.java:57-93`)
                "replication_timestamp": header.get("replication_timestamp"),
                "replication_sequence_number": header.get(
                    "replication_sequence_number"),
                "replication_base_url": header.get("replication_base_url"),
            },
            indent=1,
        ))
        return
    if (target / "CURRENT").exists():
        from ohsome_planet_spark.io.snapshots import SnapshotTable

        t = SnapshotTable(target)
        m = t.manifest()
        print(json.dumps(
            {
                "kind": "snapshot-table",
                "current_snapshot": t.current_snapshot_id(),
                "snapshot_chain": t.snapshot_chain(),
                "partitions": {
                    k: {"rows": v["rows"], "files": len(v["files"])}
                    for k, v in (m or {}).get("partitions", {}).items()
                },
            },
            indent=1,
        ))
        return
    print(json.dumps(parquet_info(target), indent=1))


def parquet_info(root: Path) -> dict:
    """Files and rows per hive partition directory (`status=latest`, ...;
    "" for files at the root) and, per leaf column, compressed bytes, share
    of all column bytes and encodings: read from the footers only.
    Underscore- and dot-prefixed directories (scratch, manifests) are
    skipped, as Spark's reader skips them."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in root.rglob("*.parquet")
        if not any(p.startswith(("_", ".")) for p in f.relative_to(root).parts))
    partitions: dict[str, dict] = {}
    leaves: dict[str, dict] = {}
    md = None
    for f in files:
        md = pq.read_metadata(f)
        part = partitions.setdefault(
            "/".join(f.relative_to(root).parts[:-1]), {"files": 0, "rows": 0})
        part["files"] += 1
        part["rows"] += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                leaf = leaves.setdefault(
                    c.path_in_schema, {"bytes": 0, "encodings": set()})
                leaf["bytes"] += c.total_compressed_size
                leaf["encodings"].update(c.encodings)
    total = max(1, sum(v["bytes"] for v in leaves.values()))
    return {
        "kind": "parquet",
        "files": len(files),
        "rows": sum(p["rows"] for p in partitions.values()),
        "bytes": sum(f.stat().st_size for f in files),
        "columns": md.schema.to_arrow_schema().names if md else [],
        "geo": bool(md and b"geo" in (md.metadata or {})),
        "partitions": dict(sorted(partitions.items())),
        "leaves": {
            k: {"bytes": v["bytes"], "share": round(v["bytes"] / total, 4),
                "encodings": sorted(v["encodings"])}
            for k, v in leaves.items()
        },
    }


if __name__ == "__main__":
    main()
