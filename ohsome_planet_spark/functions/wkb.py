"""WKB encoder/decoder, JTS-default flavor: 2D, big-endian, no SRID.

Matches the byte layout produced by the reference's `new WKBWriter()`
(`/root/reference/ohsome-contributions/src/main/java/org/heigit/ohsome/
contributions/contrib/ContributionsAvroConverter.java:38,223-225`) so
GeoParquet geometry columns are byte-compatible.
"""

from __future__ import annotations

import struct

import numpy as np

_KIND_CODE = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_CODE_KIND = {v: k for k, v in _KIND_CODE.items()}


def _ring_bytes(arr: np.ndarray) -> bytes:
    arr = np.ascontiguousarray(np.asarray(arr, dtype=">f8"))
    return struct.pack(">I", arr.shape[0]) + arr.tobytes()


def wkb_dumps(geom) -> bytes:
    kind, data = geom
    code = _KIND_CODE[kind]
    head = b"\x00" + struct.pack(">I", code)
    if data is None:  # empty geometry: JTS writes Point(NaN NaN) for empty point
        if kind == "Point":
            return head + struct.pack(">dd", float("nan"), float("nan"))
        return head + struct.pack(">I", 0)
    if kind == "Point":
        return head + struct.pack(">dd", float(data[0]), float(data[1]))
    if kind in ("LineString", "MultiPoint"):
        if kind == "MultiPoint":
            pts = np.asarray(data)
            body = struct.pack(">I", pts.shape[0]) + b"".join(
                wkb_dumps(("Point", (p[0], p[1]))) for p in pts
            )
            return head + body
        return head + _ring_bytes(data)
    if kind == "Polygon":
        body = struct.pack(">I", len(data)) + b"".join(_ring_bytes(r) for r in data)
        return head + body
    if kind == "MultiLineString":
        body = struct.pack(">I", len(data)) + b"".join(
            wkb_dumps(("LineString", line)) for line in data
        )
        return head + body
    if kind == "MultiPolygon":
        body = struct.pack(">I", len(data)) + b"".join(
            wkb_dumps(("Polygon", poly)) for poly in data
        )
        return head + body
    if kind == "GeometryCollection":
        body = struct.pack(">I", len(data)) + b"".join(wkb_dumps(g) for g in data)
        return head + body
    raise ValueError(f"unsupported kind {kind}")


def point_wkb_matrix(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """(N, 21) uint8: row i is the point WKB of (x[i], y[i]) — byte order
    0x00, >u4 type 1, >f8 x, >f8 y. A NaN pair encodes the empty point, as
    JTS writes it."""
    n = x.shape[0]
    buf = np.zeros((n, 21), np.uint8)
    buf[:, 4] = 1  # byte 0: big-endian; bytes 1-4: u32 Point code
    buf[:, 5:13] = x.astype(">f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = y.astype(">f8").view(np.uint8).reshape(n, 8)
    return buf


def wkb_loads(buf: bytes):
    geom, _ = _read_geom(memoryview(buf), 0)
    return geom


def _read_geom(mv, off: int):
    bo = ">" if mv[off] == 0 else "<"
    code = struct.unpack_from(bo + "I", mv, off + 1)[0] & 0xFF
    kind = _CODE_KIND[code]
    off += 5
    if kind == "Point":
        x, y = struct.unpack_from(bo + "dd", mv, off)
        if x != x:  # NaN → empty
            return (kind, None), off + 16
        return (kind, (x, y)), off + 16
    n = struct.unpack_from(bo + "I", mv, off)[0]
    off += 4
    if kind in ("LineString",):
        arr = np.frombuffer(mv, dtype=bo + "f8", count=2 * n, offset=off).reshape(n, 2)
        return (kind, arr.astype(np.float64)), off + 16 * n
    if kind == "Polygon":
        rings = []
        for _ in range(n):
            m = struct.unpack_from(bo + "I", mv, off)[0]
            off += 4
            arr = np.frombuffer(mv, dtype=bo + "f8", count=2 * m, offset=off).reshape(m, 2)
            rings.append(arr.astype(np.float64))
            off += 16 * m
        return (kind, rings), off
    if kind in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"):
        parts = []
        for _ in range(n):
            g, off = _read_geom(mv, off)
            parts.append(g)
        if kind == "MultiPoint":
            return (kind, np.asarray([p[1] for p in parts], np.float64)), off
        if kind == "MultiLineString":
            return (kind, [p[1] for p in parts]), off
        if kind == "MultiPolygon":
            return (kind, [p[1] for p in parts]), off
        return (kind, parts), off
    raise ValueError(f"unsupported WKB code {code}")
