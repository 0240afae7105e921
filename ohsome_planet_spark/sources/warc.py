"""WARC source: Common-Crawl-style archives → the pages table.

The engine's pages schema (url, warc_ts, html, text, lang — BASELINE
input_hint) is what a crawl DELIVERS as WARC (ISO 28500): gzip'd streams
of length-framed records. This source reads real WARC files into that
schema with no external parser:

* file granularity = task granularity (`binaryFile` source), the standard
  Common-Crawl processing shape — archives are ~1 GB each and
  independently decodable, so a 100 TB crawl is just many tasks; records
  never split across tasks;
* gzip member concatenation (CC writes one member per record) and plain
  single-stream gzip both decode via zlib's multi-member loop;
* WARC/1.0 and /1.1 headers, Content-Length framing, only
  `WARC-Type: response` records surface (requests/metadata skipped), the
  HTTP envelope is stripped to the payload;
* text extraction is a deterministic tag-strip (script/style dropped,
  entities unescaped, whitespace collapsed) — the value the `text`
  column carries; `lang` via the marker-class heuristic. Swap
  `html_to_text` for trafilatura-class extraction in deployment; the
  schema and plumbing stay identical.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession

from ..session import drop_spark_zip_finders

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (CC: one member per record).

    Fault-tolerant: a corrupt member (truncated upload, bit rot — routine
    in real crawl archives) is SKIPPED by resyncing on the next gzip
    magic, instead of failing the whole multi-thousand-record file."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[pos:])
            chunk += d.flush()
        except zlib.error:
            nxt = data.find(b"\x1f\x8b\x08", pos + 1)
            if nxt < 0:
                break
            pos = nxt
            continue
        out += chunk
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return bytes(out)


def parse_warc_records(raw: bytes):
    """Yield (headers: dict, payload: bytes) per WARC record."""
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and raw[pos:pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        if not raw[pos:pos + 5] == b"WARC/":
            nxt = raw.find(b"WARC/", pos)
            if nxt < 0:
                return
            pos = nxt
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return
        lines = raw[pos:hdr_end].decode("utf-8", "replace").split("\r\n")
        headers = {}
        for line in lines[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            # mangled header: drop the record, resync on the next one
            nxt = raw.find(b"WARC/", hdr_end + 4)
            if nxt < 0:
                return
            pos = nxt
            continue
        body = raw[hdr_end + 4:hdr_end + 4 + length]
        yield headers, body
        pos = hdr_end + 4 + length


def _http_payload(body: bytes) -> bytes:
    """Strip the HTTP response envelope from a response record payload."""
    if body[:5] in (b"HTTP/",):
        split = body.find(b"\r\n\r\n")
        if split >= 0:
            return body[split + 4:]
    return body


def html_to_text(html: str) -> str:
    """Deterministic tag-strip text extraction (the swap point for a
    production extractor)."""
    import html as _html
    import re

    s = re.sub(r"(?is)<(script|style)\b.*?</\1>", " ", html)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    s = re.sub(r"(?s)<[^>]+>", " ", s)
    s = _html.unescape(s)
    return re.sub(r"\s+", " ", s).strip()


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file glob → pages DataFrame (url, warc_ts, html, text, lang)."""
    import pandas as pd

    from ..functions.text import lang_id_py

    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def extract(batches):
        drop_spark_zip_finders()
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    data = _gunzip_members(data)
                for headers, body in parse_warc_records(data):
                    if headers.get("warc-type") != "response":
                        continue
                    url = headers.get("warc-target-uri", "")
                    ts = headers.get("warc-date", "1970-01-01T00:00:00Z")
                    payload = _http_payload(body)
                    text = html_to_text(
                        payload.decode("utf-8", "replace"))
                    rows.append(
                        (url, pd.Timestamp(ts).tz_localize(None)
                         if pd.Timestamp(ts).tzinfo is None
                         else pd.Timestamp(ts).tz_convert("UTC").tz_localize(None),
                         payload, text, lang_id_py(text)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return files.mapInPandas(extract, PAGES_SCHEMA)
