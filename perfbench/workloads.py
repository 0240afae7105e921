"""The benchmark's three workloads.

Each workload reads stored seeded inputs, runs one user-facing job per call
through the library's public functions, and checks the job's output:

* row count and an order-independent content hash against the reference
  output for the seed (the first output this checkout produced for it);
* one cheap invariant computed without the code under test.

The traced form of a job times prefixes of the pipeline, each sent to the
noop sink; a layer's self time is its prefix minus the prefix before it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

import inputs as gen
from spans import SqlMetrics, Tracer, layer_counts

# Per-layer metrics a traced job measures; layers a workload does not
# exercise report 0. The traced run adds unattributed_s and failed_frac.
LAYER_METRICS = (
    "sources.scan_s",
    "operators.geocode.extract_s",
    "operators.geocode.mentions",
    "operators.spatial_join.build_index_s",
    "plans.enrich.call_s",
    "plans.enrich.rows_s",
    "plans.enrich.matched_frac",
    "plans.enrich.aggregate_s",
    "exchange.shuffle_bytes",
    "exchange.broadcast_bytes",
    "exchange.broadcast_collect_s",
    "operators.history.node_s",
    "operators.history.way_s",
    "operators.history.relation_s",
    "operators.history.node_rows",
    "operators.history.way_rows",
    "operators.history.relation_rows",
    "plans.export.write_s",
    "io.geoparquet.files",
    "io.geoparquet.bytes",
    "arrow.python_s",
    "arrow.worker_start_s",
    "arrow.bytes_to_python",
    "arrow.bytes_from_python",
    "traced_wall_s",
    "trace_overhead_s",
)

_MASK32 = 0xFFFFFFFF


@dataclass
class JobResult:
    seconds: float
    pages: int          # input records the job consumed
    contributions: int  # output units the job produced
    bytes: int          # storage bytes per job (see the workload)
    ok: bool
    detail: str = ""
    layers: dict = field(default_factory=dict)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _row_hash(df: DataFrame):
    cols = [
        F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return F.xxhash64(*cols)


def _digest_cols(h):
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(h.bitwiseAND(F.lit(_MASK32))).alias("sum32"),
    ]


class _Reference:
    """The first output digest seen for a seed; later jobs must match it."""

    def __init__(self, path: str):
        self.path = path
        self.value = None
        if os.path.exists(path):
            with open(path) as f:
                self.value = json.load(f)

    def check(self, digest: dict) -> str:
        if self.value is None:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(digest, f)
            os.replace(tmp, self.path)
            self.value = digest
            return ""
        if digest != self.value:
            return f"digest {digest} != reference {self.value}"
        return ""


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ enrich


class EnrichHot:
    """The headline path: stored pages → `enrich_tile_counts(salted=True)`
    with the built-in gazetteer (memoized per session after the first call)
    and skewed mentions, collected as one digest row."""

    name = "enrich_hot"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.inp = gen.hot_inputs(spark, work, seed)
        self.pages_n = self.inp.facts["pages"]
        self.expected_sum_n = self._expected_sum_n()
        self.reference = _Reference(os.path.join(self.inp.root, "_reference.json"))

    def _expected_sum_n(self) -> int:
        """Σn of the tile counts: each valid-coordinate mention contributes
        one row per country it lies in, or one row when it lies in none
        (explode_outer). Country sets come from the exact per-polygon probe,
        not the covered-cell grid the pipeline uses."""
        import numpy as np

        from ohsome_planet_spark.operators.spatial_join import build_index
        from ohsome_planet_spark.sources.countries import fixture_features
        from ohsome_planet_spark.sources.gazetteer import GAZETTEER

        counts = self.inp.facts["mentions_by_entity"]
        valid = [(e, la, lo) for e, la, lo in GAZETTEER
                 if e in counts and -90 <= la <= 90 and -180 <= lo <= 180]
        hits = build_index(fixture_features()).join_points(
            np.array([lo for _, _, lo in valid]), np.array([la for _, la, _ in valid]))
        return sum(counts[e] * max(1, len(h)) for (e, _, _), h in zip(valid, hits))

    def _pages(self) -> DataFrame:
        return self.spark.read.parquet(self.inp.tables["pages"])

    def _digest(self, out: DataFrame) -> dict:
        h = _row_hash(out)
        r = out.agg(*_digest_cols(h), F.sum("n").alias("sum_n")).collect()[0]
        return {k: int(r[k] or 0) for k in ("rows", "xor", "sum32", "sum_n")}

    def _check(self, digest: dict) -> str:
        if digest["sum_n"] != self.expected_sum_n:
            return f"sum(n) {digest['sum_n']} != expected {self.expected_sum_n}"
        return self.reference.check(digest)

    def _scan_bytes(self) -> int:
        path = self.inp.tables["pages"]
        return sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if f.endswith(".parquet"))

    def _tile_counts(self, pages: DataFrame) -> DataFrame:
        from ohsome_planet_spark.plans.enrich import enrich_tile_counts

        return enrich_tile_counts(self.spark, pages, salted=True)

    def job(self, out_dir: str) -> JobResult:
        t0 = time.perf_counter()
        digest = self._digest(self._tile_counts(self._pages()))
        secs = time.perf_counter() - t0
        err = self._check(digest)
        return JobResult(secs, self.pages_n, digest["sum_n"], self._scan_bytes(),
                         not err, err)

    def traced_job(self, tracer: Tracer, out_dir: str) -> JobResult:
        from pyspark.sql import Observation

        from ohsome_planet_spark.operators.geocode import extract_mentions
        from ohsome_planet_spark.plans.enrich import enrich_pages, tile_counts_from_enriched

        sql = SqlMetrics(self.spark)
        before = sql.last_id()
        with tracer.span("job") as job:
            with tracer.span("plans.enrich.call") as call:
                out = self._tile_counts(self._pages())
            with tracer.span("collect"):
                digest = self._digest(out)
        counts = layer_counts(sql.nodes(before))
        s = {}
        with tracer.span("prefixes") as pre:
            pages = self._pages()
            with tracer.span("sources.scan") as sp:
                _noop(pages.select("url", "warc_ts", "text"))
            s["scan"] = sp.seconds
            with tracer.span("operators.geocode.extract") as sp:
                _noop(extract_mentions(pages))
            s["extract"] = sp.seconds
            obs = Observation("enrich_rows")
            enriched = enrich_pages(self.spark, pages, with_geometry=False).observe(
                obs, F.count(F.lit(1)).alias("mentions"),
                F.sum(F.col("coord_valid").cast("long")).alias("valid"))
            with tracer.span("plans.enrich.rows") as sp:
                _noop(enriched)
            s["rows"] = sp.seconds
            o = obs.get
            with tracer.span("plans.enrich.aggregate") as sp:
                _noop(tile_counts_from_enriched(
                    enrich_pages(self.spark, pages, with_geometry=False), salted=True))
            s["agg"] = sp.seconds
        err = self._check(digest)
        mentions = int(o["mentions"])
        layers = {
            "sources.scan_s": s["scan"],
            "operators.geocode.extract_s": s["extract"] - s["scan"],
            "operators.geocode.mentions": mentions,
            "plans.enrich.call_s": call.seconds,
            "plans.enrich.rows_s": s["rows"] - s["extract"],
            "plans.enrich.matched_frac": int(o["valid"] or 0) / max(1, mentions),
            "plans.enrich.aggregate_s": s["agg"] - s["rows"],
            "traced_wall_s": job.seconds,
            "trace_overhead_s": pre.seconds,
            **counts,
        }
        return JobResult(job.seconds, self.pages_n, digest["sum_n"], self._scan_bytes(),
                         not err, err, layers)


# ----------------------------------------------------------------- history


class HistoryExport:
    """Node, way and relation histories → contributions → status-partitioned
    GeoParquet in a fresh directory."""

    name = "history_export"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.inp = gen.history_inputs(spark, work, seed)
        self.pages_n = sum(self.inp.facts["rows"].values())
        self.reference = _Reference(os.path.join(self.inp.root, "_reference.json"))

    def _read(self, name: str) -> DataFrame:
        df = self.spark.read.parquet(self.inp.tables[name])
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    @staticmethod
    def _index():
        """The country index, built per job as `plans.contributions` does."""
        from ohsome_planet_spark.operators.spatial_join import build_index
        from ohsome_planet_spark.sources.countries import fixture_features

        return build_index(fixture_features())

    def _parts(self, index):
        from ohsome_planet_spark.operators.history import (
            node_contributions, relation_contributions, way_contributions,
        )

        nodes, ways, rels = self._read("nodes"), self._read("ways"), self._read("relations")
        return (
            node_contributions(nodes, index),
            way_contributions(ways, nodes, index),
            relation_contributions(rels, ways, nodes, index),
        )

    @staticmethod
    def _union(parts) -> DataFrame:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _export(self, out_dir: str) -> dict:
        from ohsome_planet_spark.plans.export import write_contribution_export

        return write_contribution_export(self._union(self._parts(self._index())), out_dir)

    def _check(self, out_dir: str, counts: dict) -> tuple[str, dict, dict]:
        """Read the export back: per-status rows must equal _counts.json, and
        the whole output's digest must equal the seed's reference."""
        with open(os.path.join(out_dir, "_counts.json")) as f:
            manifest = json.load(f)
        back = self.spark.read.parquet(out_dir)
        h = _row_hash(back.drop("status"))
        rows = back.groupBy("status", "osm_type").agg(*_digest_cols(h)).collect()
        by_status: dict[str, int] = {s: 0 for s in manifest}
        by_type: dict[str, int] = {}
        xor, sum32 = 0, 0
        for r in rows:
            by_status[r["status"]] = by_status.get(r["status"], 0) + r["rows"]
            by_type[r["osm_type"]] = by_type.get(r["osm_type"], 0) + r["rows"]
            xor ^= int(r["xor"])
            sum32 += int(r["sum32"])
        if by_status != manifest or manifest != counts:
            return f"read back {by_status} != _counts.json {manifest}", by_type, {}
        digest = {"rows": sum(by_status.values()), "xor": xor, "sum32": sum32,
                  "by_status": manifest}
        return self.reference.check(digest), by_type, digest

    @staticmethod
    def _files(out_dir: str) -> tuple[int, int]:
        n = size = 0
        for d, _, files in os.walk(out_dir):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size

    def job(self, out_dir: str) -> JobResult:
        try:
            t0 = time.perf_counter()
            counts = self._export(out_dir)
            secs = time.perf_counter() - t0
            err = self._check(out_dir, counts)[0]
            _, size = self._files(out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return JobResult(secs, self.pages_n, sum(counts.values()), size, not err, err)

    def traced_job(self, tracer: Tracer, out_dir: str) -> JobResult:
        from ohsome_planet_spark.plans.export import write_contribution_export

        sql = SqlMetrics(self.spark)
        s = {}
        try:
            before = sql.last_id()
            with tracer.span("job") as job:
                with tracer.span("operators.spatial_join.build_index") as bi:
                    index = self._index()
                with tracer.span("operators.history.calls"):
                    contribs = self._union(self._parts(index))
                with tracer.span("plans.export.write_contribution_export"):
                    counts = write_contribution_export(contribs, out_dir)
            layer = layer_counts(sql.nodes(before))
            err, by_type, _ = self._check(out_dir, counts)
            files, size = self._files(out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        with tracer.span("prefixes") as pre:
            with tracer.span("sources.scan"):
                for name in ("nodes", "ways", "relations"):
                    with tracer.span(f"sources.scan.{name}") as sp:
                        _noop(self._read(name))
                    s[name] = sp.seconds
            node, way, rel = self._parts(index)
            for key, df in (("node", node), ("way", way), ("relation", rel)):
                with tracer.span(f"operators.history.{key}") as sp:
                    _noop(df)
                s[key] = sp.seconds
            with tracer.span("operators.history.union") as sp:
                _noop(self._union((node, way, rel)))
            s["union"] = sp.seconds
        layers = {
            "sources.scan_s": s["nodes"] + s["ways"] + s["relations"],
            "operators.history.node_s": s["node"] - s["nodes"],
            "operators.history.way_s": s["way"] - s["ways"] - s["nodes"],
            "operators.history.relation_s": s["relation"] - s["relations"] - s["ways"] - s["nodes"],
            "operators.history.node_rows": by_type.get("node", 0),
            "operators.history.way_rows": by_type.get("way", 0),
            "operators.history.relation_rows": by_type.get("relation", 0),
            "operators.spatial_join.build_index_s": bi.seconds,
            "plans.export.write_s": job.seconds - bi.seconds - s["union"],
            "io.geoparquet.files": files,
            "io.geoparquet.bytes": size,
            "traced_wall_s": job.seconds,
            "trace_overhead_s": pre.seconds,
            **layer,
        }
        return JobResult(job.seconds, self.pages_n, sum(counts.values()), size,
                         not err, err, layers)


WORKLOADS = {w.name: w for w in (EnrichHot, HistoryExport)}


def summarize_layers(results: list[JobResult]) -> dict[str, float]:
    """Per-layer medians over traced jobs, plus unattributed time: the
    traced wall time minus the sum of the layers' self times."""
    out = {k: float(_median([r.layers.get(k, 0.0) for r in results]))
           for k in LAYER_METRICS}
    self_times = [k for k in LAYER_METRICS
                  if k.endswith("_s") and k.split(".")[0] in ("sources", "operators", "plans")]
    out["unattributed_s"] = out["traced_wall_s"] - sum(out[k] for k in self_times)
    return out
