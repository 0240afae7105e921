"""Snapshot table: atomic commits, isolation, resume-after-failure, lineage;
GeoParquet footer metadata; checkpointed plan end-to-end."""

import json

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.io.geoparquet import read_geo_metadata, write_geoparquet
from ohsome_planet_spark.io.snapshots import SnapshotTable
from ohsome_planet_spark.plans.checkpointed import run_checkpointed
from ohsome_planet_spark.sources.pages import pages_df


def test_write_commit_read_roundtrip(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    t = SnapshotTable(tmp_path / "t1")
    res = t.write_partitions(df, "bucket")
    assert sorted(res["written"]) == ["0", "1", "2", "3"]
    back = t.read(spark)
    assert back.count() == 100
    assert t.current_snapshot_id() == res["snapshot_id"]


def test_resume_writes_only_missing(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    t = SnapshotTable(tmp_path / "t2")
    # first run fails at bucket 2 → only 0,1 committed? (fail raises before commit)
    with pytest.raises(RuntimeError):
        t.write_partitions(df, "bucket", fail_partitions={2})
    assert t.current_snapshot_id() is None  # nothing committed — atomic
    # partial run: commit buckets 0,1 only
    res1 = t.write_partitions(df.where(F.col("bucket") < 2), "bucket")
    assert res1["written"] == ["0", "1"]
    # resume: full df, only 2,3 get written
    res2 = t.write_partitions(df, "bucket")
    assert res2["written"] == ["2", "3"]
    assert res2["skipped"] == ["0", "1"]
    assert t.read(spark).count() == 100
    # lineage chain has both snapshots
    assert len(t.snapshot_chain()) == 2


def test_write_partitions_single_pass(spark, tmp_path):
    """The upstream DAG must execute exactly once, not once per bucket
    (VERDICT r1 finding 1): count UDF evaluations with an accumulator."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, "long")
    n, buckets = 1000, 8
    df = spark.range(n).select(
        tick_udf(F.col("id")).alias("id"),
        (F.col("id") % buckets).cast("int").alias("bucket"),
    )
    t = SnapshotTable(tmp_path / "sp")
    res = t.write_partitions(df, "bucket")
    assert len(res["written"]) == buckets
    assert t.read(spark).count() == n
    # old per-bucket loop would give ~buckets*n evaluations; single pass
    # gives n (allow 2n headroom for plan-level double-eval, never 8n)
    assert n <= acc.value <= 2 * n, acc.value


def test_export_single_pass_and_rerun_idempotent(spark, tmp_path):
    """Export writes all statuses in one input pass, and re-running to the
    same path never appends duplicates (ADVICE r1, geoparquet.py)."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, "long")
    df = spark.range(400).select(
        tick_udf(F.col("id")).alias("osm_id"),
        F.expr("element_at(array('latest','history','deleted','invalid'), int(id % 4) + 1)").alias("status"),
        F.lit(bytearray(b"\x01\x01")).alias("geometry"),
    )
    from ohsome_planet_spark.plans.export import write_contribution_export

    out = tmp_path / "exp"
    counts = write_contribution_export(df, out)
    assert counts == {"latest": 100, "history": 100, "deleted": 100, "invalid": 100}
    assert 400 <= acc.value <= 800, acc.value  # one pass, not one per status
    # re-run: same counts, no appended duplicates
    counts2 = write_contribution_export(df, out)
    assert counts2 == counts
    import pyspark.sql.functions as SF  # noqa: F401

    assert spark.read.parquet(str(out / "status=latest")).count() == 100


def test_snapshot_isolation_and_rollback(spark, tmp_path):
    df1 = spark.range(10).select(F.col("id"), F.lit(0).cast("int").alias("bucket"))
    df2 = spark.range(10, 30).select(F.col("id"), F.lit(1).cast("int").alias("bucket"))
    t = SnapshotTable(tmp_path / "t3")
    r1 = t.write_partitions(df1, "bucket")
    r2 = t.write_partitions(df2, "bucket")
    assert t.read(spark).count() == 30
    t.rollback(r1["snapshot_id"])
    assert t.read(spark).count() == 10  # snapshot isolation via manifest files
    manifest = t.manifest()
    assert manifest["partitions"]["0"]["rows"] == 10
    # time travel: read the newer snapshot by id without changing CURRENT
    assert t.read(spark, r2["snapshot_id"]).count() == 30
    assert t.current_snapshot_id() == r1["snapshot_id"]


def test_geoparquet_footer_metadata(spark, tmp_path):
    from ohsome_planet_spark.plans.enrich import enrich_pages

    pages = pages_df(spark, 100)
    enriched = enrich_pages(spark, pages).where(F.col("coord_valid"))
    out = tmp_path / "geo"
    files = write_geoparquet(
        enriched.select("url", "entity", "lon", "lat", "geometry"),
        out,
    )
    assert files
    meta = read_geo_metadata(out / files[0].path)
    assert meta["primary_column"] == "geometry"
    assert meta["columns"]["geometry"]["encoding"] == "WKB"
    back = spark.read.parquet(str(out))
    assert back.count() == enriched.count()


def test_run_checkpointed_resume_end_to_end(spark, tmp_path):
    pages = pages_df(spark, 300)
    root = tmp_path / "ckpt"
    # find a real bucket value to fail on
    from ohsome_planet_spark.plans.checkpointed import cell_range_bucket
    from ohsome_planet_spark.plans.enrich import enrich_pages as _ep

    buckets = sorted(
        r[0]
        for r in _ep(spark, pages, with_geometry=False)
        .select(cell_range_bucket().alias("b"))
        .distinct()
        .collect()
    )
    assert len(buckets) >= 2, buckets
    # run 1: injected failure on the last bucket → nothing committed that run
    with pytest.raises(RuntimeError):
        run_checkpointed(spark, pages, root, fail_partitions={buckets[-1]})
    # run 2: clean resume — everything gets written exactly once
    res = run_checkpointed(spark, pages, root)
    assert res["written"]
    t = SnapshotTable(root)
    total = t.read(spark).count()
    from ohsome_planet_spark.plans.enrich import enrich_pages

    assert total == enrich_pages(spark, pages).count()
    # metrics json landed next to manifests
    metrics_files = list((root / "manifests").glob("metrics-*.json"))
    assert metrics_files
    payload = json.loads(metrics_files[0].read_text())
    stages = [s["stage"] for s in payload["stages"]]
    assert "enrich" in stages and "snapshot_write" in stages and "invariants" in stages
    inv = next(s for s in payload["stages"] if s["stage"] == "invariants")
    # byte-identity: output-covered urls fingerprint equals full input only if
    # all urls survived (every page has ≥1 mention here)
    assert inv["fp_in"] == inv["fp_out_subset"]


def test_observe_metrics_no_extra_action(spark):
    """StageMetrics.observe rides the existing action (no extra count)."""
    from ohsome_planet_spark.operators.metrics import StageMetrics

    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, "long")
    m = StageMetrics()
    df = m.observe("mid", spark.range(500).select(tick_udf(F.col("id")).alias("id")))
    df.write.format("noop").mode("overwrite").save()  # the one action
    m.harvest()
    stage = next(s for s in m.stages if s["stage"] == "mid")
    assert stage["rows"] == 500
    assert acc.value == 500  # observed count did not re-run the DAG


def test_compact_and_expire(spark, tmp_path):
    """Iceberg-maintenance analogs: compaction bin-packs each partition's
    files into a new snapshot (old snapshots still time-travel), then
    expire_snapshots garbage-collects the unreferenced files."""
    t = SnapshotTable(tmp_path / "tc")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("bucket")
    ).repartition(8)  # 8 files per partition → fragmentation
    res1 = t.write_partitions(df, "bucket")
    sid1 = res1["snapshot_id"]
    files_before = {
        v: len(p["files"]) for v, p in t.committed_partitions().items()
    }
    assert all(n >= 4 for n in files_before.values())

    res2 = t.compact(spark, target_file_bytes=1 << 30)  # everything → 1 file
    assert sorted(res2["compacted"]) == ["0", "1"]
    sid2 = res2["snapshot_id"]
    assert sid2 != sid1 and t.current_snapshot_id() == sid2
    parts = t.committed_partitions()
    assert all(len(p["files"]) == 1 for p in parts.values())
    assert all(
        p["metrics"]["compacted_from_files"] == files_before[v]
        for v, p in parts.items()
    )
    # rows identical through the rewrite; the pre-compaction snapshot still
    # reads (time travel over the old file set)
    assert t.read(spark).count() == 2000
    assert t.read(spark, sid1).count() == 2000
    # idempotent: nothing left to compact
    res3 = t.compact(spark, target_file_bytes=1 << 30)
    assert res3["compacted"] == [] and t.current_snapshot_id() == sid2

    exp = t.expire_snapshots(keep_last=1)
    assert sid1 in exp["removed_snapshots"]
    assert len(exp["removed_files"]) == sum(files_before.values())
    assert t.read(spark).count() == 2000  # current snapshot intact
    with pytest.raises(FileNotFoundError):
        t.read(spark, sid1)  # expired manifest is gone


def test_overwrite_partitions_cdc_refresh(spark, tmp_path):
    """Dynamic partition overwrite: refreshed partitions serve the NEW
    rows, untouched partitions carry forward, the parent snapshot still
    time-travels to the OLD rows, and expire reclaims replaced files."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "cdc"))
    v1 = spark.range(100).select(
        (F.col("id") % 4).alias("bucket"), F.col("id").alias("v"))
    r1 = t.write_partitions(v1, "bucket")

    # refresh buckets 1 and 3 with recomputed values (v + 1000)
    v2 = v1.where(F.col("bucket").isin(1, 3)).select(
        "bucket", (F.col("v") + 1000).alias("v"))
    r2 = t.overwrite_partitions(v2, "bucket")
    assert sorted(r2["written"]) == ["1", "3"]

    cur = t.read(spark)
    got = {(r["bucket"], r["v"]) for r in cur.collect()}
    want = {(i % 4, i + 1000 if i % 4 in (1, 3) else i) for i in range(100)}
    assert got == want

    old = t.read(spark, snapshot_id=r1["snapshot_id"])
    assert {(r["bucket"], r["v"]) for r in old.collect()} == \
           {(i % 4, i) for i in range(100)}

    # expiring to the newest snapshot deletes only the replaced files
    gone = t.expire_snapshots(keep_last=1)
    assert len(gone["removed_files"]) >= 1
    still = {(r["bucket"], r["v"]) for r in t.read(spark).collect()}
    assert still == want
