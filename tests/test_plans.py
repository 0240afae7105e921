"""Physical-plan assertions: the scale properties the engine promises must
be visible in `explain` — broadcast joins for small sides, one fused Arrow
node per Python stage, partial aggregation before shuffles, column pruning.
These guard against regressions that only show up at 100× the data.
"""

import re

import pytest
from pyspark.sql import functions as F


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_single_arrow_node_and_broadcast(spark):
    from ohsome_planet_spark.plans.enrich import enrich_cell_counts
    from ohsome_planet_spark.sources.pages import pages_df

    plan = physical(enrich_cell_counts(spark, pages_df(spark, 100)))
    # r7: per-entity enrichment is precomputed on the gazetteer
    # (driver-side numpy for the fixture-sized gazetteer) and carried by
    # the broadcast join — the mention stream must be Python-free
    assert plan.count("ArrowEvalPython") == 0, (
        "mention stream must have no Python eval nodes")
    assert "BroadcastHashJoin" in plan, "gazetteer join must broadcast"
    assert "SortMergeJoin" not in plan


def _subtree(plan: str, marker: str) -> str:
    """The lines of the first node containing `marker` and its children."""
    lines = plan.splitlines()
    i = next(k for k, line in enumerate(lines) if marker in line)
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    out = [lines[i]]
    for line in lines[i + 1:]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        out.append(line)
    return "\n".join(out)


@pytest.mark.parametrize("agg", ["enrich_tile_counts", "enrich_cell_counts"])
def test_enrich_counts_entities_below_local_gazetteer_join(spark, agg):
    """The headline aggregates count mentions per entity before the geocode
    join, and the enriched gazetteer is a local relation: broadcasting it
    runs no job, and nothing in the plan runs Python."""
    from ohsome_planet_spark.plans import enrich
    from ohsome_planet_spark.sources.pages import pages_df

    df = getattr(enrich, agg)(spark, pages_df(spark, 100))
    df.collect()
    plan = physical(df)
    join = _subtree(plan, "BroadcastHashJoin")
    assert re.search(r"HashAggregate\(keys=\[entity#\d+\], functions=\[count\(1\)", join)
    assert re.search(r"HashAggregate\(keys=\[entity#\d+\], functions=\[partial_count\(1\)", join)
    assert "Generate posexplode" in _subtree(join, "partial_count(1)")
    assert "LocalTableScan" in _subtree(join, "BroadcastExchange")
    assert "ExistingRDD" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas"):
        assert node not in plan


def test_large_custom_gazetteer_broadcasts_local_relation(spark):
    """A custom gazetteer of 50,001 rows is enriched on the driver like the
    built-in one: the broadcast side is a local relation and no Python
    eval node runs."""
    from ohsome_planet_spark.plans.enrich import enrich_pages
    from ohsome_planet_spark.sources.pages import pages_df

    gaz = spark.createDataFrame(
        [(f"G{i}", float(i % 170 - 85), float(i % 350 - 175)) for i in range(50_001)],
        "entity string, lat double, lon double",
    )
    df = enrich_pages(spark, pages_df(spark, 20), gazetteer=gaz)
    df.collect()
    plan = physical(df)
    assert "LocalTableScan" in _subtree(plan, "BroadcastExchange")
    assert "ArrowEvalPython" not in plan


def test_salted_agg_two_level(spark):
    from ohsome_planet_spark.operators.skew import salted_count

    df = spark.range(1000).select((F.col("id") % 7).alias("k"))
    plan = physical(salted_count(df, ["k"]))
    # local (k, salt) agg shuffle + final (k) agg shuffle
    assert plan.count("Exchange hashpartitioning") == 2
    # partial aggregation before each exchange (map-side combine)
    assert "partial_count" in plan


def test_geocode_broadcast_not_shuffle(spark):
    from ohsome_planet_spark.operators.geocode import extract_mentions, geocode_mentions
    from ohsome_planet_spark.sources.gazetteer import gazetteer_df
    from ohsome_planet_spark.sources.pages import pages_df

    df = geocode_mentions(extract_mentions(pages_df(spark, 100)), gazetteer_df(spark))
    plan = physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_filter_pushdown_to_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_quantity") >= 45)
    plan = physical(li.select("l_orderkey"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(l_quantity,45" in m.group(1), plan[:800]
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "l_extendedprice" not in rs.group(1), "column pruning failed"


def test_knn_plan_no_cartesian(spark):
    from ohsome_planet_spark.operators.knn import knn_join

    pts = spark.range(200).select(
        F.col("id").alias("query_id"),
        (F.col("id") % 37 * 1.0).alias("lon"),
        (F.col("id") % 17 * 1.0).alias("lat"),
    )
    cand = pts.select(F.col("query_id").alias("cand_id"), "lon", "lat")
    plan = physical(knn_join(pts, cand, k=3, zoom=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_history_merge_is_cogroup_not_join_explosion(spark):
    from ohsome_planet_spark.operators.history import way_contributions

    ways = spark.createDataFrame(
        [(1, 1, None, 1, 1, "u", True, {}, [1, 2])],
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, tags map<string,string>, refs array<long>",
    )
    nodes = spark.createDataFrame(
        [(1, 1, None, 1, 1, "u", True, 0.0, 0.0)],
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, lon double, lat double",
    )
    plan = physical(way_contributions(ways, nodes))
    # one shuffle to the way id, then a partition-level Arrow kernel — no
    # per-key apply machinery, no row-explosion join of histories
    assert "MapInArrow" in plan
    # XZ2 is computed IN-kernel on the arrow path: no ArrowEvalPython
    # post-pass may reappear (it would re-transfer the whole output)
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
