"""Plan-building cost of the three history operators, counted in py4j
gateway round trips."""

import gc
import threading

import pandas as pd
import py4j.clientserver
import pytest

from ohsome_planet_spark.operators.history import (
    node_contributions,
    relation_contributions,
    way_contributions,
)
from ohsome_planet_spark.operators.spatial_join import build_index
from ohsome_planet_spark.sources.countries import fixture_features

HISTORY = "id long, version int, ts timestamp_ntz, changeset long, user_id long, user string, visible boolean"


def _round_trips(build) -> int:
    """Gateway commands the calling thread sends while `build()` runs.
    py4j's finalizer thread, which releases earlier Java objects, is not
    counted; a warm-up build first loads classes and caches."""
    build()
    gc.collect()
    main = threading.current_thread()
    count = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if threading.current_thread() is main:
            count[0] += 1
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        py4j.clientserver.ClientServerConnection.send_command = send
    return count[0]


@pytest.fixture(scope="module")
def histories(spark):
    t = pd.Timestamp(1, unit="s").to_pydatetime()
    nodes = spark.createDataFrame(
        [(1, 1, t, 1, 1, "u", True, {}, 1.0, 2.0)],
        HISTORY + ", tags map<string,string>, lon double, lat double")
    ways = spark.createDataFrame(
        [(2, 1, t, 1, 1, "u", True, {}, [1])],
        HISTORY + ", tags map<string,string>, refs array<long>")
    rels = spark.createDataFrame(
        [(3, 1, t, 1, 1, "u", True, {}, [("way", 2, ""), ("node", 1, "")])],
        HISTORY + ", tags map<string,string>, "
        "members array<struct<type:string, id:long, role:string>>")
    return nodes, ways, rels


@pytest.mark.parametrize("which,parent", [("node", 2560), ("way", 517), ("relation", 946)])
def test_plan_build_round_trips(histories, which, parent):
    """Each plan is built from SQL text, one round trip per expression;
    every Column method instead pays about eight for pyspark's call-site
    capture. Measured with a country index on pyspark 4.1.2: node
    253, way 213 and relation 287 round trips, where the plans built from
    Column calls took 2560, 517 and 946. The bound is half of the latter."""
    nodes, ways, rels = histories
    index = build_index(fixture_features())
    build = {
        "node": lambda: node_contributions(nodes, index),
        "way": lambda: way_contributions(ways, nodes, index),
        "relation": lambda: relation_contributions(rels, ways, nodes, index),
    }[which]
    assert _round_trips(build) <= parent // 2
