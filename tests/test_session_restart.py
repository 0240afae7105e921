"""Operators keep working after the SparkSession is stopped and a new one is
started in the same driver process.

A pandas UDF binds the live context's accumulator the first time it is
called. A UDF object kept at module level therefore reported to the stopped
context after a restart, and the JVM logged `PythonAccumulatorV2` broken-pipe
errors on every task. The check runs in a subprocess so that the restart
cannot disturb the shared test session, and so that its driver log can be
read.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCRIPT = r"""
import json
import datetime as dt

from ohsome_planet_spark.operators.history import node_contributions
from ohsome_planet_spark.operators.spatial_join import build_index
from ohsome_planet_spark.session import get_spark
from ohsome_planet_spark.sources.countries import fixture_features

SCHEMA = ("id long, version int, ts timestamp_ntz, changeset long, "
          "user_id long, user string, visible boolean, "
          "tags map<string,string>, lon double, lat double")
ROWS = [
    (i, v, dt.datetime(2020, 1, 1) + dt.timedelta(seconds=10 * i + v), v, 1,
     "a", not (i % 7 == 0 and v == 2), {}, float((i * 13) % 50 - 10),
     float((i * 7) % 30 - 5))
    for i in range(40) for v in (1, 2)
]
index = build_index(fixture_features())


def run():
    spark = get_spark(app_name="restart", master="local[2]",
                      shuffle_partitions=2)
    nodes = spark.createDataFrame(ROWS, SCHEMA)
    rows = node_contributions(nodes, country_index=index).collect()
    return spark, sorted(repr(tuple(r)) for r in rows)


spark, first = run()
spark.stop()
spark, second = run()
spark.stop()
print(json.dumps({"rows": len(first), "equal": first == second}))
"""


def test_node_contributions_after_session_restart(tmp_path):
    env = dict(os.environ, PYTHONPATH=str(REPO))
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True,
        timeout=600, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["rows"] > 0
    assert out["equal"], "rows differ after the session restart"
    for marker in ("PythonAccumulatorV2", "Broken pipe"):
        assert marker not in r.stderr, r.stderr[-4000:]
