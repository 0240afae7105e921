"""sink_split — where the sink stage of perfbench `history_export` spends
its time, from prefix-truncated runs of the job.

    python tools/sink_split.py --seed 161 162 --reps 10 [--out BENCH/split.json]

Run from the root of a checkout. It starts the same session as
`perfbench/run.py` (local[<cores>], same environment and heap) on the same
cached seeded inputs, and times four prefixes of the job, each one from the
country index build and the plan build to its sink:

* `union_noop`: the node, way and relation contributions unioned, into
  Spark's noop sink;
* `coalesce_noop`: the union coalesced to `session.kernel_partitions`, as
  the GeoParquet sink does, into the noop sink;
* `empty_writer`: the coalesced union through a `mapInArrow` hop that reads
  every batch and writes nothing, collected as the sink collects;
* `export`: the full `plans.export.write_contribution_export`.

Per seed, each round runs the four in turn, after one untimed warm-up
round. The JSON printed (and written to --out) holds, per seed, every time,
the medians, and the split: the median over rounds of the difference
between neighbouring prefixes in the same round (the coalesce, the Python
writer hop, and the writer's encode, IO and driver work), so that host
speed drifting across rounds cancels.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run as bench  # noqa: E402  (perfbench/run.py)
from workloads import HistoryExport, _noop  # noqa: E402

STEPS = ("union_noop", "coalesce_noop", "empty_writer", "export")
SPLIT = {"coalesce": ("union_noop", "coalesce_noop"),
         "python_writer_hop": ("coalesce_noop", "empty_writer"),
         "encode_io_driver": ("empty_writer", "export")}


def _empty_writer(batches):
    from ohsome_planet_spark.session import drop_spark_zip_finders

    drop_spark_zip_finders()
    for _ in batches:
        pass
    yield from ()


def _step(wl, name: str, out_dir: str) -> float:
    from ohsome_planet_spark.plans.export import write_contribution_export
    from ohsome_planet_spark.session import kernel_partitions

    t0 = time.perf_counter()
    df = wl._union(wl._parts(wl._index()))
    if name == "union_noop":
        _noop(df)
    elif name == "coalesce_noop":
        _noop(df.coalesce(kernel_partitions(wl.spark)))
    elif name == "empty_writer":
        df.coalesce(kernel_partitions(wl.spark)).mapInArrow(
            _empty_writer, "path string, value string, rows long").collect()
    else:
        write_contribution_export(df, out_dir)
    secs = time.perf_counter() - t0
    shutil.rmtree(out_dir, ignore_errors=True)
    return secs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, nargs="+", required=True)
    p.add_argument("--reps", type=int, default=10)
    p.add_argument("--out")
    args = p.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    conf = bench._pin_environment(cores)
    spark = bench._start(cores, conf)
    out_dir = os.path.join(bench.WORK, "out", f"sink_split-{uuid.uuid4().hex[:8]}")
    result = {"cores": cores, "reps": args.reps, "seeds": {}}
    try:
        bench._touch_memory()
        for seed in args.seed:
            wl = HistoryExport(spark, bench.WORK, seed)
            times: dict[str, list[float]] = {s: [] for s in STEPS}
            for rep in range(args.reps + 1):  # round 0 warms up
                for s in STEPS:
                    secs = _step(wl, s, out_dir)
                    if rep:
                        times[s].append(secs)
                if rep:
                    bench._log(f"seed {seed} round {rep}: " + " ".join(
                        f"{s} {times[s][-1]:.2f}" for s in STEPS))
            result["seeds"][seed] = {
                "seconds": times,
                "median_s": {s: statistics.median(v) for s, v in times.items()},
                "split_s": {
                    k: statistics.median(b - a for a, b in zip(times[lo], times[hi]))
                    for k, (lo, hi) in SPLIT.items()},
            }
    finally:
        bench._shutdown(spark)

    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
