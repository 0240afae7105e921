"""One benchmark run of one workload.

    python3 perfbench/run.py --workload enrich_hot --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run starts one Spark session on
local[<cores>], generates (or reuses) the seeded inputs, sets up and warms
the session several times to time set-up, then runs jobs back to back for
--seconds (a closed loop with one client) and checks each job's output.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. --trace 0 reports the end-to-end metrics; --trace 1 runs the traced
form of each job instead and reports the per-layer metrics, and saves the
spans under .perfbench_work/traces/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
WARM_MB = 1024  # touched before timing (see _touch_memory)
# The heap is fixed and pre-touched so its resident size does not depend
# on when the collector grows it; peak_rss_mb then moves with the Python
# workers and the JVM's off-heap use.
DRIVER_MEM = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _pin_environment(cores: int) -> dict[str, str]:
    """Everything the run writes stays under WORK; Python workers import the
    package from the checkout; the session gets every core of this machine
    (get_spark would otherwise assume 32)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
    }


def _start(cores: int, conf: dict):
    from ohsome_planet_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _touch_memory() -> None:
    """Fault in guest memory before timing. On a microVM, memory is faulted
    in from the host on first touch, and a heap or worker that first grows
    into cold memory mid-measurement shows up as an outlier job; freed pages
    stay warm for every later process."""
    import numpy as np

    np.ones(WARM_MB << 20, dtype=np.uint8)


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    import subprocess

    from pyspark import SparkContext

    from spans import descendant_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 60
    while descendant_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendant_pids(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _job_dir(run_id: str, i: int) -> str:
    return os.path.join(WORK, "out", run_id, f"job-{i:04d}")


def _run_jobs(wl, seconds: float, run_id: str, tracer=None):
    """Closed loop: one job after another until `seconds` have passed.
    Returns (results, exceptions)."""
    results, errors = [], 0
    t_end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        out_dir = _job_dir(run_id, i)
        try:
            r = wl.traced_job(tracer, out_dir) if tracer else wl.job(out_dir)
            results.append(r)
            if not r.ok:
                _log(f"job {i} wrong output: {r.detail}")
        except Exception as exc:  # a failed job counts; the loop goes on
            errors += 1
            _log(f"job {i} failed: {exc!r}")
        i += 1
    return results, errors


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "ohsome_planet_spark", "__init__.py")):
        print(f"perfbench: no ohsome_planet_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, summarize_layers

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    conf = _pin_environment(cores)
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"

    from spans import RssSampler, Tracer

    setups = []
    warm_ok = True
    t0 = time.perf_counter()
    spark = _start(cores, conf)
    start_s = time.perf_counter() - t0
    _log(f"session start: {start_s:.2f} s")
    try:
        t0 = time.perf_counter()
        _touch_memory()
        wl = WORKLOADS[args.workload](spark, WORK, args.seed)
        _log(f"memory touch and inputs: {time.perf_counter() - t0:.2f} s")
        for rep in range(SETUP_REPS):
            # set-up 0 is this process's cold start (JVM launch included),
            # later ones restart the session inside the running JVM
            if rep:
                spark.stop()
                t0 = time.perf_counter()
                spark = _start(cores, conf)
                wl.spark = spark
                start_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            warm_ok &= wl.job(_job_dir(run_id, 9000 + rep)).ok
            setups.append(start_s + time.perf_counter() - t0)
            _log(f"setup {rep}: {setups[-1]:.2f} s")
        tracer = Tracer(run_id) if args.trace else None
        t0 = time.perf_counter()
        with RssSampler() as rss:
            results, errors = _run_jobs(wl, args.seconds, run_id, tracer)
        _log(f"{len(results) + errors} jobs in {time.perf_counter() - t0:.2f} s: "
             + " ".join(f"{r.seconds:.2f}" for r in results))
        if tracer:
            tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"))
    finally:
        t0 = time.perf_counter()
        _shutdown(spark)
        _log(f"shutdown: {time.perf_counter() - t0:.2f} s")

    attempted = len(results) + errors
    failed = errors + sum(1 for r in results if not r.ok)
    good = [r for r in results if r.ok]
    if args.trace:
        layers = summarize_layers(results)
        layers["failed_frac"] = failed / attempted
        metrics = {k: {"value": v, "unit": _unit_of(k)} for k, v in layers.items()}
    else:
        med = statistics.median
        metrics = {
            "setup_s": {"value": med(setups), "unit": "s"},
            "pages_per_s": {"value": med([r.pages / r.seconds for r in good]) if good else 0.0,
                            "unit": "1/s"},
            "contributions_per_s": {
                "value": med([r.contributions / r.seconds for r in good]) if good else 0.0,
                "unit": "1/s"},
            "bytes_per_contribution": {
                "value": med([r.bytes / max(1, r.contributions) for r in good]) if good else 0.0,
                "unit": "B"},
            "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
        }
    print(json.dumps({
        "correct": failed == 0 and warm_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    if last.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
