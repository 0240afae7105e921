"""Round-7 measurement harness (bench.py is FROZEN for the driver; this
file carries the extra per-query isolation the optimization guide asks
for — §1.4 noop-sink isolation, §1.5 job labels, plan capture).

Usage:
    python bench_extra.py [query ...]            # time listed queries (default: bench headline set)
    SPARK_GRAFT_SF_DIR=...  data directory       (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS=...    local core count     (default 32)
    SPARK_GRAFT_BENCH_N=... timed runs per query (default 3, 1 warm)
    SPARK_GRAFT_PLANS=dir   also dump .explain("formatted") per query into dir

Prints one JSON line: {"sf": ..., "queries": {name: median_sec},
"queries_spread": {name: [min, max]}, "queries_runs": {name: [sec, ...]},
"queries_jobs": {name: n}}.  queries_jobs counts the Spark jobs of the
last timed run, plan build plus noop write.  Every timing uses the noop
sink so the computation, not the sink, is measured.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "corpus_curation_e2e", "pip_countries", "cell_assign_multi",
    "cell_counts_salted", "xz2_codes", "pricing_summary", "validity_window",
    "doc_exact_dedup", "embedding_topk", "embedding_ann", "hashtags",
    "contamination", "url_canonical_dedup", "tile_pyramid", "bm25_search",
    "lm_bigram_score", "dbscan_clusters", "dsir_resample", "ccnet_buckets",
    "tile_smooth",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    plans_dir = os.environ.get("SPARK_GRAFT_PLANS", "")
    names = sys.argv[1:] or HEADLINE

    from ohsome_planet_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    qtimes: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    runs: dict[str, list[float]] = {}
    jobs: dict[str, int] = {}
    sc = spark.sparkContext

    # one warm query to pay JVM/python-worker startup before any timing
    qs["doc_exact_dedup"](spark, sf_dir).write.format("noop").mode(
        "overwrite").save()

    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(fn(spark, sf_dir)._jdf.queryExecution()
                         .explainString(spark._jvm.org.apache.spark.sql
                                        .execution.ExplainMode.fromString(
                                            "formatted")))
        times = []
        for i in range(n_runs + 1):
            group = f"{name} run{i}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if i > 0:  # first run is warm-up
                times.append(dt)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        qtimes[name] = round(statistics.median(times), 3)
        spread[name] = [round(min(times), 3), round(max(times), 3)]
        runs[name] = [round(t, 3) for t in times]
        print(f"{name}: {qtimes[name]} {spread[name]} jobs={jobs[name]}",
              file=sys.stderr)

    print(json.dumps({"sf": sf_dir, "cpus": cpus, "queries": qtimes,
                      "queries_spread": spread, "queries_runs": runs,
                      "queries_jobs": jobs}))
    spark.stop()


if __name__ == "__main__":
    main()
