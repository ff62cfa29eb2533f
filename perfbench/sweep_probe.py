#!/usr/bin/env python3
"""Per-query build / plan / execution split over ``bench.py``'s timed queries.

    python3 perfbench/sweep_probe.py [--seed 1] [--passes 3]

Builds, plans and collects each query of ``bench.py``'s list that
``__spark_entry__.queries()`` holds, ``--passes`` times in one Spark session
at ``local[nproc]`` over the seeded sf0.01 tables, and prints per query the
median over the warm passes (all but the first) of: build seconds (the
builder call), Catalyst planning seconds (``executedPlan``), execution
seconds (``toPandas``), py4j round trips and jobs fired while building, and
the build share of the pass. ``perfbench/DESIGN.md`` chooses the
``operator_sweep`` slice from these figures. Not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def bench_query_names() -> list[str]:
    with open(os.path.join(ROOT, "bench.py"), encoding="utf-8") as f:
        src = f.read()
    block = src[src.index("bench_queries = ["):src.index("for name, fn in bench_queries")]
    return re.findall(r'\(\s*"(\w+)",', block)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--passes", type=int, default=3)
    args = p.parse_args()

    from perfbench import datagen, trace
    from perfbench.run import WORK, configure_environment, shutdown

    cpus = len(os.sched_getaffinity(0))
    configure_environment(cpus)
    import __spark_entry__ as entry
    from json_to_avro_schema_spark.session import get_spark

    spark = get_spark(app="perfbench-probe", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        counter = trace.Py4jCounter(sc._gateway._gateway_client)
        counter.install()
        sf = datagen.write_star_tables(os.path.join(WORK, "data"), args.seed)
        builders = entry.queries()
        totals: dict[str, float] = {}
        for n_group, name in enumerate(bench_query_names()):
            if name not in builders:
                print(f"{name}: not in queries(), skipped")
                continue
            passes = []
            for k in range(args.passes):
                group = f"perfbench-probe-{n_group}-{k}"
                sc.setLocalProperty("spark.jobGroup.id", group)
                calls0, t0 = counter.calls, time.perf_counter()
                df = builders[name](spark, sf)
                t1, calls1 = time.perf_counter(), counter.calls
                build_jobs = len(tracker.getJobIdsForGroup(group))
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                df.toPandas()
                t3 = time.perf_counter()
                passes.append({"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                               "py4j": calls1 - calls0, "build_jobs": build_jobs})
            warm = passes[1:] or passes
            r = {key: statistics.median(x[key] for x in warm) for key in warm[0]}
            share = r["build_s"] / (r["build_s"] + r["plan_s"] + r["exec_s"])
            for key, v in r.items():
                totals[key] = totals.get(key, 0.0) + v
            print(f"{name} build_s {r['build_s']:.3f} plan_s {r['plan_s']:.3f} "
                  f"exec_s {r['exec_s']:.3f} py4j {r['py4j']:.0f} "
                  f"build_jobs {r['build_jobs']:.0f} build_share {share:.2f}", flush=True)
        print("total " + " ".join(f"{k} {v:.2f}" for k, v in totals.items()))
        counter.remove()
    finally:
        shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
