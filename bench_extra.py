#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4): times individual queries()
entries with the noop sink and optionally dumps .explain("formatted").

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--explain OUTDIR] q1 q2 ...
  python bench_extra.py --all            # every query, 1 rep

This file is NOT the driver's bench (bench.py is frozen for measurement);
it exists for the optimization loop: isolate, explain, re-measure.
Prints one JSON line {"queries": {...}, "cpus": N, "sf": ...} at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from imagery_utils_spark.session import default_cpus, get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="directory to write <name>_<tag>.txt plans")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    cpus = default_cpus()
    spark = get_spark(master=f"local[{cpus}]",
                      app_name="imagery_utils_spark-bench-extra",
                      shuffle_partitions=max(4 * cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    battery = E.queries()
    names = list(battery) if args.all else args.names
    unknown = [n for n in names if n not in battery]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    timings: dict[str, list[float]] = {}
    for name in names:
        fn = battery[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.explain, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        ws = []
        for _ in range(max(1, args.reps)):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            ws.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        timings[name] = ws
        print(f"## {name}: {ws}", flush=True)

    try:
        from scaling_bench import cpu_calibration

        box_mops = cpu_calibration(cpus)
    except Exception:
        box_mops = None
    spark.stop()
    print(json.dumps({"queries": timings, "cpus": cpus,
                      "sf": args.sf, "box_mops": box_mops}), flush=True)


if __name__ == "__main__":
    main()
