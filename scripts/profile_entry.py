"""Isolate one (or more) catalog entries for optimization work.

For each named entry: warm-up run at sf0.001, then best-of-N at the
target SF through the noop sink (bench.py's exact policy), reporting
wall seconds, the number of Spark JOBS the entry launched (sequential
driver-side job latency is the dominant cost of the latency-bound
entries — see OPTIMIZATION_r16.md), JVM cpu/wall, and optionally the
``explain("formatted")`` text to a file.

Usage:
  python scripts/profile_entry.py [--sf DIR] [--runs N] [--plans-dir D] name...
  python scripts/profile_entry.py --top 20          # 20 slowest from bench_results.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-dir", default=None,
                    help="write <name>.txt explain('formatted') here")
    ap.add_argument("--plans-suffix", default="",
                    help="filename suffix, e.g. _before/_after")
    ap.add_argument("--top", type=int, default=0,
                    help="profile the N slowest entries from bench_results.json")
    args = ap.parse_args()

    from dca_manager_spark.plans.queries import get_queries
    from dca_manager_spark.profiling import (
        jvm_cpu_seconds,
        persistent_ids,
        release_storage,
    )
    from dca_manager_spark.session import get_bench_session

    qs = dict(get_queries())
    if args.top:
        detail = json.load(open(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "bench_results.json")))
        ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
        names = [n for n, _ in ranked if n in qs][: args.top]
    else:
        names = args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")

    spark = get_bench_session()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run_full(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    results = {}
    for name in names:
        pre = persistent_ids(spark)
        try:
            run_full(qs[name](spark, warm_dir))
        except Exception as exc:
            print(f"warmup {name} failed: {exc}", file=sys.stderr)
        release_storage(spark, pre)

        pre = persistent_ids(spark)
        samples, jobs = [], []
        cpu0 = jvm_cpu_seconds(spark)
        wall0 = time.perf_counter()
        for i in range(args.runs):
            group = f"prof-{name}-{i}"
            sc.setJobGroup(group, name)
            start = time.perf_counter()
            run_full(qs[name](spark, args.sf))
            samples.append(time.perf_counter() - start)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            sc.setJobGroup(None, None)
        wall = time.perf_counter() - wall0
        cpu1 = jvm_cpu_seconds(spark)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.plans_dir, f"{name}{args.plans_suffix}.txt"), "w") as fh:
                fh.write(txt)
        release_storage(spark, pre)
        results[name] = {
            "min": round(min(samples), 3),
            "runs": [round(s, 3) for s in samples],
            "jobs_per_run": jobs,
            "cpu_per_wall": (round((cpu1 - cpu0) / wall, 2)
                             if None not in (cpu0, cpu1) else None),
        }
        print(f"{name}: min={results[name]['min']}s runs={results[name]['runs']} "
              f"jobs={jobs} cpu/wall={results[name]['cpu_per_wall']}", flush=True)

    print(json.dumps(results, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
