"""Optimization profiler: per-key phase split, codegen cost and plans.

Usage: python tools/profile_keys.py --sf SF_DIR [--plans DIR [--plans-only]]
                                    [--tag before|after] [--repeat N]
                                    [KEY ...]

For each key (default: every registered key) it prints one row:
- build: Python DataFrame construction (the registry call), including
  any driver-side jobs the key runs while building;
- plan: Catalyst analysis, optimization and physical planning
  (explain formatted) of that DataFrame;
- coll: median over REPEAT fresh builds of `collect()` (the bench
  methodology);
- noop: median over REPEAT fresh builds of a noop-sink write (guide
  §1.4), so the computation is separable from the collect/driver
  transfer;
- compiles / compile_ms: Janino classes compiled, and the milliseconds
  spent compiling them, summed over the timed collects (CodegenMetrics
  and CodeGenerator.compileTime deltas). The first collect compiles the
  key's classes unless an earlier key left them in Spark's
  generated-class cache; the later ones compile only what the cache
  evicted or what the key emits anew on every call.

With --plans DIR it also writes DIR/<key>_<tag>.txt (explain formatted);
--plans-only writes the plans and times nothing.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import flink_realtime_edu_demo_spark.queries  # noqa: F401 — populate registry
from flink_realtime_edu_demo_spark.registry import QUERIES
from flink_realtime_edu_demo_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--plans", metavar="DIR",
                    help="directory for the <key>_<tag>.txt plan dumps")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--sf", required=True, metavar="SF_DIR",
                    help="fixture directory the keys read (e.g. sf0.1)")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    if args.plans_only and not args.plans:
        ap.error("--plans-only needs --plans DIR")
    keys = args.keys or sorted(QUERIES)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark(app_name="profile_keys",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    sf = args.sf
    # warm-up identical to bench.py
    if not args.plans_only:
        QUERIES["q_agg_basic"](spark, sf).collect()
        from pyspark.sql import functions as F
        _noop = F.pandas_udf(lambda s: s, "long")
        spark.range(32).repartition(32).select(_noop("id")).collect()
        print(f"{'key':38s} {'build':>7s} {'plan':>7s} {'coll':>7s} {'noop':>7s} "
              f"{'compiles':>8s} {'compile_ms':>10s}", flush=True)

    for k in keys:
        if k not in QUERIES:
            print(f"{k}: UNKNOWN", flush=True)
            continue
        b0 = time.perf_counter()
        df = QUERIES[k](spark, sf)
        b1 = time.perf_counter()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        b2 = time.perf_counter()
        spark.catalog.clearCache()
        if args.plans:
            with open(os.path.join(args.plans, f"{k}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        if args.plans_only:
            nex = plan.count("Exchange")
            print(f"{k}: plan written ({nex} Exchange)", flush=True)
            continue
        coll, noop = [], []
        n0, ns0 = compiles().getCount(), compile_ns()
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{k} collect")
            t0 = time.perf_counter()
            QUERIES[k](spark, sf).collect()
            coll.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        n1, ns1 = compiles().getCount(), compile_ns()
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{k} noop")
            t0 = time.perf_counter()
            (QUERIES[k](spark, sf).write.format("noop")
             .mode("overwrite").save())
            noop.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        print(f"{k:38s} {b1 - b0:7.3f} {b2 - b1:7.3f} "
              f"{statistics.median(coll):7.3f} {statistics.median(noop):7.3f} "
              f"{n1 - n0:8d} {(ns1 - ns0) / 1e6:10.1f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
