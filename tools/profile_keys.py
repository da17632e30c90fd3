"""Optimization profiler: per-key timing + formatted plans.

Usage: python tools/profile_keys.py --plans DIR --sf SF_DIR [--plans-only]
                                    [--tag before|after] [--repeat N]
                                    [KEY ...]

For each key (default: every registered key): writes
DIR/<key>_<tag>.txt (explain formatted) and, unless --plans-only, times
`collect()` (the bench methodology) REPEAT times and prints the median,
plus a noop-sink timing (guide §1.4) so the computation is separable
from the collect/driver transfer.
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
    ap.add_argument("--plans", required=True, metavar="DIR",
                    help="directory for the <key>_<tag>.txt plan dumps")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--sf", required=True, metavar="SF_DIR",
                    help="fixture directory the keys read (e.g. sf0.1)")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    keys = args.keys or sorted(QUERIES)
    os.makedirs(args.plans, exist_ok=True)
    spark = get_spark(app_name="profile_keys",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf
    # warm-up identical to bench.py
    if not args.plans_only:
        QUERIES["q_agg_basic"](spark, sf).collect()
        from pyspark.sql import functions as F
        _noop = F.pandas_udf(lambda s: s, "long")
        spark.range(32).repartition(32).select(_noop("id")).collect()

    for k in keys:
        if k not in QUERIES:
            print(f"{k}: UNKNOWN", flush=True)
            continue
        df = QUERIES[k](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(args.plans, f"{k}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        if args.plans_only:
            nex = plan.count("Exchange")
            print(f"{k}: plan written ({nex} Exchange)", flush=True)
            continue
        coll, noop = [], []
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{k} collect")
            t0 = time.perf_counter()
            QUERIES[k](spark, sf).collect()
            coll.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{k} noop")
            t0 = time.perf_counter()
            (QUERIES[k](spark, sf).write.format("noop")
             .mode("overwrite").save())
            noop.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        print(f"{k}: collect={statistics.median(coll):.3f}s "
              f"noop={statistics.median(noop):.3f}s "
              f"(coll {'/'.join(f'{x:.2f}' for x in coll)})", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
