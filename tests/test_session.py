"""session.get_spark sizes Spark's generated-class cache to the engine's
working set: a warm query finds its Janino-compiled classes in the cache
instead of recompiling them.

The cache (``spark.sql.codegen.cache.maxEntries``) is JVM-wide and sized
once, when the JVM first generates code, and the tests' shared session
has already filled it with other tests' classes. So the check runs in a
subprocess with its own fresh JVM, where the first pass's compile count
is the sequence's whole working set.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from flink_realtime_edu_demo_spark.session import CODEGEN_CACHE_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# edu-dashboard's keys (about 114 classes in a fresh JVM), then two join
# keys for margin over Spark's default 100 entries. None of them is a key
# that emits new code on every call (ROADMAP).
KEYS = (
    "q_stream_tumble", "q_stream_session", "q_stream_window_topn", "q_funnel",
    "q_tpch_q1", "q_tpch_q3", "q_cep_followed_by", "q_cep_within",
    "q_tpch_q10", "q_join_full",
)

_PASSES = """
import json, sys
import flink_realtime_edu_demo_spark.queries  # noqa: F401
from flink_realtime_edu_demo_spark.registry import QUERIES
from flink_realtime_edu_demo_spark.session import get_spark

sf_dir, keys = sys.argv[1], sys.argv[2:]
spark = get_spark(app_name="test-codegen-cache", cpus=2, shuffle_partitions=8)
compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
counts = [compiles.METRIC_COMPILATION_TIME().getCount()]
for _ in range(2):
    for key in keys:
        QUERIES[key](spark, sf_dir).collect()
    counts.append(compiles.METRIC_COMPILATION_TIME().getCount())
print(json.dumps({
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "first": counts[1] - counts[0],
    "second": counts[2] - counts[1],
}))
spark.stop()
"""


def test_second_pass_compiles_nothing(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, "-c", _PASSES, sf_dir, *KEYS],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["max_entries"] == str(CODEGEN_CACHE_ENTRIES)
    # the sequence's working set is larger than Spark's default cache
    assert got["first"] > 100, got
    assert got["second"] == 0, got
