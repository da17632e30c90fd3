"""SparkSession construction for local runs (tests / bench).

The driver's verify supplies its own session; everything in this engine
must therefore also work on a vanilla session (see tables.load, which
sets the one legacy conf it needs at runtime). This builder is for our
own tests and bench runs.

Scale notes (100 TB design point):
- AQE on: runtime coalescing, skew-join splitting, broadcast conversion.
- shuffle.partitions is a local-mode default for batch queries; on a
  real cluster size it to ~2-3x total cores and let AQE coalesce.
- streaming state partitions do not follow ``shuffle_partitions``: the
  engine's sinks (streaming/sinks.py ``_start``) size them to
  ``defaultParallelism`` when a query first starts, since AQE never
  coalesces a streaming plan and the checkpoint keeps the count.
- streaming checkpoint logs: when a query's checkpoint (and a file
  sink's output) is on the local file system, ``_start`` writes them
  through Spark's rename-based FileSystem manager, whose rename(2) is
  atomic there and forks no readlink/chmod shell. On HDFS and object
  stores Spark's default FileContext manager stays: its atomic
  overwrite-rename is what keeps the log safe.
- generated-code cache: ``CODEGEN_CACHE_ENTRIES`` (4096) sets Spark's
  static ``spark.sql.codegen.cache.maxEntries``, the JVM-wide cache of
  Janino-compiled classes (default 100). The engine's working set is
  larger: the 8 ``edu-dashboard`` keys generate about 114 distinct
  classes, one pass over the whole registry 2,272. At 100 entries a warm
  query recompiles classes an earlier query evicted, and the new bytecode
  runs in the JVM interpreter until the JIT compiles it again. 4096 holds
  the registry's classes with headroom for the cache's 4 segments, which
  each evict on their own: a second registry pass compiles only the
  few keys that emit new code on every call. Its cost, after one
  registry pass at sf0.001: metaspace +95 MB (+78 MB at 100 entries)
  and live heap +424 MB (+170 MB), since the cache keeps each class's
  generated source as its key. The conf is static, so a vanilla session
  supplied by the driver keeps Spark's 100; results do not depend on
  it, only the cost of warm queries.
- session timezone pinned to UTC so TIMESTAMP (instant) semantics match
  the timezone-naive parquet fixtures and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in the JVM-wide generated-class cache
# (spark.sql.codegen.cache.maxEntries); see the scale notes above.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "flink-realtime-edu-demo-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
