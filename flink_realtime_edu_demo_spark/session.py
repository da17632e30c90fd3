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
- session timezone pinned to UTC so TIMESTAMP (instant) semantics match
  the timezone-naive parquet fixtures and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .getOrCreate()
    )
