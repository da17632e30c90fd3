"""Streaming metrics (Flink's metrics system / web-UI counters mapped
to Spark's StreamingQueryListener) and the broadcast-state pattern.

Flink exposes numRecordsIn/Out, watermark lag, and state size per
operator; Spark surfaces the same numbers per micro-batch through
``StreamingQueryProgress``. ``MetricsCollector`` adapts them into a
plain dict series a dashboard (or test) can consume.

``broadcast_dim_join`` is the Spark lowering of Flink's broadcast
state pattern (a slowly-changing rule/dim table broadcast to every
task): each micro-batch re-reads the dim snapshot and broadcast-joins
it, so an update to the dim store is visible from the next batch on —
the idiomatic replacement for per-record lookup RPC and for Flink's
BroadcastProcessFunction when the dim fits in memory.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQueryListener

from .sinks import _start


class MetricsCollector(StreamingQueryListener):
    """Collects per-batch metric rows from query progress events:
    batch_id, input rows, processed rows/sec, the trigger's phase
    durations (ms: latestOffset through commitOffsets, and the whole
    triggerExecution), the event-time watermark, state rows, memory,
    commit time (ms) and late-dropped rows summed over state operators,
    each state operator's partition count, and sink description — the
    Flink counter set, Spark-shaped."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.terminated: bool = False

    def onQueryStarted(self, event) -> None:  # noqa: ANN001
        pass

    def onQueryProgress(self, event) -> None:  # noqa: ANN001
        p = event.progress
        ops = p.stateOperators
        self.batches.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "rows_per_sec": p.processedRowsPerSecond,
                **{f"{phase}_ms": p.durationMs.get(phase)
                   for phase in ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                                 "addBatch", "commitOffsets", "triggerExecution")},
                "watermark": p.eventTime.get("watermark"),
                "state_rows": sum(s.numRowsTotal for s in ops),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
                "state_commit_ms": sum(s.commitTimeMs for s in ops),
                "rows_dropped_by_watermark": sum(s.numRowsDroppedByWatermark for s in ops),
                "state_partitions": [s.numShufflePartitions for s in ops],
                "sink": p.sink.description,
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: ANN001
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: ANN001
        self.terminated = True


def broadcast_dim_join(
    stream_df: DataFrame,
    load_dim: Callable[[SparkSession], DataFrame],
    on: str,
    sink: Callable[[DataFrame, int], None],
):
    """Run ``stream_df`` through a per-batch broadcast join against a
    freshly loaded dim snapshot (broadcast state pattern). Returns the
    started StreamingQuery; caller owns checkpoint-less lifecycle (use
    idempotent_foreach_batch for the exactly-once form)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        dim = load_dim(batch_df.sparkSession)
        sink(batch_df.join(F.broadcast(dim), on), batch_id)

    return _start(stream_df, stream_df.writeStream.foreachBatch(handle).outputMode("append"),
                  checkpoint=None)
