"""Streaming row-pattern matching — the incremental deployment of
operators/cep.py (SURVEY.md §2.9): emit a session's matches once the
watermark proves the session CLOSED (no event can extend it), the same
emission contract Flink CEP has under event-time + session windows.

Lowering (the repo's standard foreachBatch landing shape, like
streaming/changelog.py): each micro-batch lands IDEMPOTENTLY in a
parquet staging table keyed by batchId (``staging/b=<id>`` written with
overwrite — a replayed batch rewrites the same bytes); the watermark is
max-seen event time minus the session gap; sessions whose last event is
older than the watermark are closed — no future row can fall inside
their gap window — so their matches are final and are recomputed with
the BATCH composition, ``sessionize(events, gap)`` plus the flat engine
keyed by ``[key, "session_id"]``, and published atomically.
Matches of still-open sessions are withheld, so every published row is
immutable (append-only downstream, no retract needed — the reason to
emit on session close rather than per match).

Incrementality: recompute touches only CANDIDATE keys — keys with an
event in this batch, plus keys whose open session the new watermark
just closed (found in the open-session metadata snapshot, one row per
key holding its open session's last event time, itself landed
idempotently per batch). Sessionization and matching are per-key, so
restricting the recompute to candidate keys is exact, and the staged
history is read with the key restriction pushed into the scan. Driver
state is O(1) scalars (max event time, batch ledger); no event row is
ever collected to the driver on the deployment path.

Publication IS the deployment form (round 7, VERDICT r6 item 4): each
batch anti-joins the recomputed matches against the parquet results
table and APPENDS only the new rows — so replays after a driver
restart deduplicate against durable state, not in-memory bookkeeping.
The ``emitted`` dict is a TEST ADAPTER layered on top (``observe=True``
mirrors each batch's new rows into the dict from the same collected
row set that is appended); ``observe=False`` runs the pure distributed
path with only a per-batch row count reaching the driver.
"""

from __future__ import annotations

import inspect
import os
import tempfile

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cep import (
    match_recognize,
    match_recognize_consecutive,
    match_recognize_define,
    match_recognize_followed_by_any,
    match_recognize_followed_by_iterative,
    match_recognize_iterative,
    match_recognize_relaxed,
    match_recognize_relaxed_groups,
    match_recognize_runagg,
    match_recognize_until,
    sessionize,
)
from .sinks import idempotent_foreach_batch

# matcher name -> the flat engine the sink runs per (key, session)
_ENGINES = {
    "types": match_recognize,
    "define": match_recognize_define,
    "runagg": match_recognize_runagg,
    "relaxed": match_recognize_relaxed,
    "fba": match_recognize_followed_by_any,
    "until": match_recognize_until,
    "consecutive": match_recognize_consecutive,
    "relaxed_groups": match_recognize_relaxed_groups,
    "iterative": match_recognize_iterative,
    "followed_by_iterative": match_recognize_followed_by_iterative,
}


class SessionCepSink:
    """foreachBatch body: land events in the keyed parquet staging
    table, recompute candidate keys, publish matches of closed
    sessions by ANTI-JOIN + APPEND to the parquet results table at
    ``results_dir`` (the deployment path; a restart-replayed batch
    appends nothing because its matches are already published).

    ``observe=True`` (the test adapter) additionally mirrors each
    batch's newly published rows into ``emitted`` — a dict keyed by
    (key, session_id, match_no); once present an entry never changes
    (tested). ``observe=False`` keeps every row distributed.

    Every matcher runs its flat engine on the sessionized history with
    ``key=[key, "session_id"]``; ``skip`` and ``within_minutes`` are
    forwarded to every engine that takes them (and rejected at
    construction for one that does not).
    ``matcher='types'`` (default) runs the event-type pattern engine;
    ``matcher='define'`` runs the PREV/NEXT DEFINE engine;
    ``matcher='runagg'`` runs the
    running-aggregate DEFINE engine (round 7 — the sessionized form,
    so the per-key O(rows²) scan is bounded by session length even in
    the stream); ``matcher='fba'`` runs followedByAny combination
    enumeration (round 9 — ``within_minutes`` forwarded; match_no
    synthesized over the variable-id tuple, stable because closed
    sessions never gain rows); ``matcher='until'`` runs the loop-stop
    engine, ``matcher='consecutive'`` the strict-internal-loop
    engine (round 10 — ``consecutive`` names the loop variables), and
    ``matcher='relaxed_groups'`` the grouped-quantifier followedBy
    engine (round 10), and ``matcher='iterative'`` the
    anchor-referencing IterativeCondition engine (round 11 —
    ``pattern`` is the (anchor_def, loop_def) pair; the session bound
    is what bounds the per-anchor scan in the stream), and
    ``matcher='followed_by_iterative'`` the RELAXED-linking
    IterativeCondition engine (round 12 — same (anchor_def, loop_def)
    pair; the session bound caps both the per-anchor scan and the
    greedy loop extent; ``within_minutes`` forwarded). All
    are safe under incremental recompute: a closed
    session can never gain rows, so PREV/NEXT navigation, prefix sums
    and skip-policy selection are final at publication time."""

    def __init__(self, pattern, gap_minutes: int, key: str = "user_id",
                 ts: str = "ts", id_col: str = "event_id",
                 store_dir: str | None = None,
                 matcher: str = "types", skip: str = "past_last_row",
                 within_minutes: int | None = None,
                 consecutive=None,
                 observe: bool = True):
        if matcher not in _ENGINES:
            raise ValueError("matcher must be 'types', 'define', "
                             "'runagg', 'relaxed', 'fba', 'until', "
                             "'consecutive', 'relaxed_groups', "
                             "'iterative' or 'followed_by_iterative'")
        if matcher in ("iterative", "followed_by_iterative") and not (
            isinstance(pattern, (tuple, list)) and len(pattern) == 2
            and all(isinstance(d, dict) for d in pattern)
        ):
            # eager, like the other constructor checks: the iterative
            # engine takes (anchor_def, loop_def), not a variable list
            raise ValueError(f"matcher={matcher!r} needs pattern="
                             "(anchor_def, loop_def)")
        if matcher == "consecutive" and not consecutive:
            # eager, like the matcher-name check above: without the
            # loop-variable set the first foreachBatch would fail
            # mid-stream inside _validate_consecutive (ADVICE r10)
            raise ValueError("matcher='consecutive' needs a non-empty "
                             "'consecutive' loop-variable set")
        opts = {}
        if skip != "past_last_row":
            opts["skip"] = skip
        if within_minutes is not None:
            opts["within_minutes"] = within_minutes
        params = inspect.signature(_ENGINES[matcher]).parameters
        unsupported = [k for k in opts if k not in params]
        if unsupported:
            # eager: silently dropping the option would change the
            # match semantics between the stream and a batch run
            raise ValueError(f"matcher={matcher!r} takes no "
                             f"{' or '.join(unsupported)}")
        self._opts = opts
        self.pattern = pattern
        self.gap_minutes = gap_minutes
        self.key, self.ts, self.id_col = key, ts, id_col
        self.matcher = matcher
        self.consecutive = consecutive
        base = store_dir or tempfile.mkdtemp(prefix="session_cep_")
        self.staging_dir = f"{base}/staging"
        self.meta_dir = f"{base}/meta"
        self.results_dir = f"{base}/results"
        self.observe = observe
        self.emitted: dict[tuple, dict] = {}
        self.emitted_per_batch: list[int] = []
        self._seen_batches: set[int] = set()
        self._max_ts = None  # global event-time high watermark (scalar)
        self._last_meta: int | None = None  # batch id of latest snapshot

    def _open_sessions(self, batch_df: DataFrame) -> DataFrame:
        """Latest open-session snapshot: (key, __last_ts), one row per
        key with a not-yet-closed session. The empty first-batch
        snapshot derives its schema from the incoming batch (key and ts
        column types), so string keys / tz-aware timestamps type the
        union and join below exactly like the parquet snapshots do."""
        if self._last_meta is None:
            from pyspark.sql.types import StructField, StructType

            schema = StructType([
                StructField(self.key, batch_df.schema[self.key].dataType),
                StructField("__last_ts", batch_df.schema[self.ts].dataType),
            ])
            return batch_df.sparkSession.createDataFrame([], schema)
        return batch_df.sparkSession.read.parquet(
            f"{self.meta_dir}/b={self._last_meta}"
        )

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen_batches:  # replay after recovery: no-op
            return
        self._seen_batches.add(batch_id)
        spark = batch_df.sparkSession
        # 1. land the batch idempotently (replay overwrites same bytes)
        batch_df.write.mode("overwrite").parquet(
            f"{self.staging_dir}/b={batch_id}"
        )
        staged = spark.read.option("basePath", self.staging_dir).parquet(
            f"{self.staging_dir}/b=*"
        )
        # 2. advance the event-time high watermark (1-row scalar)
        batch_max = batch_df.agg(F.max(self.ts)).collect()[0][0]
        if batch_max is not None and (
            self._max_ts is None or batch_max > self._max_ts
        ):
            self._max_ts = batch_max
        if self._max_ts is None:
            self.emitted_per_batch.append(0)
            return
        gap = F.expr(f"INTERVAL {int(self.gap_minutes)} MINUTES")
        # 3. candidate keys: in this batch, or open session just closed
        prev_open = self._open_sessions(batch_df)
        batch_keys = batch_df.select(self.key).distinct()
        newly_closed_keys = prev_open.filter(
            F.col("__last_ts") + gap <= F.lit(self._max_ts)
        ).select(self.key)
        candidates = batch_keys.union(newly_closed_keys).distinct()
        # 4. recompute ONLY candidate keys over their staged history
        hist = staged.drop("b").join(F.broadcast(candidates), self.key)
        sess = sessionize(hist, self.gap_minutes, self.key, self.ts, self.id_col)
        bounds = sess.groupBy(self.key, "session_id").agg(
            F.max(self.ts).alias("__last_ts")
        )
        closed = bounds.filter(
            F.col("__last_ts") + gap <= F.lit(self._max_ts)
        ).select(self.key, "session_id")
        if self.matcher in ("iterative", "followed_by_iterative"):
            args = tuple(self.pattern)  # (anchor_def, loop_def)
        elif self.matcher == "consecutive":
            args = (self.pattern, self.consecutive)
        else:
            args = (self.pattern,)
        matched = _ENGINES[self.matcher](
            sess, *args, key=[self.key, "session_id"], ts=self.ts,
            id_col=self.id_col, **self._opts,
        )
        if self.matcher == "fba":
            # followedByAny combinations carry no inherent match_no;
            # synthesize one as a row_number over the variable-id
            # tuple — deterministic, and STABLE because a closed
            # session never gains rows (only closed sessions publish).
            from pyspark.sql.window import Window

            id_cols = [f"{var.lower()}_event_id"
                       for var, _, _ in self.pattern]
            matched = matched.withColumn(
                "match_no",
                F.row_number().over(
                    Window.partitionBy(self.key, "session_id")
                    .orderBy(*id_cols)).cast("long"),
            )
        matches = matched.join(closed, [self.key, "session_id"])
        # 5. publish (deployment path): anti-join against the durable
        # results table and append ONLY the new rows — a batch replayed
        # after a driver restart recomputes the same matches, finds
        # them all already published, and appends nothing
        mkey = [self.key, "session_id", "match_no"]
        if os.path.isdir(self.results_dir):
            published = spark.read.parquet(self.results_dir)
            new = matches.join(published, mkey, "left_anti")
        else:
            new = matches
        if self.observe:
            # test adapter: mirror the new rows into the dict from the
            # SAME collected set that is appended (one computation; new
            # matches are output-sized, never the event history)
            rows = new.collect()
            if rows:
                spark.createDataFrame(rows, new.schema).write.mode(
                    "append"
                ).parquet(self.results_dir)
            n_new = 0
            for r in rows:
                row = r.asDict()
                mk = tuple(row[k] for k in mkey)
                if mk in self.emitted:
                    assert self.emitted[mk] == row, (
                        f"published match changed after emission: {mk}"
                    )
                else:
                    self.emitted[mk] = row
                    n_new += 1
            self.emitted_per_batch.append(n_new)
        else:
            # pure distributed publish: only the new-row COUNT reaches
            # the driver (persist bounds the double traversal)
            new = new.persist()
            n_new = new.count()
            if n_new:
                new.write.mode("append").parquet(self.results_dir)
            new.unpersist()
            self.emitted_per_batch.append(n_new)
        # 6. next open-session snapshot: prior snapshot minus candidate
        # keys, plus candidates' still-open sessions (at most their
        # final session each) — idempotent per-batch overwrite
        still_open = (
            bounds.join(closed, [self.key, "session_id"], "left_anti")
            .groupBy(self.key)
            .agg(F.max("__last_ts").alias("__last_ts"))
        )
        new_meta = prev_open.join(
            F.broadcast(candidates), self.key, "left_anti"
        ).unionByName(still_open)
        new_meta.write.mode("overwrite").parquet(
            f"{self.meta_dir}/b={batch_id}"
        )
        self._last_meta = batch_id


def start_session_cep(
    stream_df: DataFrame, checkpoint: str, sink: SessionCepSink
) -> StreamingQuery:
    """Run an event stream into a SessionCepSink (append semantics)."""
    return idempotent_foreach_batch(
        stream_df, checkpoint, sink.write_batch, mode="append"
    )
