"""Streaming-mode tests (SURVEY.md §5.2 item 4): the same transforms the
DuckDB oracle checks in batch are run through a real file-based
Structured Streaming pipeline (multi-file source → micro-batches →
foreachBatch collect) and must converge to the batch answer.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_realtime_edu_demo_spark.sources.readers import (
    materialize_stream_input,
    stream_table,
)
from flink_realtime_edu_demo_spark.streaming.jobs import (
    interval_join,
    session_counts,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)
from flink_realtime_edu_demo_spark.streaming.sinks import (
    idempotent_foreach_batch,
    partition_overwrite_writer,
)
from flink_realtime_edu_demo_spark.tables import load


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_in"))
    materialize_stream_input(spark, sf_dir, "events", out, n_splits=4)
    return out


def run_to_completion(sdf, mode="complete"):
    """Run a streaming frame until the file source is exhausted; return
    the final result as a list of Rows (memory sink)."""
    name = f"mem_{abs(hash(sdf)) % 10_000_000}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def canon_rows(df):
    return sorted(tuple(repr(v) for v in row) for row in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir, stream_dir):
    stream_result = run_to_completion(
        tumbling_counts(stream_table(spark, stream_dir, "events"))
    )
    batch_result = tumbling_counts(load(spark, sf_dir, "events"))
    assert canon_rows(stream_result) == canon_rows(batch_result)


def test_sliding_stream_matches_batch(spark, sf_dir, stream_dir):
    stream_result = run_to_completion(
        sliding_counts(stream_table(spark, stream_dir, "events"))
    )
    batch_result = sliding_counts(load(spark, sf_dir, "events"))
    assert canon_rows(stream_result) == canon_rows(batch_result)


def test_session_stream_matches_batch(spark, sf_dir, stream_dir):
    stream_result = run_to_completion(
        session_counts(stream_table(spark, stream_dir, "events"))
    )
    batch_result = session_counts(load(spark, sf_dir, "events"))
    assert canon_rows(stream_result) == canon_rows(batch_result)


def test_streaming_dedup_within_watermark(spark, sf_dir, stream_dir):
    """dropDuplicatesWithinWatermark semantics: duplicates are suppressed
    while a key's state lives (watermark window); after eviction the key
    may be re-emitted. So: strictly fewer rows than the input, at least
    one row per distinct key."""
    sdf = streaming_dedup(stream_table(spark, stream_dir, "events"))
    out = run_to_completion(sdf, mode="append")
    n_in = load(spark, sf_dir, "events").count()
    n_keys = (
        load(spark, sf_dir, "events").select("user_id", "event_type").distinct().count()
    )
    assert n_keys <= out.count() < n_in


def test_interval_join_stream_matches_batch(spark, sf_dir, stream_dir):
    ev_s = stream_table(spark, stream_dir, "events")
    views_s = ev_s.filter(F.col("event_type") == "view")
    purch_s = ev_s.filter(F.col("event_type") == "purchase")
    out = run_to_completion(interval_join(views_s, purch_s), mode="append")

    ev_b = load(spark, sf_dir, "events")
    expected = interval_join(
        ev_b.filter(F.col("event_type") == "view"),
        ev_b.filter(F.col("event_type") == "purchase"),
    )
    # Streaming inner joins may withhold rows near the final watermark;
    # with availableNow over a bounded file source all rows flush.
    assert canon_rows(out) == canon_rows(expected)


def test_idempotent_sink_replay_safe(spark, stream_dir, tmp_path):
    """Same batch written twice (simulated replay) must leave one copy —
    the exactly-once property of the batch_id-keyed overwrite sink."""
    base = str(tmp_path / "sink_out")
    writer = partition_overwrite_writer(base)
    sdf = tumbling_counts(stream_table(spark, stream_dir, "events"))
    q = idempotent_foreach_batch(
        sdf, checkpoint=str(tmp_path / "ckpt"), write_batch=writer, mode="complete"
    )
    q.processAllAvailable()
    q.stop()
    first = spark.read.parquet(f"{base}/batch_id=0")
    n_first = first.count()
    # materialize before replay — the replay overwrites the files the
    # lazy frame would otherwise re-read
    snapshot = spark.createDataFrame(first.collect(), first.schema)
    writer(snapshot, 0)  # replay batch 0 verbatim
    replayed = spark.read.parquet(f"{base}/batch_id=0")
    assert replayed.count() == n_first > 0


def test_engine_query_sizes_state_to_cores(spark, stream_dir, tmp_path):
    """A stateful query started by the engine gets one state partition
    per core, whatever the session's shuffle.partitions says, and the
    session's own value is left as it was."""
    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    spark.conf.set(key, str(cores + 3))
    try:
        q = idempotent_foreach_batch(
            tumbling_counts(stream_table(spark, stream_dir, "events")),
            checkpoint=str(tmp_path / "ckpt"),
            write_batch=lambda df, batch_id: df.collect(),
        )
        assert spark.conf.get(key) == str(cores + 3)
        try:
            q.processAllAvailable()
            ops = q.lastProgress["stateOperators"]
        finally:
            q.stop()
    finally:
        spark.conf.set(key, prev)
    assert ops[0]["numShufflePartitions"] == cores


_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


@pytest.mark.parametrize("prev", [
    None,
    _CHECKPOINTING + "FileContextBasedCheckpointFileManager",
], ids=["unset", "user_set"])
def test_engine_query_on_local_checkpoint_uses_rename_manager(spark, stream_dir,
                                                              tmp_path, prev):
    """A query the engine starts on a local checkpoint writes its logs
    through Spark's rename-based FileSystem manager: the query's own
    session (cloned at start) names it, and the caller's session keeps
    its previous value, unset or user-set."""
    if prev is not None:
        spark.conf.set(_MANAGER, prev)
    try:
        q = idempotent_foreach_batch(
            stream_table(spark, stream_dir, "events"),
            checkpoint=str(tmp_path / "ckpt"),
            write_batch=lambda df, batch_id: df.count(),
        )
        try:
            caller = spark.conf.get(_MANAGER, None)
            own = q._jsq.streamingQuery().sparkSessionForStream().conf().get(_MANAGER, None)
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.unset(_MANAGER)
    assert own == _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
    assert caller == prev


@pytest.mark.parametrize("path, default_fs, local", [
    ("/tmp/x", "file:///", True),
    ("file:/tmp/x", "file:///", True),
    ("file:/tmp/x", "hdfs://nn:8020", True),
    ("/tmp/x", "hdfs://nn:8020", False),
    ("hdfs://nn/x", "file:///", False),
    ("s3a://b/x", "file:///", False),
])
def test_checkpoint_log_locality(path, default_fs, local):
    """A log path counts as local only if, qualified with fs.defaultFS,
    it is on the file:// scheme."""
    from flink_realtime_edu_demo_spark.streaming.sinks import _on_local_fs

    assert _on_local_fs([path], default_fs) is local


def test_parquet_sink_checks_its_output_log(monkeypatch):
    """start_parquet_sink hands _start its output path as well as the
    checkpoint (the file sink keeps a _spark_metadata log there): a
    local checkpoint with an HDFS output path is not switched."""
    from types import SimpleNamespace

    from flink_realtime_edu_demo_spark.streaming import sinks

    class Builder:  # DataStreamWriter's fluent calls, without Spark
        def __getattr__(self, name):
            return lambda *args: self

    monkeypatch.setattr(sinks, "_start", lambda df, writer, *logs: logs)
    logs = sinks.start_parquet_sink(SimpleNamespace(writeStream=Builder()),
                                    "hdfs://nn:8020/out", "/tmp/ckpt")
    assert logs == ("/tmp/ckpt", "hdfs://nn:8020/out")
    assert not sinks._on_local_fs(logs, "file:///")


def test_restart_keeps_checkpoint_state_partitions(spark, sf_dir, stream_dir, tmp_path):
    """A checkpoint written with another state partition count, and with
    another checkpoint manager, stays valid in both directions. A query
    started raw (Spark's default FileContext manager) with cores + 1
    partitions reads the first third of the input and stops; restarted
    on the same checkpoint through idempotent_foreach_batch (the
    rename-based FileSystem manager) it keeps cores + 1 state partitions
    (Spark restores the count from the offset log) and reads the second
    third; a third, raw start reads the rest from the checkpoint the
    engine wrote. The folded update-mode output equals the batch
    answer."""
    import os
    import shutil

    src = tmp_path / "src" / "events_stream"
    src.mkdir(parents=True)
    parts = sorted(f for f in os.listdir(f"{stream_dir}/events_stream")
                   if f.startswith("part-") and f.endswith(".parquet"))
    cut1, cut2 = len(parts) // 3, 2 * len(parts) // 3

    def copy(names):  # copy2 keeps the event-time-ordered mtimes
        for f in names:
            shutil.copy2(f"{stream_dir}/events_stream/{f}", src / f)

    ckpt = str(tmp_path / "ckpt")
    emitted: list = []

    def collect(df, batch_id):
        emitted.extend(df.collect())

    def query():
        return tumbling_counts(stream_table(spark, str(tmp_path / "src"), "events"))

    def run(q):
        try:
            q.processAllAvailable()
            return q.lastProgress["stateOperators"]
        finally:
            q.stop()

    def start_raw():
        return (query().writeStream.foreachBatch(collect)
                .option("checkpointLocation", ckpt).outputMode("update").start())

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    copy(parts[:cut1])
    prev = spark.conf.get(key)
    spark.conf.set(key, str(cores + 1))
    try:
        q1 = start_raw()
    finally:
        spark.conf.set(key, prev)
    run(q1)
    assert emitted

    copy(parts[cut1:cut2])
    n = len(emitted)
    ops = run(idempotent_foreach_batch(query(), ckpt, collect, mode="update"))
    assert ops[0]["numShufflePartitions"] == cores + 1
    assert len(emitted) > n

    copy(parts[cut2:])
    n = len(emitted)
    ops = run(start_raw())
    assert ops[0]["numShufflePartitions"] == cores + 1
    assert len(emitted) > n

    folded = {}
    for r in emitted:  # update mode: the last emission of a window wins
        folded[(r.window_start, r.window_end, r.event_type)] = r
    got = sorted(tuple(repr(v) for v in r) for r in folded.values())
    assert got == canon_rows(tumbling_counts(load(spark, sf_dir, "events")))


def test_statement_set_multi_sink_one_pass(spark, sf_dir, stream_dir, tmp_path):
    """Flink STATEMENT SET (VERDICT r14 missing #3): one stream fanned
    into 3 sinks in a single foreachBatch pass — each sink's final
    read-back equals the same transform run standalone over the full
    batch table (== the single-sink run), and a replayed batch leaves
    each sink unchanged (the idempotence contract holds through the
    fan-out)."""
    from flink_realtime_edu_demo_spark.streaming.sinks import (
        multi_sink_statement_set,
    )

    base = str(tmp_path / "fanout")
    transforms = {
        "clicks": lambda d: d.filter(F.col("event_type") == "click"),
        "slim": lambda d: d.select("user_id", "ts", "value"),
        "raw": lambda d: d,
    }
    sinks = {
        name: (tf, partition_overwrite_writer(f"{base}/{name}"))
        for name, tf in transforms.items()
    }
    sdf = stream_table(spark, stream_dir, "events")
    q = multi_sink_statement_set(
        sdf, checkpoint=str(tmp_path / "ckpt"), sinks=sinks, mode="append"
    )
    q.processAllAvailable()
    q.stop()
    ev_b = load(spark, sf_dir, "events").select(*sdf.columns)
    for name, tf in transforms.items():
        got = spark.read.parquet(f"{base}/{name}").drop("batch_id")
        want = tf(ev_b).select(*got.columns)
        assert canon_rows(got) == canon_rows(want), f"sink {name} diverged"
    # replay batch 0 through the same sink specs: counts must not change
    b0 = spark.read.parquet(f"{base}/raw/batch_id=0")
    snapshot = spark.createDataFrame(b0.collect(), b0.schema)
    before = {n: spark.read.parquet(f"{base}/{n}").count() for n in sinks}
    for name, (tf, write) in sinks.items():
        write(tf(snapshot), 0)
    after = {n: spark.read.parquet(f"{base}/{n}").count() for n in sinks}
    assert after == before


def test_stateful_accumulator_timers_fire(spark, stream_dir, tmp_path):
    """applyInPandasWithState with ProcessingTimeTimeout: after the
    source drains and the idle timeout elapses, every user's state must
    fire a 'finalized' row whose totals equal the batch aggregate —
    Flink KeyedProcessFunction + processing-time timer semantics."""
    import time

    from flink_realtime_edu_demo_spark.streaming.stateful import user_accumulator

    sdf = user_accumulator(
        stream_table(spark, stream_dir, "events"), idle_ms=2_000
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("acc_out")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 120
    finalized = 0
    while time.time() < deadline:
        finalized = (
            spark.sql("SELECT count(DISTINCT user_id) n FROM acc_out WHERE status='finalized'")
            .collect()[0].n
        )
        if finalized > 0:
            break
        time.sleep(1)
    q.stop()
    assert finalized > 0, "no finalized rows — timers never fired"
    # finalized totals equal the batch aggregate for those users
    from pyspark.sql import functions as F2

    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql(
            "SELECT * FROM acc_out WHERE status='finalized'"
        ).collect()
    }
    ev = spark.read.schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
                           "event_type STRING, value DOUBLE, props STRING").parquet(
        f"{stream_dir}/events_stream"
    )
    want = {
        r.user_id: (r.n, round(r.tv, 6))
        for r in ev.groupBy("user_id")
        .agg(F2.count(F2.lit(1)).alias("n"), F2.sum("value").alias("tv"))
        .collect()
    }
    for uid, (n, tv) in got.items():
        assert want[uid][0] == n
        assert abs(want[uid][1] - tv) <= 1e-6


def test_changelog_upsert_downstream_agg_matches_batch(spark, sf_dir, stream_dir, tmp_path):
    """Aggregate-of-aggregate under updates (SURVEY §7 hard part 1): an
    update-mode per-user count lands in a keyed upsert sink that derives
    the Flink-style retract stream (+I/-U/+U); the downstream consumer
    folds it into 'how many users have n events' and must equal the
    batch answer exactly — without retractions it would double-count
    every user whose count grew across micro-batches."""
    from flink_realtime_edu_demo_spark.streaming.changelog import (
        ChangelogUpsertSink,
        fold_changelog,
        start_changelog_sink,
    )

    ev = stream_table(spark, stream_dir, "events")
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    sink = ChangelogUpsertSink(key_cols=["user_id"])
    q = start_changelog_sink(agg, str(tmp_path / "ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    batch = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    batch_state = {(r.user_id,): r.n for r in batch.collect()}
    assert {k: v["n"] for k, v in sink.state.items()} == {
        k: n for k, n in batch_state.items()
    }

    # the downstream aggregate-of-aggregate: users per event-count
    downstream = fold_changelog(sink.changelog, lambda row: row["n"])
    batch_hist = {
        r.n: r.n_users
        for r in batch.groupBy("n").agg(F.count(F.lit(1)).alias("n_users")).collect()
    }
    assert downstream == batch_hist
    # updates really happened (multi-batch source), so retractions flowed
    assert any(kind == "-U" for kind, _ in sink.changelog)


def test_changelog_three_level_cascade_matches_batch(spark, sf_dir,
                                                     stream_dir, tmp_path):
    """MULTI-LEVEL retraction cascade (round 11 — the 'multi-level
    cascades remain a documented deviation' gap from SURVEY §7 hard
    part 1, now closed): level 1 = update-mode per-(user,type) count
    through the upsert sink; level 2 = RetractAggregate per type
    (group count + exact sum of the level-1 counts) consuming level
    1's changelog; level 3 = RetractAggregate over ONE global group
    consuming level 2's changelog (sum of level-2 group counts).
    Every level folds +I/-U/+U, so each must equal its batch answer
    EXACTLY — any lost retraction at any level shows up as a
    double-count downstream. Chained incrementally via consumer=
    (O(1) retention at level 1, the deployment shape)."""
    from flink_realtime_edu_demo_spark.streaming.changelog import (
        ChangelogUpsertSink,
        RetractAggregate,
        start_changelog_sink,
    )

    lvl3 = RetractAggregate(
        group_fn=lambda row: "all",
        aggs={"n_types": ("count", None),
              "sum_pairs": ("sum", lambda row: row["n_pairs"])},
    )
    lvl2 = RetractAggregate(
        group_fn=lambda row: row["event_type"],
        aggs={"n_pairs": ("count", None),
              "sum_n": ("sum", lambda row: row["n"])},
        consumer=lvl3.on_change,
    )
    ev = stream_table(spark, stream_dir, "events")
    agg = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    sink = ChangelogUpsertSink(key_cols=["user_id", "event_type"],
                               consumer=lvl2.on_change)
    q = start_changelog_sink(agg, str(tmp_path / "casc_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    batch = load(spark, sf_dir, "events").groupBy(
        "user_id", "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    want2 = {
        r.event_type: {"n_pairs": r.n_pairs, "sum_n": r.sum_n}
        for r in batch.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n").alias("sum_n"),
        ).collect()
    }
    assert lvl2.snapshot() == want2
    n_types = len(want2)
    assert lvl3.snapshot() == {
        "all": {
            "n_types": n_types,
            "sum_pairs": sum(v["n_pairs"] for v in want2.values()),
        }
    }
    # retractions really flowed through BOTH downstream levels
    assert any(kind == "-U" for kind, _ in lvl2.changelog)
    assert any(kind == "-U" for kind, _ in lvl3.changelog)


def test_changelog_sink_bounded_driver_memory(spark, sf_dir, stream_dir, tmp_path):
    """A wide batch (every user changes every micro-batch) through a sink
    whose retained-changelog cap is far below the entry volume: an
    incremental consumer drains entries with O(1) retention and still
    folds to the exact batch aggregate-of-aggregate; without a consumer
    the same cap raises instead of growing the driver."""
    import pytest

    from flink_realtime_edu_demo_spark.streaming.changelog import (
        ChangelogUpsertSink,
        start_changelog_sink,
    )

    ev = stream_table(spark, stream_dir, "events")
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    folded: dict = {}

    def consume(kind: str, row: dict) -> None:
        folded[row["n"]] = folded.get(row["n"], 0) + (1 if kind != "-U" else -1)

    sink = ChangelogUpsertSink(key_cols=["user_id"], consumer=consume, max_changelog=8)
    q = start_changelog_sink(agg, str(tmp_path / "ckpt_c"), sink)
    q.processAllAvailable()
    q.stop()
    assert sink.changelog == []  # nothing retained — all streamed through
    batch = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    batch_hist = {
        r.n: r.n_users
        for r in batch.groupBy("n").agg(F.count(F.lit(1)).alias("n_users")).collect()
    }
    assert {k: v for k, v in folded.items() if v != 0} == batch_hist

    capped = ChangelogUpsertSink(key_cols=["user_id"], max_changelog=8)
    q2 = start_changelog_sink(agg, str(tmp_path / "ckpt_d"), capped)
    with pytest.raises(Exception, match="max_changelog"):
        try:
            q2.processAllAvailable()
        except Exception as e:  # unwrap the StreamingQueryException cause chain
            raise RuntimeError(str(e)) from e
        finally:
            q2.stop()


def test_retract_join_stream_matches_batch(spark, sf_dir, stream_dir, tmp_path):
    """Retract-aware JOIN (Flink's retract join, SURVEY §7 hard part 1):
    two update-mode aggregates (clicks count, purchase spend per user)
    stream through upsert sinks that derive +I/-U/+U changelogs; a
    RetractJoin consuming both — entries interleaved round-robin so
    retractions provably arrive while the other side holds state —
    must materialize exactly the batch inner join of the two batch
    aggregates, with every live pair netting to one changelog entry."""
    from flink_realtime_edu_demo_spark.streaming.changelog import (
        ChangelogUpsertSink,
        RetractJoin,
        start_changelog_sink,
    )

    ev_l = stream_table(spark, stream_dir, "events")
    ev_r = stream_table(spark, stream_dir, "events")
    clicks = (
        ev_l.filter(F.col("event_type") == "click")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    spend = (
        ev_r.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("spend")
        )
    )
    left_sink = ChangelogUpsertSink(key_cols=["user_id"])
    right_sink = ChangelogUpsertSink(key_cols=["user_id"])
    q1 = start_changelog_sink(clicks, str(tmp_path / "ckpt_l"), left_sink)
    q1.processAllAvailable()
    q1.stop()
    q2 = start_changelog_sink(spend, str(tmp_path / "ckpt_r"), right_sink)
    q2.processAllAvailable()
    q2.stop()

    rj = RetractJoin(
        left_key=lambda r: r["user_id"], right_key=lambda r: r["user_id"],
        left_pk=lambda r: r["user_id"], right_pk=lambda r: r["user_id"],
    )
    li, ri = iter(left_sink.changelog), iter(right_sink.changelog)
    l_next, r_next = next(li, None), next(ri, None)
    while l_next or r_next:  # round-robin: deterministic interleaving
        if l_next:
            rj.on_left(*l_next)
            l_next = next(li, None)
        if r_next:
            rj.on_right(*r_next)
            r_next = next(ri, None)

    b = load(spark, sf_dir, "events")
    bl = (
        b.filter(F.col("event_type") == "click")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    br = (
        b.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("spend")
        )
    )
    want = {
        (r.user_id, r.user_id): (r.n_clicks, r.spend)
        for r in bl.join(br, "user_id").collect()
    }
    got = {
        pair: (row["l_n_clicks"], row["r_spend"])
        for pair, row in rj.result.items()
    }
    assert got == want and want, (len(got), len(want))
    # retractions flowed through the JOIN itself (not just the inputs)
    assert any(kind == "-U" for kind, _ in rj.changelog)
    # changelog consistency: every pair nets to 1 (live) or 0 (retired)
    net: dict = {}
    for kind, row in rj.changelog:
        p = (row["l_user_id"], row["r_user_id"])
        net[p] = net.get(p, 0) + (1 if kind != "-U" else -1)
    assert {p for p, n in net.items() if n == 1} == set(want)
    assert all(n in (0, 1) for n in net.values())


def test_retract_join_key_change_and_nm_fanout():
    """RetractJoin unit semantics on a scripted changelog: N:M fan-out
    (two left rows sharing a join key) and a join-key CHANGE in an
    upsert (-U removes the row from the old key's index before the +U
    adds it under the new key) both keep the materialized view exact."""
    from flink_realtime_edu_demo_spark.streaming.changelog import RetractJoin

    rj = RetractJoin(
        left_key=lambda r: r["k"], right_key=lambda r: r["k"],
        left_pk=lambda r: r["id"], right_pk=lambda r: r["id"],
    )
    rj.on_right("+I", {"id": 100, "k": "a", "v": 1})
    rj.on_left("+I", {"id": 1, "k": "a", "x": 10})
    rj.on_left("+I", {"id": 2, "k": "a", "x": 20})  # N:M — same key
    assert set(rj.result) == {(1, 100), (2, 100)}
    # upsert moves left id=1 from key a to key b: pairs with 100 retract
    rj.on_left("-U", {"id": 1, "k": "a", "x": 10})
    rj.on_left("+U", {"id": 1, "k": "b", "x": 11})
    assert set(rj.result) == {(2, 100)}
    rj.on_right("+I", {"id": 200, "k": "b", "v": 2})
    assert set(rj.result) == {(2, 100), (1, 200)}
    assert rj.result[(1, 200)] == {
        "l_id": 1, "l_k": "b", "l_x": 11, "r_id": 200, "r_k": "b", "r_v": 2
    }
    # right update fans out to every left match under the key
    rj.on_right("-U", {"id": 100, "k": "a", "v": 1})
    assert set(rj.result) == {(1, 200)}


def test_streaming_cep_closed_sessions_match_batch(spark, sf_dir, stream_dir, tmp_path):
    """Streaming row-pattern matching (SessionCepSink): matches publish
    only when their session is provably closed, never change after
    publication, and the final published set equals the batch
    sessionized answer restricted to closed sessions; emission is
    progressive (some matches publish before the last micro-batch)."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("V", "view", "1"), ("CE", ("click", "error"), "*"), ("P", "purchase", "1")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap)
    q = start_session_cep(ev_stream, str(tmp_path / "cep_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES") <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no): (r.first_event_id, r.last_event_id, r.n_rows)
        for r in match_recognize(sess, pat, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))
    # progressive: matches published before the final micro-batch
    assert sum(sink.emitted_per_batch[:-1]) > 0, sink.emitted_per_batch
    # the DEPLOYMENT publish path: the durable results table holds the
    # same match set, exactly once (anti-join append, round 7)
    res = spark.read.parquet(sink.results_dir)
    table = {
        (r.user_id, r.session_id, r.match_no): (r.first_event_id,
                                                r.last_event_id, r.n_rows)
        for r in res.collect()
    }
    assert table == want and res.count() == len(want)
    # restart replay: a FRESH sink over the same store dir re-processes
    # the whole stream, finds every match already published, and
    # appends nothing (dedup against durable state, not driver memory)
    sink2 = SessionCepSink(
        pat, gap_minutes=gap,
        store_dir=sink.staging_dir.rsplit("/", 1)[0],
    )
    q2 = start_session_cep(
        stream_table(spark, stream_dir, "events"),
        str(tmp_path / "cep_ckpt2"), sink2,
    )
    q2.processAllAvailable()
    q2.stop()
    assert sink2.emitted == {} and sum(sink2.emitted_per_batch) == 0
    assert spark.read.parquet(sink.results_dir).count() == len(want)


def test_streaming_cep_runagg_matcher_matches_batch(spark, sf_dir, stream_dir, tmp_path):
    """The running-aggregate engine through the streaming sink
    (round 7): published matches for closed sessions equal the batch
    sessionized runagg answer — valid incrementally because a closed
    session never gains rows, so the DECIMAL prefix sums and the
    left-to-right selection are final at publication."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_runagg,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("A", {"types": "view"}, "1"),
           ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="runagg")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_ra_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES") <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.b_rows, r.b_sum)
        for r in match_recognize_runagg(sess, pat, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["b_rows"], v["b_sum"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_distributed_publish_path(spark, sf_dir, stream_dir, tmp_path):
    """observe=False: the pure deployment path — no match row is ever
    collected to the driver (only per-batch counts), and the results
    table still converges to the closed-session batch answer."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("V", "view", "1"), ("CE", ("click", "error"), "*"),
           ("P", "purchase", "1")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, observe=False)
    q = start_session_cep(ev_stream, str(tmp_path / "cep_dist_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    assert sink.emitted == {}  # nothing mirrored to the driver
    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES") <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no)
        for r in match_recognize(sess, pat, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    res = spark.read.parquet(sink.results_dir)
    got = {(r.user_id, r.session_id, r.match_no) for r in res.collect()}
    assert got == want and res.count() == len(want)
    assert sum(sink.emitted_per_batch) == len(want)


def test_streaming_cep_define_matcher_matches_batch(spark, sf_dir, stream_dir, tmp_path):
    """The DEFINE engine (PREV navigation + SKIP TO LAST) through the
    streaming sink: published matches for closed sessions equal the
    batch sessionized define answer — valid incrementally because a
    closed session never gains rows, so session-confined PREV/NEXT and
    the skip-policy selection are final at publication."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_define,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("STRT", {}, "1"), ("DOWN", {"dir": "down"}, "+"),
           ("UP", {"dir": "up"}, "+")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="define",
                          skip="to_last:UP")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_def_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES") <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no): (r.first_event_id, r.last_event_id, r.n_rows)
        for r in match_recognize_define(sess, pat, key=["user_id", "session_id"],
                                        skip="to_last:UP")
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_kafka_shaped_decode_converges_to_batch(spark, sf_dir, stream_dir):
    """The kafka_stream from_json decode stage, driven through a
    file-backed topic dump with the Kafka wire schema, converges to the
    batch events table (and therefore to everything downstream of it,
    e.g. q_json_extract)."""
    from flink_realtime_edu_demo_spark.sources.readers import (
        kafka_topic_stand_in,
        materialize_kafka_topic,
    )

    topic_path = materialize_kafka_topic(spark, sf_dir, "events", stream_dir)
    decoded = kafka_topic_stand_in(spark, topic_path)
    got = run_to_completion(decoded, mode="append")
    want = load(spark, sf_dir, "events")
    assert sorted(got.columns) == sorted(want.columns)
    assert canon_rows(got.select(*want.columns)) == canon_rows(want)


def test_transform_with_state_matches_batch(spark, sf_dir, stream_dir, tmp_path):
    """The transformWithStateInPandas accumulator (Spark 4.x stateful API)
    converges to the batch per-user aggregate: final upserted state per
    user equals groupBy count/sum."""
    from flink_realtime_edu_demo_spark.streaming.changelog import (
        ChangelogUpsertSink,
        start_changelog_sink,
    )
    from flink_realtime_edu_demo_spark.streaming.stateful import (
        tws_available,
        user_accumulator_tws,
    )

    if not tws_available():
        pytest.skip("transformWithState driver worker needs google.protobuf, "
                    "not present in this container")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = stream_table(spark, stream_dir, "events")
        sink = ChangelogUpsertSink(key_cols=["user_id"])
        q = start_changelog_sink(user_accumulator_tws(ev), str(tmp_path / "ck"), sink)
        q.processAllAvailable()
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    want = {r.user_id: (r.n, round(r.total, 6)) for r in batch.collect()}
    got = {
        k[0]: (v["n_events"], round(v["total_value"], 6))
        for k, v in sink.state.items()
    }
    assert got == want and len(got) > 0


def test_metrics_listener_and_broadcast_dim_join(spark, sf_dir, stream_dir, tmp_path):
    """MetricsCollector sees every micro-batch's counters (Flink metrics
    parity) while a broadcast-state-style dim join enriches the stream;
    the dim snapshot is swapped mid-run and later batches must see the
    NEW mapping — the property Flink's broadcast state provides. A
    stateful windowed query then reports its watermark, state memory,
    late-dropped rows, state commit time and one state partition per
    core."""
    from flink_realtime_edu_demo_spark.streaming.metrics import (
        MetricsCollector,
        broadcast_dim_join,
    )

    collector = MetricsCollector()
    spark.streams.addListener(collector)

    dim_state = {"gen": 0}
    def load_dim(s):
        g = dim_state["gen"]
        return s.createDataFrame(
            [(t, f"seg{g}") for t in ("click", "view", "purchase", "error", "signup")],
            "event_type string, segment string",
        )

    seen: list[tuple[int, set]] = []
    def sink(df, batch_id):
        seen.append((batch_id, {r.segment for r in df.select("segment").distinct().collect()}))
        dim_state["gen"] += 1  # swap the dim between batches

    try:
        ev = stream_table(spark, stream_dir, "events")
        q = broadcast_dim_join(ev, load_dim, on="event_type", sink=sink)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        # progress events are delivered asynchronously — wait for the
        # listener queue to drain before asserting on totals
        import time as _t

        want_rows = load(spark, sf_dir, "events").count()

        def drain(batches):
            deadline = _t.time() + 30
            while (
                sum(b["num_input_rows"] for b in batches()) < want_rows
                and _t.time() < deadline
            ):
                _t.sleep(0.5)

        drain(lambda: collector.batches)
        join_batches = list(collector.batches)

        q = idempotent_foreach_batch(
            tumbling_counts(ev), str(tmp_path / "ckpt"), lambda df, batch_id: df.collect()
        )
        q.processAllAvailable()
        q.stop()
        drain(lambda: collector.batches[len(join_batches):])
        agg_batches = collector.batches[len(join_batches):]
    finally:
        spark.streams.removeListener(collector)

    assert len(seen) >= 2
    segs = [s for _, s in seen if s]
    assert segs[0] == {"seg0"} and segs[-1] != segs[0]  # refresh visible
    assert sum(b["num_input_rows"] for b in join_batches) == want_rows
    phases = ("latestOffset_ms", "getBatch_ms", "queryPlanning_ms", "walCommit_ms",
              "addBatch_ms", "commitOffsets_ms", "triggerExecution_ms")
    for b in join_batches:  # stateless: no watermark, no state
        assert all(b[k] >= 0 for k in phases), b
        assert b["watermark"] is None and b["state_partitions"] == []
        assert b["state_rows"] == b["state_memory_bytes"] == b["state_commit_ms"] == 0
    assert sum(b["num_input_rows"] for b in agg_batches) == want_rows
    cores = spark.sparkContext.defaultParallelism
    for b in agg_batches:
        assert all(b[k] >= 0 for k in phases), b
        assert b["watermark"] is not None and b["state_partitions"] == [cores]
        assert b["state_memory_bytes"] > 0 and b["state_commit_ms"] >= 0
        assert b["rows_dropped_by_watermark"] == 0  # in-order replay drops nothing
    assert agg_batches[-1]["state_rows"] > 0


def test_cumulate_stream_matches_batch(spark, sf_dir, stream_dir):
    """CUMULATE lowering runs unchanged on a streaming frame (narrow
    explode + groupBy) and converges to the batch answer."""
    from flink_realtime_edu_demo_spark.operators.cumulate import cumulate_window

    def transform(ev):
        grown = cumulate_window(ev, "ts", step="15 minutes", max_size="1 hour")
        return grown.groupBy("window_start", "window_end").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )

    stream_result = run_to_completion(transform(stream_table(spark, stream_dir, "events")))
    batch_result = transform(load(spark, sf_dir, "events"))
    assert canon_rows(stream_result) == canon_rows(batch_result)


def test_rate_source_produces_typed_events(spark):
    """The datagen/rate source must emit the documented event schema and
    actually produce rows through a real micro-batch (not just parse):
    run one processAllAvailable cycle into a memory sink and check the
    derived columns' invariants (event_type from value%3, user_id<100)."""
    from flink_realtime_edu_demo_spark.sources.readers import rate_stream

    q = (
        rate_stream(spark, rows_per_second=500)
        .writeStream.format("memory")
        .queryName("rate_probe")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM rate_probe").collect()
            if len(rows) >= 10:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 10, "rate source produced no data"
    assert {f.name for f in spark.table("rate_probe").schema.fields} == {
        "event_id", "ts", "user_id", "event_type", "value"
    }
    for r in rows:
        assert r.event_type == ["click", "view", "purchase"][r.event_id % 3]
        assert 0 <= r.user_id < 100
        assert abs(r.value - (r.event_id % 1000) / 10.0) < 1e-12


def test_interval_left_outer_join_stream_matches_batch(spark, sf_dir, stream_dir):
    """Stream-stream LEFT OUTER interval join: with availableNow over a
    bounded source the final watermark flushes every pending view, so
    the streamed result (matches + NULL-padded no-match views) must
    equal the batch left join of the same transform — and strictly
    contain NULL rows (views with no purchase inside the hour exist in
    the fixture)."""
    from flink_realtime_edu_demo_spark.streaming.jobs import interval_join_outer

    ev_s = stream_table(spark, stream_dir, "events")
    sdf = interval_join_outer(
        ev_s.filter(F.col("event_type") == "view"),
        ev_s.filter(F.col("event_type") == "purchase"),
    )
    name = "outer_join_mem"
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    # the ACTUAL final event-time watermark the query reached — the
    # mechanism that decides which NULL rows were eligible for emission
    wm = None
    for pr in reversed(q.recentProgress):
        w = pr.get("eventTime", {}).get("watermark")
        if w:
            wm = w
            break
    assert wm is not None, "query reported no watermark"
    import datetime as dt

    final_wm = dt.datetime.fromisoformat(wm.replace("Z", ""))
    out = spark.sql(f"SELECT * FROM {name}")

    ev_b = load(spark, sf_dir, "events")
    expected = interval_join_outer(
        ev_b.filter(F.col("event_type") == "view"),
        ev_b.filter(F.col("event_type") == "purchase"),
    )
    got = canon_rows(out)
    exp = canon_rows(expected)
    # Streamed outer results are emitted on state eviction: a view's
    # NULL row becomes eligible exactly when the watermark passes
    # v_ts + window(1h). Everything the stream emitted must be in the
    # batch answer, and every batch row whose window closed BEFORE the
    # final watermark must have been emitted — no slack, derived from
    # the query's own reported watermark.
    assert set(got) <= set(exp)
    horizon = final_wm - dt.timedelta(hours=1)
    exp_closed = canon_rows(expected.filter(F.col("v_ts") < F.lit(horizon)))
    got_set = set(got)
    missing = [r for r in exp_closed if r not in got_set]
    assert not missing, (wm, missing[:5])
    assert any("None" in r[2] for r in got), "expected NULL-padded no-match views"


def test_checkpoint_restart_recovers_state(spark, sf_dir, stream_dir, tmp_path):
    """Kill-and-restart recovery (the Flink savepoint story): a windowed
    aggregation runs 2 of 4 micro-batches, the query stops, and a NEW
    query with the SAME checkpoint resumes. The restored state store
    must carry the first half's counts: the post-restart complete-mode
    output equals the full batch answer, and the restarted query must
    NOT re-read the already-committed files (its progress shows fewer
    input rows than the total)."""
    import time as _t

    from flink_realtime_edu_demo_spark.streaming.jobs import tumbling_counts

    ckpt = str(tmp_path / "ckpt")

    def start(name, trigger):
        return (
            tumbling_counts(stream_table(spark, stream_dir, "events"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=trigger)
            .start()
        )

    # slow trigger: batch 1 won't start for 5s, so stopping right after
    # batch 0 commits provably leaves 3 of 4 files unread
    q1 = start("ckpt_phase1", "5 seconds")
    deadline = _t.time() + 60
    while _t.time() < deadline:
        p = q1.lastProgress
        if p and p["numInputRows"] > 0:
            break
        _t.sleep(0.2)
    q1.stop()
    q1.awaitTermination(30)

    q2 = start("ckpt_phase2", "300 milliseconds")
    deadline = _t.time() + 90
    while _t.time() < deadline:
        p = q2.lastProgress
        if p and p["numInputRows"] == 0 and p["batchId"] >= 3:
            break
        _t.sleep(0.3)
    q2.stop()
    q2.awaitTermination(30)
    # recentProgress keeps every batch's progress (no polling races)
    rows_after = sum(pr["numInputRows"] for pr in q2.recentProgress)

    got = canon_rows(spark.sql("SELECT * FROM ckpt_phase2"))
    expected = canon_rows(tumbling_counts(load(spark, sf_dir, "events")))
    assert got == expected
    total = load(spark, sf_dir, "events").count()
    assert 0 < rows_after < total, (
        f"restart should resume mid-stream, not replay all {total} rows "
        f"(saw {rows_after})"
    )


def test_stateful_funnel_single_pass_matches_batch(spark, sf_dir, stream_dir):
    """The single-pass keyed-state streaming funnel must converge to the
    N-shuffle batch funnel exactly: same completing users, same earliest
    chain timestamps — including chains whose early steps arrive in a
    LATER micro-batch than their late steps (the candidate-list state
    makes late early-events improve the chain instead of losing it)."""
    from flink_realtime_edu_demo_spark.operators.funnel import funnel
    from flink_realtime_edu_demo_spark.streaming.funnel_state import funnel_stateful

    out = run_to_completion(
        funnel_stateful(stream_table(spark, stream_dir, "events")), mode="update"
    )
    # update mode: emissions only improve (more candidates => lexicographically
    # <= chain), so the final answer per user is the MIN emission — robust to
    # memory-sink row ordering across micro-batches
    final = {}
    for r in out.collect():
        c = (r.step_1_us, r.step_2_us, r.step_3_us)
        final[r.user_id] = min(final.get(r.user_id, c), c)

    import datetime as dt

    epoch = dt.datetime(1970, 1, 1)
    us = dt.timedelta(microseconds=1)

    def to_us(t):
        # NTZ-safe integer conversion — t.timestamp() would interpret
        # the naive datetime in the OS timezone and float-truncate
        return (t - epoch) // us

    exp = {}
    for r in funnel(load(spark, sf_dir, "events"),
                    ["view", "click", "purchase"]).collect():
        exp[r.user_id] = (to_us(r.step_1_ts), to_us(r.step_2_ts),
                          to_us(r.step_3_ts))
    assert exp, "fixture should contain completed funnels"
    assert final == exp


def test_streaming_cep_relaxed_stream_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """Streaming followedBy (round 9): the relaxed matcher under the
    session-close emission contract converges to the batch sessionized
    relaxed answer — valid incrementally because a closed session never
    gains rows, so skip-till-next state is final at publication."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_relaxed,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("V", "view", "1"), ("C", "click", "+"), ("P", "purchase", "1")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="relaxed")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_rx_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES") <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.n_rows, r.n_skipped)
        for r in match_recognize_relaxed(sess, pat, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"], v["n_skipped"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_fba_stream_equals_batch(spark, sf_dir, stream_dir, tmp_path):
    """Streaming followedByAny (round 9): the fba matcher under the
    session-close emission contract converges to the batch sessionized
    combination set — valid incrementally because a closed session
    never gains rows, so the combination set (and the synthesized
    match_no over the variable-id tuple) is final at publication."""
    from pyspark.sql.window import Window

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_followed_by_any,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("V", "view", "1"), ("C", "click", "1"), ("P", "purchase", "1")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="fba")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_fba_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES") <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    batch = (
        match_recognize_followed_by_any(sess, pat, key=["user_id", "session_id"])
        .withColumn(
            "match_no",
            F.row_number().over(
                Window.partitionBy("user_id", "session_id")
                .orderBy("v_event_id", "c_event_id", "p_event_id"))
            .cast("long"))
        .join(closed, ["user_id", "session_id"])
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.v_event_id, r.c_event_id, r.p_event_id)
        for r in batch.collect()
    }
    got = {
        k: (v["v_event_id"], v["c_event_id"], v["p_event_id"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_until_stream_equals_batch(spark, sf_dir, stream_dir,
                                                 tmp_path):
    """Streaming until() (round 10): the loop-stop matcher under the
    session-close emission contract converges to the batch sessionized
    until answer — valid incrementally because a closed session never
    gains rows, so the loop's stop point is final at publication."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_until,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("S", "signup", "1"), ("C", "click", "+", "error"),
           ("P", "purchase", "1")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="until")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_ut_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES")
                <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.n_rows, r.n_skipped)
        for r in match_recognize_until(sess, pat, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"],
            v["n_skipped"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_iterative_stream_equals_batch(spark, sf_dir,
                                                     stream_dir, tmp_path):
    """Streaming IterativeCondition (round 11): the anchor-referencing
    matcher under the session-close emission contract converges to the
    batch sessionized iterative answer — valid incrementally because a
    closed session never gains rows, so each anchor's relative
    threshold and first-failure extent are final at publication."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_iterative,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    anchor = {"types": "view"}
    loop = {"cmp": "<", "factor": 1.1}
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink((anchor, loop), gap_minutes=gap,
                          matcher="iterative")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_it_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES")
                <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.n_rows, r.b_rows)
        for r in match_recognize_iterative(sess, anchor, loop,
                                            key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"],
            v["b_rows"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_followed_by_iterative_stream_equals_batch(
        spark, sf_dir, stream_dir, tmp_path):
    """Streaming relaxed-linking IterativeCondition (round 12): the
    followedBy + oneOrMore + anchor-referencing matcher under the
    session-close emission contract converges to the batch sessionized
    answer — valid incrementally because a CLOSED session never gains
    rows, so each anchor's greedy loop end (the LAST qualifying row,
    which would keep moving while the session stays open) is final at
    publication."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_followed_by_iterative,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    anchor = {"types": "view"}
    loop = {"cmp": "<", "factor": 1.1}
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink((anchor, loop), gap_minutes=gap,
                          matcher="followed_by_iterative")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_fbi_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES")
                <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.n_loop, r.n_skipped,
             r.last_loop_value)
        for r in match_recognize_followed_by_iterative(
            sess, anchor, loop, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_loop"],
            v["n_skipped"], v["last_loop_value"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_iterative_needs_pair():
    """matcher='iterative' without an (anchor_def, loop_def) pair is a
    CONSTRUCTOR-time error, like the other eager matcher checks — and
    so is a skip / within_minutes the matcher's engine cannot honour
    (dropping it would make the stream disagree with batch)."""
    import pytest

    from flink_realtime_edu_demo_spark.streaming.cep import SessionCepSink

    with pytest.raises(ValueError, match="anchor_def"):
        SessionCepSink([("A", "view", "1")], gap_minutes=720,
                       matcher="iterative")
    with pytest.raises(ValueError, match="takes no skip"):
        SessionCepSink([("A", "view", "1")], gap_minutes=720,
                       skip="to_next_row")
    with pytest.raises(ValueError, match="takes no within_minutes"):
        SessionCepSink([("A", "view", "1")], gap_minutes=720,
                       matcher="until", within_minutes=60)


def test_streaming_cep_consecutive_stream_equals_batch(spark, sf_dir,
                                                       stream_dir, tmp_path):
    """Streaming consecutive() (round 10): the strict-internal-loop
    matcher under the session-close emission contract converges to the
    batch sessionized consecutive answer."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_consecutive,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("V", "view", "1"), ("C", "click", "+"), ("P", "purchase", "1")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="consecutive",
                          consecutive=("C",))
    q = start_session_cep(ev_stream, str(tmp_path / "cep_cs_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES")
                <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.n_rows, r.n_skipped)
        for r in match_recognize_consecutive(sess, pat, ("C",),
                                              key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"],
            v["n_skipped"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_cep_relaxed_groups_stream_equals_batch(spark, sf_dir,
                                                          stream_dir,
                                                          tmp_path):
    """Streaming GroupPattern-under-followedBy (round 10): the relaxed
    grouped matcher under the session-close emission contract
    converges to the batch sessionized answer (the session bound also
    caps the group loop's regex recursion depth)."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_relaxed_groups,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        SessionCepSink,
        start_session_cep,
    )

    pat = [("S", "signup", "1"),
           ("G", [("C", "click", "1"), ("P", "purchase", "1")], "+")]
    gap = 720
    ev_stream = stream_table(spark, stream_dir, "events")
    sink = SessionCepSink(pat, gap_minutes=gap, matcher="relaxed_groups")
    q = start_session_cep(ev_stream, str(tmp_path / "cep_rg_ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sess = sessionize(ev, gap)
    closed = (
        sess.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES")
                <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    want = {
        (r.user_id, r.session_id, r.match_no):
            (r.first_event_id, r.last_event_id, r.n_rows, r.n_tok_g)
        for r in match_recognize_relaxed_groups(sess, pat, key=["user_id", "session_id"])
        .join(closed, ["user_id", "session_id"])
        .collect()
    }
    got = {
        k: (v["first_event_id"], v["last_event_id"], v["n_rows"],
            v["n_tok_g"])
        for k, v in sink.emitted.items()
    }
    assert got == want and want, (len(got), len(want))


def test_retract_aggregate_group_vanish_unit():
    """RetractAggregate edge paths without a stream: a group whose live
    count returns to 0 emits a terminal -D (DELETE — the 4-kind
    RowKind protocol, r12) and leaves NO state (a later insert starts
    fresh with +I, not +U); an update pair (-U then +U) transits exact
    intermediate states; unknown kinds and retractions for dead groups
    raise instead of corrupting accumulators."""
    import pytest

    from flink_realtime_edu_demo_spark.streaming.changelog import (
        RetractAggregate,
        fold_changelog,
    )

    ra = RetractAggregate(
        lambda r: r["g"],
        {"n": ("count", None), "s": ("sum", lambda r: r["v"])},
    )
    ra.on_change("+I", {"g": "a", "v": 5})
    assert ra.snapshot() == {"a": {"n": 1, "s": 5}}
    ra.on_change("-U", {"g": "a", "v": 5})  # group vanishes
    assert ra.snapshot() == {}
    assert ra.changelog[-1] == ("-D", {"group": "a", "n": 1, "s": 5})
    # downstream folds -D as a retraction: net zero for the dead group
    assert fold_changelog(ra.changelog, lambda row: row["group"]) == {}
    ra.on_change("+I", {"g": "a", "v": 3})  # reappears fresh
    assert ra.changelog[-1] == ("+I", {"group": "a", "n": 1, "s": 3})
    # an upstream update: -U old row, +U new row — two group changes
    ra.on_change("-U", {"g": "a", "v": 3})
    ra.on_change("+U", {"g": "a", "v": 7})
    assert ra.snapshot() == {"a": {"n": 1, "s": 7}}
    # a -D from a dying upstream group folds like -U
    ra.on_change("-D", {"g": "a", "v": 7})
    assert ra.snapshot() == {}
    # RowKind validation: typo'd kinds raise, they never fold as -1
    with pytest.raises(ValueError, match="unknown RowKind"):
        ra.on_change("-X", {"g": "a", "v": 1})
    # a retraction for a group with no live state is a protocol error
    with pytest.raises(ValueError, match="unknown group"):
        ra.on_change("-U", {"g": "ghost", "v": 1})
    # validation is eager
    with pytest.raises(ValueError, match="sum needs a value_fn"):
        RetractAggregate(lambda r: 0, {"x": ("sum", None)})
    with pytest.raises(ValueError, match="count|sum"):
        RetractAggregate(lambda r: 0, {"x": ("avg", None)})


def test_retract_join_rejects_malformed_changelog():
    """RetractJoin validates RowKinds and refuses a retraction for a
    row it never indexed (out-of-order / malformed changelog); a -D
    retracts join pairs with -D so the downstream fold nets to zero."""
    import pytest

    from flink_realtime_edu_demo_spark.streaming.changelog import (
        RetractJoin,
        fold_changelog,
    )

    rj = RetractJoin(
        left_key=lambda r: r["k"], right_key=lambda r: r["k"],
        left_pk=lambda r: r["id"], right_pk=lambda r: r["id"],
    )
    rj.on_left("+I", {"id": 1, "k": "a", "x": 10})
    rj.on_right("+I", {"id": 100, "k": "a", "v": 1})
    assert len(rj.result) == 1
    with pytest.raises(ValueError, match="unknown RowKind"):
        rj.on_left("~I", {"id": 2, "k": "a", "x": 11})
    with pytest.raises(ValueError, match="unknown row"):
        rj.on_left("-U", {"id": 99, "k": "a", "x": 0})
    rj.on_left("-D", {"id": 1, "k": "a", "x": 10})  # terminal removal
    assert rj.result == {}
    assert rj.changelog[-1][0] == "-D"
    assert fold_changelog(rj.changelog, lambda row: row["l_id"]) == {}


def test_count_tumble_stream_matches_batch(spark, sf_dir, stream_dir):
    """Round 14 (VERDICT r13 next #2): the applyInPandasWithState
    tumbling COUNT window (O(1) state per key, emit every 4th row)
    drained over the ordered file stream must equal the batch
    row_number lowering (q_stream_count_tumble) EXACTLY — window ids,
    boundaries, and the exact-decimal totals (the handler accumulates
    the same HALF_UP cents dsum's DECIMAL(18,2) cast produces)."""
    from flink_realtime_edu_demo_spark.queries.streaming_batch import (
        q_stream_count_tumble,
    )
    from flink_realtime_edu_demo_spark.streaming.countwin import (
        count_tumble_stateful,
    )

    got = run_to_completion(
        count_tumble_stateful(stream_table(spark, stream_dir, "events"), 4),
        mode="append",
    )
    want = q_stream_count_tumble(spark, sf_dir)
    assert canon_rows(got) == canon_rows(want)


def test_cogroup_coprocess_stream_matches_asof_batch(spark, sf_dir, stream_dir):
    """Round 14 (VERDICT r13 next #4): keyed connect/CoProcessFunction
    — a control stream (signups) updates a per-key threshold the data
    stream (purchases) is evaluated against, ONE double of state per
    key. The drained stream must equal the batch as-of replay: each
    purchase judged by the LAST signup value at or before its
    timestamp (ctrl wins ties), init 50.0 before any signup."""
    from pyspark.sql.window import Window

    from flink_realtime_edu_demo_spark.streaming.cogroup import (
        keyed_co_process,
        tag_streams,
    )

    got = run_to_completion(
        keyed_co_process(
            tag_streams(stream_table(spark, stream_dir, "events")), 50.0
        ),
        mode="append",
    )
    tagged = tag_streams(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
    want = (
        tagged.withColumn(
            "threshold",
            F.coalesce(
                F.last(
                    F.when(F.col("tag") == "ctrl", F.col("value")),
                    ignorenulls=True,
                ).over(w),
                F.lit(50.0),
            ),
        )
        .filter(F.col("tag") == "data")
        .select(
            "user_id", "event_id", "value", "threshold",
            (F.col("value") >= F.col("threshold")).alias("passed"),
        )
    )
    assert canon_rows(got) == canon_rows(want)


def test_debezium_d_op_retracts_upserted_row(spark):
    """Round 14 (VERDICT r13 next #3): the Debezium decode feeding the
    RowKind producer — a key is created, updated, then DELETED; the
    derived changelog must retract the earlier upserts so a downstream
    fold nets the key to ZERO, while a live key stays counted. The
    envelopes go through the REAL decode (from_json + DEBEZIUM_SCHEMA),
    not hand-built dicts."""
    from flink_realtime_edu_demo_spark.streaming.changelog import (
        DEBEZIUM_SCHEMA,
        debezium_to_rowkind,
        fold_changelog,
    )

    envs = [
        # key 7: c -> u -> d  (must vanish)
        '{"op":"c","before":null,"after":{"uid":7,"etype":"click","score":10},"source":{"lsn":1},"ts_ms":1000}',
        '{"op":"u","before":{"uid":7,"etype":"click","score":10},"after":{"uid":7,"etype":"view","score":11},"source":{"lsn":2},"ts_ms":2000}',
        '{"op":"d","before":{"uid":7,"etype":"view","score":11},"after":null,"source":{"lsn":3},"ts_ms":3000}',
        # key 9: c -> u  (must survive as one live row)
        '{"op":"c","before":null,"after":{"uid":9,"etype":"view","score":5},"source":{"lsn":4},"ts_ms":1500}',
        '{"op":"u","before":{"uid":9,"etype":"view","score":5},"after":{"uid":9,"etype":"purchase","score":6},"source":{"lsn":5},"ts_ms":2500}',
    ]
    decoded = (
        spark.createDataFrame([(e,) for e in envs], "envelope string")
        .select(F.from_json("envelope", DEBEZIUM_SCHEMA).alias("e"))
        .select("e.op", "e.before", "e.after", "e.source.lsn", "e.ts_ms")
        .collect()
    )
    changelog = []
    for r in sorted(decoded, key=lambda r: (r.ts_ms, r.lsn)):
        changelog.extend(
            debezium_to_rowkind(
                r.op,
                r.before.asDict() if r.before is not None else None,
                r.after.asDict() if r.after is not None else None,
            )
        )
    # the wire kinds: +I, -U, +U, -D for key 7; +I, -U, +U for key 9
    assert [k for k, row in changelog if row["uid"] == 7] == \
        ["+I", "-U", "+U", "-D"]
    live = fold_changelog(changelog, lambda row: row["uid"])
    assert live == {9: 1}
    # malformed ops fail loudly (a silent skip corrupts every count)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown debezium op"):
        debezium_to_rowkind("x", None, {"uid": 1})
    with _pytest.raises(ValueError, match="needs both images"):
        debezium_to_rowkind("u", None, {"uid": 1})


def _assert_append_drain_matches_batch(spark, sf_dir, got_df, want_df,
                                       window_minutes=60,
                                       delay_minutes=10):
    """Append-mode contract over a BOUNDED drain: every window the
    final watermark (max event ts - delay) provably closed must be
    emitted and match the batch answer row-for-row; nothing spurious
    may be emitted; the only rows the stream may withhold are the
    tail windows still open at end-of-input (exactly Flink's
    behavior too — a window fires only when the watermark passes)."""
    import datetime

    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(minutes=delay_minutes)
    canon = lambda row: tuple(  # noqa: E731
        repr(v) for _, v in sorted(row.asDict().items()))
    got = {canon(r) for r in got_df.collect()}
    want_rows = want_df.collect()
    want = {canon(r) for r in want_rows}
    assert got <= want, f"spurious stream rows: {sorted(got - want)[:3]}"
    win = datetime.timedelta(minutes=window_minutes)
    for r in want_rows:
        end = r.window_start + win
        if end < wm:  # strictly closed — must have been emitted
            assert canon(r) in got, (r, wm)
        elif canon(r) not in got:  # withheld — only tail windows may be
            assert end >= wm, (r, wm)
    # and the stream actually emitted the overwhelming majority
    assert len(got) >= 0.9 * len(want)


def test_window_dedup_stream_matches_batch(spark, sf_dir, stream_dir):
    """Round 16 (VERDICT r15 missing #2): the watermark-closed
    window-dedup stream (one running min_by struct per open
    (window, key), emitted once in append mode) drained over the
    ordered file stream must equal the batch row_number()=1 lowering
    (q_stream_window_dedup) on every window the final watermark
    closed, with no spurious rows; the same function on the batch
    frame must equal the batch key EXACTLY."""
    from flink_realtime_edu_demo_spark.queries.streaming_batch import (
        q_stream_window_dedup,
    )
    from flink_realtime_edu_demo_spark.streaming.jobs import window_dedup

    got = run_to_completion(
        window_dedup(stream_table(spark, stream_dir, "events")),
        mode="append",
    )
    want = q_stream_window_dedup(spark, sf_dir)
    _assert_append_drain_matches_batch(spark, sf_dir, got, want)
    # the same function on the batch frame is the identical answer
    batch_form = window_dedup(load(spark, sf_dir, "events"))
    assert canon_rows(batch_form) == canon_rows(want)


def test_windowed_grouping_sets_stream_matches_batch(spark, sf_dir,
                                                     stream_dir):
    """Round 16: the union-of-windowed-aggregates streaming form of
    GROUPING SETS ((window, type), (window)) drained over the file
    stream must equal the batch rollup-with-grouping() lowering
    (q_stream_tumble_grouping_sets) on every watermark-closed window
    — per-type rows AND subtotal rows, counts and exact-decimal sums
    — with no spurious rows; the batch form must match EXACTLY."""
    from flink_realtime_edu_demo_spark.queries.streaming_batch import (
        q_stream_tumble_grouping_sets,
    )
    from flink_realtime_edu_demo_spark.streaming.jobs import (
        windowed_grouping_sets,
    )

    got = run_to_completion(
        windowed_grouping_sets(stream_table(spark, stream_dir, "events")),
        mode="append",
    )
    want = q_stream_tumble_grouping_sets(spark, sf_dir)
    _assert_append_drain_matches_batch(spark, sf_dir, got, want)
    batch_form = windowed_grouping_sets(load(spark, sf_dir, "events"))
    assert canon_rows(batch_form) == canon_rows(want)


def test_window_topn_stream_matches_batch(spark, sf_dir, stream_dir):
    """Round 16: Window Top-N's streaming form — the watermark-closed
    per-(window, user) aggregate drained in append mode, then the
    rank stage applied per closed window (the foreachBatch body) —
    must equal the batch key (q_stream_window_topn) on every window
    the final watermark closed; the same two-stage composition on the
    batch frame must equal the batch key EXACTLY."""
    from flink_realtime_edu_demo_spark.queries.streaming_batch import (
        q_stream_window_topn,
    )
    from flink_realtime_edu_demo_spark.streaming.jobs import (
        rank_top_n,
        window_topn_parts,
    )

    parts = run_to_completion(
        window_topn_parts(stream_table(spark, stream_dir, "events")),
        mode="append",
    )
    got = rank_top_n(parts, 3)
    want = q_stream_window_topn(spark, sf_dir)
    _assert_append_drain_matches_batch(spark, sf_dir, got, want,
                                       window_minutes=1440)
    batch_form = rank_top_n(
        window_topn_parts(load(spark, sf_dir, "events")), 3)
    assert canon_rows(batch_form) == canon_rows(want)
