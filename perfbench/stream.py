"""``edu-stream``: the reference's core path, driven as an open loop.

A generator thread in this process writes seeded parquet event files at a
fixed rate (each staged and renamed into place). The pipeline under test is
``stream_table`` → ``tumbling_counts`` (update mode) →
``idempotent_foreach_batch`` with ``partition_overwrite_writer``, in a
checkpointed query on the default trigger; ``max_files_per_trigger`` is set
high so each micro-batch takes every file that has arrived.

A file's latency runs from its due time, stamped when it is scheduled, to
the return of the sink write of the micro-batch that consumed it. The
file-to-batch map comes from the checkpoint's file-source and offset logs.

After the open loop, a few fixed, seeded burst files are dropped one at a
time into the idle query; the wall and CPU time each takes to reach the sink
are the workload's ``work_s`` and ``cpu_s``. In the open loop the engine runs
micro-batches back to back, so its CPU use there is pinned at the ``local[]``
width and could not show a change in the cost of a batch.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import math
import os
import threading
import time
from dataclasses import dataclass

from perfbench.common import Tracer, job_stats, median, self_times, tail, tree_cpu_s
from perfbench.fixtures import EventFiles

# Load shape. Event time runs EVENT_SPEED times faster than wall time, so a
# one-hour window closes every 3600/EVENT_SPEED seconds; disorder stays below
# the 10-minute DEFAULT_WATERMARK, so no row is late. The rate sits below the
# knee of the latency curve (the rate sweep in perfbench/README.md).
FILES_PER_S = 5.0
ROWS_PER_FILE = 400
EVENT_SPEED = 720.0
DISORDER_S = 300.0

# Warm-up: this many micro-batches that read rows. Trigger durations on a
# 4-core host go from about 7.5 s cold to within 10% of their steady value by
# the sixth. A fixed count keeps setup_s independent of any steadiness test;
# the warm-up fails if it takes longer than WARM_MAX_S.
WARM_BATCHES = 7
WARM_MAX_S = 60.0
DRAIN_MAX_S = 30.0
MAX_FILES_PER_TRIGGER = 100_000
# After the open loop: BURSTS single files of BURST_ROWS rows, each dropped
# into the idle query; work_s and cpu_s are medians over them.
BURSTS = 5
BURST_ROWS = 10 * ROWS_PER_FILE
IDLE_S = 0.3  # the query counts as idle after this long with no batch running
ACTIVE_MAX_S = 0.1  # a trigger active this long is running a batch, not polling


@dataclass
class Gen:
    """What the generator did with one file."""
    index: int
    due: float
    written: float
    path: str


class Generator(threading.Thread):
    """Writes file i at ``t0 + i / rate``, whatever the system under test is
    doing; stops before the first file due at or after ``stop_at``."""

    def __init__(self, files: EventFiles, stage: str, dest: str, rate: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.files, self.stage, self.dest, self.rate = files, stage, dest, rate
        self.t0 = 0.0
        self.stop_at = math.inf
        self.written: list[Gen] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.t0 = time.perf_counter()
            i = 0
            while True:
                due = self.t0 + i / self.rate
                if due >= self.stop_at:
                    return
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                path = self.files.write(i, self.stage, self.dest)
                self.written.append(Gen(i, due, time.perf_counter(), path))
                i += 1
        except BaseException as e:  # noqa: BLE001 — surfaced by the caller after join
            self.error = e


def source_batches(checkpoint: str) -> dict[str, int]:
    """Map each consumed file to the file source's batch that read it, from
    the checkpoint's file-source log ``sources/0/``. ``N.compact`` files
    repeat the entries of earlier batches, so every entry is keyed by its
    path and carries its own ``batchId``; a file is never counted twice."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.startswith(".") or not (name.isdigit() or name.endswith(".compact")):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines[1:]:  # line 0 is the log version, e.g. "v1"
            if line.strip():
                entry = json.loads(line)
                out.setdefault(os.path.basename(entry["path"]), int(entry["batchId"]))
    return out


def query_batches(checkpoint: str) -> dict[int, int]:
    """Map each file-source batch id to the query's micro-batch that read
    it, from the offset log ``offsets/N``: line 2 of each entry is the
    source's ``logOffset``. The two ids part after the first no-data batch
    (a batch that only advances the watermark), which repeats the offset of
    the batch before it; the first query batch to reach an offset read it."""
    out: dict[int, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if not name.isdigit():
            continue
        with open(path) as f:
            lines = f.read().splitlines()
        if len(lines) > 2 and lines[2].startswith("{"):
            src = int(json.loads(lines[2])["logOffset"])
            out[src] = min(out.get(src, int(name)), int(name))
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """Map each consumed file to the query's micro-batch that read it."""
    to_query = query_batches(checkpoint)
    return {name: to_query[b] for name, b in source_batches(checkpoint).items()
            if b in to_query}


def fold_updates(rows) -> dict[tuple, tuple]:
    """Update-mode sink output → final value per (window_start, event_type):
    the row written by the highest batch id wins."""
    best: dict[tuple, tuple[int, tuple]] = {}
    for r in rows:
        key = (r["window_start"], r["event_type"])
        if key not in best or r["batch_id"] > best[key][0]:
            best[key] = (r["batch_id"], (r["window_end"], r["n"], r["total_value"]))
    return {k: v for k, (_, v) in best.items()}


_EPOCH = _dt.datetime(1970, 1, 1)


def windows_of(files: EventFiles, i: int, rows: int | None = None) -> set[_dt.datetime]:
    """Starts of the 1-hour windows that file ``i`` has rows in."""
    hour = 3600 * 1_000_000
    ts = files.table(i, rows).column("ts").to_numpy().astype("int64")
    return {_EPOCH + _dt.timedelta(microseconds=int(t) // hour * hour)
            for t in (ts.min(), ts.max())}


def judge(expect: dict, got: dict, windows: dict[int, set], missing: set[int]):
    """Compare the folded sink output ``got`` with the batch result
    ``expect``, both keyed by (window_start, event_type). Returns the failed
    timed files (never consumed, or with rows in a mismatched window; ``windows``
    maps each timed file to its windows) and every mismatched window. A
    mismatch in a window that no timed file touches fails no file, but it
    still makes the run incorrect."""
    bad = {k[0] for k in expect.keys() | got.keys() if expect.get(k) != got.get(k)}
    failed = set(missing) | {i for i, ws in windows.items() if ws & bad}
    return failed, bad


def run(spark, work: str, seed: int, seconds: float, trace: bool, t_start: float, log,
        rate: float = FILES_PER_S) -> dict:
    from flink_realtime_edu_demo_spark.sources.readers import stream_table
    from flink_realtime_edu_demo_spark.streaming.jobs import tumbling_counts
    from flink_realtime_edu_demo_spark.streaming.sinks import (idempotent_foreach_batch,
                                                              partition_overwrite_writer)

    src_root, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    dest = os.path.join(src_root, "events_stream")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    for d in (stage, dest):
        os.makedirs(d)
    files = EventFiles(seed, ROWS_PER_FILE, EVENT_SPEED / rate, DISORDER_S)

    tracer = Tracer(trace)
    write = partition_overwrite_writer(sink)
    sink_done: dict[int, float] = {}
    sink_time: dict[int, float] = {}
    written = threading.Event()

    def timed_write(df, batch_id: int) -> None:
        t0 = time.perf_counter()
        write(df, batch_id)
        t1 = time.perf_counter()
        sink_time[batch_id] = t1 - t0
        sink_done[batch_id] = t1
        written.set()
        if batch_id % 2 == 0:  # odd batches run untraced: the overhead reference
            tracer.add("sinks.write", f"batch-{batch_id}", t0, t1)

    gen = Generator(files, stage, dest, rate)
    events = stream_table(spark, src_root, "events", max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    query = idempotent_foreach_batch(tumbling_counts(events), ckpt, timed_write, mode="update")
    gen.start()
    warm_start = time.perf_counter()
    try:
        # warm-up: a fixed number of micro-batches that read rows
        while True:
            time.sleep(0.05)
            _check(query, gen)
            durs = [p["durationMs"].get("triggerExecution", 0) for p in _progress(query)
                    if p["numInputRows"] > 0]
            if len(durs) >= WARM_BATCHES:
                log(f"warm-up trigger ms {durs}")
                break
            if time.perf_counter() - warm_start > WARM_MAX_S:
                raise RuntimeError(f"warm-up: {len(durs)} of {WARM_BATCHES} micro-batches "
                                   f"in {WARM_MAX_S:g} s")
        # the timed window starts at the next scheduled file
        first = math.ceil((time.perf_counter() - gen.t0) * rate)
        t0 = gen.t0 + first / rate
        t_end = t0 + seconds
        gen.stop_at = t_end
        setup_s = t0 - t_start
        time.sleep(max(0.0, t_end - time.perf_counter()))
        written_at_end = {os.path.basename(g.path) for g in list(gen.written)}
        consumed_at_end = file_batches(ckpt)
        gen.join(timeout=30)
        _check(query, gen)
        timed = [g for g in gen.written if t0 <= g.due < t_end]
        # drain: every timed file consumed and its batch written to the sink
        deadline = time.perf_counter() + DRAIN_MAX_S
        while time.perf_counter() < deadline:
            _check(query, gen)
            fb = file_batches(ckpt)
            if all(os.path.basename(g.path) in fb and fb[os.path.basename(g.path)] in sink_done
                   for g in gen.written):
                break
            time.sleep(0.1)
        progress = _progress(query)
        log("batch trigger ms " + str([p["durationMs"].get("triggerExecution", 0)
                                       for p in progress if p["numInputRows"] > 0]))
        # bursts: one fixed, seeded file at a time into the idle query
        burst_ix = [len(gen.written) + b for b in range(BURSTS)]
        bursts = [_burst(query, gen, files, i, stage, dest, ckpt, sink_done, written)
                  for i in burst_ix]
        log(f"bursts (s, cpu s) {[(round(w, 3), round(c, 2)) for w, c in bursts]}")
    finally:
        gen.stop_at = -math.inf
        query.stop()
        gen.join(timeout=30)

    fb = file_batches(ckpt)
    lat: list[float] = []
    lat_batches: list[int] = []
    missing: set[int] = set()
    for g in timed:
        bid = fb.get(os.path.basename(g.path))
        if bid is None or bid not in sink_done:
            missing.add(g.index)
        else:
            lat.append(sink_done[bid] - g.due)
            lat_batches.append(bid)

    # correctness: the folded sink output equals tumbling_counts over all
    # generated files read as one batch
    check_t = time.perf_counter()
    batch_df = spark.read.schema(events.schema).parquet(dest)
    expect = {(r["window_start"], r["event_type"]): (r["window_end"], r["n"], r["total_value"])
              for r in tumbling_counts(batch_df).collect()}
    got = fold_updates(spark.read.parquet(sink).collect())
    windows = {g.index: windows_of(files, g.index) for g in timed}
    windows.update({i: windows_of(files, i, BURST_ROWS) for i in burst_ix})
    failed, bad_windows = judge(expect, got, windows, missing)
    log(f"correctness check {time.perf_counter() - check_t:.2f}s: "
        f"{len(expect)} windows, {len(bad_windows)} mismatched, {len(missing)} files unconsumed")

    tail_v, tail_p, n = tail(lat) if lat else (math.inf, 100.0, 0)
    res = {
        "attempted": len(windows),
        "failed": len(failed),
        "correct": not failed and not bad_windows,
        "errors": {"windows": sorted(str(w) for w in bad_windows)} if bad_windows else {},
        "end_to_end": {
            "setup_s": setup_s,
            "latency_p50_s": median(lat) if lat else math.inf,
            "latency_tail_s": tail_v,
            "work_s": median([w for w, _ in bursts]),
            "cpu_s": median([c for _, c in bursts]),
        },
        "tail": {"percentile": tail_p, "samples": n},
    }
    if trace:
        res.update(_layers(spark, progress, fb, timed, sink_time, tracer, t0, t_end,
                           written_at_end, consumed_at_end, lat, lat_batches))
    return res


def _burst(query, gen: Generator, files: EventFiles, i: int, stage: str, dest: str,
           ckpt: str, sink_done: dict[int, float], written: threading.Event):
    """Drop burst file ``i`` (``BURST_ROWS`` rows) into the idle query in one
    rename. Returns the wall time from the rename to the return of the sink
    write of the batch that read it, and the CPU seconds of this process tree
    over the same interval."""
    staged = files.stage(i, stage, BURST_ROWS)
    name = os.path.basename(staged)
    _wait_idle(query, gen)
    written.clear()
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    os.rename(staged, os.path.join(dest, name))
    while True:
        written.wait(DRAIN_MAX_S)
        written.clear()
        bid = file_batches(ckpt).get(name)
        if bid is not None and bid in sink_done:
            return sink_done[bid] - t0, tree_cpu_s() - c0
        _check(query, gen)
        if time.perf_counter() - t0 > DRAIN_MAX_S:
            raise RuntimeError(f"burst file {name} not written in {DRAIN_MAX_S:g} s")


def _wait_idle(query, gen: Generator) -> None:
    """Return once the query has been idle for ``IDLE_S`` seconds: no data
    waiting, no progress reported, and no trigger running longer than a
    poll for new files takes (``ACTIVE_MAX_S``). The query may still run a
    no-data batch, which only advances the watermark, after the last batch
    that read rows."""
    deadline = time.perf_counter() + DRAIN_MAX_S
    quiet_since = last_inactive = time.perf_counter()
    last_ts = None
    while time.perf_counter() - quiet_since < IDLE_S:
        _check(query, gen)
        st, ts = query.status, (query.lastProgress or {}).get("timestamp")
        now = time.perf_counter()
        if not st["isTriggerActive"]:
            last_inactive = now
        if ts != last_ts or st["isDataAvailable"] or now - last_inactive > ACTIVE_MAX_S:
            quiet_since, last_ts = now, ts
        if now > deadline:
            raise RuntimeError(f"query not idle after {DRAIN_MAX_S:g} s")
        time.sleep(0.01)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _check(query, gen: Generator) -> None:
    """Raise what stopped the query or the generator, if anything did."""
    if not query.isActive:
        raise RuntimeError(f"streaming query stopped: {query.exception()}")
    if gen.error:
        raise gen.error


def _layers(spark, progress, fb, timed, sink_time, tracer, t0, t_end,
            written_at_end, consumed_at_end, lat, lat_batches) -> dict:
    timed_batches = {fb[os.path.basename(g.path)] for g in timed
                     if os.path.basename(g.path) in fb}
    prog = [p for p in progress if p["batchId"] in timed_batches]

    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) / 1e3 for p in prog]) if prog else 0.0

    states = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    # Spark jobs submitted inside the timed window, per micro-batch
    sc = spark.sparkContext
    wall0 = time.time() - time.perf_counter()  # perf_counter + wall0 = epoch seconds
    lo, hi = (wall0 + t0) * 1e3, (wall0 + t_end) * 1e3
    in_window = []
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    for jd in (jobs.apply(i) for i in range(jobs.length())):
        sub = jd.submissionTime()
        if sub.isDefined() and lo <= sub.get().getTime() < hi:
            in_window.append(jd.jobId())
    js = job_stats(sc, in_window)
    nb = max(1, len(prog))

    # per-batch spans from progress (start = trigger timestamp), with the
    # sink-write spans recorded by the writer as their children
    by_batch = {s.op: s for s in tracer.spans if s.name == "sinks.write"}
    for p in prog:
        op = f"batch-{p['batchId']}"
        if op not in by_batch:
            continue
        start = _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        by_batch[op].parent = tracer.add(
            "stream.trigger", op, start - wall0,
            start - wall0 + p["durationMs"].get("triggerExecution", 0) / 1e3)

    traced = [v for v, b in zip(lat, lat_batches) if b % 2 == 0]
    plain = [v for v, b in zip(lat, lat_batches) if b % 2 == 1]
    late = [g.written - g.due for g in timed]
    return {
        "layers": {
            "stream.trigger_s": dur("triggerExecution"),
            "stream.query_planning_s": dur("queryPlanning"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.commit_offsets_s": dur("commitOffsets"),
            "stream.batches": float(len(prog)),
            "stream.rows_per_batch": median([p["numInputRows"] for p in prog]) if prog else 0.0,
            "stream.backlog_files_end": float(len(written_at_end - consumed_at_end.keys())),
            "sources.latest_offset_s": dur("latestOffset"),
            "sources.get_batch_s": dur("getBatch"),
            "state.rows_total": float(max((s["numRowsTotal"] for s in states), default=0)),
            "state.memory_bytes": float(max((s["memoryUsedBytes"] for s in states), default=0)),
            "state.commit_s": median([s["commitTimeMs"] / 1e3 for s in states]) if states else 0.0,
            "state.rows_dropped_late": float(sum(
                (p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark", 0)
                for p in progress)),
            "sinks.write_s": median([sink_time[b] for b in timed_batches if b in sink_time]),
            **{f"spark.{k}": v / nb for k, v in js.items()},
            "spark.slot_util": js["executor_run_s"] / ((t_end - t0) * sc.defaultParallelism),
            "gen.files": float(len(timed)),
            "gen.late_max_s": max(late) if late else 0.0,
            "trace.overhead": (median(traced) / median(plain) - 1.0) if traced and plain else 0.0,
        },
        "self_times": self_times(tracer.spans),
        "spans": tracer.records(),
    }
