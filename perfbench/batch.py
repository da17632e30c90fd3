"""Batch workloads: a closed loop of one client that runs registered query
keys, in a seeded order, through ``QUERIES[key](spark, sf_dir)`` and collects
their rows.

Phases of a run:

1. warm-up: ``WARM_ROUNDS`` whole rounds of every key; this is part of
   ``setup_s``;
2. validation (untimed): each key's first warm-up result is compared with
   its DuckDB oracle through ``testing.compare``; its digest becomes the
   expected result of every timed run of that key;
3. timed rounds, each a seeded permutation of the keys, until the timed
   operations add up to ``--seconds`` (at least ``MIN_TIMED_ROUNDS``).
   Every timed result is checked against the validated digest after its
   timer stops.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field

from perfbench.common import (STAGE_FIELDS, Tracer, digest, is_failed, job_stats, median,
                              self_times, tail, tree_cpu_s)

# Whole warm-up rounds before the first timed operation. Round times on a
# 4-core host: about 15 s cold, then 5.0, 4.6, 4.4 and 4.0 s; they change by
# a few per cent a round after the fifth. A fixed count keeps setup_s
# independent of any steadiness test.
WARM_ROUNDS = 5
# At least this many timed rounds, so that even with long rounds there are
# 3 x 8 = 24 samples and the tail percentile (ten samples beyond it) lies
# above the median.
MIN_TIMED_ROUNDS = 3

# edu-dashboard: short keys, where driver-side build, planning, scheduling
# and collect dominate
KEYS = (
    "q_stream_tumble", "q_stream_session", "q_stream_window_topn", "q_funnel",
    "q_tpch_q1", "q_tpch_q3", "q_cep_followed_by", "q_cep_within",
)
SF = 0.02


class _Collected:
    """The slice of the DataFrame interface ``testing.compare.compare`` reads,
    over rows that were already collected, so the oracle check validates the
    warm-up result itself instead of running the key again."""

    def __init__(self, schema, rows):
        self.schema, self.columns, self._rows = schema, list(schema.names), rows

    def collect(self):
        return self._rows


@dataclass
class Op:
    key: str
    round: int
    latency_s: float
    cpu_s: float
    failed: bool
    traced: bool
    layers: dict = field(default_factory=dict)


def _run_plain(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    return df, df.collect()


def _run_traced(spark, fn, sf_dir, op_id: str, key: str, tracer: Tracer):
    """The same operation split at the layer boundaries: Python build
    (``queries``/``operators``), Catalyst planning, execution + collect.
    Each phase runs under its own job group for the status store."""
    sc = spark.sparkContext
    try:
        with tracer.span("op", op_id, key=key):
            sc.setJobGroup(f"{op_id}/build", key)
            with tracer.span("queries.build", op_id):
                df = fn(spark, sf_dir)
            sc.setJobGroup(f"{op_id}/exec", key)
            with tracer.span("catalyst.plan", op_id):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute_collect", op_id):
                rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, rows


def _layers_of(spark, op_id: str, spans, rows) -> dict[str, float]:
    tracker = spark.sparkContext.statusTracker()
    build_jobs = list(tracker.getJobIdsForGroup(f"{op_id}/build"))
    exec_jobs = list(tracker.getJobIdsForGroup(f"{op_id}/exec"))
    out = job_stats(spark.sparkContext, build_jobs + exec_jobs)
    out["build_jobs"] = float(len(build_jobs))
    dur = {s.name: s.end - s.start for s in spans if s.op == op_id}
    out["build_s"] = dur["queries.build"]
    out["plan_s"] = dur["catalyst.plan"]
    out["execute_collect_s"] = dur["spark.execute_collect"]
    out["rows"] = float(len(rows))
    return out


def run(spark, sf_dir: str, seed: int, seconds: float, trace: bool, t_start: float,
        log) -> dict:
    from flink_realtime_edu_demo_spark.registry import ORACLE, QUERIES
    from flink_realtime_edu_demo_spark.testing.compare import canon, compare, duckdb_connect

    keys = KEYS
    first: dict[str, tuple] = {}
    errors: dict[str, str] = {}

    # 1. warm-up (own RNG, so the timed order is the same whatever the
    #    warm-up does)
    warm_rng = random.Random(f"warm-{seed}")
    round_times: list[float] = []
    for _ in range(WARM_ROUNDS):
        t0 = time.perf_counter()
        for key in warm_rng.sample(keys, len(keys)):
            try:
                df, rows = _run_plain(spark, QUERIES[key], sf_dir)
                first.setdefault(key, (df.schema, rows))
            except Exception as e:  # noqa: BLE001 — a failing key stays in and counts failed
                errors.setdefault(key, f"{type(e).__name__}: {e}"[:300])
        round_times.append(time.perf_counter() - t0)
    setup_s = time.perf_counter() - t_start
    log(f"warm-up rounds s {[round(t, 2) for t in round_times]}")

    # 2. validation against the DuckDB oracle (untimed)
    con = duckdb_connect(sf_dir)
    expected: dict[str, tuple[int, str] | None] = {}
    for key in keys:
        if key not in first:
            expected[key] = None
            continue
        schema, rows = first[key]
        try:
            if key in ORACLE:
                compare(_Collected(schema, rows), con, ORACLE[key], key=key)
            expected[key] = digest(rows, list(schema.names), canon)
        except Exception as e:  # noqa: BLE001 — a mismatch or a failing oracle query
            errors.setdefault(key, f"oracle: {type(e).__name__}: {e}"[:300])
            expected[key] = None
    con.close()
    first.clear()

    # 3. timed rounds (a traced run alternates traced and untraced rounds so
    #    it can report its own overhead)
    tracer = Tracer(trace)
    rng = random.Random(seed)
    ops: list[Op] = []
    timed = 0.0
    rnd = 0
    while timed < seconds or rnd < MIN_TIMED_ROUNDS:
        traced = trace and rnd % 2 == 0
        for i, key in enumerate(rng.sample(keys, len(keys))):
            op_id = f"r{rnd}-{i}-{key}"
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                if traced:
                    df, rows = _run_traced(spark, QUERIES[key], sf_dir, op_id, key, tracer)
                else:
                    df, rows = _run_plain(spark, QUERIES[key], sf_dir)
                ok = True
            except Exception as e:  # noqa: BLE001
                errors.setdefault(key, f"{type(e).__name__}: {e}"[:300])
                ok = False
            t1 = time.perf_counter()
            c1 = tree_cpu_s()
            observed = digest(rows, list(df.columns), canon) if ok else None
            op = Op(key, rnd, t1 - t0, c1 - c0, is_failed(observed, expected[key]), traced)
            if traced and ok:
                op.layers = _layers_of(spark, op_id, tracer.spans, rows)
            ops.append(op)
            timed += t1 - t0
        rnd += 1

    log("timed rounds s " + str([round(sum(o.latency_s for o in ops if o.round == r), 2)
                                 for r in range(rnd)]))
    return summarize(ops, setup_s, errors, tracer, spark.sparkContext.defaultParallelism)


def summarize(ops: list[Op], setup_s: float, errors: dict, tracer: Tracer, width: int) -> dict:
    untraced = [o for o in ops if not o.traced] or ops
    lat = [o.latency_s for o in untraced]
    rounds_of: dict[int, list[Op]] = {}
    for o in untraced:
        rounds_of.setdefault(o.round, []).append(o)
    tail_v, tail_p, n = tail(lat)
    res = {
        "attempted": len(ops),
        "failed": sum(o.failed for o in ops),
        "correct": not any(o.failed for o in ops),
        "errors": errors,
        "end_to_end": {
            "setup_s": setup_s,
            "latency_p50_s": median(lat),
            "latency_tail_s": tail_v,
            "work_s": median([sum(o.latency_s for o in r) for r in rounds_of.values()]),
            "cpu_s": median([sum(o.cpu_s for o in r) for r in rounds_of.values()]),
        },
        "tail": {"percentile": tail_p, "samples": n},
    }
    traced = [o for o in ops if o.traced]
    if traced:
        t_rounds = len({o.round for o in traced})
        per_round = {k: sum(o.layers.get(k, 0.0) for o in traced) / t_rounds
                     for k in (*STAGE_FIELDS, "jobs", "build_jobs", "build_s", "plan_s",
                               "execute_collect_s", "rows")}
        wall = sum(o.latency_s for o in traced) / t_rounds
        base = sum(lat) / len(rounds_of)
        res["layers"] = {
            "queries.build_s": per_round["build_s"],
            "queries.build_jobs": per_round["build_jobs"],
            "catalyst.plan_s": per_round["plan_s"],
            "spark.execute_collect_s": per_round["execute_collect_s"],
            **{f"spark.{k}": per_round[k] for k in ("jobs", *STAGE_FIELDS)},
            "spark.slot_util": per_round["executor_run_s"] / (wall * width),
            "collect.rows": per_round["rows"],
            "trace.overhead": wall / base - 1.0,
        }
        res["self_times"] = {k: v / t_rounds for k, v in self_times(tracer.spans).items()}
        res["spans"] = tracer.records()
    return res
