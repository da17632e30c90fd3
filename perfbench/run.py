"""Benchmark entry point.

    python3 perfbench/run.py --workload edu-dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``, starts
Spark at ``local[nproc-1]``, warms up for a fixed count, measures for
``--seconds``, checks every output, stops Spark and every process it
started, and prints one JSON object as the last line of stdout. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the span file and per-layer self-time table are
written to ``perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "flink_realtime_edu_demo_spark"
WORKLOADS = ("edu-stream", "edu-dashboard")

END_TO_END = (("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
              ("work_s", "s"), ("cpu_s", "s"))
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("catalyst.plan_s", "s"),
    ("spark.execute_collect_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.slot_util", "ratio"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.result_bytes", "bytes"), ("collect.rows", "count"), ("spark.failed_tasks", "count"),
    ("stream.trigger_s", "s"), ("stream.query_planning_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.wal_commit_s", "s"), ("stream.commit_offsets_s", "s"), ("stream.batches", "count"),
    ("stream.rows_per_batch", "count"), ("stream.backlog_files_end", "count"),
    ("sources.latest_offset_s", "s"), ("sources.get_batch_s", "s"),
    ("state.rows_total", "count"), ("state.memory_bytes", "bytes"), ("state.commit_s", "s"),
    ("state.rows_dropped_late", "count"), ("sinks.write_s", "s"),
    ("gen.files", "count"), ("gen.late_max_s", "s"), ("trace.overhead", "ratio"),
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_spark(width: int, work: str):
    """``session.get_spark`` at ``local[width]``, with every temporary file
    of the JVM kept under ``work``. Returns the session and get_spark's time."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from flink_realtime_edu_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=width)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, get_spark_s


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started (JVM and Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.common import descendants

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while True:
            alive = [p for p in started if _alive(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    os.kill(p, signal.SIGKILL)
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=None,
                    help="edu-stream only: files per second (default: stream.FILES_PER_S)")
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        log(f"no {ENGINE} package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    import flink_realtime_edu_demo_spark.queries  # noqa: F401 — fills the registry

    from perfbench import batch, stream
    from perfbench.common import close_context, run_context
    from perfbench.fixtures import write_tables

    out_dir = os.path.join(ROOT, "perfbench", "out")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    width = max(1, len(os.sched_getaffinity(0)) - 1)
    ctx = run_context(args.seed, width)
    trace = bool(args.trace)
    try:
        spark, get_spark_s = start_spark(width, work)
        try:
            ctx["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            if args.workload == "edu-stream":
                res = stream.run(spark, work, args.seed, args.seconds, trace, T_START, log,
                                 rate=args.rate or stream.FILES_PER_S)
            else:
                # the inputs are the benchmark's own: their writing is not set-up
                t0 = time.perf_counter()
                sf_dir = write_tables(os.path.join(work, "data"), args.seed, batch.SF)
                inputs_s = time.perf_counter() - t0
                res = batch.run(spark, sf_dir, args.seed, args.seconds, trace,
                                T_START + inputs_s, log)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    close_context(ctx)

    e2e = res["end_to_end"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}: {res['attempted']} attempted, {res['failed']} failed")
    for name, unit in END_TO_END:
        extra = (f"  (p{res['tail']['percentile']:.1f} of n={res['tail']['samples']})"
                 if name == "latency_tail_s" else "")
        print(f"  {name:<16}{e2e[name]:>12.4f} {unit}{extra}")
    if res["errors"]:
        print(f"errors: {json.dumps(res['errors'])}")
    print(f"context: {json.dumps(ctx)}")

    if trace:
        layers = {"session.get_spark_s": get_spark_s, **res["layers"]}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        _write_trace(out_dir, args, res, metrics)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        log("a metric has no samples (nothing reached the sink?): no result")
        return 1
    print(json.dumps({
        "correct": res["correct"] and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _write_trace(out_dir: str, args, res: dict, metrics: dict) -> None:
    stem = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}")
    with open(stem + ".spans.json", "w") as f:
        json.dump(res["spans"], f)
    lines = [f"{'layer':<28}{'self time s':>14}"]
    lines += [f"{k:<28}{v:>14.4f}" for k, v in sorted(res["self_times"].items())]
    lines += ["", f"{'metric':<28}{'value':>14}  unit"]
    lines += [f"{k:<28}{m['value']:>14.6g}  {m['unit']}" for k, m in metrics.items()]
    with open(stem + ".layers.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(f"tracing overhead: {100 * metrics['trace.overhead']['value']:+.1f}% "
          "(traced units against the untraced ones of the same run)")
    print(f"spans: {stem}.spans.json")


if __name__ == "__main__":
    sys.exit(main())
