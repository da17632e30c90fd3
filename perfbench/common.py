"""Measurement helpers shared by the workloads: sample statistics, result
digests, CPU time of the process tree, the run context, spans and the Spark
status-store reader used by the traced run. Nothing here imports Spark."""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# statistics

TAIL_BEYOND = 10  # a tail percentile must have at least this many samples above it


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it: ``(value, percentile, n)``. With sorted samples x[0..n-1]
    that is x[n-11], the largest sample with ten larger ones, at percentile
    100*(n-10)/n. With fewer than 11 samples no percentile qualifies and
    the maximum is returned at percentile 100, so the caller can flag it."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


# --------------------------------------------------------------------------
# result digests (order-insensitive, over the engine's canonical values)


def digest(rows: list[tuple], columns: list[str], canon) -> tuple[int, str]:
    """``(row count, sha256)`` of a result, independent of row order and
    column order; ``canon`` maps one value to its canonical string (the
    engine's ``testing.compare.canon``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(rows), h.hexdigest()


def is_failed(observed: tuple[int, str] | None, expected: tuple[int, str] | None) -> bool:
    """An operation fails when it raised (no digest), when its key has no
    validated result, or when its count or hash differs from the validated one."""
    return observed is None or expected is None or observed != expected


# --------------------------------------------------------------------------
# CPU time of this process and every descendant, from /proc

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; fields after the last ')' are fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and its descendants, including
    children they have already reaped."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(str(pid))
        if fields is not None:  # utime stime cutime cstime = fields 14..17
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


# --------------------------------------------------------------------------
# run context


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs since boot
    (``steal`` in /proc/stat); 0 on hosts that do not account it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def run_context(seed: int, width: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "local_width": width,
        "pyspark": pyspark.__version__,
        "load1_start": os.getloadavg()[0],
        "steal_s_start": host_steal_s(),
    }


def close_context(ctx: dict) -> dict:
    """Add the end-of-run readings; steal becomes the run's total."""
    ctx["load1_end"] = os.getloadavg()[0]
    ctx["host_steal_s"] = round(host_steal_s() - ctx.pop("steal_s_start"), 2)
    return ctx


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans are kept in a list and written only
    by ``dump``; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(name, op, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, op: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        """Record a span measured elsewhere (e.g. on another thread)."""
        if not self.enabled:
            return None
        self.spans.append(Span(name, op, start, end, parent, attrs))
        return len(self.spans) - 1

    def records(self) -> list[dict]:
        """The spans as JSON-ready dicts: id, name, op, start, end, parent, attrs."""
        return [{"id": i, **vars(s)} for i, s in enumerate(self.spans)]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval that its children cover (children's overlap merged first)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(i, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


# --------------------------------------------------------------------------
# Spark status store (read after an operation, never inside a timed region)

STAGE_FIELDS = ("stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "result_bytes")


def job_stats(sc, job_ids) -> dict[str, float]:
    """Sum the stage metrics of ``job_ids`` from the JVM status store.
    Stages skipped because their shuffle output was reused are not counted."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(job_ids))
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["result_bytes"] += sd.resultSize()
    return out
