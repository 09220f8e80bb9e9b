"""Shared pieces of the benchmark: the span tracer, Spark status-store
readings, percentiles and on-disk sizes.

Nothing here imports the engine; the workloads do. A workload module
exposes ``NOMINAL_ROUND_S``, ``SIZES``, ``make_inputs``/``make_ops``
(pure Python, seeded) and ``run(ctx)`` returning a ``Run``.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

MB = 1024.0 * 1024.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def p90_supported(n: int) -> bool:
    """The sample-count rule: a percentile is reported only where one run
    has at least ten samples beyond it."""
    return n - math.ceil(0.9 * n) >= 10


def file_sizes(*roots: str) -> dict[str, int]:
    """Path -> size of every file under ``roots``."""
    out = {}
    for root in roots:
        for base, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(base, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def dir_bytes(*roots: str) -> int:
    return sum(file_sizes(*roots).values())


class Tracer:
    """In-memory spans around the benchmark's calls into engine modules.

    Disabled, ``span`` is a bare ``yield`` so the untraced run pays only
    a generator enter/exit per call. Enabled, each span records name,
    start, end, parent and op id; self time is the duration minus the
    time its children cover (children of one span never overlap: the
    client is a single thread)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: Optional[str] = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn: Callable, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def self_times_ms(self) -> list[dict]:
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out = []
        for i, s in enumerate(self.spans):
            dur = (s["end"] - s["start"]) * 1e3
            out.append({**s, "dur_ms": dur, "self_ms": dur - child_ms[i]})
        return out


def spark_group_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks and task-level totals of one job group, read
    from the status store (works with ``spark.ui.enabled=false``)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    agg = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
           "input_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for sid in stages:
        try:
            st = store.lastStageAttempt(int(sid))
        except Exception:  # a skipped stage has no attempt in the store
            continue
        agg["stages"] += 1
        agg["tasks"] += int(st.numTasks())
        agg["executor_run_ms"] += float(st.executorRunTime())
        agg["input_mb"] += st.inputBytes() / MB
        agg["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        agg["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return agg


def run_query(tr: Tracer, build: Callable[[], Any], action: Callable[[Any], Any]):
    """Build a DataFrame through the engine, force its physical plan
    (traced runs only; the action reuses it) and run ``action`` on it,
    each step in its own span: ``read.build``, ``read.plan``,
    ``read.exec``. Engine calls that run jobs while building count as
    build time."""
    with tr.span("read.build"):
        df = build()
    if tr.enabled:
        with tr.span("read.plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("read.exec"):
        return action(df)


def cached_storage(sc) -> tuple[float, int]:
    """(MB held by cached blocks in memory and on disk, cached RDD count)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum((i.memSize() + i.diskSize()) for i in infos) / MB
    return mb, len(infos)


@dataclass
class Op:
    """One entry of a workload's seeded op list. ``kind`` is ``read``,
    ``write`` or ``maint`` (maintenance: compaction); ``cls`` names the
    op class the per-layer metrics group by."""

    kind: str
    cls: str
    args: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: Any
    seed: int
    seconds: int
    size: str
    tmp: str
    tracer: Tracer
    session_start_s: float


@dataclass
class Run:
    """What a workload hands back: per-op latencies by kind, setup and
    timed-phase wall, the end state sizes and its correctness verdict."""

    setup_s: float = 0.0
    wall_s: float = 0.0
    read_ms: list = field(default_factory=list)
    write_ms: list = field(default_factory=list)
    maint_ms: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    space_amp: float = 0.0
    cached_mb_end: float = 0.0
    extra: dict = field(default_factory=dict)
    per_op: list = field(default_factory=list)


def warm_up(ctx: Ctx, ops: list, execute: Callable[[Op], Any], check: Callable[[Op, Any], bool],
            run: Run) -> float:
    """Run the untimed warm-up ops (tracing paused) and return their wall
    time. A failed or wrong warm-up op marks ``run`` incorrect."""
    enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
    try:
        t0 = time.perf_counter()
        warm = Run()
        timed_loop(ctx, ops, execute, check, warm)
        run.correct = run.correct and warm.correct and warm.failed == 0
        run.extra["warmup_errors"] = warm.extra.get("errors", [])
        run.extra["warmup_ms"] = {"read": warm.read_ms, "write": warm.write_ms}
        return time.perf_counter() - t0
    finally:
        ctx.tracer.enabled = enabled


def timed_loop(ctx: Ctx, ops: list, execute: Callable[[Op], Any], check: Callable[[Op, Any], bool],
               run: Run, trace_extra: Optional[Callable[[Op], dict]] = None) -> None:
    """Closed loop over the fixed op list: one client issues each op after
    the previous one returns. An op that raises counts as failed and the
    loop continues; a result that fails its check marks the run
    incorrect. With tracing on, each op runs under its own Spark job
    group and its cluster counters and cache state (plus whatever
    ``trace_extra`` reads) are recorded. Checking and trace bookkeeping
    run between ops and are left out of the timed-phase wall."""
    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    checks_s = trace_s = 0.0
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        op_id = f"op{i:04d}-{op.cls}"
        tr.op_id = op_id
        if tr.enabled:
            sc.setJobGroup(op_id, op.cls)
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(op.cls):
                out = execute(op)
        except Exception as exc:  # boundary: a failed op is counted, the run goes on
            run.failed += 1
            run.extra.setdefault("errors", []).append(f"{op_id}: {type(exc).__name__}: {exc}"[:300])
            continue
        ms = (time.perf_counter() - t0) * 1e3
        {"read": run.read_ms, "write": run.write_ms, "maint": run.maint_ms}[op.kind].append(ms)
        c0 = time.perf_counter()
        if not check(op, out):
            run.correct = False
            run.extra.setdefault("check_failures", []).append(op_id)
        checks_s += time.perf_counter() - c0
        if tr.enabled:
            c0 = time.perf_counter()
            rec = {"op": op_id, "cls": op.cls, "kind": op.kind, "ms": ms}
            rec.update({f"spark.{k}": v for k, v in spark_group_stats(sc, op_id).items()})
            rec["cache.cached_mb"], rec["cache.cached_rdds"] = cached_storage(sc)
            if trace_extra is not None:
                rec.update(trace_extra(op))
            run.per_op.append(rec)
            trace_s += time.perf_counter() - c0
    if tr.enabled:
        sc.setJobGroup("after-timed-phase", "")
    tr.op_id = None
    run.wall_s = time.perf_counter() - t_start - checks_s - trace_s
    run.extra["trace_bookkeeping_s"] = trace_s
