#!/usr/bin/env python3
"""Closed-loop benchmark of the hydraide_spark engine.

    python3 perfbench/run.py --workload kv_serve --seed 1 --seconds 20 --trace 0

One client in one process drives one workload against
``local[<cores>]``, calling the engine modules directly (never
``golden/``). ``--seconds`` sizes the fixed, seeded op list (through each
workload's nominal round time); the run always executes the whole list,
so a faster engine does the same work in less time. The timed phase is
followed by the workload's correctness check.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is a report with every detail of the run (percentile
sample counts, per-class layer table, environment, load average).
``--trace 1`` also writes its spans to ``.perfbench_out/``.

The run makes a fresh directory under ``.perfbench_tmp/`` for stores,
state, ``SPARK_LOCAL_DIRS`` and temp files, and deletes it at exit.
See perfbench/DESIGN.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

from common import Ctx, Tracer, cached_storage, median, p90_supported, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_serve", "corpus_curate", "search_serve")
#: declared end-to-end metrics; every workload reports every one
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms", "write_p50_ms": "ms",
    "space_amp": "ratio", "cached_mb_end": "MB",
}
#: declared per-layer metrics (traced run), measured on every workload
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "cache.cached_mb": "MB", "cache.cached_rdds": "count",
    "read.build_ms": "ms", "read.plan_ms": "ms", "read.exec_ms": "ms",
    "traced.ops_per_s": "1/s", "traced.read_p50_ms": "ms", "traced.write_p50_ms": "ms",
    "trace.bookkeeping_ms": "ms",
}


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """Driver heap well below host RAM: a quarter of it, at most 4g."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "2g"
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway started, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests during the run."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def _layer_table(tracer, per_op: list) -> dict:
    """Per-layer figures from the traced run: per span name its call
    count and median duration and self time; per op class the median of
    each Spark and cache counter."""
    spans: dict[str, dict] = {}
    for s in tracer.self_times_ms():
        d = spans.setdefault(s["name"], {"dur": [], "self": []})
        d["dur"].append(s["dur_ms"])
        d["self"].append(s["self_ms"])
    table = {name: {"calls": len(d["dur"]), "ms": median(d["dur"]), "self_ms": median(d["self"])}
             for name, d in sorted(spans.items())}
    classes: dict[str, dict] = {}
    for rec in per_op:
        c = classes.setdefault(rec["cls"], {})
        for k, v in rec.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                c.setdefault(k, []).append(v)
    by_class = {cls: {k: median(v) for k, v in c.items()} for cls, c in sorted(classes.items())}
    return {"spans": table, "op_classes": by_class}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hydraide_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(tmp, "local"))
    os.makedirs(os.path.join(tmp, "java"))
    env = {
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "java"),
        "TZ": "UTC",
        # no hsperfdata files: HotSpot writes them under /tmp, outside the checkout
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    time.tzset()
    load_before = os.getloadavg()[0]
    cpu_before = _cpu_times()
    spark = None
    try:
        from hydraide_spark.session import get_spark

        wl = importlib.import_module(args.workload)
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        tracer = Tracer(bool(args.trace))
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, size=args.size,
                  tmp=tmp, tracer=tracer, session_start_s=session_s)
        run = wl.run(ctx)
        run.cached_mb_end = cached_storage(spark.sparkContext)[0]
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    load_after = os.getloadavg()[0]
    steal = _steal_share(cpu_before, _cpu_times())

    e2e = {
        "setup_s": run.setup_s,
        "ops_per_s": run.attempted / run.wall_s,
        # an empty sample (every op of the kind failed) reads 0; failed > 0 says why
        "read_p50_ms": median(run.read_ms) if run.read_ms else 0.0,
        "write_p50_ms": median(run.write_ms) if run.write_ms else 0.0,
        "space_amp": run.space_amp,
        "cached_mb_end": run.cached_mb_end,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "size": args.size, "trace": args.trace, "e2e": e2e,
        "samples": {"read": len(run.read_ms), "write": len(run.write_ms), "maint": len(run.maint_ms)},
        "fail_ratio": run.failed / run.attempted,
        "wall_s": run.wall_s, "session_start_s": session_s,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "loadavg_1m": {"before": load_before, "after": load_after},
        "cpu_steal_share": steal,
    }
    if p90_supported(len(run.read_ms)):
        report["read_p90_ms"] = percentile(run.read_ms, 90)
    report.update(run.extra)

    if args.trace:
        layers = _layer_table(tracer, run.per_op)
        report["layers"] = layers
        per_op = run.per_op or [{}]

        def mean(key):
            vals = [r[key] for r in per_op if key in r]
            return sum(vals) / len(vals) if vals else 0.0

        spans = tracer.self_times_ms()
        read_ops = {r["op"] for r in run.per_op if r["kind"] == "read"}

        def per_read_op(name):
            """Median over read ops of the op's total time in ``name`` spans."""
            tot = {op: 0.0 for op in read_ops}
            for s in spans:
                if s["name"] == name and s["op"] in tot:
                    tot[s["op"]] += s["dur_ms"]
            return median(list(tot.values())) if tot else 0.0

        metrics = {
            "session.start_s": session_s,
            **{k: mean(k) for k in PER_LAYER if k.startswith(("spark.", "cache."))},
            "read.build_ms": per_read_op("read.build"),
            "read.plan_ms": per_read_op("read.plan"),
            "read.exec_ms": per_read_op("read.exec"),
            "traced.ops_per_s": e2e["ops_per_s"],
            "traced.read_p50_ms": e2e["read_p50_ms"],
            "traced.write_p50_ms": e2e["write_p50_ms"],
            "trace.bookkeeping_ms": 1e3 * run.extra.get("trace_bookkeeping_s", 0.0) / run.attempted,
        }
        units = PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"report": report, "spans": spans, "per_op": run.per_op}, fh, default=str)
    else:
        metrics, units = e2e, END_TO_END

    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": bool(run.correct),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
