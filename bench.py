"""Benchmark harness: runs every registry query (``golden.queries()``,
in registry order) at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced to full execution with a noop-style sink (count of
a cached-free plan); nothing collects to the driver beyond the final
aggregate. A warmup pass on sf0.001 primes the JVM so the measured
numbers reflect plan execution, not session startup.

Measurement protocol (round 6 — see BASELINE.md): single-shot timings
on a host with ambient load produced two rounds of phantom >1.5x
"regressions" on unchanged queries, so the suite now runs
$SPARK_GRAFT_BENCH_REPS full passes (default 3), INTERLEAVED — pass 1
runs every query once, then pass 2, then pass 3 — and records the
per-query MEDIAN across passes. Interleaving matters: back-to-back
reps of one query all land inside the same ambient-load burst (a
measured burst held a 0.5 s query at 2 s for all 3 consecutive reps),
while a burst during one interleaved pass is discarded by the median.
Queries at or above _SLOW_CUTOFF_SEC skip the last pass and record
min-of-2 (work-dominated; bounds total bench wall). Per-query spread
(max-min across passes) lands in the full JSON so a drifted entry can
be adjudicated against its own noise floor.

Per-query coverage (carried over from round 16): the final compact line
inlines only the slowest ~24 queries that fit the 2000-char tail window
the bench line is parsed from. A round-over-round per-query comparison
built from that line therefore covers only the slow-tail intersection
of the two rounds; the complete map is in ``queries_file``
(bench/latest_full.json), and a comparison that reads it covers every
query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from hydraide_spark import golden  # noqa: E402
from hydraide_spark.session import get_spark  # noqa: E402

_SLOW_CUTOFF_SEC = 5.0


def run_query(fn, spark, sf_dir: str) -> float:
    t0 = time.time()
    df = fn(spark, sf_dir)
    # force full execution without driver collect
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def aggregate_samples(samples: "list[float]") -> "tuple[float, float]":
    """(recorded_sec, spread_sec): median for 3+ samples (low median
    for even counts >= 4), min for 2 (the trimmed slow-query path —
    work-dominated queries only jitter upward)."""
    s = sorted(samples)
    spread = s[-1] - s[0]
    if len(s) == 1:
        return s[0], 0.0
    if len(s) == 2:
        return s[0], spread
    return s[(len(s) - 1) // 2], spread


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    qs = golden.queries()
    names = list(qs)

    # warmup: smallest sf primes codegen/JIT paths
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for n in names[:4]:
            try:
                run_query(qs[n], spark, warm_dir)
            except Exception:
                pass

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    samples: dict[str, list[float]] = {n: [] for n in names}
    failed: set[str] = set()
    for p in range(max(reps, 1)):
        for i, n in enumerate(names):
            if n in failed:
                continue
            if (
                p == reps - 1
                and reps > 2
                and samples[n]
                and min(samples[n]) >= _SLOW_CUTOFF_SEC
            ):
                continue  # slow query: min-of-2, skip the last pass
            try:
                samples[n].append(run_query(qs[n], spark, sf_dir))
            except Exception as e:  # a broken query must not hide the rest
                # no more attempts, but samples already collected in
                # earlier passes stay valid — a transient failure on a
                # late rep must not erase good measurements
                failed.add(n)
                print(f"bench error in {n}: {e}", file=sys.stderr)
            if i % 4 == 3:
                # iterative queries (BPE rounds, clustering, CMS loops)
                # localCheckpoint per round; those blocks are only freed
                # when the JVM GCs the RDD handles. Left alone they pile
                # up across 134 queries and late memory-hungry shuffles
                # hit eviction/spill (one observed run: a 3 s query at
                # 36 s). A periodic driver-side GC keeps storage memory
                # honest for ~100 ms per nudge.
                spark.sparkContext._jvm.System.gc()

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for n in names:
        if not samples[n]:  # -1 reserved for ZERO successful samples
            timings[n] = -1.0
            continue
        med, spread = aggregate_samples(samples[n])
        timings[n] = round(med, 3)
        spreads[n] = round(spread, 3)

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    errors = sorted(n for n, v in timings.items() if v < 0)

    # Per-query regression ratios vs the committed round-1 baseline.
    base_path = os.path.join(_HERE, "bench", "baseline_r1.json")
    vs_r1: dict[str, float] = {}
    vs_r1_total = None
    if os.path.exists(base_path):
        with open(base_path) as f:
            base = json.load(f)
        bq = base.get("queries", {})
        vs_r1 = {
            n: round(t / bq[n], 3)
            for n, t in timings.items()
            if t >= 0 and bq.get(n, 0) > 0
        }
        common = [n for n in timings if timings[n] >= 0 and bq.get(n, 0) > 0]
        if common:
            vs_r1_total = round(
                sum(timings[n] for n in common) / sum(bq[n] for n in common), 3
            )

    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spreads": spreads,
        "reps": reps,
        "vs_r1": vs_r1,
        "vs_r1_total": vs_r1_total,
        "sf": sf,
        "errors": errors,
        "transient_errors": sorted(n for n in failed if samples[n]),
    }
    out_dir = os.path.join(_HERE, "bench")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "latest_full.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # Full map first (human-readable / archival)...
    print(json.dumps(full))
    sys.stdout.flush()
    # ...then a COMPACT machine-first summary as the FINAL stdout line.
    # The driver parses the LAST JSON line inside a 2000-char stdout
    # tail window (round 1's single ~3 KB full line came back
    # `parsed: null`; every BENCH_rN.json since records tail_len=2000),
    # so the full 240-query map (~7 KB) physically cannot ride this
    # line. r15 VERDICT item 2 asks for inline per-query data anyway:
    # the compromise is a BYTE-BUDGETED inline `queries`/`spreads`
    # subset — slowest queries first (the ones that matter for
    # round-over-round and core-scaling comparisons) until the line
    # would exceed the tail window, with the complete map still in
    # `queries_file`. Deterministic given the timings; across two
    # same-code driver runs the slow sets overlap almost entirely, so
    # scaling.per_query gets a usable intersection.
    ranked = sorted(
        ((n, v) for n, v in timings.items() if v >= 0),
        key=lambda kv: (-kv[1], kv[0]),
    )
    slowest = dict(ranked[:5])
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "vs_r1_total": vs_r1_total,
        "slowest": slowest,
        "queries": {},
        "spreads": {},
        "n_queries_inlined": 0,
        "queries_file": "bench/latest_full.json",
    }
    _BUDGET = 1900  # headroom under the 2000-char tail window
    for n, v in ranked:
        compact["queries"][n] = v
        compact["spreads"][n] = spreads.get(n, 0.0)
        compact["n_queries_inlined"] += 1
        if len(json.dumps(compact)) > _BUDGET:
            del compact["queries"][n]
            del compact["spreads"][n]
            compact["n_queries_inlined"] -= 1
            break
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
