"""Stage-split bench queries into plan-BUILD vs EXECUTE time.

Build = the golden function call (DataFrame construction: py4j round
trips + eager per-op analysis).  Execute = the noop-sink write of the
returned frame (optimize + codegen + run).  Run SOLO (CLAUDE.md) —
ambient Spark work invalidates the split.

Usage: python tools/buildsplit.py [name1 name2 ...]
  No names = the full registry.  REPS via BUILDSPLIT_REPS
  (default 3; per-query median of each phase).  Prints one JSON line
  sorted by build-time descending.
"""
from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from hydraide_spark.session import get_spark  # noqa: E402
import __spark_entry__ as golden  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    reps = int(os.environ.get("BUILDSPLIT_REPS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("buildsplit")
    qs = golden.queries()
    names = names or list(qs)
    builds: dict[str, list[float]] = {n: [] for n in names}
    execs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for n in names:
            t0 = time.time()
            df = qs[n](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            builds[n].append(t1 - t0)
            execs[n].append(t2 - t1)
        spark.sparkContext._jvm.System.gc()
    out = {}
    for n in names:
        b = sorted(builds[n])
        e = sorted(execs[n])
        out[n] = {
            "build": round(b[(len(b) - 1) // 2], 3),
            "exec": round(e[(len(e) - 1) // 2], 3),
            "build_spread": round(b[-1] - b[0], 3),
        }
    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]["build"]))
    print(json.dumps(ranked))


if __name__ == "__main__":
    main()
