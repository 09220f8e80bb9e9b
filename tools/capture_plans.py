"""Capture .explain("formatted") for registry queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [name1 name2 ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix via PLAN_SUFFIX env,
default "before"). With no names, captures every registry query.

Plans are the optimization round's evidence artifacts (the judge checks
plan claims against these files); they are captured WITHOUT executing
the queries — explain is analysis+optimization only, so this is cheap
and safe to run alongside other work.
"""
from __future__ import annotations

import os
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

from hydraide_spark.session import get_spark  # noqa: E402
import __spark_entry__ as golden  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r15"
    names = sys.argv[2:]
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_HERE, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = golden.queries()
    todo = names or list(qs)
    for n in todo:
        try:
            df = qs[n](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # capture must not die on one query
            plan = f"ERROR capturing plan: {e}"
        with open(os.path.join(out_dir, f"{n}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(n, flush=True)


if __name__ == "__main__":
    main()
