"""The benchmark's own tests.

    python3 -m pytest perfbench -q

Seeded inputs and op lists must repeat exactly and differ across seeds;
the declared metric names and units must match BENCHMARK.json; a tiny
size of every workload must run end to end, correct, printing every
declared metric with its unit; and a directory holding only the
benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus_curate  # noqa: E402
import kv_serve  # noqa: E402
import run as bench  # noqa: E402
import search_serve  # noqa: E402
from common import Tracer, p90_supported  # noqa: E402


def _canon(obj) -> str:
    def default(o):
        if isinstance(o, set):
            return sorted(o)
        return o.__dict__ if hasattr(o, "__dict__") else str(o)

    return json.dumps(obj, default=default, sort_keys=True)


def _generated(seed: int) -> str:
    return _canon({
        "kv": [kv_serve.make_inputs(seed, "full"), kv_serve.make_ops(seed, "full", 20)],
        "curate": [corpus_curate.make_inputs(seed, "full", 20), corpus_curate.make_ops(seed, "full", 20)],
        "search": [search_serve.make_inputs(seed, "full", 20), search_serve.make_ops(seed, "full", 20)],
    })


def test_same_seed_same_bytes_other_seed_differs():
    a, b, c = _generated(7), _generated(7), _generated(8)
    assert a.encode() == b.encode()
    assert a != c


def test_op_structure_does_not_depend_on_seed():
    for wl in (kv_serve, corpus_curate, search_serve):
        shapes = {tuple((op.kind, op.cls) for op in wl.make_ops(seed, "full", 20)[1]) for seed in (1, 2, 3)}
        assert len(shapes) == 1, wl.__name__


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOADS)


def test_sample_count_rule_and_self_time():
    assert not p90_supported(99) and p90_supported(100)
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.self_times_ms()
    assert inner["parent"] == 0 and outer["self_ms"] == pytest.approx(outer["dur_ms"] - inner["dur_ms"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_tiny_run_end_to_end(workload, trace, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "5", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_bare_benchmark_directory_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kv_serve", "--seed", "1",
         "--seconds", "20", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
