"""The one memo store (functions/_cache.py::memo). A plan memo returns
the SAME lazy plan per (applicationId, key) — and that plan is only a
plan. Every action must still compute the query's output from the
parquet inputs; the memo may never capture data, and a different
sf_dir or a restarted application must rebuild. Hits replay the pins
their build made, concurrent callers all get the one stored value, and
a plan build runs no Spark job once its models and inputs are warm.
"""

from __future__ import annotations

import random
import sys
import threading
import time
import types

from pyspark.sql import functions as F

from hydraide_spark.functions._cache import _MEMO, _PINNED, memo, pin_latest, release_pinned

from conftest import SF_SMOKE


def test_frame_memo_returns_same_plan_and_recomputes_output(spark):
    from hydraide_spark.golden.retrieval_q import retrieval_eval_metrics

    a = retrieval_eval_metrics(spark, SF_SMOKE)
    b = retrieval_eval_metrics(spark, SF_SMOKE)
    # one plan per (app, key): repeat calls skip the build entirely
    assert a is b
    # the memoized frame is a PLAN over the parquet inputs, not data
    plan = a._jdf.queryExecution().analyzed().toString()
    assert "parquet" in plan.lower()
    # actions on the memoized frame recompute the output normally
    rows1 = sorted(map(tuple, a.collect()))
    rows2 = sorted(map(tuple, b.collect()))
    assert rows1 == rows2 and len(rows1) > 0


def test_frame_memo_keys_isolate_sf_dir_and_application(spark):
    calls = []

    def build_a():
        calls.append("a")
        return spark.range(3)

    def build_b():
        calls.append("b")
        return spark.range(4)

    fa = memo(("plan", "t_memo_key", "dirA"), build_a)
    fb = memo(("plan", "t_memo_key", "dirB"), build_b)
    assert fa is not fb and calls == ["a", "b"]
    assert memo(("plan", "t_memo_key", "dirA"), build_a) is fa
    assert calls == ["a", "b"]  # no rebuild on hit
    # keys carry the applicationId, so a restarted app cannot see
    # frames holding dead JVM references
    app = spark.sparkContext.applicationId
    assert any(k[0] == app and k[1:3] == ("plan", "t_memo_key") for k in _MEMO)


def test_frame_memo_replays_pins_on_hit(spark):
    """A memo HIT must re-pin the build's pin_latest sites: shared
    sites rotated by non-memoized siblings would otherwise evict the
    memoized frame's persisted deps (the _same_plan guard only keeps
    RE-PINNED plans)."""
    site = "t_memo.repin_site"
    release_pinned(site)
    dep = spark.range(7).persist()

    def build():
        pin_latest(site, dep, max_generations=2)
        return spark.range(2)

    fa = memo(("plan", "t_memo_repin"), build)
    assert len(_PINNED[site]) == 1
    # sibling pins with DIFFERENT plans would rotate the dep out...
    other = spark.range(8).persist()
    pin_latest(site, other, max_generations=2)
    # ...but a memo hit re-pins, keeping the dep the youngest generation
    fb = memo(("plan", "t_memo_repin"), build)
    assert fb is fa
    gens = _PINNED[site]
    assert gens[-1][0] is dep
    # rotation now evicts `other`, never the memoized frame's dep
    pin_latest(site, spark.range(9).persist(), max_generations=2)
    live = [d for g in _PINNED[site] for d in g]
    assert dep in live
    release_pinned(site)
    dep.unpersist()
    other.unpersist()


def test_memo_threads_share_one_value_per_key(spark):
    """8 driver threads race on shared keys of every kind, half of them
    warm before the race: every caller gets the one stored object, the
    store holds one entry per key, and concurrent pins and replays keep
    every site within its generation budget."""
    site, budget, n_threads = "t_memo.thread_site", 2, 8
    release_pinned(site)
    deps = []
    deps_lock = threading.Lock()

    def make_build(kind, i):
        def plan():
            dep = spark.range(i + 10).persist()
            with deps_lock:
                deps.append(dep)
            pin_latest(site, dep, max_generations=budget)
            return spark.range(i + 1)

        return {
            "plan": plan,
            "model": lambda: [float(i)] * 4,
            "input": lambda: spark.range(i + 1).count(),
            "column": lambda: F.col("id") + F.lit(i),
        }[kind]

    keys = [
        (kind, "t_memo_thread", i)
        for kind in ("plan", "model", "input", "column")
        for i in range(4)
    ]
    for key in keys[::2]:  # warm half: the race mixes hits and misses
        memo(key, make_build(key[0], key[2]))

    barrier = threading.Barrier(n_threads)
    got: list = [dict() for _ in range(n_threads)]
    over_budget: list = []
    errors: list = []

    def worker(tid):
        try:
            order = keys * 2
            random.Random(tid).shuffle(order)
            barrier.wait()
            for key in order:
                v = memo(key, make_build(key[0], key[2]))
                got[tid].setdefault(key, []).append(v)
                if len(_PINNED.get(site, ())) > budget:
                    over_budget.append(len(_PINNED[site]))
        except Exception as e:  # surfaced below, not swallowed
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave check-then-set windows
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    app = spark.sparkContext.applicationId
    for key in keys:
        stored = _MEMO[(app,) + key][0]
        seen = [v for g in got for v in g[key]]
        assert len(seen) == 2 * n_threads
        assert all(v is stored for v in seen), key
    mine = [k for k in _MEMO if k[0] == app and k[2:3] == ("t_memo_thread",)]
    assert sorted(mine) == sorted((app,) + k for k in keys)
    assert not over_budget and len(_PINNED[site]) <= budget
    release_pinned(site)
    for dep in deps:
        dep.unpersist()


def _plans_memo(fn, seen: set) -> bool:
    """Whether calling ``fn`` can reach a ``memo(("plan", ...), ...)``
    call: a code object (nested functions included) that names
    ``memo`` and holds the ``"plan"`` literal, in ``fn`` or in a
    golden-module helper it calls. Only a pre-filter: the lint below
    checks each candidate's plan entries for real."""
    codes = [fn.__code__]
    while codes:
        code = codes.pop()
        if "memo" in code.co_names and "plan" in code.co_consts:
            return True
        codes += [c for c in code.co_consts if isinstance(c, types.CodeType)]
        for name in code.co_names:
            obj = fn.__globals__.get(name)
            if (
                isinstance(obj, types.FunctionType)
                and obj.__module__.startswith("hydraide_spark.golden")
                and obj not in seen
            ):
                seen.add(obj)
                if _plans_memo(obj, seen):
                    return True
    return False


def test_plan_memo_builds_run_no_jobs(spark):
    """Lint of the plan-memo rule: a golden whose call creates a "plan"
    entry may run actions only inside model or input memos. Once those
    are warm, dropping its plan entries and rebuilding must launch no
    Spark job. A golden that fails runs an action outside a model or
    input memo, and must route it through ``memo(("input", ...))`` or
    come off the plan memo. Memo hits only remove jobs, so a build that
    runs none while its models and inputs are cold passes at once; one
    that runs some is dropped and rebuilt once more, now warm."""
    from hydraide_spark.golden import queries

    sc = spark.sparkContext
    app, tracker = sc.applicationId, sc.statusTracker()

    def drop_plans():
        created = [k for k in list(_MEMO) if k[0] == app and k[1] == "plan"]
        for k in created:
            _MEMO.pop(k, None)
        return created

    def build_jobs(fn, group):
        sc.setJobGroup(group, "plan-memo lint build")
        try:
            fn(spark, SF_SMOKE)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return list(tracker.getJobIdsForGroup(group))

    t0 = time.time()
    drop_plans()  # every golden below must build its own entries
    checked, failed = [], []
    for name, fn in queries().items():
        if not _plans_memo(fn, set()):
            continue
        jobs = build_jobs(fn, f"t_plan_memo_lint.{name}.cold")
        if not drop_plans():
            continue  # no plan entry: not a plan golden
        if jobs:
            jobs = build_jobs(fn, f"t_plan_memo_lint.{name}.warm")
            drop_plans()
        checked.append(name)
        if jobs:
            failed.append(name)
    print(f"plan-memo lint: {len(checked)} goldens in {time.time() - t0:.1f} s")
    assert len(checked) >= 60
    assert not failed, f"plan builds that run Spark jobs: {failed}"
