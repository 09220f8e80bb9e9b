"""PatchTreasures Cap-budget semantics fuzzed against a driver-side
model of the reference contract (proto:3023-3040; gateway_patch.go
capPreCount + swamp_patch.go PatchFields:247-261): for random base
states, request key lists (with missing keys), INC deltas, conditions,
create-mode and cap thresholds, `patch_each_batch` over the entry list
`[(k, ops, condition) for k in keys]` must agree
per key AND in the resulting state with the obvious sequential
interpretation:

  budget = max(0, max_matching - |{rows currently matching}|)
  per key in request order:
    missing & !create          -> KEY_NOT_FOUND
    missing & create           -> seeded row, isCreate
    condition fails            -> CONDITION_NOT_MET (created: rolled back)
    (no→yes) transition:
        budget == 0            -> CAP_EXCEEDED, row un-mutated
                                  (created: rolled back)
        else budget -= 1, commit
    other transitions          -> commit
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from hydraide_spark.operators.claims import Cap
from hydraide_spark.operators.mutate import (
    PatchKind,
    PatchOp,
    patch_each_batch,
)
from hydraide_spark.query import Cmp, Op

KEYS = [f"b{i}" for i in range(6)]
EXTRA = ["m1", "m2", "m3"]


@st.composite
def scenarios(draw):
    base_keys = draw(
        st.lists(st.sampled_from(KEYS), unique=True, min_size=1, max_size=6)
    )
    base = {k: draw(st.integers(min_value=0, max_value=20)) for k in base_keys}
    req = draw(
        st.lists(
            st.sampled_from(KEYS + EXTRA), unique=True, min_size=1, max_size=7
        )
    )
    delta = draw(st.integers(min_value=-8, max_value=15))
    cond_thr = draw(st.one_of(st.none(), st.integers(0, 20)))
    cap_thr = draw(st.integers(min_value=5, max_value=25))
    max_matching = draw(st.integers(min_value=1, max_value=5))
    create = draw(st.booleans())
    seed_n = draw(st.integers(min_value=0, max_value=20))
    return base, req, delta, cond_thr, cap_thr, max_matching, create, seed_n


def _model(base, req, delta, cond_thr, cap_thr, max_matching, create, seed_n):
    state = dict(base)
    budget = max(0, max_matching - sum(1 for v in base.values() if v >= cap_thr))
    statuses = {}
    for k in req:
        is_create = k not in state
        if is_create and not create:
            statuses[k] = "KEY_NOT_FOUND"
            continue
        old = seed_n if is_create else state[k]
        if cond_thr is not None and not (old < cond_thr):
            statuses[k] = "CONDITION_NOT_MET"
            continue  # created row rolled back (never entered state)
        new = old + delta
        pre = (not is_create) and old >= cap_thr
        post = new >= cap_thr
        if not pre and post:
            if budget <= 0:
                statuses[k] = "CAP_EXCEEDED"
                continue  # un-mutated; created row rolled back
            budget -= 1
        state[k] = new
        statuses[k] = "CREATED" if is_create else "PATCHED"
    return statuses, state


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenarios())
def test_patch_cap_budget_matches_model(spark, scenario):
    base, req, delta, cond_thr, cap_thr, max_matching, create, seed_n = scenario
    df = spark.createDataFrame(
        [Row(key=k, body={"n": v}) for k, v in base.items()],
        "key string, body struct<n:bigint>",
    )
    ops = [PatchOp(PatchKind.INC, "n", delta)]
    cond = Cmp("body.n", Op.LT, cond_thr) if cond_thr is not None else None
    out = patch_each_batch(
        spark,
        df,
        [(k, ops, cond) for k in req],
        create_if_not_exist=create,
        seed_body=(seed_n,),
        cap=Cap(Cmp("body.n", Op.GE, cap_thr), max_matching),
    )
    got_status = {r["key"]: r["patch_status"] for r in out.results.collect()}
    got_state = {r["key"]: r["body"]["n"] for r in out.new_state.collect()}
    out.unpersist()
    want_status, want_state = _model(
        base, req, delta, cond_thr, cap_thr, max_matching, create, seed_n
    )
    assert got_status == want_status, scenario
    assert got_state == want_state, scenario
