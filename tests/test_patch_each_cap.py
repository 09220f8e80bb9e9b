"""Request-level Cap on the sequential duplicate-key patch path
(`patch_each_batch`), adjudicated against the reference this round:

- `TreasurePatch` has NO per-patch Cap field (proto:3045-3067 — only
  Key/Ops/Condition/Meta); the single Cap on `PatchTreasuresRequest`
  (proto:3020-3040) spans the whole batch.
- gateway_patch.go:78-105 pre-counts matching records ONCE and threads
  one running budgetLeft through the sequential PatchFields loop;
  swamp_patch.go:244-261 decrements it only on an accepted
  (non-matching → matching) transition — rejections don't spend,
  (yes→no) never refunds, and pre/post matching is evaluated on the
  key's LIVE body at that entry's turn (after earlier accepted entries,
  including an earlier CAPPED entry leaving the body unchanged).
- With CreateIfNotExist a missing key is seeded; the seeded row never
  pre-matches (swamp_patch.go:250-252 checks preMatched only when
  !isCreate) until one of its entries applies, that entry reports
  CREATED, and a seeded row no entry applies to is rolled back.

The fuzz model below is that loop verbatim.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from hydraide_spark.operators.claims import Cap
from hydraide_spark.operators.mutate import (
    PatchKind,
    PatchOp,
    patch_each_batch,
)
from hydraide_spark.query import Cmp, Op

SCHEMA = "key string, body struct<n:bigint>"


def _run(spark, base, entries, cap_thr, max_matching, create=False, seed=0):
    df = spark.createDataFrame(
        [Row(key=k, body={"n": v}) for k, v in base.items()], SCHEMA
    )
    patches = [
        (
            k,
            [PatchOp(PatchKind.INC, "n", delta)],
            Cmp("body.n", Op.LT, cond_thr) if cond_thr is not None else None,
        )
        for k, delta, cond_thr in entries
    ]
    out = patch_each_batch(
        spark,
        df,
        patches,
        cap=Cap(Cmp("body.n", Op.GE, cap_thr), max_matching),
        create_if_not_exist=create,
        seed_body=(seed,),
    )
    statuses = {
        r["patch_index"]: r["patch_status"] for r in out.results.collect()
    }
    state = {r["key"]: r["body"]["n"] for r in out.new_state.collect()}
    out.unpersist()
    return statuses, state


def _model(base, entries, cap_thr, max_matching, create=False, seed=0):
    """gateway_patch.go's loop: one budget, entry order, live bodies;
    a missing key is (re)seeded at each of its entries until one
    applies."""
    state = dict(base)
    budget = max(0, max_matching - sum(1 for v in base.values() if v >= cap_thr))
    statuses = {}
    for i, (k, delta, cond_thr) in enumerate(entries):
        is_create = k not in state
        if is_create and not create:
            statuses[i] = "KEY_NOT_FOUND"
            continue
        old = seed if is_create else state[k]
        if cond_thr is not None and not (old < cond_thr):
            statuses[i] = "CONDITION_NOT_MET"
            continue  # a seeded row stays unsaved
        new = old + delta
        pre = (not is_create) and old >= cap_thr
        post = new >= cap_thr
        if not pre and post:
            if budget <= 0:
                statuses[i] = "CAP_EXCEEDED"
                continue  # un-mutated: the next entry on k sees old
            budget -= 1
        state[k] = new
        statuses[i] = "CREATED" if is_create else "PATCHED"
    return statuses, state


def test_budget_spends_in_entry_order_not_round_order(spark):
    # entries: a@0, a@1, b@2 — a's second patch (round 1) PRECEDES b's
    # first (round 0) in the request, so with one budget slot left after
    # a@0, a@1 must win it and b@2 must cap (round-sequential spending
    # would hand it to b@2).
    base = {"a": 0, "b": 0}
    entries = [("a", 10, None), ("a", 1, None), ("b", 10, None)]
    # cap filter: n >= 10; pre-count 0; max_matching 2 → budget 2.
    # a@0: 0→10 spends (budget 1). a@1: 10→11 is (yes→yes), free.
    # b@2: 0→10 spends (budget 0). All pass. Now shrink to 1:
    statuses, state = _run(spark, base, entries, cap_thr=10, max_matching=2)
    assert statuses == {0: "PATCHED", 1: "PATCHED", 2: "PATCHED"}
    assert state == {"a": 11, "b": 10}

    # budget 1: a@0 spends it; a@1 free (yes→yes); b@2 CAP_EXCEEDED.
    statuses, state = _run(spark, base, entries, cap_thr=10, max_matching=1)
    assert statuses == {0: "PATCHED", 1: "PATCHED", 2: "CAP_EXCEEDED"}
    assert state == {"a": 11, "b": 0}

    # the inversion case proper: a@0 below the bar, a@1 crosses it,
    # b@2 crosses it. budget 1 → a@1 (earlier entry) wins, b@2 caps.
    entries = [("a", 1, None), ("a", 10, None), ("b", 10, None)]
    statuses, state = _run(spark, base, entries, cap_thr=10, max_matching=1)
    assert statuses == {0: "PATCHED", 1: "PATCHED", 2: "CAP_EXCEEDED"}
    assert state == {"a": 11, "b": 0}


def test_capped_entry_leaves_body_for_later_same_key_entry(spark):
    # a@1 caps (budget 0 after a@0... construct: budget 0 from the
    # start); the capped entry must leave the body unchanged so a@2's
    # condition and arithmetic see the ORIGINAL value.
    base = {"a": 0, "z": 50}  # z pre-matches, eating the whole budget
    entries = [("a", 10, None), ("a", -3, None)]
    # budget = max(0, 1 - 1) = 0: a@0 (0→10) caps, body stays 0;
    # a@1 (0→-3) is (no→no), proceeds on the UNCHANGED body.
    statuses, state = _run(spark, base, entries, cap_thr=10, max_matching=1)
    assert statuses == {0: "CAP_EXCEEDED", 1: "PATCHED"}
    assert state["a"] == -3


def test_yes_to_no_does_not_refund_budget(spark):
    # swamp_patch.go's only budget write is the decrement: a (yes→no)
    # patch proceeds but does NOT hand its slot to a later entry.
    base = {"a": 50, "b": 0, "c": 0}
    # budget = max(0, 1 - 1) = 0. a@0 drops below the bar (yes→no,
    # proceeds); b@1 then tries 0→10 and must still cap.
    entries = [("a", -45, None), ("b", 10, None)]
    statuses, state = _run(spark, base, entries, cap_thr=10, max_matching=1)
    assert statuses == {0: "PATCHED", 1: "CAP_EXCEEDED"}
    assert state == {"a": 5, "b": 0, "c": 0}


def test_duplicate_entries_on_created_key(spark):
    # "miss" is seeded at 0. m@0 fails its condition (seed 0 is not
    # < 0), so the row stays unsaved; m@1 applies and reports CREATED;
    # m@2 patches the now-live row (PATCHED). Budget 1: m@1 (0→10,
    # a seeded row never pre-matches) spends it; m@2 (10→12) is
    # (yes→yes), free; b@3 (0→10) caps.
    base = {"b": 0}
    entries = [("miss", 5, 0), ("miss", 10, None), ("miss", 2, None), ("b", 10, None)]
    statuses, state = _run(
        spark, base, entries, cap_thr=10, max_matching=1, create=True, seed=0
    )
    assert statuses == {
        0: "CONDITION_NOT_MET", 1: "CREATED", 2: "PATCHED", 3: "CAP_EXCEEDED",
    }
    assert state == {"b": 0, "miss": 12}
    assert (statuses, state) == _model(
        base, entries, 10, 1, create=True, seed=0
    )

    # every entry on a created key capped or failed: rolled back. z
    # pre-matches, so the budget is 0 and m@0 (0→10) caps; m@1 sees
    # the unchanged seed and fails its condition.
    entries = [("miss", 10, None), ("miss", 20, 0)]
    statuses, state = _run(
        spark, {"z": 50}, entries, cap_thr=10, max_matching=1, create=True, seed=0
    )
    assert statuses == {0: "CAP_EXCEEDED", 1: "CONDITION_NOT_MET"}
    assert state == {"z": 50}


def test_null_condition_is_not_met(spark):
    # a condition that evaluates to NULL (here on a NULL field) is not
    # met: the entry reports CONDITION_NOT_MET and leaves the row as is
    statuses, state = _run(spark, {"a": None}, [("a", 1, 5)], 10, 1)
    assert statuses == {0: "CONDITION_NOT_MET"}
    assert state == {"a": None}


def test_cap_requires_positive_max_matching(spark):
    df = spark.createDataFrame([Row(key="a", body={"n": 1})], SCHEMA)
    with pytest.raises(ValueError):
        patch_each_batch(
            spark,
            df,
            [("a", [PatchOp(PatchKind.INC, "n", 1)], None)],
            cap=Cap(Cmp("body.n", Op.GE, 5), 0),
        )


KEYS = ["a", "b", "c"]


@st.composite
def scenarios(draw):
    base_keys = draw(
        st.lists(st.sampled_from(KEYS), unique=True, min_size=1, max_size=3)
    )
    base = {k: draw(st.integers(min_value=0, max_value=20)) for k in base_keys}
    n_entries = draw(st.integers(min_value=1, max_value=6))
    entries = [
        (
            draw(st.sampled_from(KEYS + ["miss"])),
            draw(st.integers(min_value=-8, max_value=15)),
            draw(st.one_of(st.none(), st.integers(0, 20))),
        )
        for _ in range(n_entries)
    ]
    cap_thr = draw(st.integers(min_value=5, max_value=25))
    max_matching = draw(st.integers(min_value=1, max_value=4))
    create = draw(st.booleans())
    seed = draw(st.integers(min_value=0, max_value=20))
    return base, entries, cap_thr, max_matching, create, seed


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenarios())
def test_patch_each_cap_matches_sequential_model(spark, scenario):
    base, entries, cap_thr, max_matching, create, seed = scenario
    got_status, got_state = _run(
        spark, base, entries, cap_thr, max_matching, create, seed
    )
    want_status, want_state = _model(
        base, entries, cap_thr, max_matching, create, seed
    )
    assert got_status == want_status, scenario
    assert got_state == want_state, scenario
