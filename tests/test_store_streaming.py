"""Store + reactivity tests: snapshot versioning, per-key statuses,
change-event emission (no event for unchanged writes), subscribe
snapshot-then-live via a memory-sink streaming query, SubscribeToInfo
counts, and the TTL claim transaction's disjointness.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row, functions as F

from hydraide_spark.operators.mutate import PatchKind, PatchOp
from hydraide_spark.query import Cmp, Op
from hydraide_spark.sources.store import TreasureStore
from hydraide_spark.streaming import subscribe, subscribe_to_info


def make_store(spark, tmp_path, rows):
    store = TreasureStore(spark, str(tmp_path / "store"))
    store.init(spark.createDataFrame(rows, "key string, val long, expired_at timestamp"))
    return store


BASE = [
    Row(key="a", val=1, expired_at=datetime(2020, 1, 1)),
    Row(key="b", val=2, expired_at=datetime(2020, 1, 2)),
    Row(key="c", val=3, expired_at=None),  # §1.4: never claimable
]


def test_set_statuses_and_events(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    updates = spark.createDataFrame(
        [
            ("a", 10, datetime(2020, 1, 1)),  # changed
            ("b", 2, datetime(2020, 1, 2)),  # unchanged
            ("d", 4, None),  # new
        ],
        "key string, val long, expired_at timestamp",
    )
    statuses = {r["key"]: r["set_status"] for r in store.set(updates).collect()}
    assert statuses == {
        "a": "UPDATED",
        "b": "NOTHING_CHANGED",
        "c": "NOTHING_CHANGED",
        "d": "NEW",
    }
    state = {r["key"]: r["val"] for r in store.current().collect()}
    assert state == {"a": 10, "b": 2, "c": 3, "d": 4}

    # change log: exactly one event for a (UPDATED w/ old) and d (NEW),
    # none for the unchanged b/c (reference StatusSame => no event)
    ev = {r["key"]: r for r in store.changes().collect()}
    assert set(ev) == {"a", "d"}
    assert ev["a"]["op"] == "UPDATED"
    assert json.loads(ev["a"]["old"])["val"] == 1
    assert json.loads(ev["a"]["new"])["val"] == 10
    assert ev["d"]["op"] == "NEW" and ev["d"]["old"] is None


def test_insert_only_and_update_only(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    schema = "key string, val long, expired_at timestamp"
    updates = spark.createDataFrame(
        [("a", 99, None), ("x", 7, None)], schema
    )
    st = {r["key"]: r["set_status"] for r in store.set(updates, overwrite=False).collect()}
    assert st["a"] == "NOT_CREATED" and st["x"] == "NEW"
    # update-only: new keys refused
    st2 = {
        r["key"]: r["set_status"]
        for r in store.set(
            spark.createDataFrame([("y", 1, None)], schema),
            create_if_not_exist=False,
        ).collect()
    }
    assert st2["y"] == "NOT_CREATED"
    assert "y" not in {r["key"] for r in store.current().collect()}


def test_set_carries_per_key_metadata_columns(spark, tmp_path):
    """SetRequest's KeyValuePair carries optional per-key metadata
    (CreatedAt/CreatedBy/UpdatedAt/UpdatedBy/ExpiredAt, proto:983-999):
    in the engine these are ordinary columns in the update frame — Set
    persists them like any value, and the TTL lands in the same
    expired_at column the claims operators read."""
    from hydraide_spark.operators.claims import shift_expired

    store = TreasureStore(spark, str(tmp_path / "metastore"))
    schema = (
        "key string, val long, created_by string, updated_by string,"
        " expired_at timestamp"
    )
    store.init(spark.createDataFrame([], schema))
    st = store.set(
        spark.createDataFrame(
            [
                ("a", 1, "loader", None, datetime(2020, 1, 1)),
                ("b", 2, "loader", None, None),
            ],
            schema,
        )
    )
    assert {r["set_status"] for r in st.collect()} == {"NEW"}
    state = {r["key"]: r for r in store.current().collect()}
    assert state["a"]["created_by"] == "loader"
    assert state["a"]["expired_at"] == datetime(2020, 1, 1)
    # the Set-supplied TTL drives claimability directly
    claimed = shift_expired(store.current(), datetime(2021, 1, 1), 10)
    assert [r["key"] for r in claimed.collect()] == ["a"]


def test_delete_emits_tombstones(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    store.delete(["a", "nope"])
    assert {r["key"] for r in store.current().collect()} == {"b", "c"}
    ev = [r for r in store.changes().collect() if r["op"] == "DELETED"]
    assert len(ev) == 1 and ev[0]["key"] == "a"
    assert json.loads(ev[0]["old"])["val"] == 1  # shadow-delete payload


@pytest.mark.parametrize("n_absent", [0, 300])
def test_delete_keeps_null_key_row(spark, tmp_path, n_absent):
    """Delete removes only listed keys: a NULL-key row is never listed,
    below ISIN_THRESHOLD (isin filter) and above it (broadcast
    anti-join) alike — as increment leaves it in place."""
    rows = [("a", 1), (None, 2), ("c", 3)]
    store = TreasureStore(spark, str(tmp_path / "s"))
    store.init(spark.createDataFrame(rows, "key string, val long"))
    keys = ["a"] + [f"absent{i}" for i in range(n_absent)]
    assert [r["key"] for r in store.delete(keys).collect()] == ["a"]
    assert sorted(
        (r["val"], r["key"]) for r in store.current().collect()
    ) == [(2, None), (3, "c")]


def test_shift_expired_transaction(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    claimed = store.shift_expired(datetime(2021, 1, 1), how_many=1)
    keys = [r["key"] for r in claimed.collect()]
    assert keys == ["a"]  # oldest expired first; c (NULL) never claimable
    assert {r["key"] for r in store.current().collect()} == {"b", "c"}
    # second claim gets the NEXT row — disjoint sets
    claimed2 = store.shift_expired(datetime(2021, 1, 1), how_many=5)
    assert [r["key"] for r in claimed2.collect()] == ["b"]
    assert {r["key"] for r in store.current().collect()} == {"c"}


def test_patch_expired_lease_and_condition(spark, tmp_path):
    store = TreasureStore(spark, str(tmp_path / "store"))
    store.init(
        spark.createDataFrame(
            [
                Row(key="a", body=Row(retry=1), expired_at=datetime(2020, 1, 1)),
                Row(key="b", body=Row(retry=9), expired_at=datetime(2020, 1, 2)),
                Row(key="c", body=Row(retry=0), expired_at=datetime(2030, 1, 1)),
            ]
        )
    )
    now = datetime(2021, 1, 1)
    res = store.patch_expired(
        now,
        how_many=10,
        lease=timedelta(minutes=15),
        ops=[PatchOp(PatchKind.INC, "retry", 1)],
        condition=Cmp("body.retry", Op.LT, 3),
    )
    rows = {r["key"]: r for r in res.collect()}
    assert rows["a"]["patch_status"] == "PATCHED"
    assert rows["b"]["patch_status"] == "CONDITION_NOT_MET"
    state = {r["key"]: r for r in store.current().collect()}
    assert state["a"]["body"]["retry"] == 2
    assert state["a"]["expired_at"] == datetime(2021, 1, 1, 0, 15)  # slid to now+lease
    assert state["b"]["body"]["retry"] == 9  # untouched
    assert state["b"]["expired_at"] == datetime(2020, 1, 2)
    assert state["c"]["expired_at"] == datetime(2030, 1, 1)  # not yet expired


def test_subscribe_snapshot_then_live(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    store.set(spark.createDataFrame([("e", 5, None)], "key string, val long, expired_at timestamp"))
    store.delete(["a"])

    q = (
        subscribe(spark, store)
        .writeStream.format("memory")
        .queryName("events_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        ev = spark.sql(
            "SELECT batch_id, op, key FROM events_out ORDER BY batch_id"
        ).collect()
    finally:
        q.stop()
    # commit order preserved: NEW e (batch 1) before DELETED a (batch 2)
    assert [(r["op"], r["key"]) for r in ev] == [("NEW", "e"), ("DELETED", "a")]


def test_subscribe_to_info_live_count(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    # subscribe FIRST (snapshot: 3 rows at v0), then mutate
    info = subscribe_to_info(spark, store)
    store.set(spark.createDataFrame([("e", 5, None)], "key string, val long, expired_at timestamp"))  # +1
    store.delete(["a", "b"])  # -2
    q = (
        info.writeStream.format("memory")
        .queryName("info_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count FROM info_out").collect()[0]["count"]
    finally:
        q.stop()
    # 3 (snapshot) + 1 (NEW e) - 2 (DELETED a,b) == live count of state
    assert n == 2 == store.current().count()


def test_compact_and_destroy(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    updates = spark.createDataFrame(
        [("a", 10, datetime(2020, 1, 1))], "key string, val long, expired_at timestamp"
    )
    store.set(updates)
    store.delete(["b"])
    assert store.version == 2  # three snapshot dirs on disk

    removed = store.compact()
    assert removed == 2
    # reads still serve the latest state, change log untouched
    state = {r["key"]: r["val"] for r in store.current().collect()}
    assert state == {"a": 10, "c": 3}
    assert store.changes().count() == 2  # UPDATED a + DELETED b

    store.destroy()
    assert not store.exists()
    import os

    assert not os.path.isdir(store.root)


def test_windowed_event_rates_with_watermark(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    store.set(spark.createDataFrame([("e", 5, None)], "key string, val long, expired_at timestamp"))
    store.delete(["a", "b"])
    from hydraide_spark.streaming import windowed_event_rates

    rates = windowed_event_rates(spark, store, window_duration="10 minutes")
    q = (
        rates.writeStream.format("memory")
        .queryName("rates_out")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT op, n_events, n_keys FROM rates_out").collect()
    finally:
        q.stop()
    got = {r["op"]: (r["n_events"], r["n_keys"]) for r in rows}
    # both commits land inside one wall-clock window
    assert got["NEW"] == (1, 1)
    assert got["DELETED"] == (2, 2)


def test_stateful_key_activity(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    updates = "key string, val long, expired_at timestamp"
    store.set(spark.createDataFrame([("a", 10, None)], updates))  # UPDATED a
    store.set(spark.createDataFrame([("a", 11, None)], updates))  # UPDATED a again
    store.delete(["b"])  # DELETED b
    from hydraide_spark.streaming import stateful_key_activity

    out = stateful_key_activity(spark, store)
    q = (
        out.writeStream.format("memory")
        .queryName("activity_out")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT key, n_mutations, alive FROM activity_out"
        ).collect()
    finally:
        q.stop()
    # update mode may emit once per micro-batch and the memory sink has
    # no ordering guarantee; n_mutations is monotonic, so the final
    # state is the row with the max count per key
    final = {}
    for r in rows:
        cur = final.get(r["key"])
        if cur is None or r["n_mutations"] > cur[0]:
            final[r["key"]] = (r["n_mutations"], r["alive"])
    assert final["a"] == (2, True)  # two UPDATEDs, still alive
    assert final["b"] == (1, False)  # one DELETED, dead


def test_ttl_claim_loop_drains_expired(spark, tmp_path):
    import time as _time

    store = make_store(spark, tmp_path, BASE)
    from hydraide_spark.streaming import run_ttl_claim_loop

    claimed_keys = []

    def on_claim(df, epoch):
        claimed_keys.extend(r["key"] for r in df.collect())

    q = run_ttl_claim_loop(spark, store, how_many=1, on_claim=on_claim)
    try:
        deadline = _time.time() + 60
        # a & b are expired (2020); c has NULL expired_at -> never claimable.
        # how_many=1 => drained one per tick, so order is oldest-first.
        while len(claimed_keys) < 2 and _time.time() < deadline:
            _time.sleep(0.5)
    finally:
        q.stop()
    assert claimed_keys[:2] == ["a", "b"]  # oldest expiry first
    remaining = [r["key"] for r in store.current().collect()]
    assert remaining == ["c"]


def test_streaming_session_window_over_events(spark, tmp_path):
    """The batch session_windows golden runs the same expression under
    Structured Streaming: append mode + watermark, sessions emit only
    after the watermark passes their end (late data contract)."""
    import os
    from hydraide_spark.sources.store import CHANGE_SCHEMA

    changes = str(tmp_path / "changes")
    os.makedirs(changes)

    def write_batch(fname, rows):
        spark.createDataFrame(rows, CHANGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(changes)

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    # key a: two events 1 min apart (one session); key b: one event
    write_batch(
        "b1",
        [
            (0, "NEW", "a", None, None, t0),
            (0, "UPDATED", "a", None, None, t0 + timedelta(minutes=1)),
            (0, "NEW", "b", None, None, t0),
        ],
    )
    # watermark pusher: an event 1 hour later closes the sessions above
    write_batch("b2", [(1, "NEW", "c", None, None, t0 + timedelta(hours=1))])

    ev = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # two batches: advance, then emit
        .parquet(changes)
        .withWatermark("event_time", "10 seconds")
    )
    sess = ev.groupBy(
        F.session_window("event_time", "5 minutes").alias("sw"), F.col("key")
    ).count()
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT key, count FROM sess_out").collect()
    finally:
        q.stop()
    finalized = {r["key"]: r["count"] for r in rows}
    # a and b finalized by the hour-later watermark; c still open
    assert finalized == {"a": 2, "b": 1}


def test_store_increment_transaction(spark, tmp_path):
    store = make_store(spark, tmp_path, BASE)
    res = {
        r["key"]: (r["old_value"], r["new_value"], r["applied"])
        for r in store.increment(
            ["a", "b"], "val", 10, condition=Cmp("val", Op.LT, 2)
        ).collect()
    }
    assert res["a"] == (1, 11, True)  # val 1 < 2 -> applied
    assert res["b"] == (2, 2, False)  # val 2 not < 2 -> unapplied
    state = {r["key"]: r["val"] for r in store.current().collect()}
    assert state == {"a": 11, "b": 2, "c": 3}
    ev = [r["key"] for r in store.changes().collect() if r["op"] == "UPDATED"]
    assert ev == ["a"]  # no event for the unapplied increment


def test_store_increment_create_and_stamp(spark, tmp_path):
    """Get-or-create increment with metadata stamping (proto:1591,
    swamp.go:1219,1277-1280): missing key 'x' is created at 0, stamped
    with SetIfNotExist; existing applied key 'a' is stamped with
    SetIfExist; unapplied existing 'b' keeps its state unstamped."""
    from hydraide_spark.operators.mutate import IncrementMeta

    store = make_store(spark, tmp_path, BASE)
    now = 1_700_000_000_000_000
    res = {
        r["key"]: r
        for r in store.increment(
            ["a", "b", "x"],
            "val",
            10,
            condition=Cmp("val", Op.LT, 2),
            create_if_not_exist=True,
            meta_if_not_exist=IncrementMeta(created_at=True, created_by="mk"),
            meta_if_exist=IncrementMeta(updated_at=True, updated_by="up"),
            now_us=now,
        ).collect()
    }
    assert (res["a"]["old_value"], res["a"]["new_value"], res["a"]["applied"]) == (1, 11, True)
    assert (res["b"]["old_value"], res["b"]["applied"]) == (2, False)
    # created key: starts at 0, 0 < 2 -> applied, created flag set
    assert (res["x"]["old_value"], res["x"]["new_value"], res["x"]["created"]) == (0, 10, True)
    # response metadata: created keys take SetIfNotExist, existing SetIfExist
    assert (res["x"]["created_at_us"], res["x"]["created_by"]) == (now, "mk")
    assert (res["a"]["updated_at_us"], res["a"]["updated_by"]) == (now, "up")
    assert res["a"]["created_at_us"] is None and res["x"]["updated_by"] is None

    state = {r["key"]: r for r in store.current().collect()}
    assert state["a"]["val"] == 11 and state["b"]["val"] == 2
    assert state["x"]["val"] == 10 and state["x"]["expired_at"] is None
    # persisted stamps: written rows only (created + applied-existing)
    assert state["x"]["created_by"] == "mk" and state["a"]["updated_by"] == "up"
    assert state["b"]["updated_by"] is None and state["b"]["updated_at_us"] is None
    # events: UPDATED for the applied existing row, NEW for the created
    ev = {(r["key"], r["op"]) for r in store.changes().collect() if r["op"] != "NEW" or r["key"] == "x"}
    assert ("a", "UPDATED") in ev and ("x", "NEW") in ev
    assert not any(k == "b" for k, _ in ev if _ == "UPDATED")


def test_store_increment_condition_on_other_column_and_dup_keys(spark, tmp_path):
    """Two regressions caught in review: (1) keys-mode increment must
    keep the FULL base width so conditions can reference any column
    (here: expired_at, not the value); (2) duplicate entries in the
    key list must not double result rows or duplicate persisted keys."""
    store = make_store(spark, tmp_path, BASE)
    res = store.increment(
        ["a", "a", "c", "c"],  # duplicates on an applied and a filtered key
        "val",
        5,
        condition=Cmp("expired_at", Op.LT, datetime(2021, 1, 1)),  # non-value col
    ).collect()
    assert len(res) == 2  # deduped: one row per distinct key
    by_key = {r["key"]: r for r in res}
    # a: expired_at 2020-01-01 < 2021 -> applied; c: NULL -> not applied
    assert by_key["a"]["applied"] and by_key["a"]["new_value"] == 6
    assert not by_key["c"]["applied"] and by_key["c"]["new_value"] == 3
    state = store.current().collect()
    assert len(state) == 3  # no duplicated key rows persisted
    vals = {r["key"]: r["val"] for r in state}
    assert vals == {"a": 6, "b": 2, "c": 3}


def test_store_patch_transaction_create_seed_meta(spark, tmp_path):
    """TreasureStore.patch — the PatchTreasures RPC as a transaction:
    per-key PatchResult codes (proto:3192-3249), CreateIfNotExist +
    seed body, PatchMeta stamping, UPDATED/NEW events."""
    from hydraide_spark.operators.mutate import PatchKind, PatchMeta, PatchOp

    store = TreasureStore(spark, str(tmp_path / "patchstore"))
    store.init(
        spark.createDataFrame(
            [("a", (1, "x")), ("b", (9, "y"))],
            "key string, body struct<n:bigint,tag:string>",
        )
    )
    res = store.patch(
        ["a", "b", "new1", "ghost"],
        [PatchOp(PatchKind.INC, "n", 10)],
        condition=Cmp("body.n", Op.LT, 5),
        create_if_not_exist=False,
        meta=PatchMeta(updated_at=True, updated_by="p"),
        now_us=1_700_000_000_000_000,
    )
    st = {r["key"]: r["patch_status"] for r in res.collect()}
    assert st == {
        "a": "PATCHED",            # n=1 < 5
        "b": "CONDITION_NOT_MET",  # n=9
        "new1": "KEY_NOT_FOUND",
        "ghost": "KEY_NOT_FOUND",
    }
    state = {r["key"]: r for r in store.current().collect()}
    assert state["a"]["body"]["n"] == 11 and state["a"]["updated_by"] == "p"
    assert state["b"]["body"]["n"] == 9 and state["b"]["updated_by"] is None

    # second call: create with seed; seed n=0 passes the condition
    res2 = store.patch(
        ["new1"],
        [PatchOp(PatchKind.INC, "n", 10)],
        condition=Cmp("body.n", Op.LT, 5),
        create_if_not_exist=True,
        seed_body=(0, "seeded"),
    )
    assert [r["patch_status"] for r in res2.collect()] == ["CREATED"]
    state = {r["key"]: r for r in store.current().collect()}
    assert state["new1"]["body"]["n"] == 10
    assert state["new1"]["body"]["tag"] == "seeded"
    ev = [(r["key"], r["op"]) for r in store.changes().collect()]
    assert ("a", "UPDATED") in ev and ("new1", "NEW") in ev
    assert not any(k == "b" for k, op in ev if op == "UPDATED")

    # Cap quota (proto:3023-3040, swamp_patch.go PatchFields): budget =
    # max_matching - currently-matching, and only (no→yes) transitions
    # consume it. a(11) and new1(10) already match n>=10 -> budget 0;
    # a is a (yes→yes) idempotent patch and PROCEEDS, b would be the
    # (no→yes) transition and is the only CAP_EXCEEDED; accepted keys
    # commit (per-key rejection, not whole-request).
    from hydraide_spark.operators.claims import Cap

    v_before = store.version
    res3 = store.patch(
        ["a", "b", "nope"],
        [PatchOp(PatchKind.SET, "n", 99)],
        cap=Cap(Cmp("body.n", Op.GE, 10), 2),  # a(11), new1(10) already match
    )
    st3 = {r["key"]: r["patch_status"] for r in res3.collect()}
    assert st3 == {"a": "PATCHED", "b": "CAP_EXCEEDED", "nope": "KEY_NOT_FOUND"}
    assert store.version == v_before + 1  # accepted keys committed
    assert {r["key"]: r["body"]["n"] for r in store.current().collect()} == {
        "a": 99, "b": 9, "new1": 10,
    }


def test_store_patch_cap_budget_order_and_create_rollback(spark, tmp_path):
    """The two reference behaviors from the round-7 advice: (1) the
    (no→yes) budget is consumed in REQUEST ORDER with per-key
    rejection (gateway_patch.go capPreCount + swamp_patch.go
    PatchFields); (2) a created row whose condition fails — or that
    loses the cap race — is rolled back, never persisted, no event
    (swamp_patch.go deferred creatingTreasures.Delete)."""
    from hydraide_spark.operators.claims import Cap
    from hydraide_spark.operators.mutate import PatchKind, PatchOp

    store = TreasureStore(spark, str(tmp_path / "capstore"))
    store.init(
        spark.createDataFrame(
            [("m1", (50, "m")), ("u1", (1, "u")), ("u2", (2, "u")),
             ("u3", (3, "u")), ("shrink", (60, "s"))],
            "key string, body struct<n:bigint,tag:string>",
        )
    )
    # currently matching n>=10: m1, shrink -> pre=2, max=4 -> budget 2.
    # Request order: u1, u2, u3 all try no→yes; shrink goes yes→no.
    res = store.patch(
        ["u1", "u2", "u3", "shrink"],
        [PatchOp(PatchKind.INC, "n", 40)],  # u*: n -> 41..43; shrink -> 100
        cap=Cap(Cmp("body.n", Op.GE, 10), 4),
    )
    st = {r["key"]: r["patch_status"] for r in res.collect()}
    # first two transitions in request order win the budget
    assert st == {
        "u1": "PATCHED", "u2": "PATCHED", "u3": "CAP_EXCEEDED",
        "shrink": "PATCHED",  # yes→yes (100>=10): no budget consumed
    }
    vals = {r["key"]: r["body"]["n"] for r in store.current().collect()}
    assert vals == {"m1": 50, "u1": 41, "u2": 42, "u3": 3, "shrink": 100}
    # u3's row reverted entirely (no meta stamp, no event)
    ev_keys = {r["key"] for r in store.changes().collect()}
    assert "u3" not in ev_keys and {"u1", "u2", "shrink"} <= ev_keys

    # (2) create_if_not_exist + failing condition -> rollback
    res2 = store.patch(
        ["cnew", "cgood"],
        [PatchOp(PatchKind.INC, "n", 1)],
        condition=Cmp("body.n", Op.GE, 100),  # seed n=0 fails
        create_if_not_exist=True,
        seed_body=(0, "seed"),
    )
    st2 = {r["key"]: r["patch_status"] for r in res2.collect()}
    assert st2 == {"cnew": "CONDITION_NOT_MET", "cgood": "CONDITION_NOT_MET"}
    keys_now = {r["key"] for r in store.current().collect()}
    assert "cnew" not in keys_now and "cgood" not in keys_now
    assert not any(r["key"] in ("cnew", "cgood") for r in store.changes().collect())

    # created rows that PASS the condition consume budget as (no→yes)
    # when they match the cap filter post-op (isCreate => preMatched
    # false, swamp_patch.go:250-252)
    res3 = store.patch(
        ["cbig1", "cbig2"],
        [PatchOp(PatchKind.INC, "n", 100)],
        create_if_not_exist=True,
        seed_body=(0, "c"),
        cap=Cap(Cmp("body.n", Op.GE, 10), 6),
    )
    st3 = {r["key"]: r["patch_status"] for r in res3.collect()}
    # pre-count: m1(50), shrink(100), u1(41), u2(42) = 4 -> budget 2,
    # both creates fit
    assert st3 == {"cbig1": "CREATED", "cbig2": "CREATED"}
    res4 = store.patch(
        ["cbig3", "cbig4"],
        [PatchOp(PatchKind.INC, "n", 100)],
        create_if_not_exist=True,
        seed_body=(0, "c"),
        cap=Cap(Cmp("body.n", Op.GE, 10), 7),  # pre=6 -> budget 1
    )
    st4 = {r["key"]: r["patch_status"] for r in res4.collect()}
    assert st4 == {"cbig3": "CREATED", "cbig4": "CAP_EXCEEDED"}
    keys_now = {r["key"] for r in store.current().collect()}
    assert "cbig3" in keys_now and "cbig4" not in keys_now  # capped create rolled back


@pytest.mark.parametrize("n_buckets", [None, 8], ids=["flat", "bucketed8"])
def test_store_patch_delete_without_condition(spark, tmp_path, n_buckets):
    """An unconditional DELETE through ``TreasureStore.patch`` nulls the
    field on every listed row, exactly like the same op through
    ``patch_each`` (the body schema stays uniform across rows, so the
    untouched rows keep their value)."""
    store = TreasureStore(spark, str(tmp_path / "delstore"), n_buckets=n_buckets)
    store.init(
        spark.createDataFrame(
            [("a", (1, "x")), ("b", (2, "y")), ("c", (3, "z"))],
            "key string, body struct<n:bigint,tag:string>",
        )
    )
    res = store.patch(["a", "b"], [PatchOp(PatchKind.DELETE, "tag")])
    assert {r["key"]: r["patch_status"] for r in res.collect()} == {
        "a": "PATCHED", "b": "PATCHED",
    }
    state = {r["key"]: r["body"] for r in store.current().collect()}
    assert state["a"]["tag"] is None and state["a"]["n"] == 1
    assert state["b"]["tag"] is None and state["b"]["n"] == 2
    assert state["c"]["tag"] == "z" and state["c"]["n"] == 3
    ev = sorted((r["key"], r["op"]) for r in store.changes().collect())
    assert ev == [("a", "UPDATED"), ("b", "UPDATED")]


def test_store_patch_each_per_key_oplists(spark, tmp_path):
    """patch_each: the RPC's exact per-key TreasurePatch shape — every
    key with its own op-list + condition, one transaction, one version
    write, conditions bound to the ORIGINAL body."""
    from hydraide_spark.operators.mutate import PatchKind, PatchMeta, PatchOp

    store = TreasureStore(spark, str(tmp_path / "eachstore"))
    store.init(
        spark.createDataFrame(
            [("a", (1, "x")), ("b", (2, "y")), ("c", (9, "z"))],
            "key string, body struct<n:bigint,tag:string>",
        )
    )
    v0 = store.version
    res = store.patch_each(
        [
            ("a", [PatchOp(PatchKind.INC, "n", 100)], None),
            ("b", [PatchOp(PatchKind.SET, "tag", "bee")], Cmp("body.n", Op.LT, 5)),
            ("c", [PatchOp(PatchKind.SET, "tag", "sea")], Cmp("body.n", Op.LT, 5)),
            ("nope", [PatchOp(PatchKind.INC, "n", 1)], None),
        ],
        meta=PatchMeta(updated_at=True),
        now_us=1_700_000_000_000_000,
    )
    st = {r["key"]: r["patch_status"] for r in res.collect()}
    assert st == {
        "a": "PATCHED",
        "b": "PATCHED",            # n=2 < 5
        "c": "CONDITION_NOT_MET",  # n=9
        "nope": "KEY_NOT_FOUND",
    }
    assert store.version == v0 + 1  # ONE version write for the batch
    state = {r["key"]: r for r in store.current().collect()}
    assert state["a"]["body"]["n"] == 101
    assert state["b"]["body"]["tag"] == "bee"
    assert state["c"]["body"]["tag"] == "z"  # untouched
    assert state["a"]["updated_at_us"] == 1_700_000_000_000_000
    assert state["c"]["updated_at_us"] is None
    ev = [(r["key"], r["op"]) for r in store.changes().collect()]
    assert ("a", "UPDATED") in ev and ("b", "UPDATED") in ev
    assert not any(k == "c" for k, _ in ev)


def test_store_patch_each_duplicate_keys_sequential(spark, tmp_path):
    """proto:2995-3001: duplicate keys run sequentially in declaration
    order, each patch observing the prior patch's mutated body — the
    documented partial-accept-counter pattern (five Inc(+1) under
    'n < 3' stop cleanly at the cap). Response has one row PER PATCH
    ENTRY in request order."""
    from hydraide_spark.operators.mutate import PatchKind, PatchMeta, PatchOp

    store = TreasureStore(spark, str(tmp_path / "dupstore"))
    store.init(
        spark.createDataFrame(
            [("ctr", (0, "x")), ("other", (7, "y"))],
            "key string, body struct<n:bigint,tag:string>",
        )
    )
    v0 = store.version
    inc = [PatchOp(PatchKind.INC, "n", 1)]
    under3 = Cmp("body.n", Op.LT, 3)
    res = store.patch_each(
        [("ctr", inc, under3)] * 5 + [("other", inc, None)]
    )
    rows = sorted(res.collect(), key=lambda r: r["patch_index"])
    assert [r["patch_status"] for r in rows] == [
        "PATCHED", "PATCHED", "PATCHED",          # n: 0→1→2→3
        "CONDITION_NOT_MET", "CONDITION_NOT_MET",  # 3 < 3 fails
        "PATCHED",                                 # other
    ]
    assert [r["patch_index"] for r in rows] == [0, 1, 2, 3, 4, 5]
    assert store.version == v0 + 1  # still ONE version write
    state = {r["key"]: r["body"]["n"] for r in store.current().collect()}
    assert state == {"ctr": 3, "other": 8}


def test_store_patch_each_per_patch_meta_overrides(spark, tmp_path):
    """proto:3063-3070: a per-patch Meta fully REPLACES the
    request-level Meta for that patch (no merging); per-key ExpiredAt
    slides are the proto's stated use case."""
    from datetime import timezone

    from hydraide_spark.operators.mutate import PatchKind, PatchMeta, PatchOp

    store = TreasureStore(spark, str(tmp_path / "metastore"))
    store.init(
        spark.createDataFrame(
            [("d1", (1, "a"), datetime(2020, 1, 1)),
             ("d2", (2, "b"), datetime(2020, 1, 1)),
             ("d3", (3, "c"), datetime(2020, 1, 1))],
            "key string, body struct<n:bigint,tag:string>, expired_at timestamp",
        )
    )
    t1 = 1_800_000_000_000_000
    t2 = 1_900_000_000_000_000
    inc = [PatchOp(PatchKind.INC, "n", 1)]
    res = store.patch_each(
        [
            ("d1", inc, None),  # request-level meta applies
            ("d2", inc, None, PatchMeta(set_expired_at=t2)),  # REPLACES: no updated_by
            ("d3", inc, None, PatchMeta(clear_expired_at=True, updated_by="p3")),
        ],
        meta=PatchMeta(updated_at=True, updated_by="req", set_expired_at=t1),
        now_us=1_700_000_000_000_000,
    )
    assert {r["key"]: r["patch_status"] for r in res.collect()} == {
        "d1": "PATCHED", "d2": "PATCHED", "d3": "PATCHED",
    }
    state = {r["key"]: r for r in store.current().collect()}

    def us(ts):
        return None if ts is None else int(
            ts.replace(tzinfo=timezone.utc).timestamp() * 1_000_000
        )

    assert state["d1"]["updated_by"] == "req"
    assert state["d1"]["updated_at_us"] == 1_700_000_000_000_000
    assert us(state["d1"]["expired_at"]) == t1
    # d2: per-patch meta replaced the request meta entirely
    assert state["d2"]["updated_by"] is None
    assert state["d2"]["updated_at_us"] is None
    assert us(state["d2"]["expired_at"]) == t2
    # d3: clear precedence + own updated_by
    assert state["d3"]["updated_by"] == "p3"
    assert state["d3"]["expired_at"] is None


def test_many_fanout_claims_tagged_per_swamp(spark, tmp_path):
    """*Many RPCs (ShiftExpiredTreasuresMany etc.): per-store loop —
    each swamp claims under ITS OWN transaction; results union with a
    swamp tag; how_many applies per swamp."""
    from hydraide_spark.sources.store import shift_expired_many

    s1 = TreasureStore(spark, str(tmp_path / "s1"))
    s1.init(
        spark.createDataFrame(
            [("a", 1, datetime(2020, 1, 1)), ("b", 2, datetime(2020, 1, 2))],
            "key string, val long, expired_at timestamp",
        )
    )
    s2 = TreasureStore(spark, str(tmp_path / "s2"))
    s2.init(
        spark.createDataFrame(
            [("x", 7, datetime(2020, 6, 1)), ("y", 8, None)],
            "key string, val long, expired_at timestamp",
        )
    )
    out = shift_expired_many(
        {"sw1": s1, "sw2": s2}, datetime(2021, 1, 1), how_many=1
    )
    got = {(r["swamp"], r["key"]) for r in out.collect()}
    # one claim PER swamp, oldest-expired-first, NULL never claimable
    assert got == {("sw1", "a"), ("sw2", "x")}
    assert s1.current().count() == 1 and s2.current().count() == 1


def test_store_uint32slice_transactions(spark, tmp_path):
    store = TreasureStore(spark, str(tmp_path / "store"))
    store.init(
        spark.createDataFrame(
            [("k1", [1, 2]), ("k2", [3])], "key string, ids array<bigint>"
        )
    )
    out = {r["key"] for r in store.uint32slice_push(["k1", "k2"], [2, 4]).collect()}
    assert out == {"k1", "k2"}  # k1 gains 4 (2 deduped), k2 gains 2 and 4
    state = {r["key"]: r["ids"] for r in store.current().collect()}
    assert state == {"k1": [1, 2, 4], "k2": [3, 2, 4]}

    # deleting a missing value changes nothing -> no event, no result row
    out2 = {r["key"] for r in store.uint32slice_delete(["k1"], [99]).collect()}
    assert out2 == set()
    out3 = {r["key"] for r in store.uint32slice_delete(["k1", "k2"], [2]).collect()}
    assert out3 == {"k1", "k2"}
    state = {r["key"]: r["ids"] for r in store.current().collect()}
    assert state == {"k1": [1, 4], "k2": [3, 4]}
    n_events = store.changes().filter(F.col("op") == "UPDATED").count()
    assert n_events == 4  # push: k1+k2; delete(2): k1+k2; delete(99): none


def test_partitioned_store_layout(spark, tmp_path):
    import os

    store = TreasureStore(spark, str(tmp_path / "pstore"), partition_by=["swamp"])
    store.init(
        spark.createDataFrame(
            [("s1", "a", 1), ("s1", "b", 2), ("s2", "c", 3)],
            "swamp string, key string, val long",
        )
    )
    # namespace sharding is visible on disk: one directory per swamp
    v0 = os.path.join(store.root, "v=0")
    assert sorted(d for d in os.listdir(v0) if d.startswith("swamp=")) == [
        "swamp=s1",
        "swamp=s2",
    ]
    # mutations keep the layout and full semantics
    store.set(
        spark.createDataFrame([("s2", "c", 30)], "swamp string, key string, val long")
    )
    v1 = os.path.join(store.root, "v=1")
    assert "swamp=s2" in os.listdir(v1)
    state = {r["key"]: r["val"] for r in store.current().collect()}
    assert state == {"a": 1, "b": 2, "c": 30}


def test_streaming_exact_dedup_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate fingerprints arriving in
    later micro-batches (within the watermark horizon) are suppressed;
    each distinct key is emitted exactly once."""
    from hydraide_spark.streaming import streaming_exact_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    schema = "doc_id long, fp string, ts timestamp"
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    # batch 1: two distinct docs; batch 2: one dup of fp=A + one new
    spark.createDataFrame(
        [(1, "A", t0), (2, "B", t0 + timedelta(seconds=10))], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(3, "A", t0 + timedelta(seconds=20)), (4, "C", t0 + timedelta(seconds=30))],
        schema,
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    deduped = streaming_exact_dedup(stream, ["fp"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT fp FROM dedup_out").collect()
    finally:
        q.stop()
    fps = sorted(r["fp"] for r in rows)
    assert fps == ["A", "B", "C"]  # the second A was suppressed


def test_neardup_ingest_loop_converges_to_batch(spark, tmp_path):
    """The streaming per-ingest near-dup (persisted banded index +
    shingle table, delta-probes-index per micro-batch) must produce
    EXACTLY the batch pipeline's pair set once all docs have streamed —
    the incremental ≡ batch route-equivalence, now across the persisted
    state boundary. Docs arrive in 3 micro-batches with near-dup pairs
    WITHIN a batch, ACROSS adjacent batches, and across the full span."""
    from hydraide_spark.functions.dedup import minhash_neardup_pairs
    from hydraide_spark.streaming import ingested_pairs, start_loop
    from hydraide_spark.streaming.dedup_stream import make_ingest

    base_a = "the quick brown fox jumps over the lazy dog again and again"
    base_b = "completely different words live in this other document body"
    batches = [
        [(1, base_a), (2, base_a + " ok"), (3, "unique one two three four")],
        [(4, base_a), (5, base_b), (6, "another singleton text here now")],
        [(7, base_b + " extra"), (8, base_a + " ok"), (9, base_b)],
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    schema = "doc_id long, text string"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "neardup_state")
    q = start_loop(
        stream,
        make_ingest(spark, state, tau=0.6),
        "neardup_ingest",
        os.path.join(state, "_checkpoint"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["id_a"], r["id_b"], r["inter"], r["union"])
        for r in ingested_pairs(spark, state).collect()
    }
    full = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    batch_pairs = {
        (r["id_a"], r["id_b"], r["inter"], r["union"])
        for r in minhash_neardup_pairs(full, tau=0.6, n=3, k=16, bands=4).collect()
    }
    assert streamed == batch_pairs
    # sanity: cross-batch pairs were actually exercised
    cross = {(a, b) for a, b, _, _ in streamed if (a <= 3) != (b <= 3)}
    assert cross, "test corpus produced no cross-batch pair"
    # no duplicate discoveries across batches
    rows = ingested_pairs(spark, state).collect()
    assert len(rows) == len({(r["id_a"], r["id_b"]) for r in rows})


def test_neardup_ingest_retried_epoch_is_idempotent(spark, tmp_path):
    """r7 advice: a retried micro-batch must not duplicate rows in
    pairs/bands/shingles. The ingest writes are epoch-keyed overwrites,
    so replaying an epoch — including after its index writes landed —
    leaves every table exactly as a single clean run would."""
    from hydraide_spark.functions.dedup import minhash_neardup_pairs
    from hydraide_spark.streaming import ingested_pairs
    from hydraide_spark.streaming.dedup_stream import make_ingest

    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    b0 = spark.createDataFrame([(1, base), (2, base + " ok")], schema)
    b1 = spark.createDataFrame([(3, base), (4, "unrelated words here")], schema)
    state = str(tmp_path / "retry_state")
    ingest = make_ingest(spark, state, tau=0.6)

    ingest(b0, 0)
    # epoch 1 runs fully, then is RETRIED (driver restart after all
    # writes landed but before the offset commit — the worst case: its
    # own bands are already in the index when the retry probes)
    ingest(b1, 1)
    clean = sorted(
        (r["id_a"], r["id_b"], r["inter"], r["union"])
        for r in ingested_pairs(spark, state).collect()
    )
    ingest(b1, 1)  # retry
    retried = sorted(
        (r["id_a"], r["id_b"], r["inter"], r["union"])
        for r in ingested_pairs(spark, state).collect()
    )
    assert retried == clean and len(clean) == len(set(clean))
    # index tables also deduplicated: a fresh epoch still pairs
    # correctly against an index containing exactly one copy of 1..4
    ingest(spark.createDataFrame([(5, base + " ok")], schema), 2)
    final = {
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    }
    full = spark.createDataFrame(
        [(1, base), (2, base + " ok"), (3, base), (4, "unrelated words here"),
         (5, base + " ok")],
        schema,
    )
    expect = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(full, tau=0.6, n=3, k=16, bands=4).collect()
    }
    assert final == expect


def test_index_maintenance_loop_incremental_postings(spark, tmp_path):
    """Streaming reverse-index maintenance: per-batch merges converge to
    the same posting lists a full batch build produces, with Uint32Slice
    push semantics (NEW word -> NEW event, grown list -> UPDATED, re-add
    of existing ids -> no event)."""
    from hydraide_spark.streaming import run_index_maintenance_loop

    store = TreasureStore(spark, str(tmp_path / "idx"))
    store.init(
        spark.createDataFrame([], "key string, ids array<bigint>")
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "spark query engine"), (2, "query planner")], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(3, "query engine rewrite"), (1, "spark query engine")], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = run_index_maintenance_loop(store, stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["key"]: list(r["ids"]) for r in store.current().collect()}
    assert got == {
        "spark": [1],
        "query": [1, 2, 3],
        "engine": [1, 3],
        "planner": [2],
        "rewrite": [3],
    }
    # events: batch1 all NEW; batch2: engine/query UPDATED, rewrite NEW,
    # and doc 1's re-push of (spark,1) etc. emits NOTHING (no event).
    ev = [(r["op"], r["key"]) for r in store.changes().collect()]
    assert ("NEW", "rewrite") in ev
    assert ("UPDATED", "engine") in ev and ("UPDATED", "query") in ev
    assert ("UPDATED", "spark") not in ev and ev.count(("NEW", "spark")) == 1


@pytest.mark.parametrize("loop", ["rollup", "dsir"])
def test_merge_loop_restart_leaves_store_unchanged(spark, tmp_path, loop):
    """A store-merge loop restarted on the same store and source with
    no new files changes nothing: it resumes from its checkpoint at
    ``store.root/_checkpoint`` instead of replaying the source into
    the store (a replay doubles every additive rollup window)."""
    from hydraide_spark.streaming.rollup import (
        run_dsir_count_maintenance_loop,
        run_rollup_maintenance_loop,
    )

    store = TreasureStore(spark, str(tmp_path / loop))
    if loop == "rollup":
        store.init(
            spark.createDataFrame(
                [],
                "key string, window_start timestamp, event_type string,"
                " n_events bigint, total decimal(28,6)",
            )
        )
        schema = "event_id long, ts timestamp, event_type string, value double"
        h0 = datetime(2024, 3, 1, 10, 0, 0)
        batches = [
            [(1, h0, "click", 1.5), (2, h0.replace(minute=30), "click", 2.5)],
            [(3, h0.replace(hour=11), "view", 1.0)],
        ]

        def start(stream):
            return run_rollup_maintenance_loop(store, stream)

    else:
        store.init(spark.createDataFrame([], "key string, bucket bigint, n bigint"))
        schema = "doc_id long, text string"
        batches = [[(1, "alpha beta gamma alpha")], [(2, "zig zag beta")]]

        def start(stream):
            return run_dsir_count_maintenance_loop(store, stream, n_buckets=16, salt="s")

    src = tmp_path / "in"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = start(stream)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(tuple(r) for r in store.current().collect())

    first = run()
    assert len(first) >= 2
    assert run() == first


def test_rollup_maintenance_converges_to_batch_recompute(spark, tmp_path):
    """Continuous aggregate: per-batch partial-agg + associative merge
    over the store equals a from-scratch rollup of all events; only
    touched windows emit change events."""
    from hydraide_spark.streaming import rollup_batch, run_rollup_maintenance_loop

    store = TreasureStore(spark, str(tmp_path / "rollup"))
    store.init(
        spark.createDataFrame(
            [],
            "key string, window_start timestamp, event_type string,"
            " n_events bigint, total decimal(28,6)",
        )
    )
    src = tmp_path / "ev_in"
    src.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    h0 = datetime(2024, 3, 1, 10, 0, 0)
    b1 = [(1, h0, "click", 1.5), (2, h0.replace(minute=30), "click", 2.5),
          (3, h0.replace(hour=11), "view", 1.0)]
    b2 = [(4, h0.replace(minute=45), "click", 4.0),  # grows the 10:00/click window
          (5, h0.replace(hour=12), "view", 9.0)]     # new window
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
    )
    q = run_rollup_maintenance_loop(store, stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["key"]: (r["n_events"], float(r["total"]))
        for r in store.current().collect()
    }
    full = spark.createDataFrame(b1 + b2, schema)
    exp = {
        r["key"]: (r["n_events"], float(r["total"]))
        for r in rollup_batch(full).collect()
    }
    assert got == exp and len(got) == 3

    # the second batch must NOT have rewritten/evented the 11:00 view
    # window (untouched), but must have UPDATED 10:00/click.
    ev = [(r["op"], r["key"], r["batch_id"]) for r in store.changes().collect()]
    last_batch = max(b for _, _, b in ev)
    touched_last = {k for op, k, b in ev if b == last_batch}
    assert any(k.startswith("2024-03-01 10:00:00") and "click" in k for k in touched_last)
    assert not any("view" in k and "11:00:00" in k for k in touched_last)


def test_streaming_curation_gates_are_stream_composable(spark, tmp_path):
    """The batch curation gates (model-based quality logit + lang id +
    content-hash fingerprint) are pure column expressions, so they
    compose unchanged into a streaming ingest: per-micro-batch the
    stream emits only kept docs with their fingerprint for downstream
    watermark dedup. Verifies the streamed verdicts equal the batch
    verdicts row-for-row."""
    from pyspark.sql import functions as F

    from hydraide_spark.functions.text import lang_id, quality_logit

    src = tmp_path / "cur_in"
    src.mkdir()
    schema = "doc_id long, text string"
    rows1 = [
        (1, "the quick brown dog runs to the old stone bridge and waits"),
        (2, "999 111 222 333 444 555 666 777 888"),  # digit-heavy: low quality
    ]
    rows2 = [
        (3, "a calm river flows past the mill and the miller sleeps"),
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(str(src / "b2"))

    def gated(df):
        return (
            df.withColumn("z", quality_logit(F.col("text")))
            .withColumn("lang_pred", lang_id(F.col("text")))
            .withColumn("fp", F.md5(F.lower(F.trim(F.col("text")))))
            .filter((F.col("z") >= 0) & (F.col("lang_pred") == "en"))
            .select("doc_id", "fp")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        gated(stream)
        .writeStream.format("memory")
        .queryName("curation_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["doc_id"], r["fp"])
            for r in spark.sql("SELECT * FROM curation_out").collect()
        }
    finally:
        q.stop()
    batch_df = spark.createDataFrame(rows1 + rows2, schema)
    expected = {(r["doc_id"], r["fp"]) for r in gated(batch_df).collect()}
    assert streamed == expected
    assert 2 not in {d for d, _ in streamed}  # the digit wall was gated out


def test_concurrent_shift_matching_claimants_disjoint(spark, tmp_path):
    """The reference's hardest claim guarantee (proto:194-196;
    swamp.go:2622-2684 holds the swamp write lock for the whole shift):
    two CONCURRENT shift_matching claimants never observe overlapping
    sets. Two threads race 5 claims of 7 rows each against one store;
    the serialized-transaction guard must interleave them so every
    claimed key appears exactly once and the union is claimed+remaining
    == initial."""
    import threading

    from hydraide_spark.operators.claims import Cap  # noqa: F401 (API surface)
    from hydraide_spark.query.index import Index, IndexOrder, IndexType

    store = TreasureStore(spark, str(tmp_path / "claims"))
    n = 70
    store.init(
        spark.range(n).select(
            F.col("id").cast("string").alias("key"),
            (F.col("id") % 10).alias("prio"),
        )
    )
    idx = Index(index_type=IndexType.KEY, order=IndexOrder.ASC)
    claims: dict[str, list[list[str]]] = {"a": [], "b": []}
    errors: list[BaseException] = []

    def claimant(tag: str):
        try:
            for _ in range(5):
                got = store.shift_matching(
                    idx, Cmp("prio", Op.GE, 0), how_many=7
                )
                claims[tag].append([r["key"] for r in got.collect()])
                got.unpersist()
        except BaseException as e:  # surface thread failures in the test
            errors.append(e)

    ta, tb = threading.Thread(target=claimant, args=("a",)), threading.Thread(
        target=claimant, args=("b",)
    )
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors

    flat = [k for tag in ("a", "b") for batch in claims[tag] for k in batch]
    # disjoint: no key claimed twice across ANY pair of batches/threads
    assert len(flat) == len(set(flat)), "overlapping claim sets"
    # exhaustive: 10 batches x 7 rows drained the whole store
    assert len(flat) == n
    assert store.current().count() == 0
    # every claim observed a consistent snapshot: batches are full-sized
    assert all(len(b) == 7 for tag in ("a", "b") for b in claims[tag])


def test_streaming_funnel_tracks_ordered_stages(spark, tmp_path):
    """Stateful streaming funnel: a step advances a user only in order
    and only with strictly increasing timestamps, across micro-batch
    boundaries (state survives between files)."""
    import os

    from hydraide_spark.streaming.subscribe import streaming_funnel_progress

    evdir = str(tmp_path / "ev")
    os.makedirs(evdir)
    schema = "user_id long, event_type string, ts timestamp"
    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(evdir)

    # batch 1: u1 views then clicks; u2 clicks FIRST (must not advance),
    # then views; u3 views
    write_batch(
        [
            (1, "view", t0),
            (1, "click", t0 + timedelta(minutes=1)),
            (2, "click", t0),
            (2, "view", t0 + timedelta(minutes=1)),
            (3, "view", t0),
        ]
    )
    # batch 2 (state must carry over): u1 purchases; u2 clicks (now in
    # order); u3 re-views (no advance — 'view' is not the next step)
    write_batch(
        [
            (1, "purchase", t0 + timedelta(minutes=5)),
            (2, "click", t0 + timedelta(minutes=6)),
            (3, "view", t0 + timedelta(minutes=7)),
        ]
    )

    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(evdir)
    )
    out = streaming_funnel_progress(ev, ["view", "click", "purchase"])
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # last update per user wins
        rows = spark.sql(
            """SELECT user_id, stage FROM (
                 SELECT user_id, stage,
                        ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY stage DESC) rn
                 FROM funnel_out) WHERE rn = 1"""
        ).collect()
        got = {r["user_id"]: r["stage"] for r in rows}
    finally:
        q.stop()
    # u1 completed all three steps (stage 2), u2 reached click (1)
    # only after the ordered view, u3 never left view (0)
    assert got == {1: 2, 2: 1, 3: 0}


def test_time_travel_and_scd2_history_consistent_with_snapshots(spark, tmp_path):
    """The chronicle-replay property: reconstructing any key's state
    at version v from the SCD2 history must equal reading snapshot v
    directly; deletes close intervals; old versions stay immutable."""
    import json as _json

    store = TreasureStore(spark, str(tmp_path / "tt"))
    store.init(
        spark.createDataFrame([("a", 1), ("b", 2)], "key string, v long")
    )
    store.set(spark.createDataFrame([("a", 10), ("c", 3)], "key string, v long"))
    store.delete(["b"])
    store.set(spark.createDataFrame([("a", 100)], "key string, v long"))

    # time travel: every version readable, immutable, right contents
    states = {
        v: {r["key"]: r["v"] for r in store.snapshot(v).collect()}
        for v in range(store.version + 1)
    }
    assert states[0] == {"a": 1, "b": 2}
    assert states[1] == {"a": 10, "b": 2, "c": 3}
    assert states[2] == {"a": 10, "c": 3}
    assert states[3] == {"a": 100, "c": 3}
    with pytest.raises(FileNotFoundError):
        store.snapshot(99)

    hist = store.history().collect()
    # reconstruct each version's state from history intervals and
    # compare against the real snapshot (init rows have no events, so
    # reconstruction covers keys touched by mutations)
    for v in range(1, store.version + 1):
        recon = {}
        for r in sorted(hist, key=lambda r: r["valid_from_batch"]):
            live = r["valid_from_batch"] <= v and (
                r["valid_to_batch"] is None or v < r["valid_to_batch"]
            )
            if live and r["op"] != "DELETED":
                recon[r["key"]] = _json.loads(r["value"])["v"]
            elif live and r["op"] == "DELETED":
                recon.pop(r["key"], None)
        # init() bulk-loads WITHOUT events (migration contract), so
        # history covers keys from their first NEW/UPDATED event on —
        # 'b' exists only in snapshots until its DELETE, which the log
        # records (with the old payload) but cannot date back to init
        touched = {r["key"] for r in hist if r["op"] != "DELETED"}
        expect = {k: val for k, val in states[v].items() if k in touched}
        assert recon == expect, (v, recon, expect)
    # current versions are open intervals
    open_rows = [r for r in hist if r["valid_to_batch"] is None and r["op"] != "DELETED"]
    assert {r["key"] for r in open_rows} == {"a", "c"}


REPLAY_SCHEMA = (
    "key string, val long, expired_at timestamp, ids array<bigint>, "
    "body struct<n:bigint,tag:string>"
)
REPLAY_ROWS = [
    ("a", 1, datetime(2020, 1, 1), [1, 2], (1, "x")),
    ("b", 2, datetime(2020, 1, 2), [3], (2, "y")),
    ("c", 3, None, [], (3, "z")),
    ("d", 4, datetime(2020, 1, 3), [5], (4, None)),
]
NOW_US = 1_700_000_000_000_000


def _replay_ops():
    from hydraide_spark.operators.mutate import IncrementMeta, PatchMeta
    from hydraide_spark.query.index import Index, IndexOrder, IndexType

    inc = PatchOp(PatchKind.INC, "n", 1)
    return {
        "set": lambda s, spark: s.set(
            spark.createDataFrame(
                [("a", 10, None, [1], (1, "x")), ("b", *REPLAY_ROWS[1][1:]),
                 ("e", 5, None, [9], (5, "new"))],
                REPLAY_SCHEMA,
            )
        ),
        "delete": lambda s, spark: s.delete(["a", "zz"]),
        "increment_meta": lambda s, spark: s.increment(
            ["a", "b", "x"], "val", 10, condition=Cmp("val", Op.LT, 2),
            create_if_not_exist=True,
            meta_if_not_exist=IncrementMeta(created_at=True, created_by="mk"),
            meta_if_exist=IncrementMeta(updated_at=True, updated_by="up"),
            now_us=NOW_US,
        ),
        "uint32slice_push": lambda s, spark: s.uint32slice_push(["a", "c"], [2, 4]),
        "uint32slice_delete": lambda s, spark: s.uint32slice_delete(["a", "b"], [1, 3]),
        "shift_expired": lambda s, spark: s.shift_expired(datetime(2021, 1, 1), 2),
        "shift_matching": lambda s, spark: s.shift_matching(
            Index(index_type=IndexType.KEY, order=IndexOrder.DESC),
            Cmp("val", Op.GE, 2), how_many=2,
        ),
        "patch": lambda s, spark: s.patch(
            ["a", "x"], [inc], create_if_not_exist=True, seed_body=(0, "seed"),
            meta=PatchMeta(updated_at=True, updated_by="p"), now_us=NOW_US,
        ),
        "patch_each": lambda s, spark: s.patch_each(
            [("a", [inc], None), ("c", [PatchOp(PatchKind.SET, "tag", "q")], None),
             ("a", [inc], None)]
        ),
        "patch_expired": lambda s, spark: s.patch_expired(
            datetime(2021, 1, 1), 2, timedelta(minutes=5), [inc]
        ),
    }


def _assert_history_replays_to_current(store, batch):
    cols = [c for c in store.current().columns if c != "key"]
    cur = {
        r["key"]: json.loads(r["j"])
        for r in store.current()
        .select("key", F.to_json(F.struct(*cols)).alias("j"))
        .collect()
    }
    hist = sorted(store.history().collect(), key=lambda r: r["valid_from_batch"])
    assert any(r["valid_from_batch"] == batch for r in hist)  # the op logged events
    newest = {r["key"]: r for r in hist}
    replayed = {
        k: json.loads(r["value"]) for k, r in newest.items() if r["op"] != "DELETED"
    }
    assert replayed == cur
    open_keys = {
        k for k, r in newest.items() if r["valid_to_batch"] is None and r["op"] != "DELETED"
    }
    assert open_keys == set(cur)


@pytest.mark.parametrize("n_buckets", [None, 8], ids=["flat", "bucketed8"])
@pytest.mark.parametrize("op", list(_replay_ops()))
def test_events_replay_to_state(spark, tmp_path, op, n_buckets):
    """Every store mutation commits its version and its events through
    one commit, so the newest ``history()`` value of every live key
    parses to exactly its ``current()`` row, and a deleted key has no
    open interval. The store is seeded through ``set`` (``init`` logs
    no events), so every live key has a history."""
    store = TreasureStore(spark, str(tmp_path / "replay"), n_buckets=n_buckets)
    store.init(spark.createDataFrame([], REPLAY_SCHEMA))
    store.set(spark.createDataFrame(REPLAY_ROWS, REPLAY_SCHEMA))
    v = store.version
    _replay_ops()[op](store, spark).collect()
    assert store.version == v + 1
    _assert_history_replays_to_current(store, v + 1)


@pytest.mark.parametrize("n_buckets", [None, 8], ids=["flat", "bucketed8"])
def test_increment_events_carry_meta_stamps(spark, tmp_path, n_buckets):
    """A meta-stamped increment persists its stamps and logs them: the
    UPDATED event of an applied existing key carries ``updated_by``,
    the NEW event of a created key ``created_by`` — on a store whose
    schema had no meta columns before."""
    from hydraide_spark.operators.mutate import IncrementMeta

    store = TreasureStore(spark, str(tmp_path / "incmeta"), n_buckets=n_buckets)
    store.init(spark.createDataFrame(BASE, "key string, val long, expired_at timestamp"))
    store.increment(
        ["a", "x"], "val", 10, create_if_not_exist=True,
        meta_if_not_exist=IncrementMeta(created_by="mk"),
        meta_if_exist=IncrementMeta(updated_by="up"),
        now_us=NOW_US,
    ).collect()
    ev = {r["key"]: (r["op"], json.loads(r["new"])) for r in store.changes().collect()}
    assert ev["a"][0] == "UPDATED" and ev["a"][1]["val"] == 11
    assert ev["a"][1]["updated_by"] == "up"
    assert ev["x"][0] == "NEW" and ev["x"][1]["val"] == 10
    assert ev["x"][1]["created_by"] == "mk"
    state = {r["key"]: r for r in store.current().collect()}
    assert state["a"]["updated_by"] == "up" and state["x"]["created_by"] == "mk"


def test_stream_stream_attribution_join(spark, tmp_path):
    """Stream-STREAM interval join: clicks attribute to the same user's
    view within 10 minutes; out-of-window and cross-user clicks drop.
    Both sides are live file streams with watermarks (the bounded-state
    contract — Spark rejects unbounded stream-stream joins)."""
    import os

    from hydraide_spark.streaming.subscribe import stream_stream_attribution_join

    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    os.makedirs(vdir), os.makedirs(cdir)
    schema = "user_id long, ts timestamp"
    t0 = datetime(2024, 1, 1, 12, 0, 0)

    spark.createDataFrame(
        [(1, t0), (2, t0), (3, t0)], schema
    ).coalesce(1).write.mode("append").parquet(vdir)
    spark.createDataFrame(
        [
            (1, t0 + timedelta(minutes=5)),   # attributed
            (2, t0 + timedelta(minutes=30)),  # outside the 10-min window
            (4, t0 + timedelta(minutes=1)),   # no matching view user
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(cdir)

    v = spark.readStream.schema(schema).parquet(vdir)
    c = spark.readStream.schema(schema).parquet(cdir)
    out = stream_stream_attribution_join(v, c, within="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT user_id, latency_s FROM attr_out").collect()
    finally:
        q.stop()
    assert [(r["user_id"], r["latency_s"]) for r in rows] == [(1, 300.0)]


def test_subscribe_events_fifo_per_key_and_commit_order(spark, tmp_path):
    """The reference guarantees FIFO event delivery per swamp (README;
    hydra.go:950-1019); the engine's documented statement is per-
    partition == commit order (subscribe docstring). Drive many small
    commits, consume one change file per micro-batch, and assert the
    ARRIVAL order: store batch_ids are globally non-decreasing across
    micro-batches, and every key's event sequence is strictly
    increasing — the tested form of the per-swamp FIFO promise."""
    from hydraide_spark.sources.store import CHANGE_SCHEMA

    store = make_store(spark, tmp_path, BASE)
    # 9 sequential commits touching two "swamps" (keys) alternately
    for i in range(1, 10):
        key = "a" if i % 2 else "b"
        store.set(
            spark.createDataFrame(
                [(key, i * 10, None)], "key string, val long, expired_at timestamp"
            )
        )
    arrivals: list[tuple[int, int, str]] = []  # (micro_batch, store_batch, key)

    def sink(df, epoch_id):
        for r in df.select("batch_id", "key").collect():
            arrivals.append((epoch_id, r["batch_id"], r["key"]))

    q = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(store.changes_dir)
        .writeStream.foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(arrivals) == 9
    arrivals.sort(key=lambda t: t[0])  # micro-batch arrival order
    got_batches = [b for _, b, _ in arrivals]
    assert got_batches == sorted(got_batches)  # global commit order
    per_key: dict[str, list[int]] = {}
    for _, b, k in arrivals:
        per_key.setdefault(k, []).append(b)
    for k, seq in per_key.items():
        assert seq == sorted(seq) and len(set(seq)) == len(seq), (k, seq)


def test_streaming_cms_converges_to_batch_sketch(spark, tmp_path):
    """Continuously maintained Count-Min sketch: per-batch cell sketch
    + associative merge equals cms_build over the full history under
    any batching, state stays bounded at depth x 256 rows, and probes
    answer from the store without touching event history."""
    from hydraide_spark.functions.sketches import cms_build, cms_estimate
    from hydraide_spark.streaming.rollup import run_cms_maintenance_loop

    store = TreasureStore(spark, str(tmp_path / "cms"))
    store.init(
        spark.createDataFrame([], "key string, d int, bucket string, cnt bigint")
    )
    src = tmp_path / "cms_in"
    src.mkdir()
    schema = "event_id long, user_id long"
    b1 = [(i, i % 7) for i in range(40)]
    b2 = [(100 + i, i % 11) for i in range(60)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = run_cms_maintenance_loop(store, stream, "user_id")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["d"], r["bucket"]): r["cnt"] for r in store.current().collect()}
    full = spark.createDataFrame(b1 + b2, schema)
    exp = {(r["d"], r["bucket"]): r["cnt"] for r in cms_build(full, "user_id").collect()}
    assert got == exp
    assert len(got) <= 4 * 256  # bounded state

    # probe THROUGH the store (no event history involved)
    cells = store.current().select("d", "bucket", "cnt")
    probes = spark.createDataFrame([(u,) for u in range(12)], "user_id long")
    est = {
        r["user_id"]: r["est"]
        for r in cms_estimate(cells, probes, "user_id").collect()
    }
    truth: dict[int, int] = {}
    for _, u in b1 + b2:
        truth[u] = truth.get(u, 0) + 1
    for u in range(12):
        assert est[u] >= truth.get(u, 0)


def test_streaming_histogram_converges_to_batch_bins(spark, tmp_path):
    """Fixed-domain histogram maintenance: per-batch cells + associative
    merge equals histogram_bins_fixed over the full history; state is
    bounded at `bins` rows; out-of-domain values clamp, never drop."""
    from hydraide_spark.functions.sketches import histogram_bins_fixed
    from hydraide_spark.streaming.rollup import run_histogram_maintenance_loop

    store = TreasureStore(spark, str(tmp_path / "hist"))
    store.init(spark.createDataFrame([], "key string, bin long, cnt bigint"))
    src = tmp_path / "hist_in"
    src.mkdir()
    schema = "event_id long, value double"
    b1 = [(i, float(i % 90)) for i in range(50)]
    b2 = [(100 + i, float(i % 70) + 40.0) for i in range(50)] + [(999, 1e9)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = run_histogram_maintenance_loop(store, stream, "value", lo=0.0, hi=100.0, bins=20)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["bin"]: r["cnt"] for r in store.current().collect()}
    full = spark.createDataFrame(b1 + b2, schema)
    exp = {
        r["bin"]: r["cnt"]
        for r in histogram_bins_fixed(full, "value", 0.0, 100.0, 20).collect()
    }
    assert got == exp
    assert len(got) <= 20
    assert sum(got.values()) == 101  # the out-of-domain row clamped, not dropped


def test_ivf_ingest_loop_converges_to_batch(spark, tmp_path):
    """Streaming IVF index maintenance: per-batch nearest-centroid cell
    assignment into a cell-partitioned persisted index must answer
    queries EXACTLY like the batch ivf_topk over the full corpus with
    the same model — incremental ≡ batch across the persisted-state
    boundary, and the probe must partition-prune the index read."""
    from hydraide_spark.functions.vector import ivf_topk, train_ivf_centroids
    from hydraide_spark.plans.inspect import physical_plan
    from hydraide_spark.sources.tables import load_table
    from hydraide_spark.streaming import start_loop
    from hydraide_spark.streaming.ann_stream import (
        ivf_query_persisted,
        make_ivf_ingest,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = train_ivf_centroids(emb, n_centroids=8)

    src = tmp_path / "vecs_in"
    src.mkdir()
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "ivf_state")
    q = start_loop(
        stream,
        make_ivf_ingest(spark, state, cents),
        "ivf_ingest",
        os.path.join(state, "_checkpoint"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got_df = ivf_query_persisted(
        spark, state, queries, k=5, centroids=cents, nprobe=2
    )
    got = {(r["query_id"], r["vec_id"]): r["score"] for r in got_df.collect()}
    want = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in ivf_topk(emb, queries, k=5, centroids=cents, nprobe=2).collect()
    }
    assert set(got) == set(want)
    for key in want:
        assert abs(got[key] - want[key]) < 1e-12

    # the index scan must carry a literal partition filter on cell
    plan = physical_plan(got_df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_ingest_retried_epoch_is_idempotent(spark, tmp_path):
    """Replaying an epoch (foreachBatch retry) must leave the persisted
    index with exactly one copy of its vectors — epoch-keyed overwrite,
    same contract as the near-dup ingest."""
    from hydraide_spark.functions.vector import train_ivf_centroids
    from hydraide_spark.sources.tables import load_table
    from hydraide_spark.streaming.ann_stream import make_ivf_ingest, persisted_cells

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = train_ivf_centroids(emb, n_centroids=8)
    state = str(tmp_path / "ivf_retry")
    ingest = make_ivf_ingest(spark, state, cents)
    b0 = emb.filter(F.col("vec_id") < 100)
    b1 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    ingest(b0, 0)
    ingest(b1, 1)
    ingest(b1, 1)  # retry after full write
    idx = persisted_cells(spark, state)
    assert idx.count() == 200
    assert idx.select("vec_id").distinct().count() == 200


def test_store_prune_changes_chronicle_compaction(spark, tmp_path):
    """prune_changes = the chronicle half of CompactSwamp: drop events
    below a batch cutoff in one rewrite; later events and new appends
    keep working, and history() reconstructs from the cutoff onward."""
    store = TreasureStore(spark, str(tmp_path / "prunestore"))
    store.init(spark.createDataFrame([("a", 1), ("b", 2)], "key string, val long"))
    store.set(spark.createDataFrame([("a", 10)], "key string, val long"))   # batch 2
    store.set(spark.createDataFrame([("b", 20)], "key string, val long"))   # batch 3
    store.set(spark.createDataFrame([("c", 30)], "key string, val long"))   # batch 4
    before = store.changes().count()
    assert before == 3
    cutoff = store.version  # keep only the latest batch's events
    dropped = store.prune_changes(cutoff)
    assert dropped == 2
    ev = store.changes().collect()
    assert {r["batch_id"] for r in ev} == {cutoff}
    assert {r["key"] for r in ev} == {"c"}
    # appends continue with increasing batch ids after the prune
    store.set(spark.createDataFrame([("d", 40)], "key string, val long"))
    ev2 = store.changes().collect()
    assert {r["key"] for r in ev2} == {"c", "d"}
    assert max(r["batch_id"] for r in ev2) == cutoff + 1
    # history reconstructs the post-cutoff versions
    hist = store.history().collect()
    assert {r["key"] for r in hist} == {"c", "d"}
    # no-op prune returns 0 and leaves the log alone
    assert store.prune_changes(0) == 0
    assert store.changes().count() == 2


def test_streaming_state_epoch_compaction(spark, tmp_path):
    """compact_epochs folds committed epochs into the epoch=-1 base:
    query results identical, directory count collapses, the newest
    (retry-able) epoch is left alone so a late retry stays idempotent,
    and the IVF base keeps its cell partitioning (pruning intact)."""
    import os

    from hydraide_spark.functions.dedup import minhash_neardup_pairs
    from hydraide_spark.functions.vector import ivf_topk, train_ivf_centroids
    from hydraide_spark.plans.inspect import physical_plan
    from hydraide_spark.sources.tables import load_table
    from hydraide_spark.streaming import ingested_pairs, ivf_query_persisted
    from hydraide_spark.streaming.ann_stream import make_ivf_ingest
    from hydraide_spark.streaming.dedup_stream import make_ingest
    from hydraide_spark.streaming.state_compact import (
        compact_ivf_state,
        compact_neardup_state,
    )

    # --- near-dup state ---
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    ingest(spark.createDataFrame([(1, base), (2, base + " ok")], schema), 0)
    ingest(spark.createDataFrame([(3, base)], schema), 1)
    ingest(spark.createDataFrame([(4, base + " ok")], schema), 2)
    before = sorted(
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    )
    folded = compact_neardup_state(spark, state)
    assert folded["pairs"] == 2 and folded["bands"] == 2  # epochs 0,1 folded
    assert sorted(
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    ) == before
    dirs = sorted(os.listdir(os.path.join(state, "bands")))
    assert dirs == ["epoch=-1", "epoch=2"]
    # the un-folded newest epoch can still be retried safely
    ingest(spark.createDataFrame([(4, base + " ok")], schema), 2)
    assert sorted(
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    ) == before
    # and new epochs keep pairing against the folded base
    ingest(spark.createDataFrame([(5, base)], schema), 3)
    after = {
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    }
    full = spark.createDataFrame(
        [(1, base), (2, base + " ok"), (3, base), (4, base + " ok"), (5, base)],
        schema,
    )
    expect = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(full, tau=0.6, n=3, k=16, bands=4).collect()
    }
    assert after == expect

    # --- IVF state ---
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = train_ivf_centroids(emb, n_centroids=8)
    ivf_state = str(tmp_path / "ivf")
    iv_ingest = make_ivf_ingest(spark, ivf_state, cents)
    iv_ingest(emb.filter(F.col("vec_id") % 3 == 0), 0)
    iv_ingest(emb.filter(F.col("vec_id") % 3 == 1), 1)
    iv_ingest(emb.filter(F.col("vec_id") % 3 == 2), 2)
    compact_ivf_state(spark, ivf_state)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got_df = ivf_query_persisted(spark, ivf_state, queries, k=5, centroids=cents, nprobe=2)
    got = {(r["query_id"], r["vec_id"]) for r in got_df.collect()}
    want = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k=5, centroids=cents, nprobe=2).collect()
    }
    assert got == want
    # pruning still literal on the compacted base
    plan = physical_plan(got_df)
    assert "PartitionFilters" in plan
    # base keeps cell= subdirs
    assert any(
        d.startswith("cell=")
        for d in os.listdir(os.path.join(ivf_state, "cells", "epoch=-1"))
    )


def test_streaming_postings_bm25_converges_to_batch(spark, tmp_path):
    """Incremental tf-bearing postings: after streaming all docs in 3
    micro-batches, BM25 served from the persisted index must equal the
    batch bm25_terms bit-for-bit (same expression tree, stats from the
    doclen table), and the full persisted-state HYBRID (BM25 + IVF
    dense + RRF) must equal the same composition over batch operators.
    Retried epochs stay idempotent."""
    from hydraide_spark.functions.retrieval import ranked_list, rrf_fuse
    from hydraide_spark.functions.text import bm25_terms
    from hydraide_spark.functions.vector import ivf_topk, train_ivf_centroids
    from hydraide_spark.sources.tables import load_table
    from hydraide_spark.streaming.ann_stream import make_ivf_ingest, ivf_query_persisted
    from hydraide_spark.streaming.search_stream import (
        bm25_from_state,
        make_postings_ingest,
    )
    from hydraide_spark.streaming.state_compact import start_loop

    SF = "/root/testdata/sf0.001"
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    src = tmp_path / "docs_in"
    src.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "search_state")
    q = start_loop(
        stream,
        make_postings_ingest(spark, state),
        "postings_ingest",
        os.path.join(state, "_checkpoint"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    words = ["stream", "data", "query"]
    got = {
        (r["doc_id"], r["word"]): r["term_score"]
        for r in bm25_from_state(spark, state, words).collect()
    }
    want = {
        (r["doc_id"], r["word"]): r["term_score"]
        for r in bm25_terms(docs, "doc_id", "text", words).collect()
    }
    assert got == want  # DECIMAL equality — bit-for-bit

    # retried epoch (last one) keeps the index exactly the same
    ingest = make_postings_ingest(spark, state)
    last_batch = spark.read.parquet(str(src / "b2"))
    ingest(last_batch, 2)
    got2 = {
        (r["doc_id"], r["word"]): r["term_score"]
        for r in bm25_from_state(spark, state, words).collect()
    }
    assert got2 == got

    # epoch compaction preserves the index exactly
    from hydraide_spark.streaming.state_compact import compact_search_state

    folded = compact_search_state(spark, state)
    assert folded == {"postings": 2, "doclen": 2}
    got3 = {
        (r["doc_id"], r["word"]): r["term_score"]
        for r in bm25_from_state(spark, state, words).collect()
    }
    assert got3 == got

    # full persisted-state hybrid == batch-operator hybrid
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_centroids(emb, n_centroids=8)
    ivf_state = str(tmp_path / "ivf_state")
    iv = make_ivf_ingest(spark, ivf_state, cents)
    for i in range(3):
        iv(emb.filter(F.col("vec_id") % 3 == i), i)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def fuse(lex_terms, dense_topk):
        lex_scored = lex_terms.groupBy("doc_id").agg(
            F.sum("term_score").alias("score")
        )
        lex = ranked_list(lex_scored, "doc_id", "score", topk=30)
        dense = ranked_list(
            dense_topk.select(F.col("vec_id").alias("doc_id"), "score"),
            "doc_id", "score", topk=30,
        )
        return {
            (r["doc_id"], r["rank_0"], r["rank_1"])
            for r in rrf_fuse([lex, dense], topk=15).collect()
        }

    inc = fuse(
        bm25_from_state(spark, state, words),
        ivf_query_persisted(spark, ivf_state, queries, k=30, centroids=cents, nprobe=2),
    )
    bat = fuse(
        bm25_terms(docs, "doc_id", "text", words),
        ivf_topk(emb, queries, k=30, centroids=cents, nprobe=2),
    )
    assert inc == bat

    # and the one-call wrapper agrees (topk_per_side/topk aligned)
    from hydraide_spark.streaming.search_stream import hybrid_search_from_state

    wrapped = {
        (r["doc_id"], r["rank_0"], r["rank_1"])
        for r in hybrid_search_from_state(
            spark, state, ivf_state, words, queries, cents,
            topk_per_side=30, nprobe=2, topk=15,
        ).collect()
    }
    assert wrapped == bat


def test_band_probe_prunes_bucketed_base(spark, tmp_path):
    """r9-VERDICT #1: after compaction the band index's base is
    partitioned by bkt = hash(bucket) % n_buckets, and an ingest
    probe's base read touches ONLY the directories the delta's buckets
    hash into — input_file_name() proves the directory-level prune (the
    O(index) band scan is gone; flat delta epochs are still read in
    full, bounded by deltas since the last compaction)."""
    import os

    from hydraide_spark.streaming.dedup_stream import (
        bands_probe_frame,
        make_ingest,
    )
    from hydraide_spark.streaming.state_compact import (
        band_bucket_expr,
        compact_band_epochs,
        read_nbuckets,
    )

    schema = "doc_id long, text string"
    state = str(tmp_path / "nd")
    bands_dir = os.path.join(state, "bands")
    ingest = make_ingest(spark, state, tau=0.6)
    rows = [
        (i, f"document {i} carries words alpha{i % 7} beta{i % 5} gamma{i}")
        for i in range(120)
    ]
    ingest(spark.createDataFrame(rows[:60], schema), 0)
    ingest(spark.createDataFrame(rows[60:], schema), 1)
    ingest(spark.createDataFrame([(9999, "trailing filler doc")], schema), 2)

    assert compact_band_epochs(spark, bands_dir, n_buckets=16) == 2
    assert read_nbuckets(bands_dir) == 16
    base_dirs = {
        d
        for d in os.listdir(os.path.join(bands_dir, "epoch=-1"))
        if d.startswith("bkt=")
    }
    assert len(base_dirs) > 4  # the index spreads over many bucket dirs

    # a one-bucket delta: sample a real bucket string from the base
    sample = (
        spark.read.schema("doc_id long, bucket string, bkt int")
        .parquet(os.path.join(bands_dir, "epoch=-1"))
        .select("bucket")
        .first()["bucket"]
    )
    delta = spark.createDataFrame([(9998, sample)], "doc_id long, bucket string")
    probe = bands_probe_frame(spark, bands_dir, delta, epoch=3)

    files = {
        r[0]
        for r in probe.select(F.input_file_name().alias("f")).distinct().collect()
    }
    touched = {
        f.split("epoch=-1/", 1)[1].split("/", 1)[0]
        for f in files
        if "epoch=-1/" in f
    }
    expect_bkt = delta.select(
        band_bucket_expr(F.col("bucket"), 16).alias("b")
    ).first()["b"]
    assert touched == {f"bkt={expect_bkt}"}  # ONLY the hashed dir was read
    # and the pruned read still surfaces the matching index row
    assert probe.filter(F.col("bucket") == sample).count() >= 1


def test_subscribe_strict_fifo_total_order(spark, tmp_path):
    """r9-VERDICT #6: the strict subscriber delivers a swamp's events
    in TOTAL commit order even when one micro-batch spans many commit
    files (a multi-partition frame whose raw row order interleaves
    commits). Several interleaved mutations -> one trigger covering all
    files -> the callback list must be batch_id-ascending and complete;
    a later commit arrives in a later callback."""
    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store = make_store(spark, tmp_path, BASE)
    # five commits -> five change files (one per batch by construction)
    for i in range(3):
        store.set(
            spark.createDataFrame(
                [(f"k{i}", i, None)],
                "key string, val long, expired_at timestamp",
            )
        )
    store.delete(["k0"])
    store.set(
        spark.createDataFrame(
            [("k1", 99, None), ("zz", 1, None)],
            "key string, val long, expired_at timestamp",
        )
    )

    got: list = []

    def on_events(rows, epoch):
        got.append([(r["batch_id"], r["op"], r["key"]) for r in rows])

    q = subscribe_strict_fifo(
        spark, store, on_events, queue_name="strict_t",
        max_files_per_trigger=32,
    )
    try:
        q.processAllAvailable()
        # a post-subscription commit lands in a LATER callback
        store.delete(["zz"])
        q.processAllAvailable()
    finally:
        q.stop()

    flat = [e for batch in got for e in batch]
    bids = [b for b, _, _ in flat]
    assert bids == sorted(bids)  # total commit order across the swamp
    # all seven events present exactly once, in commit order
    assert [(op, k) for _, op, k in flat] == [
        ("NEW", "k0"), ("NEW", "k1"), ("NEW", "k2"), ("DELETED", "k0"),
        ("UPDATED", "k1"), ("NEW", "zz"), ("DELETED", "zz"),
    ]
    # the live commit was delivered after (not merged into) the catch-up
    assert len(got) >= 2 and got[-1][-1][1:] == ("DELETED", "zz")


def test_shingle_probe_prunes_bucketed_base(spark, tmp_path):
    """The verify join's shingle read prunes the compacted id-bucketed
    base to the candidate partner ids' buckets (hashed_probe_frame with
    the doc id as the hash key) — and an ingest against the pruned
    state still pairs correctly with docs whose shingles live only in
    the base."""
    import os

    from hydraide_spark.functions.dedup import minhash_neardup_pairs
    from hydraide_spark.streaming import ingested_pairs
    from hydraide_spark.streaming.dedup_stream import (
        hashed_probe_frame,
        make_ingest,
    )
    from hydraide_spark.streaming.state_compact import (
        band_bucket_expr,
        compact_neardup_state,
        read_nbuckets,
    )

    schema = "doc_id long, text string"
    base_txt = "the quick brown fox jumps over the lazy dog again and again"
    state = str(tmp_path / "nd")
    sh_dir = os.path.join(state, "shingles")
    ingest = make_ingest(spark, state, tau=0.6)
    rows = [(i, f"{base_txt} variant {i} tail words {i % 5}") for i in range(40)]
    ingest(spark.createDataFrame(rows[:20], schema), 0)
    ingest(spark.createDataFrame(rows[20:], schema), 1)
    ingest(spark.createDataFrame([(999, "unrelated filler")], schema), 2)
    compact_neardup_state(spark, state)
    nb = read_nbuckets(sh_dir)
    assert nb is not None and nb >= 16

    # direct probe: one partner id -> only its hashed dir read from base
    keys = spark.createDataFrame([(7,)], "doc_id long")
    probe = hashed_probe_frame(
        spark, sh_dir, "doc_id long, sh array<string>, n_sh int",
        keys, "doc_id", epoch=50,
    )
    files = {
        r[0]
        for r in probe.select(F.input_file_name().alias("f")).distinct().collect()
    }
    touched = {
        f.split("epoch=-1/", 1)[1].split("/", 1)[0]
        for f in files
        if "epoch=-1/" in f
    }
    expect = keys.select(band_bucket_expr(F.col("doc_id"), nb).alias("b")).first()["b"]
    assert touched == {f"bkt={expect}"}
    assert probe.filter(F.col("doc_id") == 7).count() == 1

    # end-to-end: a new near-dup of doc 7 pairs through the PRUNED base
    ingest(
        spark.createDataFrame(
            [(1007, f"{base_txt} variant 7 tail words 2 ok")], schema
        ),
        3,
    )
    pairs = {
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    }
    assert (7, 1007) in pairs
    # and the incremental result still equals the batch pipeline
    full = spark.createDataFrame(
        rows + [(999, "unrelated filler"),
                (1007, f"{base_txt} variant 7 tail words 2 ok")], schema
    )
    expect_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(full, tau=0.6, n=3, k=16, bands=4).collect()
    }
    assert pairs == expect_pairs


def test_neardup_lookup_read_only_point_probe(spark, tmp_path):
    """r10 serving op: neardup_lookup answers "is this doc a near-dup
    of anything persisted?" with the ingest's exact arithmetic, through
    the PRUNED reads, writing nothing — state dirs are byte-identical
    before and after, a known near-dup matches, a novel doc doesn't,
    and an already-ingested id returns its other near-dups (never
    itself). Works against the compacted (bucketed) layout too."""
    import os

    from hydraide_spark.streaming.dedup_stream import make_ingest, neardup_lookup
    from hydraide_spark.streaming.state_compact import compact_neardup_state

    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    ingest(
        spark.createDataFrame([(1, base), (2, base + " ok")], schema), 0
    )
    ingest(spark.createDataFrame([(3, "completely unrelated words here")], schema), 1)
    ingest(spark.createDataFrame([(4, base + " yes")], schema), 2)
    compact_neardup_state(spark, state)

    def tree(d):
        out = []
        for root, _dirs, files in os.walk(d):
            for f in sorted(files):
                p = os.path.join(root, f)
                out.append((os.path.relpath(p, d), os.path.getsize(p)))
        return sorted(out)

    before = tree(state)
    hits = neardup_lookup(
        spark,
        state,
        spark.createDataFrame([(100, base + " no")], schema),
        tau=0.6,
    )
    got = {(r["doc_id"], r["match_id"]) for r in hits.collect()}
    assert {(100, 1), (100, 2), (100, 4)} <= got
    # novel text: no matches
    none = neardup_lookup(
        spark,
        state,
        spark.createDataFrame([(101, "zebra xylophone quantum")], schema),
        tau=0.6,
    )
    assert none.count() == 0
    # an already-ingested id returns its other near-dups, never itself
    selfq = neardup_lookup(
        spark, state, spark.createDataFrame([(1, base)], schema), tau=0.6
    )
    m = {r["match_id"] for r in selfq.collect()}
    assert 1 not in m and {2, 4} <= m
    # read-only: nothing on disk changed
    assert tree(state) == before


def test_neardup_ingest_tolerates_redelivered_doc(spark, tmp_path):
    """At-least-once hardening: a doc re-delivered in a LATER epoch
    re-pairs against its own earlier bands, landing duplicate pair
    rows in a second epoch dir — ingested_pairs must collapse them
    (identical integer Jaccard stats) and never emit a self-pair."""
    from hydraide_spark.streaming import ingested_pairs
    from hydraide_spark.streaming.dedup_stream import make_ingest

    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    ingest(spark.createDataFrame([(1, base), (2, base + " ok")], schema), 0)
    # doc 2 re-delivered verbatim in a new epoch
    ingest(spark.createDataFrame([(2, base + " ok")], schema), 1)
    rows = ingested_pairs(spark, state).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert pairs == [(1, 2)]  # exactly once, no self-pair, no dup row
    # the read-only lookup over the same re-delivered state must not
    # fan its matches out over the duplicated shingle rows either
    from hydraide_spark.streaming.dedup_stream import neardup_lookup

    hits = neardup_lookup(
        spark, state,
        spark.createDataFrame([(50, base + " okay")], schema), tau=0.6,
    ).collect()
    match_rows = [(r["doc_id"], r["match_id"]) for r in hits]
    assert sorted(match_rows) == sorted(set(match_rows))  # no dup rows
    assert (50, 2) in match_rows


def test_subscribe_strict_fifo_survives_mtime_inversion(spark, tmp_path):
    """File-source ordering is mtime-based (ms resolution): commits in
    the same millisecond can arrive across triggers OUT of batch
    order. With commit-file mtimes deliberately INVERTED and one file
    per trigger, the strict subscriber must still deliver every event
    in batch order — the contiguous-flush buffer holds early arrivals
    until their predecessors land."""
    import os
    import time

    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store = make_store(spark, tmp_path, BASE)
    for i in range(3):
        store.set(
            spark.createDataFrame(
                [(f"k{i}", i, None)],
                "key string, val long, expired_at timestamp",
            )
        )
    # invert mtimes: newest commit file gets the OLDEST timestamp
    files = sorted(
        (
            os.path.join(store.changes_dir, f)
            for f in os.listdir(store.changes_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        ),
        key=os.path.getmtime,
    )
    now = time.time()
    for rank, f in enumerate(files):
        ts = now - 1000 - rank * 10  # later commits -> older mtimes
        os.utime(f, (ts, ts))

    got: list = []

    def on_events(rows, epoch):
        got.append([(r["batch_id"], r["key"]) for r in rows])

    q = subscribe_strict_fifo(
        spark, store, on_events, queue_name="strict_inv",
        max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flat = [e for batch in got for e in batch]
    assert [b for b, _ in flat] == sorted(b for b, _ in flat)
    assert [(b, k) for b, k in flat] == [(1, "k0"), (2, "k1"), (3, "k2")]


def test_subscribe_strict_fifo_waits_out_long_inversion(spark, tmp_path):
    """ADVICE r10 (medium): a gap that outlives gap_patience but whose
    batch ids are STILL IN THE CHANGE LOG is a late-but-real commit in
    flight — the subscriber must keep waiting, not skip ahead and then
    drop the arrival as a below-frontier duplicate. Six commits with
    fully inverted mtimes and one file per trigger stall the frontier
    for 5 data-bearing triggers (>> patience=2): every event must
    still be delivered exactly once, in batch order."""
    import os
    import time

    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store = make_store(spark, tmp_path, BASE)
    for i in range(6):
        store.set(
            spark.createDataFrame(
                [(f"k{i}", i, None)],
                "key string, val long, expired_at timestamp",
            )
        )
    files = sorted(
        (
            os.path.join(store.changes_dir, f)
            for f in os.listdir(store.changes_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        ),
        key=os.path.getmtime,
    )
    now = time.time()
    for rank, f in enumerate(files):
        ts = now - 1000 - rank * 10  # later commits -> older mtimes
        os.utime(f, (ts, ts))

    got: list = []

    def on_events(rows, epoch):
        got.append([(r["batch_id"], r["key"]) for r in rows])

    q = subscribe_strict_fifo(
        spark, store, on_events, queue_name="strict_long_inv",
        max_files_per_trigger=1, gap_patience=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flat = [e for batch in got for e in batch]
    # exactly once each, strictly ascending — zero loss through 5
    # stalled triggers
    assert [(b, k) for b, k in flat] == [
        (i + 1, f"k{i}") for i in range(6)
    ]


def test_subscribe_strict_fifo_skips_genuinely_pruned_gap(spark, tmp_path):
    """The counterpart: a gap whose batch id is ABSENT from the change
    log (pruned/lost commit file) can never arrive — after
    gap_patience stalled triggers the subscriber verifies against the
    log and skips forward, delivering everything that still exists."""
    import os
    import time

    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store = make_store(spark, tmp_path, BASE)
    for i in range(4):
        store.set(
            spark.createDataFrame(
                [(f"k{i}", i, None)],
                "key string, val long, expired_at timestamp",
            )
        )
    # physically remove batch 2's commit file BEFORE subscribing —
    # the log genuinely no longer contains it
    by_file = {
        r["f"]: r["batch_id"]
        for r in store.changes()
        .select(F.input_file_name().alias("f"), "batch_id")
        .distinct()
        .collect()
    }
    victim = [f for f, b in by_file.items() if b == 2]
    assert len(victim) == 1
    os.remove(victim[0].replace("file:", ""))
    # age the survivors so arrival order is deterministic (1, 3, 4)
    files = sorted(
        (
            os.path.join(store.changes_dir, f)
            for f in os.listdir(store.changes_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        ),
        key=os.path.getmtime,
    )
    now = time.time()
    for rank, f in enumerate(files):
        os.utime(f, (now - 1000 + rank, now - 1000 + rank))

    got: list = []

    def on_events(rows, epoch):
        got.append([(r["batch_id"], r["key"]) for r in rows])

    q = subscribe_strict_fifo(
        spark, store, on_events, queue_name="strict_pruned",
        max_files_per_trigger=1, gap_patience=2,
    )
    try:
        q.processAllAvailable()
        # the stream may need extra empty-then-data triggers to hit
        # patience; push two more commits to generate data-bearing
        # triggers if the skip hasn't fired yet
        for j in range(2):
            store.set(
                spark.createDataFrame(
                    [(f"x{j}", j, None)],
                    "key string, val long, expired_at timestamp",
                )
            )
        q.processAllAvailable()
    finally:
        q.stop()
    q.strict_drain()
    flat = [e for batch in got for e in batch]
    bids = [b for b, _ in flat]
    assert bids == sorted(bids)  # monotone
    assert 2 not in bids  # the pruned batch is gone, not re-delivered
    # everything that still exists was delivered exactly once
    assert [b for b in bids if b <= 4] == [1, 3, 4]


def test_subscribe_strict_fifo_empty_log_seed_and_drain(spark, tmp_path):
    """Subscribing BEFORE any commit seeds the flush frontier from the
    store's next version (the change log is empty — first-arrival
    order is exactly what mtime ties make unreliable), live commits
    arrive in order, and strict_drain() after stop is a no-op when
    nothing is stranded."""
    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store = make_store(spark, tmp_path, BASE)  # init only: empty log
    got: list = []

    def on_events(rows, epoch):
        got.append([(r["batch_id"], r["key"]) for r in rows])

    q = subscribe_strict_fifo(
        spark, store, on_events, queue_name="strict_empty"
    )
    try:
        store.set(
            spark.createDataFrame(
                [("k0", 1, None)], "key string, val long, expired_at timestamp"
            )
        )
        store.set(
            spark.createDataFrame(
                [("k1", 2, None)], "key string, val long, expired_at timestamp"
            )
        )
        q.processAllAvailable()
    finally:
        q.stop()
    n_calls = len(got)
    q.strict_drain()
    assert len(got) == n_calls  # nothing stranded
    flat = [e for batch in got for e in batch]
    assert flat == [(1, "k0"), (2, "k1")]


def test_strict_fifo_cross_swamp_parallelism(spark, tmp_path):
    """r10 VERDICT #7: strict FIFO serializes PER SWAMP only — two
    stores' strict subscribers run concurrently without serializing
    each other (the reference's cost model: serial per swamp, parallel
    across swamps, hydra.go:950-1019). Subscriber A's callback BLOCKS
    (slow consumer); subscriber B must drain its whole backlog while A
    is still mid-backlog — if the two delivery points shared a lock,
    B would finish only after A."""
    import time

    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store_a = make_store(spark, tmp_path / "a", BASE)
    store_b = make_store(spark, tmp_path / "b", BASE)
    for i in range(4):
        for s in (store_a, store_b):
            s.set(
                spark.createDataFrame(
                    [(f"k{i}", i, None)],
                    "key string, val long, expired_at timestamp",
                )
            )

    a_events, b_events = [], []
    b_done_at = {}

    def on_a(rows, epoch):
        time.sleep(1.5)  # slow consumer on swamp A
        a_events.extend((r["batch_id"], r["key"]) for r in rows)

    def on_b(rows, epoch):
        b_events.extend((r["batch_id"], r["key"]) for r in rows)
        b_done_at["t"] = time.monotonic()

    t0 = time.monotonic()
    qa = subscribe_strict_fifo(
        spark, store_a, on_a, queue_name="strict_a", max_files_per_trigger=1
    )
    qb = subscribe_strict_fifo(
        spark, store_b, on_b, queue_name="strict_b", max_files_per_trigger=32
    )
    try:
        qb.processAllAvailable()
        b_wall = b_done_at["t"] - t0
        qa.processAllAvailable()
        a_wall = time.monotonic() - t0
    finally:
        qa.stop()
        qb.stop()
    # both drained completely, each in its own total order
    assert [k for _, k in a_events] == ["k0", "k1", "k2", "k3"]
    assert [k for _, k in b_events] == ["k0", "k1", "k2", "k3"]
    assert [b for b, _ in a_events] == sorted(b for b, _ in a_events)
    # B finished while A (4 x 1.5 s serial sleeps) was still draining —
    # cross-swamp parallelism, not global serialization
    assert a_wall >= 6.0
    assert b_wall < a_wall - 3.0


def test_streaming_dsir_counts_converge_to_batch_model(spark, tmp_path):
    """Continuously maintained DSIR bucket counts: per-batch partials +
    associative merge equal the batch aggregate under any batching, so
    the model derived from the stores is BIT-IDENTICAL to the batch
    dsir_logratios — the count-free model refresh. State stays bounded
    at B rows."""
    from hydraide_spark.functions.sampling import (
        dsir_logratios,
        dsir_logratios_from_stores,
    )
    from hydraide_spark.streaming.rollup import run_dsir_count_maintenance_loop

    B = 32
    schema = "doc_id long, text string"
    target_rows = [(i, f"alpha beta gamma tok{i % 5} alpha") for i in range(30)]
    raw_rows = target_rows + [
        (100 + i, f"zig zag quux tok{i % 9} zog") for i in range(50)
    ]

    stores = {}
    for name, rows in (("target", target_rows), ("raw", raw_rows)):
        store = TreasureStore(spark, str(tmp_path / f"dsir_{name}"))
        store.init(spark.createDataFrame([], "key string, bucket bigint, n bigint"))
        src = tmp_path / f"dsir_{name}_in"
        src.mkdir()
        third = max(1, len(rows) // 3)
        for j in range(0, len(rows), third):
            spark.createDataFrame(rows[j : j + third], schema).coalesce(1).write.parquet(
                str(src / f"b{j}")
            )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = run_dsir_count_maintenance_loop(
            store, stream, n_buckets=B, salt="s", queue_name=f"dsir_{name}"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stores[name] = store
        # bounded state forever: B buckets + the last-applied-epoch
        # sentinel row (r13 — the replay-idempotency record)
        assert store.current().count() <= B + 1

    streamed = dsir_logratios_from_stores(stores["target"], stores["raw"], B)
    batch = dsir_logratios(
        spark.createDataFrame(target_rows, schema),
        spark.createDataFrame(raw_rows, schema),
        "text",
        n_buckets=B,
        salt="s",
    )
    assert streamed == batch  # Decimal-exact: counts are associative


def test_dsir_count_merge_replay_is_a_noop(spark, tmp_path):
    """r13 (ADVICE r12): a retried micro-batch must NOT double-count its
    grams — the merge records the last-applied epoch in the same atomic
    store.set as the counts and skips replays, so 'converges to the
    batch model under any batching' holds under at-least-once delivery
    too."""
    from hydraide_spark.streaming.rollup import make_dsir_count_merge

    schema = "doc_id long, text string"
    store = TreasureStore(spark, str(tmp_path / "dsir"))
    store.init(spark.createDataFrame([], "key string, bucket bigint, n bigint"))
    merge = make_dsir_count_merge(store, n_buckets=16, salt="s")

    b0 = spark.createDataFrame([(1, "alpha beta gamma alpha")], schema)
    b1 = spark.createDataFrame([(2, "zig zag beta")], schema)
    merge(b0, 0)
    after_first = sorted(
        (r["bucket"], r["n"]) for r in store.current().collect()
    )
    merge(b0, 0)  # foreachBatch retry: same epoch replays
    assert (
        sorted((r["bucket"], r["n"]) for r in store.current().collect())
        == after_first
    )
    merge(b1, 1)  # the NEXT epoch still applies
    after_second = {
        int(r["bucket"]): int(r["n"])
        for r in store.current().collect()
        if int(r["bucket"]) >= 0
    }
    assert sum(after_second.values()) > sum(
        n for _b, n in after_first if _b >= 0
    )


def test_streaming_bloom_converges_and_replay_is_noop(spark, tmp_path):
    """Continuously maintained Bloom filter: under any batching the
    stored words equal the batch-built filter EXACTLY (bit_or is
    associative), and — unlike the additive counter loops — a replayed
    micro-batch is a true no-op (idempotent), so the convergence claim
    holds under at-least-once delivery with no epoch sentinel."""
    from hydraide_spark.functions.sketches import bloom_build, bloom_probe
    from hydraide_spark.streaming.rollup import run_bloom_maintenance_loop

    schema = "event_id long, user string"
    rows = [(i, f"user{i % 40}") for i in range(120)]
    store = TreasureStore(spark, str(tmp_path / "bloom"))
    store.init(spark.createDataFrame([], "key string, word bigint, bits bigint"))
    src = tmp_path / "bloom_in"
    src.mkdir()
    for j in range(0, 120, 40):
        spark.createDataFrame(rows[j : j + 40], schema).coalesce(1).write.parquet(
            str(src / f"b{j}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = run_bloom_maintenance_loop(store, stream, "user", n_bits=1 << 12, k=3)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["word"], r["bits"]) for r in store.current().collect()
    }
    batch = bloom_build(
        spark.createDataFrame(rows, schema), "user", n_bits=1 << 12, k=3
    )
    assert streamed == {(r["word"], r["bits"]) for r in batch.collect()}

    # replay idempotence: re-merging an already-absorbed batch changes
    # nothing (bit_or re-sets set bits) — no sentinel needed
    # drive the merge directly with the first file's rows
    from pyspark.sql import functions as F

    first = spark.createDataFrame(rows[:40], schema)
    part = bloom_build(first, "user", n_bits=1 << 12, k=3).select(
        F.col("word").cast("string").alias("key"), "word", "bits"
    )
    cur = store.current().select("key", F.col("bits").alias("_cur"))
    updates = part.join(cur, "key", "left").select(
        "key", "word",
        F.coalesce(F.col("_cur"), F.lit(0)).bitwiseOR(F.col("bits")).alias("bits"),
    )
    store.set(updates)
    assert {
        (r["word"], r["bits"]) for r in store.current().collect()
    } == streamed

    # serving probe against the stored filter: every ingested user is
    # "probably seen", a never-seen user probes definitively 0
    probes = spark.createDataFrame(
        [(f"user{i}",) for i in range(40)] + [("stranger",)], "user string"
    )
    got = {
        r["user"]: r["might_contain"]
        for r in bloom_probe(
            store.current().select("word", "bits"), probes, "user",
            n_bits=1 << 12, k=3,
        ).collect()
    }
    assert all(got[f"user{i}"] == 1 for i in range(40))
