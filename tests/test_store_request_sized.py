"""Keyed store writes cost what the request costs, not what the store
holds: the Spark-job budget of each mutation, no cache entry left
behind by a write, request-bounded results that outlive their base
version, and ``set`` keeping the base columns its updates lack."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from hydraide_spark.operators.mutate import IncrementMeta, PatchKind, PatchOp
from hydraide_spark.query import Cmp, Op
from hydraide_spark.query.index import Index, IndexOrder, IndexType
from hydraide_spark.sources.store import TreasureStore

SCHEMA = (
    "key string, val long, ids array<bigint>, body struct<n:bigint,tag:string>,"
    " expired_at timestamp"
)
N_ROWS = 60


def _rows():
    return [
        (f"k{i:02d}", i, [i], (i, "t"), datetime(2020, 1, 1 + i % 20) if i % 3 else None)
        for i in range(N_ROWS)
    ]


def _store(spark, tmp_path, n_buckets=None):
    store = TreasureStore(spark, str(tmp_path / "store"), n_buckets=n_buckets)
    store.init(spark.createDataFrame(_rows(), SCHEMA))
    return store


def _mutations():
    inc = [PatchOp(PatchKind.INC, "n", 1)]
    return {
        "increment": lambda s: s.increment(["k01", "k02", "k04", "k05"], "val", 1),
        "increment_create": lambda s: s.increment(
            ["k07", "new1"], "val", 1, create_if_not_exist=True
        ),
        "increment_meta": lambda s: s.increment(
            ["k08", "new2"], "val", 1, condition=Cmp("val", Op.LT, 50),
            create_if_not_exist=True,
            meta_if_not_exist=IncrementMeta(created_at=True, created_by="mk"),
            meta_if_exist=IncrementMeta(updated_at=True, updated_by="up"),
        ),
        "shift_expired": lambda s: s.shift_expired(datetime(2021, 1, 1), 3),
        "shift_matching": lambda s: s.shift_matching(
            Index(index_type=IndexType.KEY, order=IndexOrder.DESC),
            Cmp("val", Op.GE, 10), how_many=2,
        ),
        "patch": lambda s: s.patch(["k10", "k11"], inc),
        "uint32slice_push": lambda s: s.uint32slice_push(["k13", "k14"], [7, 13]),
        "delete": lambda s: s.delete(["k16", "k17"]),
    }


#: Spark jobs per mutation on a flat store: increment, the claims,
#: patch and uint32slice read their targeted rows once (a collect that
#: also fills the request-sized cache), write the version and log the
#: events; delete writes and logs only.
FLAT_BUDGET = {
    "increment": 3, "increment_create": 3, "increment_meta": 3,
    "shift_expired": 3, "shift_matching": 3, "patch": 3,
    "uint32slice_push": 3, "delete": 2,
}
#: the bucketed layout's version write adds the bucket repartition's
#: shuffle-map job
BUCKETED_EXTRA = 1


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("n_buckets", [None, 8], ids=["flat", "bucketed8"])
def test_write_job_budget(spark, tmp_path, n_buckets):
    """Each mutation runs under its own job group and stays within its
    Spark-job budget; ``current()`` of a version this store object
    wrote runs no job (its schema is known, nothing is inferred)."""
    store = _store(spark, tmp_path, n_buckets)
    extra = 0 if n_buckets is None else BUCKETED_EXTRA
    spent = {}
    for name, op in _mutations().items():
        spent[name], _out = _jobs(spark, f"budget-{n_buckets}-{name}", lambda: op(store))
    over = {
        n: (spent[n], FLAT_BUDGET[n] + extra)
        for n in spent
        if spent[n] > FLAT_BUDGET[n] + extra
    }
    assert not over, over
    cur_jobs, cur = _jobs(spark, f"budget-{n_buckets}-current", store.current)
    assert cur_jobs == 0
    assert cur.count() == N_ROWS + 2 - 3 - 2 - 2  # 2 created, 5 claimed, 2 deleted


def test_writes_leave_no_cache_entry_and_results_outlive_compaction(spark, tmp_path):
    """No mutation leaves a persisted RDD behind, and the results of the
    request-bounded writes are driver-side rows: they still collect
    after ``compact(1)`` dropped the version they were computed from."""
    store = _store(spark, tmp_path)
    jsc = spark._jsc.sc()
    ops = {
        n: op for n, op in _mutations().items() if n not in ("patch", "delete")
    }
    ops["patch_expired"] = lambda s: s.patch_expired(
        datetime(2021, 1, 1), 2, timedelta(minutes=5), [PatchOp(PatchKind.INC, "n", 1)]
    )
    ops["uint32slice_delete"] = lambda s: s.uint32slice_delete(["k13"], [13])
    results = {}
    for name, op in ops.items():
        before = jsc.getPersistentRDDs().size()
        results[name] = op(store)
        assert jsc.getPersistentRDDs().size() == before, name
    store.compact(1)
    got = {name: df.collect() for name, df in results.items()}
    assert {r["key"] for r in got["increment"]} == {"k01", "k02", "k04", "k05"}
    assert {r["key"] for r in got["increment_create"] if r["created"]} == {"new1"}
    assert len(got["shift_expired"]) == 3 and len(got["shift_matching"]) == 2
    assert len(got["patch_expired"]) == 2
    assert {r["key"] for r in got["uint32slice_push"]} == {"k13", "k14"}
    assert [r["key"] for r in got["uint32slice_delete"]] == ["k13"]


@pytest.mark.parametrize("n_buckets", [None, 8], ids=["flat", "bucketed8"])
def test_set_keeps_base_columns_the_updates_lack(spark, tmp_path, n_buckets):
    """``set`` of a ``(key, val)`` frame onto a ``(key, val, tag)`` store:
    untouched rows keep every column, an UPDATED row keeps its ``tag``,
    a NEW row gets NULL there, and the events carry the same rows."""
    store = TreasureStore(spark, str(tmp_path / "set"), n_buckets=n_buckets)
    store.init(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, "y")], "key string, val long, tag string"
        )
    )
    st = store.set(
        spark.createDataFrame([("a", 10), ("n", 5)], "key string, val long")
    )
    # statuses cover the read scope: bucketed, only the touched buckets
    status = {r["key"]: r["set_status"] for r in st.collect()}
    assert (status["a"], status["n"], status.get("b", "NOTHING_CHANGED")) == (
        "UPDATED", "NEW", "NOTHING_CHANGED",
    )
    state = {r["key"]: (r["val"], r["tag"]) for r in store.current().collect()}
    assert state == {"a": (10, "x"), "b": (2, "y"), "n": (5, None)}
    ev = {r["key"]: (r["op"], json.loads(r["new"])) for r in store.changes().collect()}
    assert ev == {
        "a": ("UPDATED", {"val": 10, "tag": "x"}),
        "n": ("NEW", {"val": 5}),  # to_json omits the NULL tag
    }


def test_flat_schema_is_never_stale_for_a_reused_version(spark, tmp_path):
    """A version number reused after ``compact(0)`` or ``destroy`` is read
    with the schema of its new write, and a reopened store reads the
    versions it did not write."""
    store = TreasureStore(spark, str(tmp_path / "reuse"))
    store.init(spark.createDataFrame([("a", 1)], "key string, val long"))
    assert store.current().columns == ["key", "val"]
    store.compact(0)
    store.init(spark.createDataFrame([("a", "x", 2.5)], "key string, tag string, w double"))
    assert store.version == 0
    assert [tuple(r) for r in store.current().collect()] == [("a", "x", 2.5)]
    store.destroy()
    store.init(spark.createDataFrame([("b", 3)], "key string, n int"))
    assert store.current().dtypes == [("key", "string"), ("n", "int")]
    reopened = TreasureStore(spark, str(tmp_path / "reuse"))
    assert [tuple(r) for r in reopened.snapshot(0).collect()] == [("b", 3)]
