"""Bucketed manifest store layout (r11): keyed mutations read AND
write only the hash-buckets their keys live in; every version's
``_BUCKETS`` manifest references untouched buckets' dirs in older
versions (the Iceberg snapshot idiom). Pins: result equivalence with
the plain layout over a whole mutation script, write pruning on disk,
manifest-gated crash invisibility, reference-aware compaction, claim
write-pruning, and empty-bucket retirement.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hydraide_spark.sources.store import TreasureStore

SCHEMA = "key string, val long, expired_at timestamp"


def _mk(spark, path, n_buckets=None, rows=None):
    store = TreasureStore(spark, str(path), n_buckets=n_buckets)
    data = rows if rows is not None else [(f"k{i}", i, None) for i in range(40)]
    store.init(spark.createDataFrame(data, SCHEMA))
    return store


def _state(store):
    return sorted(
        (r["key"], r["val"]) for r in store.current().select("key", "val").collect()
    )


def _events(store):
    return sorted(
        (r["batch_id"], r["op"], r["key"]) for r in store.changes().collect()
    )


def test_bucketed_equals_plain_over_mutation_script(spark, tmp_path):
    plain = _mk(spark, tmp_path / "plain")
    buck = _mk(spark, tmp_path / "buck", n_buckets=8)

    req = {"k3", "zz", "k5"}

    def script(store):
        out = []
        # statuses compare on the REQUEST keys: the plain layout also
        # enumerates NOTHING_CHANGED for every untouched store key,
        # the bucketed layout only for keys sharing a touched bucket
        # (documented; at scale the full enumeration cannot exist)
        out.append(
            sorted(
                (r["key"], r["set_status"])
                for r in store.set(
                    spark.createDataFrame(
                        [("k3", 300, None), ("zz", 1, None), ("k5", 5, None)],
                        SCHEMA,
                    )
                ).collect()
                if r["key"] in req
            )
        )
        out.append(sorted(map(tuple, store.delete(["k7", "nope"]).collect())))
        out.append(
            sorted(
                map(
                    tuple,
                    store.increment(["k1", "new1"], "val", 10, create_if_not_exist=True)
                    .select("key", "new_value", "applied", "created")
                    .collect(),
                )
            )
        )
        return out

    assert script(plain) == script(buck)
    assert _state(plain) == _state(buck)
    assert _events(plain) == _events(buck)
    # reopening without constructor args adopts the persisted layout
    reopened = TreasureStore(spark, str(tmp_path / "buck"))
    assert reopened.n_buckets == 8
    assert _state(reopened) == _state(plain)


def test_bucketed_set_writes_only_touched_buckets(spark, tmp_path):
    store = _mk(spark, tmp_path / "s", n_buckets=16, rows=[(f"k{i}", i, None) for i in range(400)])
    v0 = store.version
    m0 = store._read_manifest(v0)
    assert len(m0) > 8  # 400 keys cover most of 16 buckets
    store.set(spark.createDataFrame([("k3", 999, None)], SCHEMA))
    v1 = store.version
    dirs = [
        d for d in os.listdir(store._snapshot_path(v1)) if d.startswith("b=")
    ]
    assert len(dirs) == 1  # ONE key -> one bucket rewritten
    m1 = store._read_manifest(v1)
    touched = int(dirs[0].split("=", 1)[1])
    assert m1[touched] == v1
    # every other bucket still points at v0 (referenced, not rewritten)
    assert all(v == v0 for b, v in m1.items() if b != touched)
    # reads: current sees the update, time travel sees the original
    assert (store.current().filter(F.col("key") == "k3").head()["val"]) == 999
    assert (store.snapshot(v0).filter(F.col("key") == "k3").head()["val"]) == 3
    assert store.current().count() == 400


def test_bucketed_unpublished_version_is_invisible(spark, tmp_path):
    store = _mk(spark, tmp_path / "s", n_buckets=8)
    v = store.version
    # a crashed write: parquet landed, manifest did not
    ghost = store._snapshot_path(v + 1)
    os.makedirs(os.path.join(ghost, "b=0"), exist_ok=True)
    assert store.version == v  # invisible
    store.set(spark.createDataFrame([("k1", 111, None)], SCHEMA))
    assert store.version == v + 1  # overwrote and published
    assert store.current().filter(F.col("key") == "k1").head()["val"] == 111


def test_bucketed_compact_keeps_referenced_dirs(spark, tmp_path):
    store = _mk(spark, tmp_path / "s", n_buckets=8, rows=[(f"k{i}", i, None) for i in range(100)])
    for i in range(4):
        store.set(spark.createDataFrame([(f"k{i}", 1000 + i, None)], SCHEMA))
    before = _state(store)
    vs = store._versions()
    removed = store.compact(keep_versions=1)
    # v0 holds the untouched buckets — it MUST survive; some
    # intermediate single-bucket versions are unreferenced and go
    assert removed >= 1
    assert 0 in store._versions() or os.path.isdir(store._snapshot_path(0))
    assert _state(store) == before
    assert store.current().count() == 100
    # an expired intermediate version is gone for time travel
    gone = [v for v in vs[:-1] if not os.path.isdir(store._snapshot_path(v))]
    assert gone, "expected at least one reclaimed version dir"


def test_bucketed_claim_write_prunes(spark, tmp_path):
    from datetime import datetime

    rows = [(f"k{i}", i, datetime(2020, 1, 1 + (i % 5))) for i in range(50)]
    store = _mk(spark, tmp_path / "s", n_buckets=16, rows=rows)
    claimed = store.shift_expired(datetime(2020, 1, 2), how_many=2)
    keys = sorted(r["key"] for r in claimed.collect())
    assert len(keys) == 2
    v = store.version
    dirs = [d for d in os.listdir(store._snapshot_path(v)) if d.startswith("b=")]
    assert len(dirs) <= 2  # only the claimed keys' buckets rewritten
    assert store.current().count() == 48
    assert not [
        r for r in store.current().collect() if r["key"] in set(keys)
    ]


def test_bucketed_capped_patch_write_prunes(spark, tmp_path):
    """A capped patch pre-counts the WHOLE store, yet its write is
    scoped to the patched keys' buckets, as on the claim paths: the new
    version owns only those buckets and the state equals the flat
    layout's."""
    from hydraide_spark.operators.claims import Cap
    from hydraide_spark.operators.mutate import PatchKind, PatchOp
    from hydraide_spark.query import Cmp, Op

    schema = "key string, body struct<n:bigint>"
    rows = [(f"k{i}", (i,)) for i in range(60)]
    plain = TreasureStore(spark, str(tmp_path / "plain"))
    buck = TreasureStore(spark, str(tmp_path / "buck"), n_buckets=8)
    ops = [PatchOp(PatchKind.INC, "n", 100)]
    # 10 rows pre-match (k50..k59); the budget admits both transitions
    cap = Cap(Cmp("body.n", Op.GE, 50), 20)
    statuses = []
    for store in (plain, buck):
        store.init(spark.createDataFrame(rows, schema))
        out = store.patch(["k1", "k2"], ops, cap=cap)
        statuses.append(sorted(map(tuple, out.collect())))
    assert statuses[0] == statuses[1] == [("k1", "PATCHED"), ("k2", "PATCHED")]
    v = buck.version
    touched = set(buck._touched_buckets(["k1", "k2"]))
    owners = buck._read_manifest(v)
    assert len(owners) == 8 and len(touched) <= 2
    assert {b for b, o in owners.items() if o == v} == touched
    state = lambda s: sorted(  # noqa: E731
        (r["key"], r["body"]["n"]) for r in s.current().collect()
    )
    assert state(buck) == state(plain)


def test_bucketed_delete_retires_empty_bucket(spark, tmp_path):
    rows = [(f"k{i}", i, None) for i in range(30)]
    store = _mk(spark, tmp_path / "s", n_buckets=4, rows=rows)
    # find all keys of one bucket and delete them all
    by_bucket = store.current().select(
        "key", store._bucket_expr().alias("b")
    ).collect()
    target = by_bucket[0]["b"]
    doomed = [r["key"] for r in by_bucket if r["b"] == target]
    store.delete(doomed)
    m = store._read_manifest(store.version)
    assert target not in m  # empty bucket dropped from the manifest
    assert store.current().count() == 30 - len(doomed)


def test_failed_mutation_does_not_leak_scope(spark, tmp_path):
    """r11 review: a mutation that raises AFTER scoping must not leave
    current() returning the touched-buckets-only partial view."""
    import pytest

    store = _mk(spark, tmp_path / "s", n_buckets=8)
    bad = spark.createDataFrame([("k1", "not-a-long")], "key string, val string")
    with pytest.raises(Exception):
        store.set(bad)  # schema mismatch inside the merge
    assert store.current().count() == 40  # full view, not one bucket


def test_compact_demotes_donor_versions_from_time_travel(spark, tmp_path):
    """r11 review: a version dir kept only as BUCKET STORAGE for newer
    manifests is no longer a readable version — its own manifest may
    reference reclaimed dirs. snapshot() must raise the documented
    FileNotFoundError, not a mid-plan path error."""
    import pytest

    store = _mk(spark, tmp_path / "s", n_buckets=8, rows=[(f"k{i}", i, None) for i in range(100)])
    for i in range(4):
        store.set(spark.createDataFrame([(f"k{i}", 1000 + i, None)], SCHEMA))
    vs_before = store._versions()
    store.compact(keep_versions=1)
    live = store._versions()
    donors = [
        v
        for v in vs_before
        if v not in live and os.path.isdir(store._snapshot_path(v))
    ]
    assert donors, "expected at least one donor version"
    for v in donors:
        with pytest.raises(FileNotFoundError):
            store.snapshot(v)
    # the surviving version still reads completely
    assert store.current().count() == 100


def test_schema_evolution_survives_bucketed_reads(spark, tmp_path):
    """r11 review #2: a mutation that ADDS columns (increment meta
    stamps) must stay readable — reads resolve through the committing
    version's schema, and rows from older bucket files fill the new
    columns with NULL."""
    from hydraide_spark.operators.mutate import IncrementMeta

    store = _mk(spark, tmp_path / "s", n_buckets=8)
    store.increment(
        ["k1", "k2"],
        "val",
        7,
        meta_if_exist=IncrementMeta(updated_at=True),
        now_us=1_700_000_000_000_000,
    )
    cur = store.current()
    assert "updated_at_us" in cur.columns  # evolved column visible
    stamped = {
        r["key"]: r["updated_at_us"]
        for r in cur.select("key", "updated_at_us").collect()
    }
    assert stamped["k1"] == 1_700_000_000_000_000
    assert stamped["k2"] == 1_700_000_000_000_000
    assert stamped["k5"] is None  # old bucket files fill NULL
    # and a SECOND mutation still sees the stamps (no re-nulling)
    store.increment(["k1"], "val", 1, now_us=1_700_000_000_000_001)
    again = {
        r["key"]: r["updated_at_us"]
        for r in store.current().select("key", "updated_at_us").collect()
    }
    assert again["k2"] == 1_700_000_000_000_000


def test_compact_reclaims_dereferenced_donor_dirs(spark, tmp_path):
    """r11 review #2b: a donor dir demoted by an earlier compact must
    be reclaimed by a LATER compact once newer commits dereference it
    — otherwise dead version dirs accumulate without bound."""
    store = _mk(spark, tmp_path / "s", n_buckets=8, rows=[(f"k{i}", i, None) for i in range(100)])
    for i in range(3):
        store.set(spark.createDataFrame([(f"k{i}", 1000 + i, None)], SCHEMA))
    store.compact(keep_versions=1)  # demotes v0.. to donors
    # a full rewrite (every bucket touched) dereferences every donor
    full = store.current().select("key", "val", "expired_at")
    store.set(
        full.withColumn("val", F.col("val") + 1)
    )  # touches every bucket -> new version owns everything
    removed = store.compact(keep_versions=1)
    assert removed >= 1
    leftover = [
        d
        for d in os.listdir(str(tmp_path / "s"))
        if d.startswith("v=") and d != f"v={store.version}"
    ]
    assert leftover == [], leftover  # every dead dir reclaimed
    assert store.current().count() == 100


def test_full_coverage_write_lands_flat_and_stays_equivalent(spark, tmp_path):
    """r12: a batch touching EVERY bucket writes one flat write-buffer
    dir (no per-bucket dirs), the manifest carries the flat leg, and
    every read — full, scoped, point mutations on top, time travel —
    stays equivalent to the plain layout."""
    plain = _mk(spark, tmp_path / "plain", rows=[(f"k{i}", i, None) for i in range(200)])
    buck = _mk(
        spark, tmp_path / "buck", n_buckets=8,
        rows=[(f"k{i}", i, None) for i in range(200)],
    )

    # bulk update: 200 keys over 8 buckets — full coverage
    bulk = [(f"k{i}", i * 2, None) for i in range(200)]
    for s in (plain, buck):
        s.set(spark.createDataFrame(bulk, SCHEMA))
    v = buck.version
    mapping, flat = buck._manifest_layout(v)
    assert flat is not None and flat[0] == v and flat[1]
    assert mapping == {}
    assert not [
        d for d in os.listdir(buck._snapshot_path(v)) if d.startswith("b=")
    ]
    assert _state(buck) == _state(plain)

    # point writes on top of the buffer: bucket dirs shadow flat rows
    for s in (plain, buck):
        s.set(spark.createDataFrame([("k3", -3, None), ("knew", 1, None)], SCHEMA))
        s.delete(["k7"])
    mapping2, flat2 = buck._manifest_layout(buck.version)
    assert flat2 is not None and flat2[0] == v  # buffer still the donor
    assert mapping2  # the touched buckets got dirs
    assert _state(buck) == _state(plain)
    assert _events(buck) == _events(plain)
    # time travel to the flat version still reads exactly
    assert sorted(
        (r["key"], r["val"]) for r in buck.snapshot(v).select("key", "val").collect()
    ) == sorted((k, v2) for k, v2, _ in bulk)


def test_flat_buffer_tombstones_emptied_bucket(spark, tmp_path):
    """Deleting EVERY key of one bucket after a flat write must
    tombstone that bucket (empty file list) — falling back to the flat
    copy would resurrect the deleted rows."""
    buck = _mk(
        spark, tmp_path / "b", n_buckets=4,
        rows=[(f"k{i}", i, None) for i in range(40)],
    )
    buck.set(spark.createDataFrame([(f"k{i}", i * 10, None) for i in range(40)], SCHEMA))
    _, flat = buck._manifest_layout(buck.version)
    assert flat is not None
    # find one bucket's full key set and delete it
    rows = buck.current().select("key").collect()
    by_bucket = {}
    for r in rows:
        b = buck._touched_buckets([r["key"]])[0]
        by_bucket.setdefault(b, []).append(r["key"])
    victim, keys = next(iter(by_bucket.items()))
    buck.delete(keys)
    mapping, flat2 = buck._manifest_layout(buck.version)
    assert flat2 is not None
    assert mapping.get(victim, (None, None))[1] == []  # tombstone
    got = {r["key"] for r in buck.current().select("key").collect()}
    assert not (got & set(keys))
    assert len(got) == 40 - len(keys)


def test_settle_rebuckets_and_restores_pruned_reads(spark, tmp_path):
    buck = _mk(
        spark, tmp_path / "b", n_buckets=8,
        rows=[(f"k{i}", i, None) for i in range(100)],
    )
    buck.set(spark.createDataFrame([(f"k{i}", i + 1, None) for i in range(100)], SCHEMA))
    _, flat = buck._manifest_layout(buck.version)
    assert flat is not None
    before = _state(buck)
    assert buck.settle() is True
    mapping, flat2 = buck._manifest_layout(buck.version)
    assert flat2 is None and len(mapping) == 8
    assert _state(buck) == before
    assert buck.settle() is False  # already settled
    # compact can now reclaim the buffer version once dereferenced
    buck.compact(keep_versions=1)
    assert _state(buck) == before


def test_compact_keeps_referenced_flat_donor(spark, tmp_path):
    buck = _mk(
        spark, tmp_path / "b", n_buckets=8,
        rows=[(f"k{i}", i, None) for i in range(100)],
    )
    buck.set(spark.createDataFrame([(f"k{i}", i + 1, None) for i in range(100)], SCHEMA))
    vflat = buck.version
    buck.set(spark.createDataFrame([("k3", 999, None)], SCHEMA))
    before = _state(buck)
    buck.compact(keep_versions=1)
    # the flat version dir must survive as a donor (still referenced)
    assert os.path.isdir(buck._snapshot_path(vflat))
    assert _state(buck) == before
