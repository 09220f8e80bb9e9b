"""Crash-safety tests for the two non-atomic-swap findings of the
round-8 ADVICE: streaming state compaction (state_compact.py) and the
store's chronicle prune (store.py). Each test reconstructs a specific
crash window by hand-arranging the on-disk state the interrupted
process would have left, then asserts the next entry self-recovers —
no data lost, no unparseable partition dirs, no duplicated rows.

Also covers the empty-patches short-circuit in patch_each. The state-table swap is additionally
crashed for real, at each of its steps, by fault injection
(test_crash_at_each_swap_step_heals).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hydraide_spark.sources.store import TreasureStore
from hydraide_spark.streaming import state_compact as sc
from hydraide_spark.streaming.state_compact import (
    BASE_EPOCH,
    band_bucket_expr,
    compact_epochs,
    fold_to_l1,
    read_bucketed,
    read_committed,
    replace_table,
)


def _write_epochs(spark, table, n_epochs, rows_per_epoch=2):
    for e in range(n_epochs):
        spark.createDataFrame(
            [(e * 100 + i, f"v{e}-{i}") for i in range(rows_per_epoch)],
            "id long, v string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(table, f"epoch={e}")
        )


def _all_rows(spark, table):
    return sorted(
        (r["id"], r["v"])
        for r in spark.read.option("basePath", table)
        .parquet(table)
        .select("id", "v")
        .collect()
    )


def test_compact_epochs_normal_run_leaves_clean_dirs(spark, tmp_path):
    table = str(tmp_path / "t")
    _write_epochs(spark, table, 3)
    before = _all_rows(spark, table)
    assert compact_epochs(spark, table) == 2
    assert _all_rows(spark, table) == before
    names = sorted(os.listdir(table))
    assert names == [f"epoch={BASE_EPOCH}", "epoch=2"]
    # no manifest left inside the base
    assert not os.path.exists(
        os.path.join(table, f"epoch={BASE_EPOCH}", "_FOLDED")
    )


def test_compact_recovers_crash_between_move_aside_and_promote(spark, tmp_path):
    """The exact ADVICE window: base moved aside, tmp complete, promote
    never ran. Entry must finish the swap — rows intact, fold dirs
    gone, no stray dirs."""
    table = str(tmp_path / "t")
    _write_epochs(spark, table, 3)
    before = _all_rows(spark, table)
    assert compact_epochs(spark, table) == 2  # build a real base first
    _write_epochs(spark, table, 2)  # epochs 0,1 again (new data)
    before = _all_rows(spark, table)

    # simulate: a compaction of epochs {-1, 0} wrote tmp completely,
    # moved the base aside, then died before promoting
    fold = [BASE_EPOCH, 0]
    src = spark.read.option("basePath", table).parquet(
        *[os.path.join(table, f"epoch={e}") for e in fold]
    ).drop("epoch")
    tmp = os.path.join(table, "_compacting")
    src.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_FOLDED"), "w") as fh:
        fh.write("\n".join(str(e) for e in fold))
    os.rename(os.path.join(table, f"epoch={BASE_EPOCH}"), os.path.join(table, "_old_base"))

    # next compaction self-recovers on entry, then folds what remains
    compact_epochs(spark, table)
    assert _all_rows(spark, table) == before
    names = sorted(os.listdir(table))
    assert all(n.startswith("epoch=") for n in names), names
    # every remaining partition value parses
    for n in names:
        int(n.split("=", 1)[1])


def test_compact_rolls_back_incomplete_tmp(spark, tmp_path):
    """Crash mid-write: tmp exists without _FOLDED (or _SUCCESS), base
    already moved aside. Entry must restore the old base and discard
    the partial tmp — never promote a half-written rewrite."""
    table = str(tmp_path / "t")
    _write_epochs(spark, table, 2)
    assert compact_epochs(spark, table) == 1
    before = _all_rows(spark, table)

    base = os.path.join(table, f"epoch={BASE_EPOCH}")
    tmp = os.path.join(table, "_compacting")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as fh:
        fh.write(b"partial garbage")
    os.rename(base, os.path.join(table, "_old_base"))

    compact_epochs(spark, table)
    assert _all_rows(spark, table) == before
    assert not os.path.exists(tmp)
    assert not os.path.exists(os.path.join(table, "_old_base"))


def test_compact_replays_interrupted_cleanup_without_duplication(spark, tmp_path):
    """Crash after promote but before fold-dir deletion: the folded
    rows exist in BOTH the new base and the old epoch dirs. The
    manifest inside the base must drive the cleanup replay — without
    it the next compaction would fold those rows twice."""
    table = str(tmp_path / "t")
    _write_epochs(spark, table, 3)
    before = _all_rows(spark, table)

    # run the fold but re-create the crash state: put the fold dirs
    # back and restore the manifest, as if cleanup never ran
    src = spark.read.option("basePath", table).parquet(
        os.path.join(table, "epoch=0"), os.path.join(table, "epoch=1")
    ).drop("epoch")
    base = os.path.join(table, f"epoch={BASE_EPOCH}")
    src.coalesce(1).write.mode("overwrite").parquet(base)
    with open(os.path.join(base, "_FOLDED"), "w") as fh:
        fh.write("0\n1")

    compact_epochs(spark, table)
    assert _all_rows(spark, table) == before  # duplicated? this fails
    names = sorted(os.listdir(table))
    assert f"epoch={BASE_EPOCH}" in names and "epoch=2" in names
    assert "epoch=0" not in names and "epoch=1" not in names


def test_prune_changes_recovers_from_lost_live_dir(spark, tmp_path):
    """The ADVICE store window: crash between moving changes/ aside and
    promoting the compacted rewrite. Re-opening the store must restore
    the log (from .old, or from a complete .compacting) — history must
    NOT silently restart from empty."""
    store = TreasureStore(spark, str(tmp_path / "s"))
    store.init(spark.createDataFrame([("a", 1)], "key string, val long"))
    store.set(spark.createDataFrame([("a", 2)], "key string, val long"))
    store.set(spark.createDataFrame([("b", 3)], "key string, val long"))
    n_events = store.changes().count()
    assert n_events == 2

    # crash window A: live dir moved aside, no replacement yet
    os.rename(store.changes_dir, store.changes_dir + ".old")
    reopened = TreasureStore(spark, str(tmp_path / "s"))
    assert reopened.changes().count() == n_events
    assert not os.path.exists(store.changes_dir + ".old")

    # crash window B: complete .compacting written, live dir moved
    # aside — recovery must promote the REWRITE (it is the newer state)
    keep = reopened.changes().filter(F.col("batch_id") >= 2)
    keep.coalesce(1).write.parquet(store.changes_dir + ".compacting")
    shutil.rmtree(store.changes_dir)
    reopened2 = TreasureStore(spark, str(tmp_path / "s"))
    rows = reopened2.changes().collect()
    assert {r["batch_id"] for r in rows} == {2}
    assert not os.path.exists(store.changes_dir + ".compacting")

    # appends keep working on the recovered log
    reopened2.set(spark.createDataFrame([("c", 4)], "key string, val long"))
    assert reopened2.changes().count() == 2


def test_prune_changes_discards_incomplete_compacting(spark, tmp_path):
    """An incomplete .compacting (no _SUCCESS) next to a live log is
    stale garbage from an aborted prune — removed on entry, log kept."""
    store = TreasureStore(spark, str(tmp_path / "s"))
    store.init(spark.createDataFrame([("a", 1)], "key string, val long"))
    store.set(spark.createDataFrame([("a", 2)], "key string, val long"))
    tmp = store.changes_dir + ".compacting"
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-junk.parquet"), "wb") as fh:
        fh.write(b"junk")
    assert store.prune_changes(0) == 0  # entry recovery ran; no-op prune
    assert not os.path.exists(tmp)
    assert store.changes().count() == 1


def test_patch_each_empty_patches_is_a_noop(spark, tmp_path):
    """proto allows an empty Patches list: no new version, no events,
    an empty (patch_index, key, patch_status) frame — not IndexError."""
    store = TreasureStore(spark, str(tmp_path / "s"))
    store.init(spark.createDataFrame([("a", 1)], "key string, val long"))
    v_before = store.version
    ev_before = store.changes().count()
    out = store.patch_each([])
    assert out.columns == ["patch_index", "key", "patch_status"]
    assert out.count() == 0
    assert store.version == v_before
    assert store.changes().count() == ev_before


def test_readers_exclude_pending_folded_epochs(spark, tmp_path):
    """r9-ADVICE crash window: promote landed (base holds the folded
    rows + the _FOLDED manifest) but cleanup did not — the folded
    epoch dirs AND their commit markers still exist. Readers never run
    _recover; they must self-heal read-only by excluding the
    manifest-listed epochs from their view, else every folded row is
    counted twice (inflated BM25 tf/dfreq, duplicate ANN candidates)."""
    from hydraide_spark.streaming.search_stream import (
        committed_epochs,
        persisted_doclen,
    )
    from hydraide_spark.streaming.state_compact import pending_folded

    state = str(tmp_path / "s")
    dl_dir = os.path.join(state, "doclen")
    commits = os.path.join(state, "_commits")
    os.makedirs(commits)
    for e in range(3):
        spark.createDataFrame(
            [(e * 10 + i, 5) for i in range(2)], "doc_id long, dl int"
        ).coalesce(1).write.parquet(os.path.join(dl_dir, f"epoch={e}"))
        open(os.path.join(commits, f"epoch={e}"), "w").close()

    # hand-arrange the interrupted swap: base = folded epochs 0+1,
    # manifest still present, epoch dirs 0/1 NOT cleaned up
    base = os.path.join(dl_dir, f"epoch={BASE_EPOCH}")
    spark.read.option("basePath", dl_dir).parquet(
        os.path.join(dl_dir, "epoch=0"), os.path.join(dl_dir, "epoch=1")
    ).drop("epoch").coalesce(1).write.parquet(base)
    with open(os.path.join(base, "_FOLDED"), "w") as fh:
        fh.write("-1\n0\n1")

    assert pending_folded(dl_dir) == {0, 1}  # never the base itself

    # frontier read: each doc exactly once (base copy wins)
    eps = committed_epochs(state)
    ids = [
        r["doc_id"]
        for r in persisted_doclen(spark, state, epochs=eps).collect()
    ]
    assert sorted(ids) == sorted(set(ids)) == [0, 1, 10, 11, 20, 21]

    # read-everything (epochs=None) path must dedupe too
    ids = [r["doc_id"] for r in persisted_doclen(spark, state).collect()]
    assert sorted(ids) == [0, 1, 10, 11, 20, 21]

    # after a real compaction replays the cleanup, nothing is pending
    compact_epochs(spark, os.path.join(state, "doclen"))
    assert pending_folded(dl_dir) == set()
    ids = [
        r["doc_id"]
        for r in persisted_doclen(spark, state, epochs=committed_epochs(state)).collect()
    ]
    assert sorted(ids) == [0, 1, 10, 11, 20, 21]


class _Crash(Exception):
    """The injected process death."""


class _Proxy:
    """A module (os, shutil) with some attributes replaced — patched into
    state_compact's globals only, so nothing else sees the fault."""

    def __init__(self, real, **over):
        self._real = real
        self.__dict__.update(over)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _arm(monkeypatch, step: str) -> None:
    """Make the swap die right after ``step``: the tmp write (the fold
    manifest never lands), the manifest (the first rename fails), the
    move-aside (the second rename fails), the promote (cleanup never
    starts) or mid-cleanup (the second directory delete fails)."""
    if step == "tmp_write":
        real_open = open

        def fake_open(path, mode="r", *args, **kwargs):
            if "w" in mode and os.path.basename(path) == "_FOLDED":
                raise _Crash(step)
            return real_open(path, mode, *args, **kwargs)

        monkeypatch.setattr(sc, "open", fake_open, raising=False)
    elif step in ("manifest", "move_aside"):
        calls = []
        fail_at = 1 if step == "manifest" else 2

        def rename(src, dst):
            calls.append(src)
            if len(calls) == fail_at:
                raise _Crash(step)
            os.rename(src, dst)

        monkeypatch.setattr(sc, "os", _Proxy(os, rename=rename))
    elif step == "promote":

        def finish(table_dir, target):
            raise _Crash(step)

        monkeypatch.setattr(sc, "_finish_swap", finish)
    else:
        real_finish = sc._finish_swap

        def finish(table_dir, target):
            deleted = []

            def rmtree(path, ignore_errors=False):
                if deleted:
                    raise _Crash(step)
                deleted.append(path)
                shutil.rmtree(path, ignore_errors=ignore_errors)

            monkeypatch.setattr(sc, "shutil", _Proxy(shutil, rmtree=rmtree))
            real_finish(table_dir, target)

        monkeypatch.setattr(sc, "_finish_swap", finish)


def _write_epoch_files(table, epochs, rows_per_epoch=2):
    """Epoch dirs written without Spark (one parquet file each)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for e in epochs:
        d = os.path.join(table, f"epoch={e}")
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([e * 100 + i for i in range(rows_per_epoch)], pa.int64()),
                    "v": [f"v{e}-{i}" for i in range(rows_per_epoch)],
                }
            ),
            os.path.join(d, "part-00000.parquet"),
        )


_STEPS = ("tmp_write", "manifest", "move_aside", "promote", "cleanup")
_LAYOUTS = {
    # (epoch dirs before the swap, what the swap folds or replaces)
    "full": [BASE_EPOCH, 0, 1, 2],  # folds -1, 0, 1; epoch 2 is newest
    "l1": [0, 1, 2, 3],  # folds 0, 1, 2 into run -2; nothing moves aside
    "replace": [BASE_EPOCH, 0, 1],  # supersedes every live dir
}


@pytest.mark.parametrize(
    "user,step",
    [(u, s) for u in _LAYOUTS for s in _STEPS if not (u == "l1" and s == "move_aside")],
)
def test_crash_at_each_swap_step_heals(spark, tmp_path, monkeypatch, user, step):
    """A real crash at each step of the one crash-safe swap, for each of
    its users (full fold, L1 fold, table replace). The committed read
    returns every row exactly once after the crash, and the next entry
    heals the table: no tmp, no displaced base, no fold manifest."""
    table = str(tmp_path / "t")
    _write_epoch_files(table, _LAYOUTS[user])
    frontier = [BASE_EPOCH, 0, 1, 2, 3]

    def committed_rows():
        df = read_committed(spark, table, "id long, v string, epoch long", frontier)
        rows = sorted(tuple(r) for r in df.collect())
        # the bucketed-table reader resolves the base the same way
        flat = read_bucketed(spark, table, "id long, v string", epochs=frontier)
        assert sorted(tuple(r) for r in flat.collect()) == rows
        return rows

    before = committed_rows()
    src = spark.createDataFrame(before, "id long, v string")
    entry = {
        "full": lambda: compact_epochs(spark, table),
        "l1": lambda: fold_to_l1(spark, table),
        "replace": lambda: replace_table(spark, table, src),
    }[user]

    _arm(monkeypatch, step)
    with pytest.raises(_Crash):
        entry()
    monkeypatch.undo()
    # readers never repair: the frontier filter, pending_folded and the
    # displaced-base fallback (between move-aside and promote the base
    # sits in _old_base) alone keep them exact
    assert committed_rows() == before
    entry()
    assert committed_rows() == before
    leftovers = [
        os.path.relpath(os.path.join(root, n), table)
        for root, dirs, files in os.walk(table)
        for n in dirs + files
        if n.startswith(("_compacting", "_old_base", "_FOLDED"))
    ]
    assert leftovers == []


def test_bucketed_base_readable_between_move_aside_and_promote(spark, tmp_path):
    """A bucket-partitioned base that a crashed swap moved aside is read
    (and bucket-pruned) from ``_old_base`` exactly as it is from
    ``epoch=-1`` once promoted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "t")
    keys = [f"k{i}" for i in range(12)]
    bucket = {
        r["key"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "key string")
        .select("key", band_bucket_expr(F.col("key"), 4).alias("b"))
        .collect()
    }
    old = os.path.join(table, "_old_base")
    for i, k in enumerate(keys):
        d = os.path.join(old, f"bkt={bucket[k]}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"key": [k], "n": pa.array([i], pa.int64())}), os.path.join(d, f"part-{i}.parquet"))
    with open(os.path.join(old, "_NBUCKETS"), "w") as fh:
        fh.write("4")
    os.makedirs(os.path.join(table, "epoch=0"))
    pq.write_table(
        pa.table({"key": ["k3"], "n": pa.array([99], pa.int64())}),
        os.path.join(table, "epoch=0", "part-0.parquet"),
    )

    def probe():
        out = read_bucketed(
            spark,
            table,
            "key string, n long",
            keys=spark.createDataFrame([("k3",)], "key string"),
            key_col="key",
            epochs=[BASE_EPOCH, 0],
        )
        return sorted(tuple(r) for r in out.filter(F.col("key") == "k3").collect())

    displaced = probe()
    assert displaced == [("k3", 3), ("k3", 99)]
    os.rename(old, os.path.join(table, "epoch=-1"))
    assert probe() == displaced
