"""Change-log file-name index (r12 VERDICT #6): every commit file
carries its batch-id range in its NAME, so the strict-FIFO gap probe
is one directory listing — no Spark scan per stalled trigger — and the
index cannot go stale because it lives on the data files themselves.

Pins:
- _emit names single-batch files b<id>-<id>-…; logged_in_range answers
  presence/absence conclusively from the listing,
- prune_changes range-names its compacted file and the pruned ids
  resolve as conclusively gone (a prune that keeps nothing leaves an
  empty log),
- a crashed _emit staging is finished (complete) or discarded
  (incomplete) at store init,
- the strict-FIFO wait path runs ZERO change-log scans when the log is
  name-indexed (the r11 probe ran one scan per stalled window).
"""

from __future__ import annotations

import os
import re
import shutil
import time
from datetime import datetime

from pyspark.sql import Row

from hydraide_spark.sources.store import TreasureStore

BASE = [
    Row(key="a", val=1, expired_at=datetime(2020, 1, 1)),
    Row(key="b", val=2, expired_at=None),
]


def make_store(spark, tmp_path):
    store = TreasureStore(spark, str(tmp_path / "store"))
    store.init(
        spark.createDataFrame(
            BASE, "key string, val long, expired_at timestamp"
        )
    )
    return store


def _set(store, spark, key, val):
    store.set(
        spark.createDataFrame(
            [(key, val, None)], "key string, val long, expired_at timestamp"
        )
    )


def test_emit_names_files_and_range_probe(spark, tmp_path):
    store = make_store(spark, tmp_path)
    for i in range(4):
        _set(store, spark, f"k{i}", i)
    names = [
        n
        for n in os.listdir(store.changes_dir)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    # init emits no events; the four sets emit batches 1..4
    got_ids = sorted(
        int(re.match(r"^b(\d+)-(\d+)-", n).group(1)) for n in names
    )
    assert got_ids == [1, 2, 3, 4]
    assert store.logged_in_range(2, 3) is True
    assert store.logged_in_range(0, 5) is True
    assert store.logged_in_range(5, 9) is False  # conclusive: all named
    assert store.logged_in_range(0, 1) is False
    # no staging leftovers
    assert not [n for n in os.listdir(store.changes_dir) if n.startswith(".staging")]


def test_prune_names_compacted_file_and_probe_sees_gone(spark, tmp_path):
    store = make_store(spark, tmp_path)
    for i in range(4):
        _set(store, spark, f"k{i}", i)
    dropped = store.prune_changes(before_batch=3)
    assert dropped > 0
    names = [
        n
        for n in os.listdir(store.changes_dir)
        if n.endswith(".parquet") and not n.startswith(".")
    ]
    assert len(names) == 1 and names[0].startswith("b3-4-")
    assert store.logged_in_range(0, 3) is False  # pruned: conclusively gone
    assert store.logged_in_range(3, 5) is True
    # the log content itself matches the name
    bids = sorted(r[0] for r in store.changes().select("batch_id").distinct().collect())
    assert bids == [3, 4]


def test_prune_all_leaves_empty_log(spark, tmp_path):
    """A prune above every logged batch drops the whole log: the call
    returns the dropped count, the log is empty (no swap leftover, no
    unnamed file) and every pruned id resolves as conclusively gone."""
    store = make_store(spark, tmp_path)
    _set(store, spark, "k0", 0)
    _set(store, spark, "k1", 1)
    assert store.prune_changes(10**6) == 2
    assert store.changes().count() == 0
    assert not os.path.exists(store.changes_dir + ".compacting")
    assert not [n for n in os.listdir(store.changes_dir) if n.endswith(".parquet")]
    assert store.logged_in_range(0, 10) is False
    # the emptied log keeps taking commits
    _set(store, spark, "k2", 2)
    assert store.logged_in_range(3, 4) is True


def test_crashed_staging_recovery(spark, tmp_path):
    store = make_store(spark, tmp_path)
    _set(store, spark, "k", 1)
    # fabricate a COMPLETE staging (as if _emit crashed after the
    # staged write, before the publish rename) by re-staging batch 1's
    # published file, and an INCOMPLETE one (no _SUCCESS)
    published = [
        n for n in os.listdir(store.changes_dir) if n.startswith("b1-1-")
    ][0]
    complete = os.path.join(store.changes_dir, ".staging-7")
    os.makedirs(complete)
    shutil.copy(
        os.path.join(store.changes_dir, published),
        os.path.join(complete, "part-00000.parquet"),
    )
    open(os.path.join(complete, "_SUCCESS"), "w").close()
    incomplete = os.path.join(store.changes_dir, ".staging-8")
    os.makedirs(incomplete)
    with open(os.path.join(incomplete, "part-00000.parquet"), "w") as fh:
        fh.write("partial")
    # re-open the store: recovery publishes 7, discards 8
    store2 = TreasureStore(spark, str(tmp_path / "store"))
    assert store2.logged_in_range(7, 8) is True
    assert not os.path.exists(complete)
    assert not os.path.exists(incomplete)
    assert store2.logged_in_range(8, 9) is False


def test_strict_fifo_wait_path_runs_zero_log_scans(spark, tmp_path):
    """The r11 probe ran store.changes() once per stalled window; with
    the name index the ONLY changes() call in a fully-named log is the
    frontier seed at subscribe time — pinned by counting calls through
    the long-inversion wait scenario (5 stalled data triggers)."""
    from hydraide_spark.streaming.subscribe import subscribe_strict_fifo

    store = make_store(spark, tmp_path)
    for i in range(6):
        _set(store, spark, f"k{i}", i)
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

    calls = {"n": 0}
    orig = store.changes

    def counting_changes():
        calls["n"] += 1
        return orig()

    store.changes = counting_changes

    got: list = []

    def on_events(rows, epoch):
        got.append([(r["batch_id"], r["key"]) for r in rows])

    q = subscribe_strict_fifo(
        spark,
        store,
        on_events,
        queue_name="strict_noscan",
        max_files_per_trigger=1,
        gap_patience=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flat = [e for batch in got for e in batch]
    assert [b for b, _ in flat] == list(range(1, 7))  # zero loss, in order
    assert calls["n"] == 1, calls["n"]  # the frontier seed only
