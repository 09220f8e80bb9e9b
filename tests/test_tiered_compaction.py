"""Tiered (leveled) state compaction — r10 VERDICT #2.

The full fold rewrites the WHOLE base every maintenance tick; the
tiered tick folds committed L0 epochs into an L1 *run* dir (cost ∝
delta) and defers the base rewrite until accumulated L1 bytes cross a
fraction of the base. These tests pin:

- minor folds consolidate without touching the base or earlier runs,
- readers see identical rows through every tier transition,
- the L1 crash windows self-recover (incomplete tmp discarded,
  complete tmp promoted, interrupted cleanup replayed AND excluded
  from reads until replayed),
- the major trigger fires on pressure and rebuilds the bucketed base
  (probe pruning intact).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from hydraide_spark.streaming.state_compact import (
    BASE_EPOCH,
    compact_epochs,
    compact_epochs_tiered,
    fold_to_l1,
    l1_pressure,
    pending_folded,
    read_nbuckets,
)


def _write_epoch_range(spark, table, lo, hi, rows_per_epoch=2):
    for e in range(lo, hi):
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


def _dirs(table):
    return sorted(
        d for d in os.listdir(table) if d.startswith("epoch=")
    )


def test_minor_fold_consolidates_without_touching_earlier_tiers(spark, tmp_path):
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 4)
    before = _all_rows(spark, table)
    # epochs 0,1,2 -> run -2; newest (3) stays for retries
    assert fold_to_l1(spark, table) == 3
    assert _dirs(table) == ["epoch=-2", "epoch=3"]
    assert _all_rows(spark, table) == before

    # second generation: a NEW run, the first run untouched byte-for-byte
    run2 = os.path.join(table, "epoch=-2")
    sig_before = sorted(
        (f, os.path.getsize(os.path.join(run2, f)))
        for f in os.listdir(run2)
        if not f.startswith(("_", "."))
    )
    _write_epoch_range(spark, table, 4, 7)
    before = _all_rows(spark, table)
    assert fold_to_l1(spark, table) == 3  # 3,4,5 -> run -3; 6 stays
    assert _dirs(table) == ["epoch=-2", "epoch=-3", "epoch=6"]
    assert _all_rows(spark, table) == before
    sig_after = sorted(
        (f, os.path.getsize(os.path.join(run2, f)))
        for f in os.listdir(run2)
        if not f.startswith(("_", "."))
    )
    assert sig_after == sig_before  # earlier run not rewritten


def test_minor_fold_skips_below_min_epochs(spark, tmp_path):
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 2)  # one committed epoch only
    assert fold_to_l1(spark, table, min_epochs=2) == 0
    assert _dirs(table) == ["epoch=0", "epoch=1"]


def test_tiered_major_trigger_and_deferral(spark, tmp_path):
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 4)
    before = _all_rows(spark, table)
    # no base yet -> first tick goes straight to major after the minor
    out = compact_epochs_tiered(spark, table)
    assert out["minor"] == 3 and out["major"] > 0
    assert _dirs(table) == [f"epoch={BASE_EPOCH}", "epoch=3"]
    assert _all_rows(spark, table) == before

    # small delta + huge threshold -> minor only, base untouched
    base = os.path.join(table, f"epoch={BASE_EPOCH}")
    base_sig = sorted(os.listdir(base))
    _write_epoch_range(spark, table, 4, 7)
    before = _all_rows(spark, table)
    out = compact_epochs_tiered(spark, table, l1_fraction=1e9)
    assert out["minor"] == 3 and out["major"] == 0
    assert "epoch=-2" in _dirs(table)
    assert sorted(os.listdir(base)) == base_sig  # base not rewritten
    assert _all_rows(spark, table) == before

    # tiny threshold -> the accumulated run merges into the base
    out = compact_epochs_tiered(spark, table, l1_fraction=1e-9)
    assert out["major"] > 0
    assert _dirs(table) == [f"epoch={BASE_EPOCH}", "epoch=6"]
    assert _all_rows(spark, table) == before


def test_tiered_hashed_major_keeps_bucket_pruning(spark, tmp_path):
    """key_col routes the major fold through the hash-bucketed base
    (probe directory pruning), and l1_pressure reads both tiers."""
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 5, rows_per_epoch=8)
    before = _all_rows(spark, table)
    out = compact_epochs_tiered(spark, table, key_col="v")
    assert out["major"] > 0
    assert read_nbuckets(table) is not None  # bucketed base landed
    _write_epoch_range(spark, table, 5, 8)
    expect = sorted(
        [(e * 100 + i, f"v{e}-{i}") for e in range(5) for i in range(8)]
        + [(e * 100 + i, f"v{e}-{i}") for e in range(5, 8) for i in range(2)]
    )
    out = compact_epochs_tiered(spark, table, key_col="v", l1_fraction=1e9)
    # epoch 4 (left by the major) + 5,6 fold; 7 stays as newest
    assert out["minor"] == 3 and out["major"] == 0
    l1_b, base_b = l1_pressure(table)
    assert l1_b > 0 and base_b > 0
    # mixed tiers still read consistently: flat half (runs + newest
    # epoch) and bucketed base unioned by the shared reader
    from hydraide_spark.streaming.state_compact import split_bucketed_table

    nb, flat, base = split_bucketed_table(spark, table, "id long, v string")
    got = sorted(
        [(r["id"], r["v"]) for r in flat.select("id", "v").collect()]
        + [(r["id"], r["v"]) for r in base.select("id", "v").collect()]
    )
    assert got == expect


def test_l1_discards_incomplete_tmp(spark, tmp_path):
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 3)
    before = _all_rows(spark, table)
    tmp = os.path.join(table, "_compacting_l1")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as fh:
        fh.write(b"partial garbage")
    assert fold_to_l1(spark, table) == 2  # recovers, then folds 0,1
    assert not os.path.exists(tmp)
    assert _all_rows(spark, table) == before


def test_l1_promotes_complete_tmp_and_replays_cleanup(spark, tmp_path):
    """Crash after the manifest landed but before the rename: the tmp
    is a complete fold of epochs 0,1 — recovery must promote it and
    delete the folded source dirs, not refold or duplicate."""
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 3)
    before = _all_rows(spark, table)
    fold = [0, 1]
    src = (
        spark.read.option("basePath", table)
        .parquet(*[os.path.join(table, f"epoch={e}") for e in fold])
        .drop("epoch")
    )
    tmp = os.path.join(table, "_compacting_l1")
    src.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_FOLDED"), "w") as fh:
        fh.write("\n".join(str(e) for e in fold))

    # any compaction entry recovers; use the full fold to prove the
    # tiers compose (it folds run + remaining epochs into a base)
    compact_epochs(spark, table)
    assert _all_rows(spark, table) == before
    assert not os.path.exists(tmp)


def test_l1_interrupted_cleanup_excluded_from_reads_then_healed(spark, tmp_path):
    """Crash between promote and cleanup: the folded epochs exist in
    BOTH the run and their original dirs. pending_folded must name
    them (readers drop the duplicates) and the next compaction heals
    the layout."""
    table = str(tmp_path / "t")
    _write_epoch_range(spark, table, 0, 4)
    before = _all_rows(spark, table)
    assert fold_to_l1(spark, table) == 3
    # reconstruct the crash: resurrect the folded dirs + the manifest
    _write_epoch_range(spark, table, 0, 3)  # same rows, same ids
    with open(os.path.join(table, "epoch=-2", "_FOLDED"), "w") as fh:
        fh.write("0\n1\n2")
    assert pending_folded(table) == {0, 1, 2}
    # a frontier-filtered read drops the resurrected duplicates
    from hydraide_spark.streaming.state_compact import committed_filter

    df = spark.read.schema("id long, v string, epoch long").option(
        "basePath", table
    ).parquet(table)
    got = sorted(
        (r["id"], r["v"])
        for r in committed_filter(df, table).collect()
    )
    assert got == before
    # ... and with an explicit frontier list too (runs always kept)
    got2 = sorted(
        (r["id"], r["v"])
        for r in committed_filter(df, table, [0, 1, 2, 3, BASE_EPOCH]).collect()
    )
    assert got2 == before
    # the next entry replays the cleanup
    fold_to_l1(spark, table)
    assert pending_folded(table) == set()
    assert _all_rows(spark, table) == before


def test_tiered_neardup_state_equals_batch_pipeline(spark, tmp_path):
    """End-to-end: an ingest maintained with TIERED ticks produces the
    same pairs as the batch pipeline, through minor-only ticks and
    after a forced major merge."""
    from hydraide_spark.functions.dedup import minhash_neardup_pairs
    from hydraide_spark.streaming import ingested_pairs
    from hydraide_spark.streaming.dedup_stream import make_ingest
    from hydraide_spark.streaming.state_compact import compact_neardup_state

    schema = "doc_id long, text string"
    base_txt = "the quick brown fox jumps over the lazy dog again and again"
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    rows = [(i, f"{base_txt} variant {i} tail words {i % 5}") for i in range(30)]
    for e in range(5):
        ingest(spark.createDataFrame(rows[e * 6 : (e + 1) * 6], schema), e)
        if e == 2:
            compact_neardup_state(spark, state, tiered=True)
    compact_neardup_state(spark, state, tiered=True)
    got = {
        (r["id_a"], r["id_b"]) for r in ingested_pairs(spark, state).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(
            spark.createDataFrame(rows, schema), tau=0.6, n=3, k=16, bands=4
        ).collect()
    }
    assert got == want
