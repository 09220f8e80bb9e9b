"""r13: the commit-marker frontier retrofitted onto the two remaining
multi-table streaming states (text near-dup dedup_stream.py, media
near-dup media_stream.py) — the repo's r11 invariant ("multi-table
streaming state needs a commit-marker frontier", first implemented for
the unified search state) now holds everywhere: an epoch whose tables
landed but whose ``_commits/epoch=N`` marker didn't stays invisible to
every reader until the retry re-marks it."""

from __future__ import annotations

import os
import shutil

import numpy as np

from hydraide_spark.streaming.dedup_stream import (
    ingested_pairs,
    make_ingest,
    neardup_lookup,
)
from hydraide_spark.streaming.media_stream import (
    make_media_ingest,
    media_neardup_lookup,
    media_pairs,
)
from hydraide_spark.streaming.state_compact import (
    committed_frontier,
    compact_media_state,
    compact_neardup_state,
)

BASE = "the quick brown fox jumps over the lazy dog again and again"
DOC_SCHEMA = "doc_id long, text string"
MEDIA_SCHEMA = "media_id long, kind string, payload binary"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _pairs(spark, state):
    return {(r.id_a, r.id_b) for r in ingested_pairs(spark, state).collect()}


def test_dedup_partial_epoch_invisible_then_published(spark, tmp_path):
    """Crash between the pairs write and the shingles write: the epoch's
    pairs exist on disk but the marker doesn't — ingested_pairs and
    neardup_lookup must behave as if the epoch never ran, then see it
    after the (complete) retry re-marks it."""
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    ingest(_docs(spark, [(1, BASE)]), 0)

    # epoch 1 ingests a near-dup of doc 1, then "crashes": its marker
    # and shingle table are rolled back, pairs/bands stay on disk —
    # exactly the mid-batch window the marker exists to cover
    ingest(_docs(spark, [(2, BASE + " ok")]), 1)
    os.remove(os.path.join(state, "_commits", "epoch=1"))
    shutil.rmtree(os.path.join(state, "shingles", "epoch=1"))

    assert committed_frontier(state) == [-1, 0]
    assert _pairs(spark, state) == set()  # pairs/epoch=1 is on disk, invisible

    # the serving lookup probes only the committed frontier: doc 2's
    # bands are on disk but unpublished, so a near-dup query of doc 2
    # matches only the committed doc 1
    hits = neardup_lookup(
        spark, state, _docs(spark, [(99, BASE + " okay")]), tau=0.6
    )
    assert {r.match_id for r in hits.collect()} == {1}

    # the retry re-runs the WHOLE epoch (overwrite) and publishes it
    ingest(_docs(spark, [(2, BASE + " ok")]), 1)
    assert committed_frontier(state) == [-1, 0, 1]
    assert _pairs(spark, state) == {(1, 2)}
    hits = neardup_lookup(
        spark, state, _docs(spark, [(99, BASE + " okay")]), tau=0.6
    )
    assert {r.match_id for r in hits.collect()} == {1, 2}


def test_dedup_compaction_prunes_stale_markers(spark, tmp_path):
    """compact_neardup_state folds committed epochs into the base and
    must prune their markers (the frontier listing stays bounded by
    live epochs) while every pair keeps resolving."""
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    for e, did in enumerate([1, 2, 3]):
        ingest(_docs(spark, [(did, BASE + " x" * (did % 2))]), e)
    before = _pairs(spark, state)
    assert before  # sanity: something paired
    compact_neardup_state(spark, state)
    live = {
        int(n.split("=", 1)[1])
        for t in ("pairs", "bands", "shingles")
        for n in os.listdir(os.path.join(state, t))
        if n.startswith("epoch=")
    }
    marked = set(committed_frontier(state))
    assert marked - {-1} <= live  # no marker without a live epoch dir
    assert _pairs(spark, state) == before
    # and the loop keeps running on the compacted state
    ingest(_docs(spark, [(9, BASE)]), 3)
    assert {(1, 9) if 1 < 9 else (9, 1)} <= _pairs(spark, state)


def _image_rows(ids, seed_of):
    from hydraide_spark.functions.multimodal import encode_bmp

    rows = []
    for i in ids:
        px = (
            np.random.RandomState(seed_of(i))
            .randint(0, 256, size=(16, 16, 3))
            .astype(np.uint8)
        )
        rows.append((i, "image", bytearray(encode_bmp(px))))
    return rows


def test_media_partial_epoch_invisible_then_published(spark, tmp_path):
    """Crash between the pairs and hashes writes: epoch 1's pairs exist
    on disk without their index rows — media_pairs and the serving
    lookup must ignore them until the retry re-marks the epoch."""
    state = str(tmp_path / "media")
    ingest = make_media_ingest(spark, state, kind="image")
    # doc 1 in epoch 0; its twin (1001, same seed) in epoch 1
    b0 = spark.createDataFrame(_image_rows([1], lambda i: 1), MEDIA_SCHEMA)
    b1 = spark.createDataFrame(_image_rows([1001], lambda i: 1), MEDIA_SCHEMA)
    ingest(b0, 0)
    ingest(b1, 1)
    assert {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()} == {
        (1, 1001)
    }
    # roll the crash window back: marker and hashes gone, pairs stay
    os.remove(os.path.join(state, "_commits", "epoch=1"))
    shutil.rmtree(os.path.join(state, "hashes", "epoch=1"))

    assert committed_frontier(state) == [-1, 0]
    assert media_pairs(spark, state).count() == 0
    # lookup probes only committed index rows: the twin's hash is
    # unpublished, so a query equal to it matches only media 1 (same
    # seed family) — i.e. the uncommitted 1001 never appears
    q = spark.createDataFrame(_image_rows([77], lambda i: 1), MEDIA_SCHEMA)
    got = {
        r.media_id
        for r in media_neardup_lookup(spark, state, q, kind="image").collect()
    }
    assert got == {1}

    ingest(b1, 1)  # retry republishes
    assert committed_frontier(state) == [-1, 0, 1]
    assert {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()} == {
        (1, 1001)
    }
    got = {
        r.media_id
        for r in media_neardup_lookup(spark, state, q, kind="image").collect()
    }
    assert got == {1, 1001}


def test_media_compaction_folds_and_prunes_markers(spark, tmp_path):
    """compact_media_state: epochs fold into the base, pairs and the
    serving lookup keep answering identically, stale markers pruned,
    and the ingest loop continues on the compacted state."""
    state = str(tmp_path / "media")
    ingest = make_media_ingest(spark, state, kind="image")
    for e, mid in enumerate([1, 2, 3]):
        ingest(
            spark.createDataFrame(
                _image_rows([mid, mid + 1000], lambda i: mid), MEDIA_SCHEMA
            ),
            e,
        )
    before = {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()}
    assert before == {(1, 1001), (2, 1002), (3, 1003)}
    compact_media_state(spark, state)
    assert {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()} == before
    marked = set(committed_frontier(state))
    live = {
        int(n.split("=", 1)[1])
        for t in ("pairs", "hashes")
        for n in os.listdir(os.path.join(state, t))
        if n.startswith("epoch=")
    }
    assert marked - {-1} <= live
    # next epoch pairs against the FOLDED base
    ingest(
        spark.createDataFrame(_image_rows([2002], lambda i: 2), MEDIA_SCHEMA), 3
    )
    got = {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()}
    assert (1002, 2002) in got and (2, 2002) in got
