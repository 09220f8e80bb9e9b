"""The on-disk forms the engine reads are the ones its writers produce.
Each store and state has one current form, and no reader carries a
fallback for another:

- a bucketed store's ``_BUCKETS`` manifests map every bucket to
  ``[owner version, file names]`` under ``buckets``;
- every change-log file carries its batch-id range in its name
  (``b<lo>-<hi>-…``);
- the dedup and media ingests create ``_commits`` before their first
  epoch's tables, so a crashed epoch 0 (tables landed, no marker) is
  invisible to ``ingested_pairs`` and ``media_pairs``.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from hydraide_spark.functions.multimodal import encode_bmp
from hydraide_spark.sources.store import TreasureStore
from hydraide_spark.streaming import dedup_stream, media_stream
from hydraide_spark.streaming.dedup_stream import ingested_pairs, make_ingest
from hydraide_spark.streaming.media_stream import make_media_ingest, media_pairs

SCHEMA = "key string, val long"
BASE = "the quick brown fox jumps over the lazy dog again and again"


def _assert_store_forms(store):
    for n in os.listdir(store.root):
        if not re.fullmatch(r"v=\d+", n):
            continue
        path = os.path.join(store.root, n, "_BUCKETS")
        if not os.path.exists(path):
            continue  # a donor dir compaction demoted to bucket storage
        with open(path) as fh:
            doc = json.load(fh)
        assert isinstance(doc["buckets"], dict), doc
        for owner, files in doc["buckets"].values():
            assert isinstance(owner, int) and isinstance(files, list), doc
    for n in os.listdir(store.changes_dir):
        if n.endswith(".parquet"):
            assert re.match(r"^b\d+-\d+-", n), n


def test_bucketed_store_writers_leave_one_form(spark, tmp_path):
    store = TreasureStore(spark, str(tmp_path / "s"), n_buckets=4)
    store.init(
        spark.createDataFrame([(f"k{i}", i) for i in range(20)], SCHEMA)
    )
    store.set(spark.createDataFrame([("k1", 100), ("new", 1)], SCHEMA))
    _assert_store_forms(store)
    # a full-coverage write lands as the flat write-buffer leg
    store.set(
        spark.createDataFrame([(f"k{i}", -i) for i in range(20)], SCHEMA)
    )
    store.delete(["k2"])
    _assert_store_forms(store)
    store.compact(1)
    _assert_store_forms(store)
    assert store.prune_changes(store.version) > 0
    _assert_store_forms(store)


def _spy_writes(monkeypatch, state):
    """Record, per parquet write under ``state``, whether ``_commits``
    already existed; make the marker publish crash."""
    seen = []
    write = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        if str(path).startswith(state):
            seen.append(os.path.isdir(os.path.join(state, "_commits")))
        return write(self, path, *a, **kw)

    def crash(*a, **kw):
        raise RuntimeError("crash before the marker")

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    monkeypatch.setattr(dedup_stream, "publish_epoch_marker", crash)
    monkeypatch.setattr(media_stream, "publish_epoch_marker", crash)
    return seen


def test_dedup_first_epoch_crash_is_invisible(spark, tmp_path, monkeypatch):
    state = str(tmp_path / "nd")
    ingest = make_ingest(spark, state, tau=0.6)
    batch = spark.createDataFrame(
        [(1, BASE), (2, BASE + " ok")], "doc_id long, text string"
    )
    seen = _spy_writes(monkeypatch, state)
    with pytest.raises(RuntimeError):
        ingest(batch, 0)
    assert seen and all(seen)
    assert os.path.isdir(os.path.join(state, "pairs", "epoch=0"))
    assert ingested_pairs(spark, state).count() == 0
    monkeypatch.undo()
    ingest(batch, 0)  # the retry publishes the epoch
    assert {(r.id_a, r.id_b) for r in ingested_pairs(spark, state).collect()} == {
        (1, 2)
    }


def test_media_first_epoch_crash_is_invisible(spark, tmp_path, monkeypatch):
    state = str(tmp_path / "media")
    ingest = make_media_ingest(spark, state, kind="image")
    px = np.random.RandomState(1).randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    twin = bytearray(encode_bmp(px))
    batch = spark.createDataFrame(
        [(1, "image", twin), (1001, "image", twin)],
        "media_id long, kind string, payload binary",
    )
    seen = _spy_writes(monkeypatch, state)
    with pytest.raises(RuntimeError):
        ingest(batch, 0)
    assert seen and all(seen)
    assert os.path.isdir(os.path.join(state, "pairs", "epoch=0"))
    assert media_pairs(spark, state).count() == 0
    monkeypatch.undo()
    ingest(batch, 0)
    assert {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()} == {
        (1, 1001)
    }
