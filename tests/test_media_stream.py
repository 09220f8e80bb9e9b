"""Incremental media near-dup (streaming/media_stream.py): the
multimodal per-ingest loop must discover exactly the pairs batch mode
finds, under any batching, with retry-idempotent epoch sinks."""

from __future__ import annotations

import os

import numpy as np

from hydraide_spark.functions.multimodal import encode_bmp, encode_wav, image_neardup_pairs
from hydraide_spark.streaming.media_stream import make_media_ingest, media_pairs
from hydraide_spark.streaming.state_compact import start_loop


def _image_rows(n, twin_every=4):
    rows = []
    for i in range(n):
        px = np.random.RandomState(i).randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
        rows.append((i, "image", bytearray(encode_bmp(px))))
        if i % twin_every == 0:
            tw = px.copy()
            tw[8, 8, 0] ^= 128
            rows.append((i + 1000, "image", bytearray(encode_bmp(tw))))
    return rows


def test_incremental_media_pairs_equal_batch(spark, tmp_path):
    """Stream the image corpus in 3 files; the accumulated pairs must
    equal the batch image_neardup_pairs over the full corpus — twins
    split ACROSS micro-batches are the case that matters (a twin's
    original arrives in an earlier epoch)."""
    rows = _image_rows(9, twin_every=3)
    # order so each twin lands in a LATER file than its original
    originals = [r for r in rows if r[0] < 1000]
    twins = [r for r in rows if r[0] >= 1000]
    schema = "media_id long, kind string, payload binary"
    src = tmp_path / "media_in"
    src.mkdir()
    spark.createDataFrame(originals[:5], schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(originals[5:], schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(twins, schema).coalesce(1).write.parquet(str(src / "b2"))

    state = str(tmp_path / "media_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_loop(
        stream,
        make_media_ingest(spark, state, kind="image"),
        "media_neardup_ingest",
        os.path.join(state, "_checkpoint"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()}
    batch = image_neardup_pairs(
        spark.createDataFrame(rows, schema), max_hamming=3
    )
    exp = {(r.id_a, r.id_b) for r in batch.collect()}
    assert got == exp and exp == {(i, i + 1000) for i in range(0, 9, 3)}


def test_media_ingest_epoch_overwrite_idempotent(spark, tmp_path):
    """Replaying an epoch (the foreachBatch retry contract) must leave
    the state identical — overwrite, never append."""
    schema = "media_id long, kind string, payload binary"
    rows = _image_rows(4, twin_every=2)
    df = spark.createDataFrame(rows, schema)
    state = str(tmp_path / "media_state2")
    ingest = make_media_ingest(spark, state, kind="image")
    ingest(df, 0)
    first = sorted(
        (r.id_a, r.id_b, r.hamming) for r in media_pairs(spark, state).collect()
    )
    ingest(df, 0)  # retry of the SAME epoch
    second = sorted(
        (r.id_a, r.id_b, r.hamming) for r in media_pairs(spark, state).collect()
    )
    assert first == second and len(first) > 0


def test_audio_kind_streams_too(spark, tmp_path):
    schema = "media_id long, kind string, payload binary"
    rows = []
    for i in range(6):
        x = np.random.RandomState(i).normal(0, 0.2, 4000)
        rows.append((i, "audio", bytearray(encode_wav(x, 16000))))
        if i % 2 == 0:
            tw = x + np.random.RandomState(7).normal(0, 5e-4, 4000)
            rows.append((i + 1000, "audio", bytearray(encode_wav(tw, 16000))))
    state = str(tmp_path / "audio_state")
    ingest = make_media_ingest(spark, state, kind="audio")
    df = spark.createDataFrame(rows, schema)
    ingest(df.filter("media_id < 1000"), 0)
    ingest(df.filter("media_id >= 1000"), 1)
    got = {(r.id_a, r.id_b) for r in media_pairs(spark, state).collect()}
    assert got == {(i, i + 1000) for i in range(0, 6, 2)}


def test_media_neardup_lookup_serving_probe(spark, tmp_path):
    """Lookup pairs query items against the persisted index only: a
    query twin of an indexed image hits; query items never pair among
    themselves; an empty state returns an empty frame."""
    from hydraide_spark.streaming.media_stream import media_neardup_lookup

    schema = "media_id long, kind string, payload binary"
    state = str(tmp_path / "lookup_state")
    assert media_neardup_lookup(
        spark, state, spark.createDataFrame([], schema)
    ).count() == 0

    rows = _image_rows(6, twin_every=100)  # no twins inside the index
    ingest = make_media_ingest(spark, state, kind="image")
    ingest(spark.createDataFrame(rows, schema), 0)

    # queries: a twin of indexed item 2, and two IDENTICAL fresh images
    # (q-q pair must NOT emit)
    px2 = np.random.RandomState(2).randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    tw = px2.copy()
    tw[8, 8, 0] ^= 128
    fresh = np.random.RandomState(777).randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    queries = spark.createDataFrame(
        [
            (500, "image", bytearray(encode_bmp(tw))),
            (501, "image", bytearray(encode_bmp(fresh))),
            (502, "image", bytearray(encode_bmp(fresh))),
        ],
        schema,
    )
    got = {
        (r.query_id, r.media_id)
        for r in media_neardup_lookup(spark, state, queries, kind="image").collect()
    }
    assert got == {(500, 2)}
