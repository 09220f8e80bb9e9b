"""Passage-level near-dup (functions/dedup.py::chunk_neardup_pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hydraide_spark.functions.dedup import chunk_neardup_pairs


def test_chunk_neardup_finds_shared_passage_not_whole_docs(spark):
    """Two long documents that differ entirely EXCEPT for one shared
    16-token paragraph: doc-level Jaccard sits far below any sane tau,
    but the chunk-level pipeline pairs exactly the aligned passage."""
    para = " ".join(f"shared{i}" for i in range(16))
    a = para + " " + " ".join(f"aword{i}" for i in range(48))
    b = para + " " + " ".join(f"bword{i}" for i in range(48))
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    pairs = chunk_neardup_pairs(
        docs, tau=0.6, chunk_size=16, engine_stable=True
    ).collect()
    got = {(r.doc_a, r.chunk_a, r.doc_b, r.chunk_b) for r in pairs}
    assert got == {(1, 0, 2, 0)}, got
    (only,) = pairs
    assert only.inter == only.union  # identical chunks: Jaccard 1

    # whole-doc near-dup at the same tau finds nothing (the dilution)
    from hydraide_spark.functions.dedup import minhash_neardup_pairs

    assert (
        minhash_neardup_pairs(docs, tau=0.6, engine_stable=True).count() == 0
    )


def test_chunk_neardup_within_doc_pairs_optional(spark):
    """A doc repeating its own paragraph pairs with itself only when
    cross_doc_only=False (self-repetition is repetition_signals' job
    by default)."""
    para = " ".join(f"rep{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(7, para + " " + para)], "doc_id long, text string"
    )
    assert (
        chunk_neardup_pairs(docs, tau=0.6, chunk_size=16, engine_stable=True).count()
        == 0
    )
    within = chunk_neardup_pairs(
        docs, tau=0.6, chunk_size=16, engine_stable=True, cross_doc_only=False
    ).collect()
    assert {(r.doc_a, r.chunk_a, r.doc_b, r.chunk_b) for r in within} == {(7, 0, 7, 1)}


def test_chunk_neardup_packing_guard(spark):
    docs = spark.createDataFrame(
        [(-1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="packing range"):
        chunk_neardup_pairs(docs, tau=0.6, chunk_size=4, engine_stable=True).count()


def test_chunk_neardup_collapse_star_edges(spark):
    """Three docs sharing one byte-identical paragraph: collapsed mode
    emits the 2 star edges (min-key representative) instead of the 3
    full pairs, and the connectivity (who near-dups whom, transitively)
    is unchanged."""
    para = " ".join(f"bp{i}" for i in range(16))
    rows = [
        (i, para + " " + " ".join(f"w{i}_{j}" for j in range(48)))
        for i in (1, 2, 3)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = chunk_neardup_pairs(docs, tau=0.6, chunk_size=16, engine_stable=True)
    coll = chunk_neardup_pairs(
        docs, tau=0.6, chunk_size=16, engine_stable=True, collapse_exact=True
    )
    fp = {(r.doc_a, r.doc_b) for r in full.collect()}
    cp = {(r.doc_a, r.doc_b) for r in coll.collect()}
    assert fp == {(1, 2), (1, 3), (2, 3)}
    assert cp == {(1, 2), (1, 3)}  # star around the min-key rep


# --- chunk-granularity STREAMING near-dup (r13) -------------------------------


def _passage_corpus():
    """Docs sharing one 16-token paragraph across micro-batch
    boundaries: whole-doc Jaccard dilutes the overlap away, the chunk
    pipeline pairs the aligned passages."""
    para = " ".join(f"shared{i}" for i in range(16))
    mk = lambda tag, n=48: " ".join(f"{tag}{i}" for i in range(n))
    return [
        [(1, para + " " + mk("aword")), (2, mk("bword"))],
        [(3, para + " " + mk("cword")), (4, mk("dword"))],
        [(5, mk("eword", 16) + " " + para)],
    ]


def test_chunk_streaming_equals_batch_restriction(spark, tmp_path):
    """The streamed chunk-pair set must equal batch chunk_neardup_pairs
    over the full corpus once every doc has streamed — passages shared
    ACROSS micro-batches are the case that matters (the boilerplate
    paragraph arrived epochs earlier)."""
    import os

    from hydraide_spark.streaming import chunk_ingested_pairs, start_loop
    from hydraide_spark.streaming.dedup_stream import make_chunk_ingest

    batches = _passage_corpus()
    schema = "doc_id long, text string"
    src = tmp_path / "docs_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "chunk_state")
    q = start_loop(
        stream,
        make_chunk_ingest(spark, state, tau=0.6, chunk_size=16),
        "chunk_neardup_ingest",
        os.path.join(state, "_checkpoint"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r.doc_a, r.chunk_a, r.doc_b, r.chunk_b, r.inter, r["union"])
        for r in chunk_ingested_pairs(spark, state).collect()
    }
    full = spark.createDataFrame([r for b in batches for r in b], schema)
    batch = {
        (r.doc_a, r.chunk_a, r.doc_b, r.chunk_b, r.inter, r["union"])
        for r in chunk_neardup_pairs(
            full, tau=0.6, chunk_size=16, collapse_exact=False
        ).collect()
    }
    assert streamed == batch
    # the shared paragraph actually paired across batches, incl. doc 5
    # where it sits at a DIFFERENT chunk offset (16 filler tokens put it
    # at chunk 1, not chunk 0)
    docs_paired = {d for t in streamed for d in (t[0], t[2])}
    assert {1, 3, 5} <= docs_paired
    assert any(
        (t[0], t[2]) in {(1, 5), (3, 5)} and t[3] != 0 for t in streamed
    )


def test_chunk_neardup_lookup_serving_probe(spark, tmp_path):
    """Admission check at passage granularity: a NEW page sharing one
    paragraph with the ingested corpus matches that passage (and
    nothing else) without being ingested; a clean page matches
    nothing; the probe leaves the state untouched."""
    import os

    from hydraide_spark.streaming import chunk_neardup_lookup
    from hydraide_spark.streaming.dedup_stream import make_chunk_ingest

    batches = _passage_corpus()
    schema = "doc_id long, text string"
    state = str(tmp_path / "chunk_state")
    ingest = make_chunk_ingest(spark, state, tau=0.6, chunk_size=16)
    for e, rows in enumerate(batches):
        ingest(spark.createDataFrame(rows, schema), e)

    para = " ".join(f"shared{i}" for i in range(16))
    probe = spark.createDataFrame(
        [
            (100, " ".join(f"qword{i}" for i in range(16)) + " " + para),
            (101, " ".join(f"clean{i}" for i in range(32))),
        ],
        schema,
    )
    before = sorted(os.listdir(os.path.join(state, "bands")))
    hits = chunk_neardup_lookup(
        spark, state, probe, tau=0.6, chunk_size=16
    ).collect()
    assert sorted(os.listdir(os.path.join(state, "bands"))) == before
    got = {(r.doc_id, r.chunk_id, r.match_doc, r.match_chunk) for r in hits}
    # doc 100's SECOND chunk (the paragraph) matches every indexed copy
    assert got == {(100, 1, 1, 0), (100, 1, 3, 0), (100, 1, 5, 1)}, got
    assert all(r.inter == r["union"] for r in hits)  # identical passages
