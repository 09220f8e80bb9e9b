"""The r9 unified one-epoch search state: postings + doc lengths + IVF
cells maintained by ONE foreachBatch under ONE epoch sequence, published
per epoch by a commit marker written after all three tables — so
hybrid_search_from_unified_state always fuses a lexical and a dense
ranking of the SAME ingested document set (the r8 two-loop design could
fuse different frontiers; reference analogue: per-swamp FIFO commit
order, hydra.go:950-1019).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hydraide_spark.functions.retrieval import ranked_list, rrf_fuse
from hydraide_spark.functions.text import bm25_terms
from hydraide_spark.functions.vector import ivf_topk, train_ivf_centroids
from hydraide_spark.sources.tables import load_table
from hydraide_spark.streaming.search_stream import (
    committed_epochs,
    compact_unified_search_state,
    hybrid_search_from_unified_state,
    make_search_ingest,
)
from hydraide_spark.streaming.state_compact import start_loop

SF = "/root/testdata/sf0.001"
WORDS = ["stream", "data", "query"]


def _corpus(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id").select("doc_id", "text", "embedding")


def _queries(spark, corpus):
    row = corpus.filter(F.col("doc_id") == 0).head()
    return spark.createDataFrame(
        [(0, [float(x) for x in row["embedding"]])],
        "query_id long, query_vec array<double>",
    )


def _batch_hybrid(corpus_subset, queries, cents, topk_per_side=20, topk=10):
    """The batch-operator composition the persisted path must equal."""
    lex_scored = (
        bm25_terms(corpus_subset, "doc_id", "text", WORDS)
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    lex = ranked_list(lex_scored, "doc_id", "score", topk=topk_per_side)
    dense_topk = ivf_topk(
        corpus_subset.select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ),
        queries,
        k=topk_per_side,
        centroids=cents,
        nprobe=2,
    )
    dense = ranked_list(
        dense_topk.select(F.col("vec_id").alias("doc_id"), "score"),
        "doc_id",
        "score",
        topk=topk_per_side,
    )
    return rrf_fuse([lex, dense], id_col="doc_id", k0=60, topk=topk)


def _rows(df):
    return sorted(
        (r["doc_id"], r["rank_0"], r["rank_1"], r["rrf"]) for r in df.collect()
    )


def test_every_epoch_serves_one_consistent_frontier(spark, tmp_path):
    """Ingest 3 epochs through the unified ingest; AFTER EVERY epoch the
    persisted hybrid must equal the batch composition over exactly the
    documents delivered so far — the VERDICT item's done-criterion."""
    corpus = _corpus(spark).persist()
    cents = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=8,
    )
    queries = _queries(spark, corpus)
    state = str(tmp_path / "ustate")
    ingest = make_search_ingest(spark, state, cents)

    delivered = None
    for epoch in range(3):
        batch = corpus.filter(F.col("doc_id") % 3 == epoch)
        ingest(batch, epoch)
        delivered = batch if delivered is None else delivered.unionByName(batch)
        got = hybrid_search_from_unified_state(
            spark, state, WORDS, queries, cents,
            topk_per_side=20, nprobe=2, topk=10,
        )
        want = _batch_hybrid(delivered, queries, cents)
        assert _rows(got) == _rows(want), f"frontier diverged at epoch {epoch}"
    corpus.unpersist()


def test_uncommitted_partial_epoch_is_invisible_then_published(spark, tmp_path):
    """Crash mid-batch: one table written, marker absent — the partial
    epoch must be invisible to BOTH sides of the hybrid; the retried
    (complete) epoch then overwrites and publishes it."""
    from hydraide_spark.streaming.ann_stream import make_ivf_ingest

    corpus = _corpus(spark).persist()
    cents = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=8,
    )
    queries = _queries(spark, corpus)
    state = str(tmp_path / "ustate")
    ingest = make_search_ingest(spark, state, cents)

    b0 = corpus.filter(F.col("doc_id") % 2 == 0)
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)
    ingest(b0, 0)

    # simulate the crash: epoch 1's CELLS land, postings/doclen/marker don't
    make_ivf_ingest(spark, state, cents, id_col="doc_id")(b1, 1)
    assert committed_epochs(state) == [-1, 0]
    got_partial = hybrid_search_from_unified_state(
        spark, state, WORDS, queries, cents, topk_per_side=20, topk=10
    )
    assert _rows(got_partial) == _rows(_batch_hybrid(b0, queries, cents))

    # the retry re-runs the WHOLE epoch (overwrite) and publishes it
    ingest(b1, 1)
    assert committed_epochs(state) == [-1, 0, 1]
    got_full = hybrid_search_from_unified_state(
        spark, state, WORDS, queries, cents, topk_per_side=20, topk=10
    )
    assert _rows(got_full) == _rows(_batch_hybrid(corpus, queries, cents))
    corpus.unpersist()


def test_compaction_preserves_frontier_and_prunes_markers(spark, tmp_path):
    corpus = _corpus(spark).persist()
    cents = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=8,
    )
    queries = _queries(spark, corpus)
    state = str(tmp_path / "ustate")
    ingest = make_search_ingest(spark, state, cents)
    for epoch in range(3):
        ingest(corpus.filter(F.col("doc_id") % 3 == epoch), epoch)

    before = _rows(
        hybrid_search_from_unified_state(
            spark, state, WORDS, queries, cents, topk_per_side=20, topk=10
        )
    )
    folded = compact_unified_search_state(spark, state)
    # every maintained table folded; pqcodes is absent in a pre-PQ
    # state (refresh_pq_model bootstraps it) so its fold is a no-op
    assert folded.pop("pqcodes") == 0
    assert all(n >= 1 for n in folded.values())
    # folded epochs' markers pruned; the newest (left for retries) keeps its
    assert committed_epochs(state) == [-1, 2]
    after = _rows(
        hybrid_search_from_unified_state(
            spark, state, WORDS, queries, cents, topk_per_side=20, topk=10
        )
    )
    assert before == after
    corpus.unpersist()


def test_run_search_ingest_loop_end_to_end(spark, tmp_path):
    """The streaming plumbing: one readStream → unified foreachBatch →
    all three tables + markers advance together."""
    corpus = _corpus(spark).persist()
    cents = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=8,
    )
    queries = _queries(spark, corpus)
    src = tmp_path / "docs_in"
    src.mkdir()
    for i in range(2):
        corpus.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    stream = (
        spark.readStream.schema("doc_id long, text string, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    state = str(tmp_path / "ustate")
    q = start_loop(
        stream,
        make_search_ingest(spark, state, cents),
        "search_ingest",
        os.path.join(state, "_checkpoint"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(committed_epochs(state)) >= 2  # base + >=1 published epoch
    for t in ("postings", "doclen", "cells"):
        assert os.path.isdir(os.path.join(state, t))
    got = hybrid_search_from_unified_state(
        spark, state, WORDS, queries, cents, topk_per_side=20, topk=10
    )
    assert _rows(got) == _rows(_batch_hybrid(corpus, queries, cents))
    corpus.unpersist()


def test_int8_serve_from_state_converges_to_batch(spark, tmp_path):
    """The 4th unified table: cell-partitioned int8 codes written in the
    same epoch commit; the quantized serve path over persisted state
    equals the batch ivf_int8_topk once everything is ingested, and a
    partial epoch (codes written, marker absent) stays invisible."""
    from hydraide_spark.functions.vector import ivf_int8_topk
    from hydraide_spark.streaming.search_stream import ivf_int8_from_state

    corpus = _corpus(spark).persist()
    cents = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=8,
    )
    queries = _queries(spark, corpus)
    state = str(tmp_path / "ustate")
    ingest = make_search_ingest(spark, state, cents)
    b0 = corpus.filter(F.col("doc_id") % 2 == 0)
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)
    ingest(b0, 0)
    ingest(b1, 1)
    assert os.path.isdir(os.path.join(state, "codes"))

    got = ivf_int8_from_state(spark, state, queries, k=10, centroids=cents, nprobe=2)
    want = ivf_int8_topk(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        queries, k=10, centroids=cents, nprobe=2,
    )
    g = sorted((r["doc_id"], r["rank"], r["qdot"]) for r in got.collect())
    w = sorted((r["vec_id"], r["rank"], r["qdot"]) for r in want.collect())
    assert g == w

    # partial epoch 2: codes land but no marker -> serve path unchanged
    from hydraide_spark.functions.vector import int8_quantize_expr, ivf_cell_expr
    extra = corpus.limit(0)  # schema source
    fake = spark.createDataFrame(
        [(999_999, "zzz", [0.5] * 64)], "doc_id long, text string, embedding array<float>"
    )
    fake_codes = fake.select(
        F.col("doc_id"),
        ivf_cell_expr(F.col("embedding").cast("array<double>"), cents).alias("cell"),
        int8_quantize_expr(F.col("embedding")).getField("q").alias("q"),
    )
    fake_codes.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(state, "codes", "epoch=2")
    )
    got2 = ivf_int8_from_state(spark, state, queries, k=10, centroids=cents, nprobe=2)
    assert sorted((r["doc_id"], r["rank"], r["qdot"]) for r in got2.collect()) == g
    corpus.unpersist()


def test_bm25_serve_prunes_word_bucketed_base(spark, tmp_path):
    """r10: after compaction the postings base is word-hash-bucketed
    and a BM25 serving read touches ONLY the query words' bucket dirs
    (input_file_name proves the prune); scores equal the unpruned
    read's exactly."""
    from hydraide_spark.streaming.search_stream import (
        bm25_from_state,
        make_postings_ingest,
        persisted_postings,
    )
    from hydraide_spark.streaming.state_compact import (
        band_bucket_expr,
        compact_search_state,
        read_nbuckets,
    )

    corpus = _corpus(spark).persist()
    state = str(tmp_path / "sstate")
    ingest = make_postings_ingest(spark, state)
    for epoch in range(3):
        ingest(corpus.filter(F.col("doc_id") % 3 == epoch), epoch)
    compact_search_state(spark, state)
    post_dir = os.path.join(state, "postings")
    nb = read_nbuckets(post_dir)
    assert nb is not None and nb >= 16

    pruned = persisted_postings(spark, state, words=WORDS).filter(
        F.col("word").isin(WORDS)
    )
    files = {
        r[0]
        for r in pruned.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    touched = {
        f.split("epoch=-1/", 1)[1].split("/", 1)[0]
        for f in files
        if "epoch=-1/" in f
    }
    expect = {
        r["b"]
        for r in spark.createDataFrame([(w,) for w in WORDS], "w string")
        .select(band_bucket_expr(F.col("w"), nb).alias("b"))
        .collect()
    }
    assert touched == {f"bkt={b}" for b in expect}
    assert len(touched) < nb  # a real prune, not all dirs

    # pruned scores == unpruned scores, bit for bit
    def scores(words_arg):
        return sorted(
            map(
                tuple,
                bm25_from_state(spark, state, WORDS)
                .groupBy("doc_id")
                .agg(F.sum("term_score").alias("s"))
                .collect(),
            )
        )

    full = sorted(
        map(
            tuple,
            persisted_postings(spark, state)
            .filter(F.col("word").isin(WORDS))
            .collect(),
        )
    )
    pr = sorted(map(tuple, pruned.collect()))
    assert pr == full  # same rows through the pruned directories
    assert scores(WORDS)  # and the serving path still produces scores
    corpus.unpersist()


def test_refresh_ivf_model_rebuilds_and_serves(spark, tmp_path):
    """r10 drift loop: refresh_ivf_model retrains centroids from the
    persisted vectors, rebuilds cells/ and codes/ under the new model
    (ALL epochs folded — stream stopped), persists the model, and
    serving with centroids=None uses it: every cell value matches the
    new model's assignment, ANN results equal the batch operator under
    the new centroids, and a post-refresh ingest with centroids=None
    keeps converging."""
    from hydraide_spark.functions.vector import (
        ivf_cell_expr,
        ivf_int8_topk,
    )
    from hydraide_spark.streaming.ann_stream import persisted_cells
    from hydraide_spark.streaming.search_stream import (
        ivf_int8_from_state,
        refresh_ivf_model,
        stored_ivf_model,
    )

    corpus = _corpus(spark).persist()
    cents0 = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=4,
    )
    state = str(tmp_path / "ustate")
    ingest = make_search_ingest(spark, state, cents0)
    for epoch in range(3):
        ingest(corpus.filter(F.col("doc_id") % 3 == epoch), epoch)

    cents1 = refresh_ivf_model(spark, state, n_centroids=8)
    assert len(cents1) == 8
    assert stored_ivf_model(state) == [[float(x) for x in c] for c in cents1]
    # single rebuilt base per table
    for t in ("cells", "codes"):
        dirs = [d for d in os.listdir(os.path.join(state, t)) if d.startswith("epoch=")]
        assert dirs == ["epoch=-1"], (t, dirs)
    # every persisted cell matches the NEW model's assignment
    mism = (
        persisted_cells(spark, state, id_col="doc_id")
        .withColumn(
            "_expect",
            ivf_cell_expr(F.col("embedding").cast("array<double>"), cents1),
        )
        .filter(F.col("cell") != F.col("_expect"))
        .count()
    )
    assert mism == 0

    # serving with centroids=None == batch ivf_int8_topk on cents1
    queries = _queries(spark, corpus)

    def tuples(df):
        return sorted(map(tuple, df.collect()))

    got = tuples(
        ivf_int8_from_state(spark, state, queries, k=10, nprobe=2).select(
            "query_id", "doc_id", "qdot", "est_cos", "rank"
        )
    )
    want = tuples(
        ivf_int8_topk(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            queries,
            k=10,
            centroids=cents1,
            nprobe=2,
        ).select(
            F.col("query_id"), F.col("vec_id").alias("doc_id"),
            "qdot", "est_cos", "rank",
        )
    )
    assert got == want

    # post-refresh ingest picks the stored model up (centroids=None)
    extra = corpus.limit(0)  # no-op batch: just proves the resolve path
    ingest2 = make_search_ingest(spark, state)
    ingest2(extra, 3)
    corpus.unpersist()


def test_interrupted_refresh_refuses_then_resumes(spark, tmp_path):
    """Crash window between the table rebuilds and the model persist:
    the _REBUILDING journal makes serving/ingest REFUSE loudly (a
    half-rebuilt index under either model silently collapses recall)
    and a refresh re-run RESUMES under the journaled centroids,
    finishes the swap, persists the model and clears the marker."""
    import json

    import pytest as _pytest

    from hydraide_spark.streaming.search_stream import (
        hybrid_search_from_unified_state,
        refresh_ivf_model,
        stored_ivf_model,
    )

    corpus = _corpus(spark).persist()
    cents0 = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=4,
    )
    state = str(tmp_path / "ustate")
    ingest = make_search_ingest(spark, state, cents0)
    for epoch in range(2):
        ingest(corpus.filter(F.col("doc_id") % 2 == epoch), epoch)

    cents1 = refresh_ivf_model(spark, state, n_centroids=8)

    # hand-arrange the crash: journal present again (as if the process
    # died between the rebuilds and the _MODEL persist)
    with open(os.path.join(state, "_REBUILDING"), "w") as fh:
        json.dump(cents1, fh)
    queries = _queries(spark, corpus)
    with _pytest.raises(RuntimeError, match="interrupted"):
        hybrid_search_from_unified_state(
            spark, state, WORDS, queries, None, topk_per_side=10, topk=5
        )
    with _pytest.raises(RuntimeError, match="interrupted"):
        make_search_ingest(spark, state)  # centroids=None resolve path

    # resume: uses the JOURNALED centroids, clears the marker, serves
    cents2 = refresh_ivf_model(spark, state)
    assert cents2 == cents1
    assert not os.path.exists(os.path.join(state, "_REBUILDING"))
    assert stored_ivf_model(state) == [[float(x) for x in c] for c in cents1]
    got = hybrid_search_from_unified_state(
        spark, state, WORDS, queries, None, topk_per_side=10, topk=5
    )
    assert got.count() > 0
    corpus.unpersist()


def _pq_serve_tuples(df):
    return sorted(
        (r["query_id"], r["doc_id"], round(r["adist"], 9)) for r in df.collect()
    )


def _pq_batch_tuples(df):
    return sorted(
        (r["query_id"], r["vec_id"], round(r["adist"], 9)) for r in df.collect()
    )


def test_refresh_pq_model_bootstraps_and_serves_ivfadc(spark, tmp_path):
    """r10 VERDICT #3: refresh_pq_model trains per-subspace codebooks
    from the persisted vectors, (re)builds the pqcodes table under the
    crash-safe swap, persists _PQMODEL — and ivfadc_from_state under
    the refreshed books equals the batch ivfadc_topk under the same
    books, with and without the exact re-rank. A post-refresh ingest
    picks the stored books up and keeps the equality as the corpus
    grows."""
    from hydraide_spark.functions.vector import ivfadc_topk
    from hydraide_spark.streaming.search_stream import (
        ivfadc_from_state,
        refresh_pq_model,
        stored_pq_model,
    )

    corpus = _corpus(spark).persist()
    dim = len(corpus.head()["embedding"])
    cents0 = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=4,
    )
    state = str(tmp_path / "ustate")
    from hydraide_spark.streaming.search_stream import store_ivf_model

    os.makedirs(state, exist_ok=True)
    store_ivf_model(state, cents0)  # PQ cell routing reads the stored model
    ingest = make_search_ingest(spark, state, cents0)
    first = corpus.filter(F.col("doc_id") % 3 != 2)
    for epoch in range(2):
        ingest(first.filter(F.col("doc_id") % 3 == epoch), epoch)

    # bootstrap: pre-PQ state -> pqcodes layer up from persisted vectors
    books = refresh_pq_model(spark, state, m=8, k=8)
    assert stored_pq_model(state) is not None
    dirs = [
        d
        for d in os.listdir(os.path.join(state, "pqcodes"))
        if d.startswith("epoch=")
    ]
    assert dirs == ["epoch=-1"]

    queries = _queries(spark, corpus)
    for rf in (0, 3):
        got = _pq_serve_tuples(
            ivfadc_from_state(
                spark, state, queries, k=10, nprobe=2, rerank_factor=rf
            )
        )
        want = _pq_batch_tuples(
            ivfadc_topk(
                first.select(F.col("doc_id").alias("vec_id"), "embedding"),
                queries,
                cents0,
                books,
                dim,
                k=10,
                nprobe=2,
                rerank_factor=rf,
            )
        )
        assert got == want, f"rerank_factor={rf}"

    # post-refresh ingest (stored books) extends pqcodes per epoch
    ingest2 = make_search_ingest(spark, state)
    ingest2(corpus.filter(F.col("doc_id") % 3 == 2), 2)
    got = _pq_serve_tuples(
        ivfadc_from_state(spark, state, queries, k=10, nprobe=2)
    )
    want = _pq_batch_tuples(
        ivfadc_topk(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            queries,
            cents0,
            books,
            dim,
            k=10,
            nprobe=2,
        )
    )
    assert got == want
    corpus.unpersist()


def test_interrupted_pq_refresh_refuses_then_resumes(spark, tmp_path):
    """Crash window between the pqcodes rebuild and the _PQMODEL
    persist: the _PQREBUILDING journal makes PQ serving AND a
    PQ-encoding ingest refuse loudly; a re-run RESUMES under the
    journaled books, clears the marker, and serving equals the batch
    path under those books."""
    import json

    import pytest as _pytest

    from hydraide_spark.functions.vector import ivfadc_topk
    from hydraide_spark.streaming.search_stream import (
        ivfadc_from_state,
        refresh_pq_model,
        stored_pq_model,
    )

    corpus = _corpus(spark).persist()
    dim = len(corpus.head()["embedding"])
    cents0 = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=4,
    )
    state = str(tmp_path / "ustate")
    from hydraide_spark.streaming.search_stream import store_ivf_model

    os.makedirs(state, exist_ok=True)
    store_ivf_model(state, cents0)  # PQ cell routing reads the stored model
    ingest = make_search_ingest(spark, state, cents0)
    for epoch in range(2):
        ingest(corpus.filter(F.col("doc_id") % 2 == epoch), epoch)
    books = refresh_pq_model(spark, state, m=8, k=8)

    # hand-arrange the crash: journal present again
    with open(os.path.join(state, "_PQREBUILDING"), "w") as fh:
        json.dump(
            [[[int(c), [float(x) for x in v]] for c, v in b] for b in books],
            fh,
        )
    queries = _queries(spark, corpus)
    with _pytest.raises(RuntimeError, match="interrupted"):
        ivfadc_from_state(spark, state, queries, k=5)
    with _pytest.raises(RuntimeError, match="interrupted"):
        make_search_ingest(spark, state)  # PQ layer active -> refuses

    books2 = refresh_pq_model(spark, state)
    assert not os.path.exists(os.path.join(state, "_PQREBUILDING"))
    assert stored_pq_model(state) == [
        [[int(c), [float(x) for x in v]] for c, v in b] for b in books2
    ]
    got = _pq_serve_tuples(
        ivfadc_from_state(spark, state, queries, k=10, nprobe=2)
    )
    want = _pq_batch_tuples(
        ivfadc_topk(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            queries,
            cents0,
            books2,
            dim,
            k=10,
            nprobe=2,
        )
    )
    assert got == want
    corpus.unpersist()


def test_refresh_ivf_model_recells_pqcodes(spark, tmp_path):
    """An IVF centroid refresh re-routes the PQ layer too: pqcodes'
    cell keys are rebuilt under the new model (codes unchanged), so
    IVFADC serving equals the batch path under (new centroids, same
    books)."""
    from hydraide_spark.functions.vector import ivfadc_topk
    from hydraide_spark.streaming.search_stream import (
        ivfadc_from_state,
        refresh_ivf_model,
        refresh_pq_model,
    )

    corpus = _corpus(spark).persist()
    dim = len(corpus.head()["embedding"])
    cents0 = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=4,
    )
    state = str(tmp_path / "ustate")
    from hydraide_spark.streaming.search_stream import store_ivf_model

    os.makedirs(state, exist_ok=True)
    store_ivf_model(state, cents0)  # PQ cell routing reads the stored model
    ingest = make_search_ingest(spark, state, cents0)
    for epoch in range(2):
        ingest(corpus.filter(F.col("doc_id") % 2 == epoch), epoch)
    books = refresh_pq_model(spark, state, m=8, k=8)

    cents1 = refresh_ivf_model(spark, state, n_centroids=8)
    dirs = [
        d
        for d in os.listdir(os.path.join(state, "pqcodes"))
        if d.startswith("epoch=")
    ]
    assert dirs == ["epoch=-1"]
    queries = _queries(spark, corpus)
    got = _pq_serve_tuples(
        ivfadc_from_state(spark, state, queries, k=10, nprobe=2)
    )
    want = _pq_batch_tuples(
        ivfadc_topk(
            corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
            queries,
            cents1,
            books,
            dim,
            k=10,
            nprobe=2,
        )
    )
    assert got == want
    corpus.unpersist()


def test_interrupted_pq_bootstrap_refuses_ingest(spark, tmp_path):
    """r11 review: an interrupted PQ BOOTSTRAP (journal present, no
    stored model yet) must refuse a new ingest — silently skipping the
    pqcodes writes would leave the table lagging committed epochs
    forever."""
    import json

    import pytest as _pytest

    from hydraide_spark.streaming.search_stream import store_ivf_model

    corpus = _corpus(spark)
    cents0 = train_ivf_centroids(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"),
        n_centroids=4,
    )
    state = str(tmp_path / "ustate")
    os.makedirs(state, exist_ok=True)
    store_ivf_model(state, cents0)
    with open(os.path.join(state, "_PQREBUILDING"), "w") as fh:
        json.dump([[[0, [0.0] * 8]]], fh)
    with _pytest.raises(RuntimeError, match="interrupted"):
        make_search_ingest(spark, state, cents0)
