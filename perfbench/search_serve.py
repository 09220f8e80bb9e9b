"""search_serve: streamed hybrid search state, driven epoch by epoch.

A seeded stream of equal-size epochs carrying text and an embedding is
written to parquet in setup, and the IVF centroids are trained there on
a separate sample. The timed phase ingests each epoch by calling
``streaming.search_stream.make_search_ingest(...)(batch, epoch)``
directly (no trigger timer), runs a fixed number of
``hybrid_search_from_unified_state`` queries after it, and compacts the
state with ``compact_unified_search_state`` every few epochs. Query
cost rises with live epochs until compaction folds them.

Correctness: the persisted hybrid result at the final frontier must equal
the batch composition (BM25 terms + IVF top-k, fused by RRF) over the
documents delivered.
"""

from __future__ import annotations

import random
import time

import curate
from common import Ctx, Op, Run, dir_bytes, file_sizes, median, run_query, timed_loop, warm_up

#: nominal seconds of one epoch (ingest + its queries) on a 4-core host;
#: only turns ``--seconds`` into a fixed epoch count, never a timer
NOMINAL_EPOCH_S = 8.0
DIM = 16
TOPK_PER_SIDE, TOPK, NPROBE = 20, 10, 2
SIZES = {
    "full": {"epoch_docs": 100, "queries": 1, "compact_every": 2, "vocab": 2000,
             "doc_words": 30, "centroids": 8, "train_docs": 400, "builds": 3},
    "tiny": {"epoch_docs": 12, "queries": 1, "compact_every": 2, "vocab": 200,
             "doc_words": 12, "centroids": 4, "train_docs": 40, "builds": 1},
}


def _vec(rnd: random.Random, centers: list) -> list:
    c = centers[rnd.randrange(len(centers))]
    return [x + rnd.gauss(0.0, 0.3) for x in c]


def n_epochs(seconds: int) -> int:
    return max(2, round(seconds / NOMINAL_EPOCH_S))


def make_inputs(seed: int, size: str, seconds: int) -> dict:
    """The epochs (the last one feeds the warm-up state), the IVF training
    sample and the query list, seeded."""
    cfg = SIZES[size]
    n = cfg["epoch_docs"]
    texts = curate.make_corpus(seed, n * (n_epochs(seconds) + 1), cfg["vocab"], cfg["doc_words"],
                               exact_rate=0.0, near_rate=0.0)["rows"]
    rnd = random.Random(f"search-inputs-{seed}")
    centers = [[rnd.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(cfg["centroids"])]
    docs = [(doc_id, text, _vec(rnd, centers)) for doc_id, text, _src in texts]
    epochs = [docs[e * n:(e + 1) * n] for e in range(n_epochs(seconds) + 1)]
    train = [(-1 - i, "", _vec(rnd, centers)) for i in range(cfg["train_docs"])]
    queries = []
    for _ in range((n_epochs(seconds) + 1) * cfg["queries"] + 1):
        words = sorted({f"w{rnd.randrange(8)}" for _ in range(3)})
        queries.append((words, _vec(rnd, centers)))
    return {"epochs": epochs, "train": train, "queries": queries}


def make_ops(seed: int, size: str, seconds: int) -> tuple[list[Op], list[Op]]:
    """(warm-up ops, timed ops); the warm-up runs every class once on a
    state of its own."""
    cfg = SIZES[size]
    warm_epoch = n_epochs(seconds)
    warm = [Op("write", "ingest", {"state": "warm", "epoch": warm_epoch}),
            Op("read", "query", {"state": "warm", "q": 0}),
            Op("maint", "compact", {"state": "warm"})]
    timed: list[Op] = []
    q = 1
    for e in range(n_epochs(seconds)):
        timed.append(Op("write", "ingest", {"state": "main", "epoch": e}))
        for _ in range(cfg["queries"]):
            timed.append(Op("read", "query", {"state": "main", "q": q}))
            q += 1
        if (e + 1) % cfg["compact_every"] == 0:
            timed.append(Op("maint", "compact", {"state": "main"}))
    return warm, timed


def _doc_bytes(doc: tuple) -> int:
    """Bytes of one document under a fixed encoding: 8-byte id, UTF-8
    text, 4-byte floats."""
    return 8 + len(doc[1].encode()) + 4 * len(doc[2])


def _rows(df) -> list:
    return sorted((r["doc_id"], r["rank_0"], r["rank_1"], r["rrf"]) for r in df.collect())


def run(ctx: Ctx) -> Run:
    from pyspark.sql import functions as F

    from hydraide_spark.functions.retrieval import ranked_list, rrf_fuse
    from hydraide_spark.functions.text import bm25_terms
    from hydraide_spark.functions.vector import ivf_topk, train_ivf_centroids
    from hydraide_spark.streaming.search_stream import (
        committed_epochs,
        compact_unified_search_state,
        hybrid_search_from_unified_state,
        make_search_ingest,
    )

    spark, tr, cfg = ctx.spark, ctx.tracer, SIZES[ctx.size]
    schema = "doc_id long, text string, embedding array<float>"

    # -- setup: inputs to parquet and centroids (built several times,
    # median kept), then the warm-up on a state of its own
    build_s = []
    for b in range(cfg["builds"]):
        t0 = time.perf_counter()
        inputs = make_inputs(ctx.seed, ctx.size, ctx.seconds)
        root = f"{ctx.tmp}/search{b}"
        spark.createDataFrame([(e, *d) for e, docs in enumerate(inputs["epochs"]) for d in docs],
                              "epoch int, " + schema) \
            .repartition(1).write.partitionBy("epoch").parquet(f"{root}/epochs")
        train = spark.createDataFrame(inputs["train"], schema)
        cents = train_ivf_centroids(train.select(F.col("doc_id").alias("vec_id"), "embedding"),
                                    n_centroids=cfg["centroids"])
        build_s.append(time.perf_counter() - t0)
    src = f"{root}/epochs"
    states = {"main": f"{ctx.tmp}/state", "warm": f"{ctx.tmp}/warm_state"}
    ingests = {k: make_search_ingest(spark, d, cents) for k, d in states.items()}
    query_dfs = [spark.createDataFrame([(0, [float(x) for x in vec])], "query_id long, query_vec array<double>")
                 for _words, vec in inputs["queries"]]
    warm, timed = make_ops(ctx.seed, ctx.size, ctx.seconds)

    def execute(op: Op):
        a = op.args
        state = states[a["state"]]
        if op.cls == "ingest":
            batch = spark.read.parquet(f"{src}/epoch={a['epoch']}")
            return tr.call("ingest.epoch", ingests[a["state"]], batch, a["epoch"])
        if op.cls == "compact":
            return tr.call("compact.state", compact_unified_search_state, spark, state)
        words, _vec = inputs["queries"][a["q"]]
        return run_query(tr, lambda: hybrid_search_from_unified_state(
            spark, state, words, query_dfs[a["q"]], cents,
            topk_per_side=TOPK_PER_SIDE, nprobe=NPROBE, topk=TOPK), lambda df: df.collect())

    def check(op: Op, out) -> bool:
        # a query over live epochs returns a non-empty fused page; exact
        # equality with the batch composition is checked at the end
        return op.cls != "query" or 0 < len(out) <= TOPK

    run = Run()
    warmup_s = warm_up(ctx, warm, execute, check, run)
    run.setup_s = ctx.session_start_s + median(build_s) + warmup_s

    main = states["main"]
    last = {"files": {}}

    def trace_extra(op: Op) -> dict:
        files = file_sizes(main)
        out = {"state.live_epochs": len(committed_epochs(main)) - 1}
        if op.cls == "ingest":
            added = sum(files.values()) - sum(last["files"].values())
            out["ingest.write_amp"] = added / sum(map(_doc_bytes, inputs["epochs"][op.args["epoch"]]))
        elif op.cls == "compact":
            out["compact.bytes_rewritten"] = float(sum(sz for p, sz in files.items() if p not in last["files"]))
        last["files"] = files
        return out

    timed_loop(ctx, timed, execute, check, run, trace_extra)

    # -- end state: persisted hybrid at the final frontier vs the batch
    # composition over every delivered document
    delivered = sorted({op.args["epoch"] for op in timed if op.cls == "ingest"})
    corpus = spark.read.parquet(*[f"{src}/epoch={e}" for e in delivered])
    words, _vec = inputs["queries"][-1]
    qdf = query_dfs[-1]
    got = hybrid_search_from_unified_state(spark, main, words, qdf, cents,
                                           topk_per_side=TOPK_PER_SIDE, nprobe=NPROBE, topk=TOPK)
    lex = ranked_list(
        bm25_terms(corpus, "doc_id", "text", words).groupBy("doc_id").agg(F.sum("term_score").alias("score")),
        "doc_id", "score", topk=TOPK_PER_SIDE)
    dense_topk = ivf_topk(corpus.select(F.col("doc_id").alias("vec_id"), "embedding"), qdf,
                          k=TOPK_PER_SIDE, centroids=cents, nprobe=NPROBE)
    dense = ranked_list(dense_topk.select(F.col("vec_id").alias("doc_id"), "score"),
                        "doc_id", "score", topk=TOPK_PER_SIDE)
    want = rrf_fuse([lex, dense], id_col="doc_id", k0=60, topk=TOPK)
    final_ok = bool(_rows(got) == _rows(want))
    run.correct = run.correct and final_ok
    run.extra["final_frontier_ok"] = final_ok
    live = sum(_doc_bytes(d) for e in delivered for d in inputs["epochs"][e])
    run.space_amp = dir_bytes(main) / live
    run.extra["build_s"] = build_s
    run.extra["warmup_s"] = warmup_s
    return run
