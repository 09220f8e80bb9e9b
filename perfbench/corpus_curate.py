"""corpus_curate: LLM-data curation of fresh shards, one after another.

Each shard is a fresh seeded crawl of equal size with planted exact
copies and near-copies at fixed rates (perfbench/curate.py), written to
parquet in setup. Per shard the op list has a ``curate`` op (the
curation pass: normalize/quality, exact dedup, MinHash near-dup pairs,
clusters, report; checked against the planted truth) and a ``publish``
op that writes the shard's survivors. No input repeats across ops, and
the engine's ``pin_latest`` caches are never released in between.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import curate
from common import Ctx, Op, Run, dir_bytes, median, timed_loop, warm_up

#: nominal seconds of one warm shard (curate + publish) on a 4-core
#: host; only turns ``--seconds`` into a fixed shard count, never a timer
NOMINAL_SHARD_S = 5.0
#: ``warm`` shards run untimed before the timed ones: in a fresh JVM the
#: first pass takes ~4x a warm one and the next few keep getting faster
#: (JIT); timing that slope would time the JVM's warm-up, not the engine
SIZES = {
    "full": {"docs": 600, "vocab": 5000, "doc_words": 40, "builds": 3, "warm": 3},
    "tiny": {"docs": 100, "vocab": 2000, "doc_words": 40, "builds": 1, "warm": 1},
}


def n_shards(seconds: int) -> int:
    return max(2, round(seconds / NOMINAL_SHARD_S))


def make_inputs(seed: int, size: str, seconds: int) -> list[dict]:
    """One crawl per shard (the last ``warm`` ones feed the warm-up);
    shard ``i`` is seeded from ``(seed, i)`` and its ids start at
    ``i * 10**6``."""
    cfg = SIZES[size]
    shards = []
    for i in range(n_shards(seconds) + cfg["warm"]):
        c = curate.make_corpus(seed * 1000 + i, cfg["docs"], cfg["vocab"], cfg["doc_words"])
        off = i * 10**6
        c["rows"] = [(d + off, t, s) for d, t, s in c["rows"]]
        c["exact_groups"] = [[d + off for d in g] for g in c["exact_groups"]]
        c["near_pairs"] = [(a + off, b + off) for a, b in c["near_pairs"]]
        c["base_ids"] = set(range(off, off + cfg["docs"]))
        shards.append(c)
    return shards


def make_ops(seed: int, size: str, seconds: int) -> tuple[list[Op], list[Op]]:
    def ops(shards):
        return [op for i in shards for op in (Op("read", "curate", {"shard": i}),
                                              Op("write", "publish", {"shard": i}))]

    n = n_shards(seconds)
    return ops(range(n, n + SIZES[size]["warm"])), ops(range(n))


def _doc_bytes(row: tuple) -> int:
    """Bytes of one document under a fixed encoding: 8-byte id, UTF-8
    text and source."""
    return 8 + len(row[1].encode()) + len(row[2].encode())


def run(ctx: Ctx) -> Run:
    spark, tr, cfg = ctx.spark, ctx.tracer, SIZES[ctx.size]

    # -- setup: every shard to its own parquet directory, as a crawler
    #    would deliver it (built several times, median kept)
    build_s = []
    for b in range(cfg["builds"]):
        t0 = time.perf_counter()
        shards = make_inputs(ctx.seed, ctx.size, ctx.seconds)
        src = f"{ctx.tmp}/curate{b}/shards"
        for i, c in enumerate(shards):
            os.makedirs(f"{src}/shard={i}")
            ids, texts, sources = zip(*c["rows"])
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts, "source": sources}),
                           f"{src}/shard={i}/part-0.parquet")
        build_s.append(time.perf_counter() - t0)
    out = f"{ctx.tmp}/curated"
    warm, timed = make_ops(ctx.seed, ctx.size, ctx.seconds)
    passes: dict[int, dict] = {}
    recalls: list[float] = []

    def execute(op: Op):
        i = op.args["shard"]
        if op.cls == "curate":
            passes[i] = curate.curate(spark, tr, f"{src}/shard={i}")
            return passes[i]
        labels = passes[i]["labels"]
        drop = sorted(d for d, c in labels.items() if c != d)
        with tr.span("curate.publish"):
            docs = spark.read.parquet(f"{src}/shard={i}")
            if drop:
                docs = docs.join(spark.createDataFrame([(d,) for d in drop], "doc_id long"), "doc_id", "left_anti")
            docs.write.parquet(f"{out}/shard={i}")
        return len(drop)

    def check(op: Op, res) -> bool:
        if op.cls != "curate":
            return True
        ok, recall = curate.check(res, shards[op.args["shard"]])
        recalls.append(recall)
        return ok

    run = Run()
    warmup_s = warm_up(ctx, warm, execute, check, run)
    run.setup_s = ctx.session_start_s + median(build_s) + warmup_s
    del recalls[:]
    timed_loop(ctx, timed, execute, check, run)

    # -- end state: every base doc published once, no planted exact copy
    published = [r["doc_id"] for r in spark.read.parquet(*[f"{out}/shard={op.args['shard']}"
                                                          for op in timed if op.cls == "publish"])
                 .select("doc_id").collect()]
    kept = set(published)
    base = set().union(*(shards[op.args["shard"]]["base_ids"] for op in timed if op.cls == "publish"))
    copies = {d for op in timed if op.cls == "publish"
              for g in shards[op.args["shard"]]["exact_groups"] for d in g[1:]}
    final_ok = len(published) == len(kept) and base <= kept and not (copies & kept)
    run.correct = run.correct and final_ok
    rows = {r[0]: r for op in timed if op.cls == "publish" for r in shards[op.args["shard"]]["rows"]}
    run.space_amp = dir_bytes(out) / sum(_doc_bytes(rows[d]) for d in kept)
    run.extra.update({
        "final_published_ok": final_ok,
        "neardup.planted_recall": min(recalls) if recalls else 0.0,
        "neardup.pairs": median([passes[op.args["shard"]]["neardup_pairs"] for op in timed if op.cls == "curate"]),
        "docs_per_s": len(kept) / run.wall_s,
        "batch_p50_ms": median(run.read_ms) if run.read_ms else 0.0,
        "build_s": build_s,
        "warmup_s": warmup_s,
    })
    return run
