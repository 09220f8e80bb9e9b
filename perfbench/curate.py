"""The LLM-data curation pass over a raw, seeded crawl with planted
exact copies and near-copies at fixed rates.

One pass runs ``functions.text.normalize_text``/``quality_score``,
``functions.dedup.exact_dedup``, ``minhash_neardup_pairs`` ->
``neardup_clusters`` and ``dedup_report``, and is checked against the
planted truth: every planted exact-copy group must be found, and the
share of planted near-copy pairs that land in one cluster
(``planted_recall``) must reach ``RECALL_FLOOR``.
"""

from __future__ import annotations

import random

from common import run_query

#: near-copies change one word in ~30, so their 3-shingle Jaccard is
#: ~0.8-0.9; MinHash-LSH at tau 0.7 (k=16, 4 bands) finds nearly all
TAU = 0.7
RECALL_FLOOR = 0.8


def make_corpus(seed: int, n_base: int, vocab: int, doc_words: int,
                exact_rate: float = 0.05, near_rate: float = 0.05) -> dict:
    """Raw crawl rows ``(doc_id, text, source)``: ``n_base`` random docs
    (ids ``0..n_base-1``), then planted exact copies and one-word
    near-copies of random base docs. Returns the rows and the planted
    truth; the survivors of a perfect curation are the base docs."""
    rnd = random.Random(f"curate-{seed}")
    rows, exact, near = [], {}, []
    for i in range(n_base):
        # log-uniform word ranks: a few words are common (query terms hit
        # many docs) while random docs share almost no 3-shingles
        words = [f"w{int(vocab ** rnd.random()) - 1}" for _ in range(doc_words)]
        rows.append((i, " ".join(words), f"src{rnd.randrange(4)}"))
    next_id = n_base
    for _ in range(round(n_base * exact_rate)):
        orig = rows[rnd.randrange(n_base)]
        rows.append((next_id, orig[1], f"src{rnd.randrange(4)}"))
        exact.setdefault(orig[0], {orig[0]}).add(next_id)
        next_id += 1
    for _ in range(round(n_base * near_rate)):
        orig = rows[rnd.randrange(n_base)]
        words = orig[1].split()
        words[rnd.randrange(len(words))] = f"x{rnd.randrange(10**6)}"
        rows.append((next_id, " ".join(words), f"src{rnd.randrange(4)}"))
        near.append((orig[0], next_id))
        next_id += 1
    groups = sorted(sorted(g) for g in exact.values())
    return {"rows": rows, "exact_groups": groups, "near_pairs": near}


def curate(spark, tr, path: str) -> dict:
    """One curation pass over the parquet at ``path``; each stage is
    forced with an action inside its span."""
    from pyspark.sql import functions as F

    from hydraide_spark.functions import dedup as D
    from hydraide_spark.functions import text as TX

    with tr.span("curate.load"):
        docs = spark.read.parquet(path).select(
            "doc_id", "source", TX.normalize_text(F.col("text")).alias("text"))
    with tr.span("curate.quality"):
        quality = run_query(tr, lambda: docs.select(TX.quality_score(F.col("text")).alias("q")).agg(F.avg("q")),
                            lambda df: df.collect()[0][0])
    with tr.span("curate.exact_dedup"):
        groups = run_query(tr, lambda: D.exact_dedup(docs).filter(F.col("n_dups") > 1), lambda df: df.collect())
    with tr.span("curate.neardup"):
        pairs, n_pairs = run_query(tr, lambda: D.minhash_neardup_pairs(docs, TAU), lambda df: (df, df.count()))
    with tr.span("curate.clusters"):
        clusters, labels = run_query(tr, lambda: D.neardup_clusters(pairs),
                                     lambda df: (df, {r["doc_id"]: r["cluster_id"] for r in df.collect()}))
    with tr.span("curate.report"):
        report = run_query(tr, lambda: D.dedup_report(docs, clusters), lambda df: df.collect())
    return {
        "exact_groups": sorted((r["keep_id"], r["n_dups"]) for r in groups),
        "labels": labels,
        "neardup_pairs": n_pairs,
        "mean_quality": quality,
        "dropped": sum(r["n_dropped"] for r in report),
    }


def check(result: dict, truth: dict) -> tuple[bool, float]:
    """(planted exact groups all found and recall at the floor, recall).
    An exact group is identified by its survivor (minimum id) and size."""
    labels = result["labels"]
    planted = sorted((g[0], len(g)) for g in truth["exact_groups"])
    found = sum(1 for a, b in truth["near_pairs"] if a in labels and labels.get(a) == labels.get(b))
    recall = found / len(truth["near_pairs"])
    return result["exact_groups"] == planted and recall >= RECALL_FLOOR, recall
