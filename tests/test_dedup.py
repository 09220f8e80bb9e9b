"""Dedup-family semantics: exact dedup collapse, Jaccard pair
correctness on a known corpus, MinHash-LSH recall vs the exhaustive
baseline, SimHash self-consistency, LSH-ANN recall vs exact top-k.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from hydraide_spark.functions.dedup import (
    exact_dedup,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from hydraide_spark.functions.vector import cosine_topk, lsh_topk
from hydraide_spark.golden.dedup_text import _augmented_corpus
from hydraide_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return _augmented_corpus(spark, SF).cache()


def test_exact_dedup_collapses_known_copies(spark, corpus):
    groups = exact_dedup(corpus).filter(F.col("n_dups") > 1).collect()
    # every 25th doc got an exact copy; survivor is the original (min id)
    n_copied = corpus.filter(
        (F.col("doc_id") < 1000000) & (F.col("doc_id") % 25 == 0)
    ).count()
    assert len(groups) == n_copied
    assert all(g["keep_id"] < 1000000 for g in groups)
    assert all(g["n_dups"] == 2 for g in groups)


def test_jaccard_pairs_find_truncated_copies(spark, corpus):
    pairs = ngram_jaccard_pairs(corpus, tau=0.6, n=3).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    # every truncated near-copy pairs with its original
    originals = [
        r["doc_id"]
        for r in corpus.filter(
            (F.col("doc_id") < 1000000) & (F.col("doc_id") % 10 == 0)
        ).collect()
    ]
    long_enough = set(
        r["doc_id"]
        for r in corpus.filter(F.size(F.split("text", " ")) >= 20).collect()
    )
    expected = {
        (d, d + 1000000) for d in originals if d in long_enough
    }
    missing = expected - got
    assert not missing, f"missing true near-dup pairs: {sorted(missing)[:5]}"
    # jaccard math: inter <= union, threshold respected (5*inter >= 3*union)
    for p in pairs:
        assert p["inter"] <= p["union"]
        assert 5 * p["inter"] >= 3 * p["union"]


def test_jaccard_prefix_filter_matches_full_index(spark, corpus):
    """The prefix-filtered blocking must be recall-lossless: pair set
    identical to the naive full-inverted-index form (inter/union included)."""
    got = {
        (p["id_a"], p["id_b"], p["inter"], p["union"])
        for p in ngram_jaccard_pairs(corpus, tau=0.6, n=3).collect()
    }
    sh = corpus.select("doc_id", F.col("text"))
    from hydraide_spark.functions.text import shingles

    sizes = sh.select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    ).select("doc_id", "sh", F.size("sh").alias("n_sh"))
    inv = sizes.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    naive_cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz = sizes.select("doc_id", "n_sh")
    naive = {
        (p["id_a"], p["id_b"], p["inter"], p["union"])
        for p in naive_cand.join(
            sz.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .join(
            sz.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
        )
        .withColumn("union", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.lit(5) * F.col("inter") >= F.lit(3) * F.col("union"))
        .collect()
    }
    assert got == naive


def test_jaccard_blocking_survives_hot_shingle(spark):
    """The skew bomb: a shingle every document shares (boilerplate) must
    NOT create O(n^2) candidate pairs — under the df-ascending prefix
    order it sorts last and stays out of every prefix. True near-dup
    pairs must still be found through their rare shared shingles."""
    from fractions import Fraction

    from hydraide_spark.functions.dedup import _pair_jaccard_candidates
    from hydraide_spark.functions.text import shingles

    n_docs = 200
    rows = [
        (i, f"u{i}a u{i}b u{i}c u{i}d u{i}e boiler plate common")
        for i in range(n_docs)
    ]
    # one true near-dup pair: doc 9000/9001 differ by the last token
    rows += [
        (9000, "same words in this doc here boiler plate common"),
        (9001, "same words in this doc here boiler plate shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    frac = Fraction(0.6).limit_denominator(10**6)
    sizes = df.select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    ).select("doc_id", "sh", F.size("sh").alias("n_sh"))
    cand = _pair_jaccard_candidates(
        sizes, "doc_id", "sh", frac.numerator, frac.denominator
    )
    n_cand = cand.count()
    # full inverted index would emit >= C(200,2) = 19900 pairs off the
    # hot shingle alone; the prefix filter must keep candidates near the
    # true-duplicate count
    assert n_cand < 50, f"hot shingle produced {n_cand} candidates"
    pairs = {
        (p["id_a"], p["id_b"])
        for p in ngram_jaccard_pairs(df, tau=0.6, n=3).collect()
    }
    assert (9000, 9001) in pairs


def test_minhash_lsh_recall(spark, corpus):
    exact = {
        (p["id_a"], p["id_b"])
        for p in ngram_jaccard_pairs(corpus, tau=0.6, n=3).collect()
    }
    approx = {
        (p["id_a"], p["id_b"])
        for p in minhash_neardup_pairs(corpus, tau=0.6, n=3, k=16, bands=4).collect()
    }
    # verification step guarantees zero false positives
    assert approx <= exact
    # LSH S-curve at j>=0.6 with 4 bands x 4 rows: recall should be high
    assert len(exact) > 0
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below floor"


def test_simhash_truncated_copies_close(spark, corpus):
    pairs = simhash_neardup_pairs(corpus, max_hamming=12).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    # exact copies have hamming 0 -> always found
    exact_copy_pairs = {
        (r["doc_id"], r["doc_id"] + 2000000)
        for r in corpus.filter(
            (F.col("doc_id") < 1000000) & (F.col("doc_id") % 25 == 0)
        ).collect()
    }
    assert exact_copy_pairs <= got
    zero = [p for p in pairs if (p["id_a"], p["id_b"]) in exact_copy_pairs]
    assert all(p["hamming"] == 0 for p in zero)


def test_lsh_ann_recall_vs_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, dim=64, n_bits=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # the query vector itself always collides with its own bucket
    self_hits = {(q, q) for q, _ in e if (q, q) in e}
    assert self_hits <= a
    # approximate results are a subset of the corpus scored exactly:
    # every returned pair must also appear in exact top-5 OR be a true
    # bucket neighbor; assert sane overlap instead of exact equality
    recall = len(a & e) / len(e)
    assert recall >= 0.3, f"LSH-ANN recall {recall:.2f} suspiciously low"


def test_ivf_ann_recall_vs_exact(spark):
    from hydraide_spark.functions.vector import ivf_topk, train_ivf_centroids

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids = train_ivf_centroids(emb, n_centroids=8)
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, centroids=centroids, nprobe=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # a query always probes its own cell, so it finds itself
    self_hits = {(q, q) for q, _ in e if (q, q) in e}
    assert self_hits <= a
    # near neighbors cluster into the same/adjacent cells; nprobe=2 of 8
    # cells scans ~25% of the corpus yet should recover most of top-5
    recall = len(a & e) / len(e)
    assert recall >= 0.6, f"IVF-ANN recall {recall:.2f} suspiciously low"
    # determinism: same seed + same sample => identical centroids
    assert centroids == train_ivf_centroids(emb, n_centroids=8)


def test_neardup_clusters_chain_and_islands(spark):
    from hydraide_spark.functions.dedup import neardup_clusters

    # chain 1-2-3-4-5 (worst-case diameter), island {10,11}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in neardup_clusters(pairs).collect()
    }
    want = {(i, 1) for i in (1, 2, 3, 4, 5)} | {(10, 10), (11, 10), (20, 20), (21, 20)}
    assert got == want


def test_group_centroid_sums_partition_invariant(spark):
    """The decimal path makes per-dimension sums exact: any
    partitioning/reduction order yields bit-identical results (a double
    sum would drift)."""
    from hydraide_spark.functions.vector import group_centroid_sums

    emb = load_table(spark, SF, "embeddings")
    a = {
        (r["label"], r["dim"]): (r["n"], r["s"])
        for r in group_centroid_sums(emb, "label", "embedding").collect()
    }
    b = {
        (r["label"], r["dim"]): (r["n"], r["s"])
        for r in group_centroid_sums(
            emb.repartition(17, "vec_id"), "label", "embedding"
        ).collect()
    }
    assert a == b
    dims = {d for _, d in a}
    assert min(dims) == 1 and len(dims) == 64


def test_kmeans_assign_is_map_only_and_correct(spark):
    """E-step must be a pure per-row expression (no Exchange) and agree
    with a Python brute force on the same centroid literals."""
    import math

    from hydraide_spark.functions.vector import (
        centroid_means,
        group_centroid_sums,
        kmeans_assign,
    )
    from hydraide_spark.plans import count_exchanges

    emb = load_table(spark, SF, "embeddings")
    cents = centroid_means(group_centroid_sums(emb, "label", "embedding").collect())
    out = kmeans_assign(emb, "vec_id", "embedding", cents)
    assert count_exchanges(out) == 0

    got = {r["vec_id"]: r["label"] for r in out.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for row in emb.select("vec_id", "embedding").collect():
        v = [float(x) for x in row["embedding"]]
        best = max(cents, key=lambda c: (cos(v, c[1]), -c[0]))
        assert got[row["vec_id"]] == best[0]


def test_decontaminate_hand_crafted(spark):
    from hydraide_spark.functions.dedup import decontaminate
    from hydraide_spark.plans import physical_plan, uses_broadcast_join

    ev = spark.createDataFrame(
        [Row(doc_id=100, text="the secret answer is forty two exactly")]
    )
    train = spark.createDataFrame(
        [
            # shares the 4-gram "the secret answer is" (and 3 more)
            Row(doc_id=1, text="we think the secret answer is forty two maybe"),
            Row(doc_id=2, text="completely unrelated words about spark plans here"),
            Row(doc_id=3, text="short doc"),  # < 4 tokens: no grams, clean
        ]
    )
    out = {
        r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(train, ev, n=4).collect()
    }
    assert out[1] == (3, True)   # "the secret answer is" + 2 more shifted grams
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    # scale shape: eval grams + hit counts broadcast; never a cross join
    df = decontaminate(train, ev, n=4)
    assert uses_broadcast_join(df)
    assert "CartesianProduct" not in physical_plan(df)


def test_boilerplate_stats_hand_crafted(spark):
    from hydraide_spark.functions.text import boilerplate_stats

    # bigrams, min_df=2: "a b" appears in docs 1,2,3 (common);
    # every other bigram is unique to its doc.
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b"),            # 1 gram, 1 common -> flagged
            Row(doc_id=2, text="a b x y"),        # 3 grams, 1 common
            Row(doc_id=3, text="a b p q r s t"),  # 6 grams, 1 common
            Row(doc_id=4, text="solo"),           # no bigrams: dropped
        ]
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_common"], r["boilerplate"])
        for r in boilerplate_stats(
            df, n=2, min_df=2, frac_denominator=3
        ).collect()
    }
    # flag: 3 * n_common >= n_grams
    assert out[1] == (1, 1, True)
    assert out[2] == (3, 1, True)
    assert out[3] == (6, 1, False)
    assert 4 not in out


def test_repeated_span_coverage_hand_crafted(spark):
    from hydraide_spark.functions.dedup import repeated_span_coverage
    from hydraide_spark.plans import physical_plan

    df = spark.createDataFrame(
        [
            # docs 1 and 2 share the 4-token span "p q r s" once each
            # -> both get exactly those 4 tokens covered
            Row(doc_id=1, text="p q r s a b c d"),
            Row(doc_id=2, text="x y p q r s z w"),
            # doc 3: within-doc repeat "m n o t m n o t" -> the 4-gram
            # "m n o t" occurs at starts 0 and 4 -> all 8 tokens covered
            Row(doc_id=3, text="m n o t m n o t"),
            Row(doc_id=4, text="entirely unique words only here now ok"),
        ]
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_covered"], r["dup_flag"])
        for r in repeated_span_coverage(df, k=4).collect()
    }
    assert out[1] == (8, 4, True)   # exactly the shared span covered
    assert out[2] == (8, 4, True)
    assert out[3] == (8, 8, True)   # within-doc repeat fully covers
    assert out[4] == (7, 0, False)
    assert "CartesianProduct" not in physical_plan(repeated_span_coverage(df, k=4))


def test_repeated_span_overlapping_spans_count_once(spark):
    from hydraide_spark.functions.dedup import repeated_span_coverage

    # "a b c d e" and "b c d e f" both repeat (docs 1&2 are near-copies
    # shifted by one) -> hit starts 0 and 1 with k=5 overlap; covered
    # tokens must merge to 6, not 10.
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f x1 y1"),
            Row(doc_id=2, text="a b c d e f x2 y2"),
        ]
    )
    out = {
        r["doc_id"]: r["n_covered"]
        for r in repeated_span_coverage(df, k=5).collect()
    }
    # repeated 5-grams: starts 0 ("a b c d e") and 1 ("b c d e f");
    # merged coverage = min(5, 1-0) + 5 = 6
    assert out[1] == 6 and out[2] == 6


def test_semantic_dedup_keeps_min_id_per_neardup_group(spark):
    """SemDeDup on a hand-built embedding set: two well-separated
    centroid directions; within cluster 0 vectors 1/2/3 are cosine-near
    copies (survivor = 1) and vector 4 is distinct (survives); cluster 1
    has near-copies 10/11 (survivor = 10) and loner 12."""
    from hydraide_spark.functions.dedup import semantic_dedup
    from hydraide_spark.plans import physical_plan

    rows = [
        # cluster around +x
        Row(vec_id=1, embedding=[1.0, 0.02, 0.0]),
        Row(vec_id=2, embedding=[1.0, 0.03, 0.0]),
        Row(vec_id=3, embedding=[0.99, 0.01, 0.0]),
        Row(vec_id=4, embedding=[0.7, 0.0, 0.7]),   # same cluster, far in cosine
        # cluster around +y
        Row(vec_id=10, embedding=[0.0, 1.0, 0.02]),
        Row(vec_id=11, embedding=[0.01, 1.0, 0.0]),
        Row(vec_id=12, embedding=[0.0, 0.7, -0.7]),
    ]
    df = spark.createDataFrame(rows)
    centroids = [(0, [1.0, 0.0, 0.1]), (1, [0.0, 1.0, -0.1])]
    out = semantic_dedup(df, centroids, tau=0.95, id_col="vec_id", vec_col="embedding")
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got == {1: 0, 4: 0, 10: 1, 12: 1}
    # scale shape: within-cluster equi-join only, never a cross join
    assert "CartesianProduct" not in physical_plan(out)


def test_star_contraction_path_graph_logarithmic_rounds(spark):
    """The adversarial case for label propagation: a 1000-node path has
    diameter 999, but alternating large-star/small-star must converge in
    O(log^2 n) rounds — empirically ~11 — with every node labeled by the
    global min."""
    from hydraide_spark.functions.dedup import star_contraction_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long"
    )
    stats = {}
    out = star_contraction_clusters(pairs, stats=stats, driver_cap=0)
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert len(labels) == 1000
    assert set(labels.values()) == {0}
    assert stats["rounds"] <= 14, f"took {stats['rounds']} rounds"


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    import random

    from hydraide_spark.functions.dedup import star_contraction_clusters

    for seed in (1, 2, 3, 4):
        rnd = random.Random(seed)
        n = 300
        edges = [
            (a, b)
            for a, b in ((rnd.randrange(n), rnd.randrange(n)) for _ in range(200))
            if a != b
        ]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp: dict[int, list[int]] = {}
        for x in parent:
            comp.setdefault(find(x), []).append(x)
        truth = {x: min(comp[find(x)]) for x in parent}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in star_contraction_clusters(df, driver_cap=0).collect()
        }
        assert got == truth, f"seed {seed} mismatch"


def test_label_propagation_raises_instead_of_silently_underconverging(spark):
    """A diameter-60 path cannot converge in 5 rounds of min-label
    propagation; returning half-propagated labels would be a silent
    wrong answer, so the loop must raise (star contraction handles the
    same graph in its round budget)."""
    from hydraide_spark.functions.dedup import (
        neardup_clusters,
        star_contraction_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, max_iterations=5, driver_cap=0)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in star_contraction_clusters(
            pairs, max_iterations=10, driver_cap=0
        ).collect()
    }
    assert set(got.values()) == {0}


def test_pq_encode_matches_numpy_argmin(spark):
    """PQ codes equal a numpy per-subspace argmin over the same
    codebooks (smallest code on ties)."""
    import numpy as np

    from hydraide_spark.functions.vector import label_pq_codebooks, pq_encode

    emb = load_table(spark, SF, "embeddings")
    books = label_pq_codebooks(emb, m=8)
    got = {
        (r["vec_id"], s): c
        for r in pq_encode(emb, books, dim=64).collect()
        for s, c in enumerate(r["codes"])
    }
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for j in range(8):
            sub = v[j * 8 : (j + 1) * 8]
            best = min(
                (float(((sub - np.asarray(c)) ** 2).sum()), code)
                for code, c in books[j]
            )[1]
            assert got[(r["vec_id"], j)] == best


def test_pq_adc_rerank_recall_vs_exact_l2(spark):
    """ADC-only shortlist recall is bounded by quantization error on
    this (cluster-free synthetic) corpus; the ADC+R refine must recover
    most of the exact top-k while reading raw vectors for the shortlist
    only."""
    import numpy as np

    from hydraide_spark.functions.vector import pq_adc_topk, train_pq_codebooks

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.asarray([r["vec_id"] for r in rows])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = set()
    for q in range(5):
        qv = X[ids == q][0]
        d = ((X - qv) ** 2).sum(axis=1)
        for i in np.lexsort((ids, d))[:10]:
            exact.add((q, int(ids[i])))
    books = train_pq_codebooks(emb, m=8, k=16)
    adc = {
        (r["query_id"], r["vec_id"])
        for r in pq_adc_topk(emb, queries, books, dim=64, k=10).collect()
    }
    refined = {
        (r["query_id"], r["vec_id"])
        for r in pq_adc_topk(
            emb, queries, books, dim=64, k=10, rerank_factor=10
        ).collect()
    }
    assert len(adc & exact) / len(exact) >= 0.2
    assert len(refined & exact) / len(exact) >= 0.7


def test_jaccard_prefix_filter_property_random_corpora(spark):
    """Property check (hypothesis): on random small corpora the
    prefix-filtered pair set equals the naive full-inverted-index pair
    set for every threshold — the prefix-filtering lemma has no
    corpus-shape escape hatch."""
    from hypothesis import given, settings, strategies as st

    word = st.sampled_from(["red", "blue", "dog", "cat", "runs", "sits", "fast", "slow"])

    @settings(max_examples=5, deadline=None)
    @given(
        texts=st.lists(
            st.lists(word, min_size=3, max_size=9).map(" ".join),
            min_size=2,
            max_size=8,
        ),
        tau=st.sampled_from([0.4, 0.6, 0.8]),
    )
    def check(texts, tau):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            (p["id_a"], p["id_b"])
            for p in ngram_jaccard_pairs(df, tau=tau, n=2).collect()
        }
        # reference: python exact Jaccard over 2-gram shingle sets
        from fractions import Fraction

        frac = Fraction(tau).limit_denominator(10**6)
        shs = {
            i: set(
                " ".join(t.split()[j : j + 2])
                for j in range(len(t.split()) - 1)
            )
            for i, t in enumerate(texts)
        }
        want = set()
        for a in shs:
            for b in shs:
                if a < b and shs[a] and shs[b]:
                    inter = len(shs[a] & shs[b])
                    union = len(shs[a] | shs[b])
                    if frac.denominator * inter >= frac.numerator * union:
                        want.add((a, b))
        assert got == want

    check()


def test_ivfadc_recall_vs_exact_l2(spark):
    """IVFADC (cell probe + ADC + re-rank) must recover most of the
    exact top-k while scanning only nprobe/n_cells of the corpus as
    codes; probing ALL cells must match the pure-PQ refine recall."""
    import numpy as np

    from hydraide_spark.functions.vector import (
        ivfadc_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.asarray([r["vec_id"] for r in rows])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = set()
    for q in range(5):
        qv = X[ids == q][0]
        d = ((X - qv) ** 2).sum(axis=1)
        for i in np.lexsort((ids, d))[:10]:
            exact.add((q, int(ids[i])))
    cells = train_ivf_centroids(emb, n_centroids=8)
    books = train_pq_codebooks(emb, m=8, k=16)
    probed = {
        (r["query_id"], r["vec_id"])
        for r in ivfadc_topk(
            emb, queries, cells, books, dim=64, k=10, nprobe=4, rerank_factor=10
        ).collect()
    }
    assert len(probed & exact) / len(exact) >= 0.5
    all_cells = {
        (r["query_id"], r["vec_id"])
        for r in ivfadc_topk(
            emb, queries, cells, books, dim=64, k=10, nprobe=8, rerank_factor=10
        ).collect()
    }
    assert len(all_cells & exact) / len(exact) >= 0.7


def test_star_contraction_raises_on_iteration_exhaustion(spark):
    """ADVICE r3: a non-fixpoint edge set can map nodes to NON-ROOT
    labels through the final groupBy-min — the silent half-merged
    cluster bug class. Exhausting max_iterations must therefore RAISE
    (mirroring neardup_clusters), never return labels."""
    import pytest as _pytest

    from hydraide_spark.functions.dedup import star_contraction_clusters

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        star_contraction_clusters(pairs, max_iterations=1, driver_cap=0)
    # with budget, the same graph converges to one cluster
    out = star_contraction_clusters(pairs, driver_cap=0)
    assert {r["cluster_id"] for r in out.collect()} == {0}


def test_jaccard_prefix_index_survives_boilerplate_skew(spark):
    """Adversarial skew for the AllPairs prefix index (Bayardo WWW'07,
    _pair_jaccard_candidates): ONE boilerplate shingle shared by 50% of
    the corpus would give a naive inverted index ~(D/2)^2 candidate
    pairs — the similarity-join skew bomb. Under the df-ascending
    prefix order that shingle sorts LAST and never enters any prefix,
    so the candidate count must track true near-dups (linear), while
    recall stays lossless for the threshold."""
    from hydraide_spark.functions.dedup import _pair_jaccard_candidates

    D, n_clones = 1000, 20
    rows = []
    for i in range(D):
        sh = [f"u{i}_{j}" for j in range(9)]
        if i % 2 == 0:
            sh.append("BOILERPLATE")  # hits 500 docs
        else:
            sh.append(f"u{i}_9")
        rows.append((i, sh, len(sh)))
    # true near-dups: clone docs sharing all nine unique shingles
    for c in range(n_clones):
        src = rows[c * 2 + 1]
        rows.append((D + c, src[1][:9] + [f"c{c}"], 10))
    sizes = spark.createDataFrame(rows, "doc_id long, sh array<string>, n_sh int")
    # tau = 0.6 -> prefix length 10 - 6 + 1 = 5 of 10
    cand = _pair_jaccard_candidates(sizes, "doc_id", "sh", 3, 5).collect()
    naive_bomb = (D // 2) * (D // 2 - 1) // 2
    assert len(cand) < naive_bomb / 1000, f"{len(cand)} candidates: skew bomb"
    # candidate volume is exactly the true near-dup pairs: linear in
    # clones, zero contribution from the boilerplate key
    got = {(r["id_a"], r["id_b"]) for r in cand}
    expected = {(c * 2 + 1, D + c) for c in range(n_clones)}
    assert got == expected


def test_incremental_minhash_equals_batch_restriction(spark):
    """Route equivalence: incrementally deduping a new batch against
    the index must find EXACTLY the full-corpus pairs that touch the
    batch (sig/bands are pure per-row functions, so an index built
    incrementally equals one built from scratch). Fast xxhash mode."""
    from hydraide_spark.functions.dedup import (
        minhash_incremental_pairs,
        minhash_neardup_pairs,
    )
    from hydraide_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(corpus, tau=0.6).collect()
    }
    expected = {p for p in full if p[0] >= 500_000 or p[1] >= 500_000}
    inc = {
        (r["id_a"], r["id_b"])
        for r in minhash_incremental_pairs(
            corpus, F.col("doc_id") >= 500_000, tau=0.6
        ).collect()
    }
    assert inc == expected and len(inc) > 0


def test_edit_distance_linkage_pigeonhole_recall_and_purge(spark):
    """Slice blocking finds every pair that agrees on a NON-purged
    slice; the shared 'record-' prefix slice is a purged hot block
    (the M^2 bomb the purge exists for), so corruption goes in the
    FIRST half and true pairs collide on the high-entropy digit
    slice."""
    from hydraide_spark.functions.dedup import edit_distance_link_pairs

    n = 300
    base = spark.range(n).select(
        F.col("id").alias("rec_id"),
        F.concat(F.lit("record-"), F.col("id").cast("string")).alias("rec"),
    )
    corr = base.filter(F.col("rec_id") % 2 == 0).select(
        (F.col("rec_id") + 10_000).alias("rec_id"),
        F.concat(F.lit("rZcord-"), F.col("rec_id").cast("string")).alias("rec"),
    )
    recs = base.unionByName(corr)
    pairs = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in edit_distance_link_pairs(
            recs, max_edit=1, n_blocks=2, max_block_size=50
        ).collect()
    }
    expected = {(i, i + 10_000, 1) for i in range(0, n, 2)}
    assert expected <= pairs  # recall through the digit slice
    assert all(d <= 1 for _, _, d in pairs)
    # without purging, the shared-prefix slice makes candidates ~M^2;
    # with it, candidate volume tracks true pairs (ceiling well under
    # the 450*449/2 cross-pair count)
    assert len(pairs) <= 3 * len(expected)


def test_embedding_neardup_auto_bucket_blocking(spark):
    """auto_bucket_target composes the block with a corpus-scaled LSH
    sub-bucket (the fixed-cardinality-block quadratic found by the 30x
    scale stress): found pairs must be a SUBSET of the exact pairs
    (scores are exact — blocking only prunes candidates), recall at
    near-dup cosine must clear the single-probe floor, and the pair
    join must stay an equi-join."""
    import math
    import random

    from pyspark.sql import Row

    from hydraide_spark.functions.dedup import embedding_neardup_pairs
    from hydraide_spark.plans import physical_plan

    rng = random.Random(5)
    dim = 16
    rows = []
    vid = 0
    for _ in range(200):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
        vid += 1
        if vid % 4 == 0:  # every 4th base vector gets a jittered twin
            w = [x + rng.gauss(0, 0.02) for x in v]
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in w]))
            vid += 1
    df = spark.createDataFrame(rows)
    tau = 0.95
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(df, tau=tau).collect()
    }
    assert len(exact) >= 40  # the twins are real near-dups
    auto = embedding_neardup_pairs(df, tau=tau, auto_bucket_target=64)
    got = {(r["id_a"], r["id_b"]) for r in auto.collect()}
    assert got <= exact  # never a false pair
    assert len(got) / len(exact) >= 0.6  # single-probe recall floor
    plan = physical_plan(auto)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_auto_ivf_k_scales_with_corpus():
    from hydraide_spark.functions.vector import auto_ivf_k

    assert auto_ivf_k(100) == 4  # tiny corpus: floor
    assert auto_ivf_k(256_000, target_cell=256) == 1000
    assert auto_ivf_k(10 * 256_000, target_cell=256) == 10_000  # k grows with n
    assert auto_ivf_k(10**12) == 65536  # clamped; re-shard beyond


def test_embedding_neardup_auto_empty_corpus(spark):
    """dim inference must not crash on an empty corpus — typed empty
    pairs come back (the graph.py type-inheriting-empty rule)."""
    from hydraide_spark.functions.dedup import embedding_neardup_pairs

    empty = spark.createDataFrame([], "vec_id int, embedding array<float>")
    out = embedding_neardup_pairs(empty, tau=0.9, auto_bucket_target=64)
    assert out.collect() == []
    assert dict(out.dtypes)["id_a"] == "int"


def test_embedding_neardup_multiprobe_recall_boost(spark):
    """Multi-probe on the auto sub-bucket must recover pairs that
    single-probe loses (a near-dup split by one low-confidence bit),
    while staying a subset of the exact pairs and a blocked equi-join
    (no cartesian, no duplicate pairs)."""
    import random

    from pyspark.sql import Row

    from hydraide_spark.functions.dedup import embedding_neardup_pairs
    from hydraide_spark.plans import physical_plan

    rng = random.Random(13)
    dim = 16
    rows, vid = [], 0
    for _ in range(300):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
        vid += 1
        if vid % 3 == 0:
            w = [x + rng.gauss(0, 0.03) for x in v]
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in w]))
            vid += 1
    df = spark.createDataFrame(rows)
    tau = 0.95
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(df, tau=tau).collect()
    }
    assert len(exact) >= 50
    single = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, tau=tau, auto_bucket_target=32
        ).collect()
    }
    multi_rows = embedding_neardup_pairs(
        df, tau=tau, auto_bucket_target=32, n_probes=4
    ).collect()
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # no duplicate pairs
    assert single <= exact and multi <= exact
    assert len(multi) >= len(single)  # probes only ADD recall
    assert len(multi) / len(exact) >= 0.85  # and reach a high floor
    plan = physical_plan(
        embedding_neardup_pairs(df, tau=tau, auto_bucket_target=32, n_probes=4)
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="auto_bucket_target"):
        embedding_neardup_pairs(df, tau=tau, n_probes=2)


def test_auto_shingle_n_formula_and_auto_mode(spark):
    """auto_shingle_n keeps shingle-space occupancy pinned: the fixed
    floor for diverse corpora, longer shingles when token volume
    outgrows the vocabulary (the 30x stress corpus picked n=4 and cut
    the candidate explosion 10x)."""
    from pyspark.sql import Row

    from hydraide_spark.functions.dedup import auto_shingle_n, ngram_jaccard_pairs

    assert auto_shingle_n(10_000, 5_000) == 3          # diverse: floor
    assert auto_shingle_n(19_000_000, 100) == 4        # the 30x corpus shape
    assert auto_shingle_n(10**12, 10) == 8             # clamped at hi
    assert auto_shingle_n(3, 1) == 3                   # degenerate inputs

    rows = [Row(doc_id=i, text="a b c d e f g h i j") for i in range(4)]
    df = spark.createDataFrame(rows)
    out = ngram_jaccard_pairs(df, tau=0.8, n="auto")   # identical docs match
    assert out.count() == 6


def test_simhash_collapse_identical_cluster_equivalence(spark):
    """collapse_identical must yield EXACTLY the clusters of the full
    pair enumeration (connectivity-equivalent sparsification): families
    of identical texts collapse to star edges, cross-family near-dups
    ride representative edges."""
    from pyspark.sql import Row

    from hydraide_spark.functions.dedup import (
        neardup_clusters,
        simhash_neardup_pairs,
    )

    texts = {
        # family A: 4 identical docs (plus a permuted copy — simhash is
        # order-insensitive, so it shares the family hash)
        0: "alpha beta gamma delta epsilon zeta",
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon zeta",
        3: "zeta epsilon delta gamma beta alpha",
        # near-dup of family A (one token swapped)
        4: "alpha beta gamma delta epsilon eta",
        # family B: unrelated
        5: "one two three four five six seven eight",
        6: "one two three four five six seven eight",
        # isolated
        7: "completely different content words entirely distinct",
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    full = simhash_neardup_pairs(df, max_hamming=6)
    sparse = simhash_neardup_pairs(df, max_hamming=6, collapse_identical=True)
    cl_full = {
        r["doc_id"]: r["cluster_id"] for r in neardup_clusters(full).collect()
    }
    cl_sparse = {
        r["doc_id"]: r["cluster_id"] for r in neardup_clusters(sparse).collect()
    }
    assert cl_full == cl_sparse
    assert cl_full[0] == cl_full[1] == cl_full[2] == cl_full[3]
    # sparsification: full enumerates all family pairs, sparse the star
    assert len(sparse.collect()) <= len(full.collect())


def test_collapse_exact_cluster_equivalence_minhash_and_jaccard(spark):
    """Exact-duplicate families (the web-crawl norm) collapse to
    shingle-SET representatives; the sparsified pair set must cluster
    identically to full enumeration for BOTH minhash and exact-Jaccard,
    and star edges must carry inter == union == |set| (Jaccard 1)."""
    from pyspark.sql import Row

    from hydraide_spark.functions.dedup import (
        minhash_neardup_pairs,
        neardup_clusters,
        ngram_jaccard_pairs,
    )

    texts = {}
    base_a = "the quick brown fox jumps over the lazy dog again and again"
    base_b = "completely different words live in this other document body"
    for i in range(6):
        texts[i] = base_a                       # family A: 6 exact copies
    # near-dup of family A (suffix drift) — linked through the reps
    texts[6] = base_a + " ok"
    for i in range(7, 10):
        texts[i] = base_b                       # family B: 3 exact copies
    texts[10] = "an isolated singleton document with unique content here"
    # UNRELATED short docs (< n tokens → empty shingle set): collapse
    # must NOT family them together via the empty-set digest (ADVICE r6
    # — md5('') made every short doc an exact duplicate of every other)
    texts[11] = "hi"
    texts[12] = "yo there"
    texts[13] = "ok"
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])

    for fn, kw in (
        (minhash_neardup_pairs, dict(tau=0.6, n=3, k=16, bands=4)),
        (ngram_jaccard_pairs, dict(tau=0.6, n=3)),
    ):
        full = fn(df, **kw)
        sparse = fn(df, collapse_exact=True, **kw)
        cl_full = {
            r["doc_id"]: r["cluster_id"] for r in neardup_clusters(full).collect()
        }
        cl_sparse = {
            r["doc_id"]: r["cluster_id"]
            for r in neardup_clusters(sparse).collect()
        }
        assert cl_full == cl_sparse, fn.__name__
        assert cl_full[0] == cl_full[5]  # family A one cluster
        rows = sparse.collect()
        assert len(rows) < len(full.collect()), fn.__name__  # sparsified
        stars = [r for r in rows if r["inter"] == r["union"]]
        assert len(stars) >= 5 + 2, fn.__name__  # family star edges present
        # short docs (11,12,13) stay singletons — no pair touches them
        short = {11, 12, 13}
        assert not any(
            r["id_a"] in short or r["id_b"] in short for r in rows
        ), fn.__name__
        # edge-derived clustering ⇒ edge-less docs absent from output
        assert not (short & set(cl_sparse)), fn.__name__


def test_dedup_report_and_histogram_by_hand(spark):
    from hydraide_spark.functions.dedup import cluster_size_histogram, dedup_report

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b")],
        "doc_id long, source string",
    )
    # cluster {1,2,3} labeled 1; doc 4 clustered with... nothing; 5 singleton
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    rep = {r["source"]: r for r in dedup_report(docs, clusters).collect()}
    a = rep["a"]
    assert (a["n_docs"], a["n_survivors"], a["n_dropped"]) == (3, 1, 2)
    assert a["dup_rate"] == 2.0 / 3.0
    b = rep["b"]
    assert (b["n_docs"], b["n_survivors"], b["n_dropped"]) == (2, 2, 0)
    assert b["dup_rate"] == 0.0

    hist = {
        r["cluster_size"]: r["n_clusters"]
        for r in cluster_size_histogram(clusters).collect()
    }
    assert hist == {3: 1}


def test_neardup_clusters_driver_cap_matches_distributed(spark):
    """r16 optimization pin: neardup_clusters' driver_cap union-find
    must label exactly like the distributed min-label propagation
    (component-min), keep self-pair-only ids as singletons, and fall
    through to the distributed loop above the cap."""
    import random

    from hydraide_spark.functions.dedup import neardup_clusters

    rnd = random.Random(11)
    n = 200
    edges = [
        (rnd.randrange(n), rnd.randrange(n)) for _ in range(150)
    ] + [(777, 777)]  # self-pair-only id: must survive as a singleton
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(df, driver_cap=0).collect()
    }
    assert dist[777] == 777
    drv = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(df, driver_cap=100_000).collect()
    }
    assert drv == dist
    over = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(df, driver_cap=3).collect()
    }
    assert over == dist


def test_star_contraction_driver_cap_matches_distributed(spark):
    """r15 optimization pin: driver_cap's bounded union-find fold must
    label exactly like the distributed contraction (component-min), and
    an over-cap graph must fall through to the distributed loop."""
    import random

    from hydraide_spark.functions.dedup import star_contraction_clusters

    rnd = random.Random(7)
    n = 200
    edges = [
        (a, b)
        for a, b in ((rnd.randrange(n), rnd.randrange(n)) for _ in range(150))
        if a != b
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in star_contraction_clusters(df, driver_cap=0).collect()
    }
    stats = {}
    drv = {
        r["doc_id"]: r["cluster_id"]
        for r in star_contraction_clusters(
            df, driver_cap=100_000, stats=stats
        ).collect()
    }
    assert drv == dist
    assert stats["rounds"] == 0
    # cap smaller than the edge count: distributed loop runs (rounds > 0)
    stats2 = {}
    over = {
        r["doc_id"]: r["cluster_id"]
        for r in star_contraction_clusters(df, driver_cap=3, stats=stats2).collect()
    }
    assert over == dist
    assert stats2["rounds"] > 0
