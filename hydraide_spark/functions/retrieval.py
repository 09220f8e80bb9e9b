"""Hybrid retrieval: reciprocal-rank fusion (RRF) of independently
ranked result lists — the standard way to combine a lexical (BM25 /
posting-list) ranking with a dense (embedding cosine) ranking without
calibrating their score scales (Cormack, Clarke & Büttcher, SIGIR'09:
``RRF(d) = Σ_lists 1/(k0 + rank_list(d))``, k0=60).

Reference anchor: the reference's search surface is the AND-only
posting-list lookup behind Trendizz (README "2M+ websites indexed",
reverse-index build in SURVEY.md §2.3); the engine already upgrades
that to ranked BM25 (`functions/text.py::bm25_terms`) and dense ANN
(`functions/vector.py::cosine_topk` + LSH/IVF/PQ scale paths). RRF is
the fusion layer a real retrieval stack puts on top — part of the
beyond-parity LLM-pipeline capability layer (SURVEY.md §6).

Scale: each input is a per-query TOP-K list (bounded rows, k ≪ corpus),
so the fusion join is broadcast-sized no matter how big the corpus is;
the expensive parts (BM25 postings, ANN candidate generation) keep
their own blocked/bucketed plans. Nothing here touches the corpus.

Float exactness (for the DuckDB oracle): 1/(k0+rank) is one correctly-
rounded IEEE division of exact integers, and the fused score adds the
per-list contributions in LIST ORDER (left fold) — bit-identical in
any engine that replays the same order, no rounding needed.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from ..session import local_frame
from ._cache import pin_latest


def ranked_list(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    topk: int,
    ascending: bool = False,
) -> DataFrame:
    """(id, score) -> (id, rank) with rank 1..topk, deterministic
    tiebreak on id ASC.

    Scale shape: ``orderBy().limit(k)`` compiles to
    ``TakeOrderedAndProject`` — per-partition top-k then a k·P merge on
    the driver-side reduce, NEVER a global sort or a single-partition
    window over the corpus (tests/test_plans.py pins this). The
    row_number window then runs over ≤ k rows, so its single partition
    is bounded by the request, not the data."""
    order = [
        (F.col(score_col).asc() if ascending else F.col(score_col).desc()),
        F.col(id_col).asc(),
    ]
    top = scored.orderBy(*order).limit(topk)
    w = W.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank"
    )


def ranked_list_grouped(
    scored: DataFrame,
    id_col: str,
    score_col: str,
    topk: int,
    group_col: str,
) -> DataFrame:
    """Per-group (id, rank) top-k via :func:`vector.two_stage_topk`
    (r13, ADVICE): a plain ``row_number().over(partitionBy(group))``
    funnels EVERY scored corpus row for a group through one reducer —
    for common query terms that reducer sorts corpus-scale rows. Stage
    1 bounds each reducer at k rows per (group, input partition); the
    real per-group window then ranks ≤ k·P survivors. Exact (total
    order: score DESC, id ASC). For a single global list prefer
    :func:`ranked_list` (TakeOrderedAndProject)."""
    from .vector import two_stage_topk

    return two_stage_topk(
        scored, int(topk), group_col,
        [F.col(score_col).desc(), F.col(id_col).asc()],
    ).select(group_col, id_col, "rank")


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str = "doc_id",
    k0: int = 60,
    topk: Optional[int] = None,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Fuse ranked lists — each a frame with (id_col, rank) where rank
    is 1-based, plus ``group_col`` when fusing a query BATCH — into
    ``(…, rank_0..rank_{n-1}, rrf)``. A doc missing from a list
    contributes 0 for that list. ``topk`` keeps the best fused rows
    per group (tiebreak id ASC)."""
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    keys = ([group_col] if group_col else []) + [id_col]
    out = None
    for i, r in enumerate(ranked):
        ri = r.select(
            *keys, F.col("rank").cast("long").alias(f"rank_{i}")
        )
        out = ri if out is None else out.join(ri, keys, "full_outer")
    score = None
    for i in range(len(ranked)):
        contrib = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"rank_{i}")),
        ).otherwise(F.lit(0.0))
        score = contrib if score is None else score + contrib
    out = out.select(
        *keys,
        *[F.col(f"rank_{i}") for i in range(len(ranked))],
        score.alias("rrf"),
    )
    if topk is not None:
        w = (W.partitionBy(group_col) if group_col else W).orderBy(
            F.col("rrf").desc(), F.col(id_col).asc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= topk)
            .drop("_rn")
        )
    return out


def bm25_terms_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[tuple],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(query_id, doc, word) BM25 term scores for a BATCH of
    bag-of-words queries — the multi-tenant form of
    :func:`..functions.text.bm25_terms` (same formula, same
    DECIMAL(28,6) exactness contract). ``query_terms`` is
    ``[(query_id, [word, ...]), ...]``.

    Plan shape: postings are built ONCE, filtered to the union of all
    query words; the (query_id, word) map joins in as a broadcast dim,
    so a batch of B queries costs one corpus scan + one tiny broadcast
    more than a single query — never B scans. idf is per-word
    (query-independent), shared across queries."""
    from .text import postings, token_count

    spark = df.sparkSession
    all_words = sorted({w for _, ws in query_terms for w in ws})
    dl = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("dl")
    ).persist()
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    # persist the UNFILTERED postings (r16): the word-list filter used
    # to sit below the persist, so every distinct bag (PRF round 1 vs
    # round 2, each retrieval golden) re-ran the corpus tokenize+agg —
    # the full (doc, word, tf) frame is one plan shared by ALL callers
    # over the same corpus, and the isin filter prunes above the cache
    post_full = postings(df, id_col, text_col).persist()
    post = post_full.filter(F.col("word").isin(all_words)).select(
        "word", id_col, "tf"
    )
    pin_latest("retrieval.bm25_terms_multi", dl, post_full)
    dfreq = post.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    qt = local_frame(
        spark,
        [(int(qid), w) for qid, ws in query_terms for w in ws],
        "query_id long, word string",
    )
    joined = (
        post.join(F.broadcast(qt), "word")
        .join(F.broadcast(dfreq), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
        / (F.col("dfreq") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return joined.select(
        F.col("query_id"),
        F.col(id_col),
        F.col("word"),
        F.round(idf * tf_norm, 6).cast("decimal(28,6)").alias("term_score"),
    )


def _mmr_schema(candidates: DataFrame, cols, extra_int_first: "str | None" = None):
    """Output schema for the MMR rerankers derived from the CANDIDATES
    frame's own column types — hardcoding long ids crashed on string
    query/doc ids (the standard IR run-file shape)."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    fields = []
    if extra_int_first:
        fields.append(StructField(extra_int_first, IntegerType()))
    for c in cols:
        fields.append(StructField(c, candidates.schema[c].dataType))
    fields.append(StructField("mmr_rank", LongType()))
    return StructType(fields)


def _mmr_greedy(
    ids: Sequence[int],
    rels: dict,
    sims: dict,
    k: int,
    lam: float,
) -> list[int]:
    """Pure greedy MMR (Carbonell & Goldstein, SIGIR'98) over a bounded
    candidate set: repeatedly pick
    ``argmax lam*rel(c) - (1-lam)*max_{s∈S} sim(c, s)`` (second term 0
    while S is empty), tiebreak on id ASC. ``sims`` maps (ia, ib) →
    similarity for ia ≠ ib; missing pairs count as similarity 0.
    Deterministic, side-effect free — hypothesis-tested against a
    brute-force reference without Spark."""
    remaining = sorted(ids)
    selected: list[int] = []
    for _ in range(min(k, len(remaining) + len(selected))):
        if not remaining:
            break
        best = None
        best_score = None
        for c in remaining:
            if selected:
                penalty = max(sims.get((c, s), 0.0) for s in selected)
            else:
                penalty = 0.0
            score = lam * rels[c] - (1.0 - lam) * penalty
            if best_score is None or score > best_score:
                best, best_score = c, score
        selected.append(best)
        remaining.remove(best)
    return selected


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.5,
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance rerank of a BOUNDED candidate list
    (the retrieval stack's last stage: diversify the top-k a RAG
    context window actually receives).

    ``candidates`` must already be a top-N cut (use
    :func:`ranked_list`-style TakeOrdered upstream) — N is request-
    sized, never corpus-sized. The pairwise similarity matrix is an
    N×N broadcast self-join computed BY SPARK (so the doubles match
    the engine-stable cosine fold bit-for-bit), then the inherently
    sequential greedy loop runs driver-side over the collected N + N²
    rows — the same documented bounded-collect pattern as the
    driver-side BPE trainer (functions/text.py). At 100 TB nothing
    here touches the corpus: candidate generation upstream carries
    the scale plan.

    Returns (id_col, mmr_rank) — rank-only output: the selection
    SEQUENCE is the semantic result, and emitting no recomputed floats
    keeps the DuckDB oracle comparison exact.
    """
    from ..query.filters import cosine_similarity

    spark = candidates.sparkSession
    c = candidates.select(
        F.col(id_col), F.col(rel_col).cast("double"), F.col(vec_col)
    ).persist()
    a = c.alias("a")
    b = c.alias("b")
    sims_df = (
        a.join(
            F.broadcast(b), F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
        ).select(
            F.col(f"a.{id_col}").alias("ia"),
            F.col(f"b.{id_col}").alias("ib"),
            cosine_similarity(
                f"CAST(`a`.`{vec_col}` AS ARRAY<DOUBLE>)",
                f"CAST(`b`.`{vec_col}` AS ARRAY<DOUBLE>)",
            ).alias("s"),
        )
    )
    rel_rows = c.select(id_col, rel_col).collect()  # bounded: N candidates
    sim_rows = sims_df.collect()  # bounded: N*(N-1)
    c.unpersist()
    rels = {r[0]: float(r[1]) for r in rel_rows}
    sims = {(r["ia"], r["ib"]): float(r["s"]) for r in sim_rows}
    order = _mmr_greedy(sorted(rels), rels, sims, k, lam)
    return local_frame(
        spark,
        [(i, rank + 1) for rank, i in enumerate(order)],
        _mmr_schema(candidates, [id_col]),
    )


def mmr_rerank_batch(
    candidates: DataFrame,
    k: int,
    lam: float = 0.5,
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    group_col: str = "query_id",
) -> DataFrame:
    """Batched :func:`mmr_rerank`: one greedy per query over a frame of
    per-query bounded candidate lists (``group_col`` keys the query).
    The pairwise similarity matrix is a WITHIN-GROUP broadcast
    self-join (B·N² rows total for B queries of N candidates — still
    request-sized), collected once (:func:`_collect_mmr_batch`); the
    per-query greedies run driver-side over their own slices. Returns
    ``(group_col, id_col, mmr_rank)``."""
    spark = candidates.sparkSession
    rels, sims = _collect_mmr_batch(
        candidates, id_col, rel_col, vec_col, group_col
    )
    out_rows = []
    for g in sorted(rels):
        order = _mmr_greedy(sorted(rels[g]), rels[g], sims.get(g, {}), k, lam)
        out_rows += [(g, i, rank + 1) for rank, i in enumerate(order)]
    return local_frame(
        spark, out_rows, _mmr_schema(candidates, [group_col, id_col])
    )


def dcg_denominators(k: int) -> list[str]:
    """The DCG position discounts ``1/log2(rank+1)`` for rank 1..k,
    quantized to 12 decimals and rendered as exact decimal strings.

    log2 differs in the last ulp between JVM and libm (CLAUDE.md), so
    the discounts must never be recomputed engine-side: both the Spark
    plan and any SQL oracle inject THESE literal strings, which parse
    to identical DECIMAL(14,12) values everywhere. 12 decimals is nine
    orders above the float drift and far below any rank-separation a
    metric could care about."""
    import math
    from decimal import ROUND_HALF_EVEN, Decimal

    q = Decimal("0.000000000000")
    return [
        str(
            Decimal(1.0 / math.log2(r + 1)).quantize(q, rounding=ROUND_HALF_EVEN)
        )
        for r in range(1, k + 1)
    ]


def retrieval_eval(
    ranked: DataFrame,
    labels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """Offline retrieval-quality metrics over a labeled run: per query,
    recall@k, MRR@k, DCG@k, IDCG@k and NDCG@k — the evaluation half of
    the retrieval stack (rrf_fuse / mmr rerank tune k0 and λ against
    exactly these numbers).

    ``ranked``: (query, doc, rank) with rank 1-based — a run file.
    ``labels``: (query, doc, grade) integer grades ≥ 0 (0 = judged
    irrelevant); relevant means grade ≥ 1; gains are 2^grade − 1
    (grades are expected small, ≤ 30). Queries with no relevant label
    are dropped (recall/NDCG undefined — standard IR-eval convention);
    ranked-only docs without a label count as irrelevant.

    Cross-engine exactness: gains are integers; the position discounts
    come from :func:`dcg_denominators` as DECIMAL literals, so DCG/IDCG
    are exact DECIMAL sums (parallel order cannot drift them); recall
    and MRR are single IEEE divisions of integers (identical in any
    engine); NDCG alone passes through a DECIMAL→double cast, so it is
    rounded to 10 decimals (the repo's decimal-cast rule).

    Scale shape: one groupBy per frame (map-side partial counts/sums
    keyed by the query id), one top-k window over LABELS partitioned by
    query (bounded by judgments per query, not corpus size), and the
    final assembly joins per-query 1-row aggregates — broadcast-sized
    at any corpus scale. The expensive parts of an evaluation (scoring
    the corpus, cutting top-k runs) happen upstream in ranked_list,
    which keeps its TakeOrdered plan."""
    denoms = dcg_denominators(k)
    pairs = []
    for r, s in enumerate(denoms, 1):
        pairs += [F.lit(r).cast("int"), F.expr(f"CAST({s} AS DECIMAL(14,12))")]
    denom_of = F.create_map(*pairs)

    def gain(col):
        # 2^grade − 1 as INTEGER arithmetic (shiftleft via SQL text —
        # the Python wrapper only takes a literal bit count); pow()
        # would be a double and the last-ulp cross-engine trap
        return F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({col} AS INT)) - 1").cast(
            "decimal(12,0)"
        )

    rel = labels.filter(F.col(grade_col) >= 1).select(
        query_col, doc_col, grade_col
    )
    n_rel = rel.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_rel"))

    topk = ranked.filter(F.col(rank_col) <= k).select(
        query_col, doc_col, F.col(rank_col).cast("int").alias(rank_col)
    )
    hits = topk.join(rel, [query_col, doc_col], "inner")
    per_q = hits.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("hits_at_k"),
        F.min(rank_col).alias("_first_rank"),
        F.sum(
            (gain(grade_col) * denom_of[F.col(rank_col)]).cast("decimal(28,12)")
        ).alias("_dcg"),
    )

    # ideal ranking: grades desc over the judged-relevant set (equal
    # grades are interchangeable — same gain — so the doc tie-break
    # only pins determinism, not the value); window is per-query and
    # bounded by judgments, not corpus
    w = W.partitionBy(query_col).orderBy(F.col(grade_col).desc(), F.col(doc_col))
    ideal = rel.withColumn("_ir", F.row_number().over(w)).filter(F.col("_ir") <= k)
    idcg = ideal.groupBy(query_col).agg(
        F.sum(
            (gain(grade_col) * denom_of[F.col("_ir")]).cast("decimal(28,12)")
        ).alias("_idcg")
    )

    zero = F.lit(0).cast("decimal(28,12)")
    dcg_c = F.coalesce(F.col("_dcg"), zero)
    return (
        n_rel.join(per_q, query_col, "left")
        .join(idcg, query_col, "left")
        .select(
            query_col,
            "n_rel",
            F.coalesce(F.col("hits_at_k"), F.lit(0)).cast("long").alias("hits_at_k"),
            (
                F.coalesce(F.col("hits_at_k"), F.lit(0)).cast("double")
                / F.col("n_rel").cast("double")
            ).alias("recall_at_k"),
            F.when(
                F.col("_first_rank").isNotNull(),
                F.lit(1.0) / F.col("_first_rank").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr_at_k"),
            dcg_c.alias("dcg_at_k"),
            F.coalesce(F.col("_idcg"), zero).alias("idcg_at_k"),
            F.when(
                F.col("_idcg").isNull(), F.lit(0.0)
            )
            .otherwise(
                F.round(
                    dcg_c.cast("double") / F.col("_idcg").cast("double"), 10
                )
            )
            .alias("ndcg_at_k"),
        )
    )


def compare_retrieval_runs(
    run_a: DataFrame,
    run_b: DataFrame,
    labels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """Paired A/B evaluation of two runs over the SAME judgments — the
    sign-test view that answers "which configuration wins, per query":
    for each of recall@k / MRR@k / NDCG@k, both runs' values plus an
    outcome ∈ WIN_A / WIN_B / TIE. Aggregate the outcomes downstream
    for the sign-test counts; per-query rows are kept so regressions
    can be localized to specific queries.

    Determinism: each side is a :func:`retrieval_eval` frame (exact
    DECIMAL sums, NDCG rounded to 10), so the comparisons are between
    values that are bit-identical across engines — outcomes replay in
    SQL exactly. Cost: two O(run+judgments) evals and a per-query join
    of 1-row-per-query aggregates (broadcast-sized)."""
    ea = retrieval_eval(
        run_a, labels, k, query_col=query_col, doc_col=doc_col,
        rank_col=rank_col, grade_col=grade_col,
    ).select(
        query_col,
        F.col("recall_at_k").alias("recall_a"),
        F.col("mrr_at_k").alias("mrr_a"),
        F.col("ndcg_at_k").alias("ndcg_a"),
    )
    eb = retrieval_eval(
        run_b, labels, k, query_col=query_col, doc_col=doc_col,
        rank_col=rank_col, grade_col=grade_col,
    ).select(
        query_col,
        F.col("recall_at_k").alias("recall_b"),
        F.col("mrr_at_k").alias("mrr_b"),
        F.col("ndcg_at_k").alias("ndcg_b"),
    )

    def outcome(a, b):
        return (
            F.when(F.col(a) > F.col(b), F.lit("WIN_A"))
            .when(F.col(a) < F.col(b), F.lit("WIN_B"))
            .otherwise(F.lit("TIE"))
        )

    return ea.join(eb, query_col).select(
        query_col,
        "recall_a", "recall_b", outcome("recall_a", "recall_b").alias("recall_outcome"),
        "mrr_a", "mrr_b", outcome("mrr_a", "mrr_b").alias("mrr_outcome"),
        "ndcg_a", "ndcg_b", outcome("ndcg_a", "ndcg_b").alias("ndcg_outcome"),
    )


def sign_test_p_table(max_n: int = 100) -> "dict[tuple[int, int], str]":
    """Exact two-sided sign-test p-values ``p(n, m) = min(1,
    2·P(Bin(n, 1/2) ≤ m))`` for every 0 ≤ m ≤ n ≤ max_n, computed
    driver-side in exact rational arithmetic and quantized to 12
    decimals HALF_EVEN — the :func:`dcg_denominators` pattern: an
    engine never computes the constant itself, both engines consume
    the SAME injected DECIMAL literal, so the p-values (and any
    comparison against α) replay bit-identically in SQL. Denominators
    are powers of two, so the quantization is of a finite decimal —
    no double ever touches the value before the final output cast."""
    import math
    from decimal import Decimal
    from fractions import Fraction

    def q12(fr: Fraction) -> str:
        s = fr * 10**12
        fl, rem = divmod(s.numerator, s.denominator)
        half = Fraction(rem, s.denominator)
        if half > Fraction(1, 2) or (half == Fraction(1, 2) and fl % 2 == 1):
            fl += 1
        return format(Decimal(fl).scaleb(-12), "f")

    out: dict[tuple[int, int], str] = {}
    for n in range(0, max_n + 1):
        cum = 0
        for m in range(0, n + 1):
            cum += math.comb(n, m)
            p = Fraction(2 * cum, 2**n) if n else Fraction(1)
            out[(n, m)] = q12(min(p, Fraction(1)))
    return out


def retrieval_sign_test(
    run_a: DataFrame,
    run_b: DataFrame,
    labels: DataFrame,
    k: int = 10,
    alpha: str = "0.05",
    max_n: int = 100,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """The MACRO verdict over a paired A/B comparison — the row a real
    A/B consumer reads first: per metric (recall@k / MRR@k / NDCG@k),
    the win/loss/tie counts, the effective n (ties dropped, the exact
    sign-test convention), the two-sided exact binomial p-value, and
    the significant winner at ``alpha`` ('A' / 'B' / 'NONE', or
    'UNDECIDED' when n exceeds the injected table — use a larger
    ``max_n`` or a normal approximation downstream).

    Exactness: counts are integers; p-values come from
    :func:`sign_test_p_table` as ONE injected DECIMAL map literal
    (single F.expr parse — the big-literal-model rule), keyed by
    n·(max_n+2)+m, so the engine only ever does an integer map lookup;
    the α comparison is DECIMAL-exact. The only double is the emitted
    p_value (rounded 10 per the decimal-cast rule).

    Scale: everything below the two :func:`retrieval_eval` passes is a
    3-row aggregate — cost is entirely in the upstream run scoring."""
    cmp = compare_retrieval_runs(
        run_a, run_b, labels, k,
        query_col=query_col, doc_col=doc_col,
        rank_col=rank_col, grade_col=grade_col,
    )
    longf = cmp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mname).alias("metric"),
                        F.col(f"{mname}_outcome").alias("o"),
                    )
                    for mname in ("recall", "mrr", "ndcg")
                ]
            )
        ).alias("x")
    ).select("x.metric", "x.o")

    def n_of(label):
        return F.sum(F.when(F.col("o") == label, 1).otherwise(0)).cast("long")

    counts = longf.groupBy("metric").agg(
        n_of("WIN_A").alias("wins_a"),
        n_of("WIN_B").alias("wins_b"),
        n_of("TIE").alias("ties"),
    )

    table = sign_test_p_table(max_n)
    stride = max_n + 2
    entries = ",".join(
        f"{n * stride + m},CAST('{p}' AS DECIMAL(14,12))"
        for (n, m), p in table.items()
    )
    pmap = F.expr(f"map({entries})")

    n_eff = (F.col("wins_a") + F.col("wins_b")).cast("long")
    key = (n_eff * stride + F.least("wins_a", "wins_b")).cast("int")
    p_dec = F.when(n_eff <= max_n, pmap[key])
    a_dec = F.expr(f"CAST('{alpha}' AS DECIMAL(14,12))")
    winner = (
        F.when(p_dec.isNull(), F.lit("UNDECIDED"))
        .when(
            (p_dec < a_dec) & (F.col("wins_a") > F.col("wins_b")), F.lit("A")
        )
        .when(
            (p_dec < a_dec) & (F.col("wins_b") > F.col("wins_a")), F.lit("B")
        )
        .otherwise(F.lit("NONE"))
    )
    return counts.select(
        "metric",
        "wins_a",
        "wins_b",
        "ties",
        n_eff.alias("n_effective"),
        F.round(p_dec.cast("double"), 10).alias("p_value"),
        winner.alias("significant_winner"),
    )


def rrf_param_sweep(
    lists: Sequence[DataFrame],
    labels: DataFrame,
    k0_grid: Sequence[int],
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    grade_col: str = "grade",
) -> DataFrame:
    """Tune RRF's k0 on evidence (r9-VERDICT #4): one fused-candidate
    pass, every grid point evaluated, the best selected engine-stably.

    ``lists`` are per-query bounded rank lists (computed ONCE upstream
    — the corpus is scanned exactly once per list, never per grid
    point). They are full-outer-joined into one rank-columns frame;
    the k0 grid is a LITERAL broadcast dimension crossed against that
    bounded frame, so each grid point is a different score expression
    over the same rows: ``Σ 1/(k0 + rank_i)`` with k0 a column —
    integer-valued doubles through one correctly-rounded division,
    bit-identical cross-engine like fixed-k0 RRF.

    Per grid point: top-k cut per query (windows over bounded
    candidate rows), :func:`retrieval_eval` against ``labels`` (keyed
    by a composite k0#query id so the whole sweep is ONE eval pass),
    then per-k0 aggregation. Metric sums go through
    ``bround(·,12).cast(decimal)`` (the HALF_EVEN quantization that
    mirrors DuckDB's double→DECIMAL cast) so parallel order cannot
    drift them and the best-row selection — max NDCG sum, tiebreak
    smaller k0 — is exact in both engines. Means are emitted round-10.

    Returns (k0, n_queries, sum_recall/sum_mrr/sum_ndcg [DECIMAL],
    mean_recall/mean_mrr/mean_ndcg [round-10], is_best)."""
    if not lists or not k0_grid:
        raise ValueError("rrf_param_sweep: need lists and a k0 grid")
    spark = lists[0].sparkSession
    keys = [query_col, id_col]
    joined = None
    for i, r in enumerate(lists):
        ri = r.select(*keys, F.col("rank").cast("long").alias(f"rank_{i}"))
        joined = ri if joined is None else joined.join(ri, keys, "full_outer")
    joined = joined.persist()
    pin_latest("retrieval.rrf_param_sweep", joined)

    grid = local_frame(
        spark, [(int(v),) for v in sorted(set(int(v) for v in k0_grid))], "k0 int"
    )
    score = None
    for i in range(len(lists)):
        contrib = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.lit(1.0) / (F.col("k0").cast("double") + F.col(f"rank_{i}")),
        ).otherwise(F.lit(0.0))
        score = contrib if score is None else score + contrib
    fused = joined.crossJoin(F.broadcast(grid)).select(
        "k0", *keys, score.alias("rrf")
    )
    w = W.partitionBy("k0", query_col).orderBy(
        F.col("rrf").desc(), F.col(id_col).asc()
    )
    run = (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn(
            "_qk", F.concat_ws("#", F.col("k0"), F.col(query_col))
        )
        .select("_qk", id_col, "rank")
    )
    labels_g = (
        labels.crossJoin(F.broadcast(grid))
        .withColumn("_qk", F.concat_ws("#", F.col("k0"), F.col(query_col)))
        .select("_qk", id_col, grade_col)
    )
    ev = retrieval_eval(
        run, labels_g, k=k, query_col="_qk", doc_col=id_col,
        grade_col=grade_col,
    )

    def dsum(col):
        return F.sum(F.bround(F.col(col), 12).cast("decimal(28,12)"))

    agg = ev.groupBy(
        F.split(F.col("_qk"), "#").getItem(0).cast("int").alias("k0")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        dsum("recall_at_k").alias("_sr"),
        dsum("mrr_at_k").alias("_sm"),
        dsum("ndcg_at_k").alias("_sn"),
    )
    wb = W.orderBy(F.col("_sn").desc(), F.col("k0").asc())
    mean = lambda s: F.round(  # noqa: E731
        F.col(s).cast("double") / F.col("n_queries").cast("double"), 10
    )
    return agg.withColumn("_b", F.row_number().over(wb)).select(
        "k0",
        "n_queries",
        F.round(F.col("_sr").cast("double"), 10).alias("sum_recall"),
        F.round(F.col("_sm").cast("double"), 10).alias("sum_mrr"),
        F.round(F.col("_sn").cast("double"), 10).alias("sum_ndcg"),
        mean("_sr").alias("mean_recall"),
        mean("_sm").alias("mean_mrr"),
        mean("_sn").alias("mean_ndcg"),
        (F.col("_b") == 1).alias("is_best"),
    )


def _collect_mmr_batch(
    candidates: DataFrame,
    id_col: str,
    rel_col: str,
    vec_col: str,
    group_col: str,
):
    """One collect of the bounded candidate rels + within-group pairwise
    sims (the expensive half of batched MMR) — shared by
    :func:`mmr_rerank_batch` and the λ sweep so a parameter grid costs
    ONE candidate pass, not one per grid point."""
    from ..query.filters import cosine_similarity

    c = candidates.select(
        F.col(group_col), F.col(id_col), F.col(rel_col).cast("double"),
        F.col(vec_col),
    ).persist()
    a = c.alias("a")
    b = c.alias("b")
    sims_df = (
        a.join(
            F.broadcast(b),
            (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{group_col}").alias("g"),
            F.col(f"a.{id_col}").alias("ia"),
            F.col(f"b.{id_col}").alias("ib"),
            cosine_similarity(
                f"CAST(`a`.`{vec_col}` AS ARRAY<DOUBLE>)",
                f"CAST(`b`.`{vec_col}` AS ARRAY<DOUBLE>)",
            ).alias("s"),
        )
    )
    rel_rows = c.select(group_col, id_col, rel_col).collect()  # bounded
    sim_rows = sims_df.collect()  # bounded: B * N * (N-1)
    c.unpersist()
    rels: dict = {}
    for r in rel_rows:
        rels.setdefault(r[0], {})[r[1]] = float(r[2])
    sims: dict = {}
    for r in sim_rows:
        sims.setdefault(r["g"], {})[(r["ia"], r["ib"])] = float(r["s"])
    return rels, sims


def mmr_lambda_sweep(
    candidates: DataFrame,
    k: int,
    lam_grid: Sequence[float],
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    group_col: str = "query_id",
) -> DataFrame:
    """λ sweep for batched MMR over ONE candidate pass: rels and the
    pairwise sim matrix are collected once (:func:`_collect_mmr_batch`)
    and every λ replays the driver-side greedy over the same dicts —
    grid cost is O(grid · N²·k) driver arithmetic, zero extra Spark
    jobs. λ values must be DYADIC (exactly representable: quarters,
    eighths…) so ``λ·rel − (1−λ)·maxsim`` stays one exact multiply per
    term and the selection sequence replays bit-identically in a SQL
    oracle (the 0.5-scaling rule generalized). Returns
    (lam_num [λ·8 as int — integer output keeps comparisons exact],
    group_col, id_col, mmr_rank)."""
    spark = candidates.sparkSession
    lams = sorted(set(float(v) for v in lam_grid))
    for lam in lams:
        if (lam * 8) != int(lam * 8):
            raise ValueError(
                f"mmr_lambda_sweep: λ={lam} is not dyadic (n/8) — "
                "non-dyadic λ breaks cross-engine float exactness"
            )
    rels, sims = _collect_mmr_batch(
        candidates, id_col, rel_col, vec_col, group_col
    )
    out_rows = []
    for lam in lams:
        for g in sorted(rels):
            order = _mmr_greedy(
                sorted(rels[g]), rels[g], sims.get(g, {}), k, lam
            )
            out_rows += [
                (int(lam * 8), g, i, rank + 1)
                for rank, i in enumerate(order)
            ]
    return local_frame(
        spark, out_rows, _mmr_schema(candidates, [group_col, id_col], "lam_num")
    )


def hard_negative_mining(
    docs: DataFrame,
    query_terms: Sequence[tuple],
    k: int,
    positives: "DataFrame | None" = None,
    n_auto_positives: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: the
    top-k BM25 candidates per query EXCLUDING the query's positives —
    documents lexically close to the query but not labeled relevant,
    the negatives a dual-encoder/reranker actually learns from (random
    negatives are trivially separable; gold positives must never leak
    into the negative set).

    ``positives`` is a (query_id, id) frame of labeled positives;
    ``n_auto_positives`` > 0 instead treats each query's top-n BM25
    hits as its (pseudo-)positives — the bootstrap used when only
    queries exist. Both can combine.

    Plan shape: ONE corpus scan scores the whole query batch
    (bm25_terms_multi: postings built once, the (query_id, word) map a
    broadcast dim), the scored frame persists, positives remove via
    left_anti on (query_id, id) (positives are label-sized —
    broadcastable; AQE decides), and the per-query cut is
    two-stage (vector.two_stage_topk — r13: a plain per-query
    row_number window sorted corpus-scale candidates on one reducer
    for common terms). Scores stay DECIMAL(28,6) (exact, order-free)
    end to end.

    Returns (query_id, id, neg_rank, score), neg_rank 1..k."""
    from ._cache import pin_latest

    scored = (
        bm25_terms_multi(docs, id_col, text_col, query_terms, k1, b)
        .groupBy("query_id", id_col)
        .agg(F.sum("term_score").alias("score"))
        .persist()
    )
    pin_latest("retrieval.hard_negative_mining", scored)
    excluded = positives
    if n_auto_positives > 0:
        auto = ranked_list_grouped(
            scored, id_col, "score", n_auto_positives, "query_id"
        ).select("query_id", id_col)
        excluded = auto if excluded is None else excluded.select(
            "query_id", id_col
        ).unionByName(auto)
    neg = scored
    if excluded is not None:
        neg = scored.join(
            excluded.select("query_id", id_col), ["query_id", id_col], "left_anti"
        )
    from .vector import two_stage_topk

    return two_stage_topk(
        neg, int(k), "query_id", [F.col("score").desc(), F.col(id_col).asc()]
    ).select(
        "query_id", id_col, F.col("rank").alias("neg_rank"), "score"
    )


def prf_expansion_terms(
    docs: DataFrame,
    query_terms: Sequence[tuple],
    k_docs: int,
    n_terms: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (the RM3 idea in
    integer-deterministic form): per query, take the top ``k_docs``
    BM25 hits as the feedback set, count every token's occurrences
    inside it, and pick the ``n_terms`` most frequent tokens NOT
    already in the query (ties break on the word — a total order, so
    the expansion replays exactly in any engine; classic RM3's
    float-weighted language-model mixture trades that replayability
    for marginal gains).

    Plan shape: the batch scores in one corpus scan (bm25_terms_multi),
    the feedback set is <= B·k_docs ids, and the feedback token count
    joins that tiny id list back to the corpus (broadcastable; AQE
    decides) — the second corpus touch reads only feedback docs'
    tokens. Returns (query_id, word, fb_count, term_rank)."""
    from .text import tokenize

    spark = docs.sparkSession
    scored = (
        bm25_terms_multi(docs, id_col, text_col, query_terms, k1, b)
        .groupBy("query_id", id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    fb = ranked_list_grouped(scored, id_col, "score", k_docs, "query_id").select(
        "query_id", id_col
    )
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("word")
    )
    counts = (
        toks.join(fb, id_col)
        .groupBy("query_id", "word")
        .agg(F.count(F.lit(1)).alias("fb_count"))
    )
    orig = local_frame(
        spark,
        [(int(qid), w) for qid, ws in query_terms for w in ws],
        "query_id long, word string",
    )
    fresh = counts.join(orig, ["query_id", "word"], "left_anti")
    from .vector import two_stage_topk

    # the candidate vocabulary per query is feedback-set-sized, but the
    # two-stage cut keeps the shape uniform with every other per-group
    # top-k (r13 — no single-reducer windows over unbounded inputs)
    return two_stage_topk(
        fresh, int(n_terms), "query_id",
        [F.col("fb_count").desc(), F.col("word").asc()],
    ).select("query_id", "word", "fb_count", F.col("rank").alias("term_rank"))


def prf_expanded_search(
    docs: DataFrame,
    query_terms: Sequence[tuple],
    k: int,
    k_docs: int = 5,
    n_terms: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Two-round retrieval with pseudo-relevance feedback: expand each
    query bag with its :func:`prf_expansion_terms` and re-run the BM25
    batch over the UNION bag — the recall lever when the original query
    undersamples the topic vocabulary. Both rounds are single-scan
    batch retrievals; scores stay DECIMAL(28,6). Returns
    (query_id, id, rank, score) over the expanded queries."""
    exp = prf_expansion_terms(
        docs, query_terms, k_docs, n_terms, id_col, text_col, k1, b
    )
    extra: dict = {}
    for r in exp.collect():  # bounded: B queries x n_terms rows
        extra.setdefault(int(r["query_id"]), []).append(r["word"])
    expanded = [
        (qid, sorted(set(ws) | set(extra.get(int(qid), [])))) for qid, ws in query_terms
    ]
    scored = (
        bm25_terms_multi(docs, id_col, text_col, expanded, k1, b)
        .groupBy("query_id", id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    from .vector import two_stage_topk

    return two_stage_topk(
        scored, int(k), "query_id", [F.col("score").desc(), F.col(id_col).asc()]
    ).select("query_id", id_col, "rank", "score")
