"""Golden queries: hybrid retrieval — reciprocal-rank fusion of the
BM25 lexical ranking and the dense cosine ranking over the same corpus
(documents ⟷ embeddings aligned on doc_id = vec_id).

The oracle replays BOTH rankings and the fusion arithmetic exactly:
BM25 term scores round to 6 decimals and sum as DECIMAL (rank order
cannot drift), cosine is the same sequential double fold pinned by the
*_stable ANN oracles, and 1/(k0+rank) + 1/(k0+rank) is two correctly-
rounded divisions added in list order — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions._cache import memo
from ..functions.retrieval import ranked_list, rrf_fuse
from ..session import local_frame
from . import golden
from ._util import big, memo_golden, t
from .vectors import _cos_sql, _query_vec

_BM25_LEX_SQL = """
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word IN ('stream', 'data', 'query')
      GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfreq FROM tf GROUP BY word),
    term AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1.0::DOUBLE + (n_docs - dfreq + 0.5::DOUBLE) / (dfreq + 0.5::DOUBLE))
               * (tf * 2.2::DOUBLE)
               / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl)),
               6) AS DECIMAL(28,6)) AS term_score
      FROM tf
      JOIN dfreq USING (word)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    lex_scored AS (
      SELECT doc_id, SUM(term_score) AS score FROM term GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, rn AS rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn
        FROM lex_scored
      ) WHERE rn <= 50
    )
"""


@golden(
    "hybrid_search_rrf",
    oracle=f"""
    WITH {_BM25_LEX_SQL},
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    dense_scored AS (
      SELECT e.vec_id AS doc_id,
             {_cos_sql('e.embedding::DOUBLE[]', 'q.qv')} AS score
      FROM embeddings e, q
    ),
    dense AS (
      SELECT doc_id, rn AS rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn
        FROM dense_scored
      ) WHERE rn <= 50
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             CAST(l.rank AS BIGINT) AS rank_0,
             CAST(d.rank AS BIGINT) AS rank_1,
             (CASE WHEN l.rank IS NOT NULL
                   THEN 1.0::DOUBLE / (60.0::DOUBLE + l.rank) ELSE 0.0::DOUBLE END)
             + (CASE WHEN d.rank IS NOT NULL
                     THEN 1.0::DOUBLE / (60.0::DOUBLE + d.rank) ELSE 0.0::DOUBLE END)
               AS rrf
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, rank_0, rank_1, rrf FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS rn
      FROM fused
    ) WHERE rn <= 20
    """,
)
@memo_golden("hybrid_search_rrf")
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid search: BM25 (bag {stream,data,query}, k1=1.2, b=0.75,
    exact-decimal sums) top-50 fused with dense cosine (query = doc 0's
    embedding, the corpus-aligned vec_id) top-50 via reciprocal-rank
    fusion (k0=60), top-20 returned. The two candidate generators keep
    their scale plans (postings equi-join; broadcast-query brute force
    with LSH/IVF drop-ins); fusion itself joins two ≤50-row lists —
    broadcast-sized at any corpus size. rank_0 = lexical, rank_1 =
    dense; a doc missing from a list contributes 0 to rrf."""
    from ..functions.text import bm25_terms

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")

    lex_scored = (
        bm25_terms(docs, "doc_id", "text", ["stream", "data", "query"])
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    lex = ranked_list(lex_scored, "doc_id", "score", topk=50)

    qv = _query_vec(spark, sf_dir, 0)
    from ..functions.vector import _sql_doubles
    from ..query.filters import cosine_similarity

    dense_scored = emb.select(
        F.col("vec_id").alias("doc_id"),
        cosine_similarity(
            "`embedding`",
            f"CAST(array({_sql_doubles(qv)}) AS ARRAY<DOUBLE>)",
        ).alias("score"),
    )
    dense = ranked_list(dense_scored, "doc_id", "score", topk=50)

    fused = rrf_fuse([lex, dense], id_col="doc_id", k0=60, topk=20)
    return fused.select(
        big("doc_id").alias("doc_id"), "rank_0", "rank_1", "rrf"
    )


def _dot64(a: str, b: str) -> str:
    # same left-fold operand order as query.filters.dot_product
    # (pinned bit-exact cross-engine by tests/test_vectors_stable.py)
    return f"list_sum(list_transform(range(1, 65), i -> ({a})[i] * ({b})[i]))"


def _cos64(a: str, b: str) -> str:
    return f"(({_dot64(a, b)}) / (sqrt({_dot64(a, a)}) * sqrt({_dot64(b, b)})))"


@golden(
    "mmr_diversified_rerank",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (SELECT e.vec_id, {_cos64('e.v', 'q.qv')} AS rel FROM e, q),
    cand AS (SELECT vec_id, rel FROM scored ORDER BY rel DESC, vec_id ASC LIMIT 20),
    cv AS (SELECT c.vec_id, c.rel, e.v FROM cand c JOIN e USING (vec_id)),
    sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, {_cos64('a.v', 'b.v')} AS s
      FROM cv a JOIN cv b ON a.vec_id <> b.vec_id
    ),
    pick(step, sel) AS (
      SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)]
      UNION ALL
      SELECT p.step + 1,
             list_append(p.sel, (
               SELECT c.vec_id FROM cand c
               WHERE NOT list_contains(p.sel, c.vec_id)
               ORDER BY ('0.5'::DOUBLE * c.rel - '0.5'::DOUBLE * (
                          SELECT MAX(s.s) FROM sims s
                          WHERE s.ia = c.vec_id AND list_contains(p.sel, s.ib))) DESC,
                        c.vec_id ASC
               LIMIT 1))
      FROM pick p WHERE p.step < 8
    )
    SELECT CAST(f.sel[i] AS BIGINT) AS vec_id, CAST(i AS BIGINT) AS mmr_rank
    FROM (SELECT sel FROM pick WHERE step = 8) f,
         unnest(range(1, 9)) AS t(i)
    """,
)
def mmr_diversified_rerank(spark, sf_dir):
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein '98) of
    the top-20 cosine candidates for query vec 0: greedy
    ``argmax 0.5*rel - 0.5*max_sim_to_selected``, 8 picks, tiebreak
    id ASC. Candidate generation is a TakeOrdered cut; the N×N sim
    matrix is a broadcast self-join; the sequential greedy runs
    driver-side over the bounded collect (functions/retrieval.py::
    mmr_rerank). The oracle replays the full greedy as a recursive CTE
    accumulating the selected list — every float op (left-fold cosine,
    exact 0.5 scaling, one subtraction) is bit-identical cross-engine,
    so the selection SEQUENCE matches exactly; rank-only output keeps
    the comparison integer-exact."""
    from ..functions.retrieval import mmr_rerank
    from ..functions.vector import _sql_doubles
    from ..query.filters import cosine_similarity

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    scored = emb.select(
        "vec_id",
        "embedding",
        cosine_similarity(
            "CAST(`embedding` AS ARRAY<DOUBLE>)",
            f"CAST(array({_sql_doubles(qv)}) AS ARRAY<DOUBLE>)",
        ).alias("rel"),
    )
    cand = scored.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(20)
    out = mmr_rerank(
        cand, k=8, lam=0.5, id_col="vec_id", rel_col="rel", vec_col="embedding"
    )
    return out.select(big("vec_id").alias("vec_id"), big("mmr_rank").alias("mmr_rank"))


@golden(
    "hybrid_search_rrf_batch",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    qt(query_id, word) AS (
      VALUES (0,'stream'),(0,'data'),(0,'query'),
             (1,'join'),(1,'hash'),(1,'scan'),
             (2,'vector'),(2,'window'),(2,'sort')
    ),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word IN ('stream','data','query','join','hash','scan',
                     'vector','window','sort')
      GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfreq FROM tf GROUP BY word),
    term AS (
      SELECT q.query_id, tf.doc_id,
             CAST(round(
               ln(1.0::DOUBLE + (n_docs - dfreq + 0.5::DOUBLE) / (dfreq + 0.5::DOUBLE))
               * (tf * 2.2::DOUBLE)
               / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl)),
               6) AS DECIMAL(28,6)) AS term_score
      FROM tf
      JOIN qt q USING (word)
      JOIN dfreq USING (word)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    lex_scored AS (
      SELECT query_id, doc_id, SUM(term_score) AS score
      FROM term GROUP BY query_id, doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, rn AS rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id ASC) AS rn
        FROM lex_scored
      ) WHERE rn <= 50
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 3),
    dense_scored AS (
      SELECT q.query_id, e.vec_id AS doc_id,
             {{COS}} AS score
      FROM embeddings e, q
    ),
    dense AS (
      SELECT query_id, doc_id, rn AS rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id ASC) AS rn
        FROM dense_scored
      ) WHERE rn <= 50
    ),
    fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             CAST(l.rank AS BIGINT) AS rank_0,
             CAST(d.rank AS BIGINT) AS rank_1,
             (CASE WHEN l.rank IS NOT NULL
                   THEN 1.0::DOUBLE / (60.0::DOUBLE + l.rank) ELSE 0.0::DOUBLE END)
             + (CASE WHEN d.rank IS NOT NULL
                     THEN 1.0::DOUBLE / (60.0::DOUBLE + d.rank) ELSE 0.0::DOUBLE END)
               AS rrf
      FROM lex l FULL OUTER JOIN dense d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id, rank_0, rank_1, rrf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id ASC) AS rn
      FROM fused
    ) WHERE rn <= 10
    """.replace("{COS}", _cos_sql("e.embedding::DOUBLE[]", "q.qv")),
)
@memo_golden("hybrid_search_rrf_batch")
def hybrid_search_rrf_batch(spark, sf_dir):
    """The multi-tenant production shape of hybrid search: a BATCH of
    3 queries (each a bag of words + a query vector) retrieved in ONE
    pass — postings built once with the (query_id, word) map joined as
    a broadcast dim (B queries cost one corpus scan, not B), dense side
    via the broadcast-query cosine_topk, per-query rank windows
    PARTITIONED on query_id (parallel across queries; at 100 TB the
    dense generator swaps in the partition-pruned IVF probe), RRF
    fused per query, top-10 each. Same float-exactness contract as
    hybrid_search_rrf."""
    from ..functions.retrieval import (
        bm25_terms_multi,
        ranked_list_grouped,
        rrf_fuse,
    )
    from ..functions.vector import cosine_topk

    bags = [
        (0, ["stream", "data", "query"]),
        (1, ["join", "hash", "scan"]),
        (2, ["vector", "window", "sort"]),
    ]
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")

    lex_scored = (
        bm25_terms_multi(docs, "doc_id", "text", bags)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    lex = ranked_list_grouped(lex_scored, "doc_id", "score", 50, "query_id")

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dense_scored = cosine_topk(emb, queries, k=50).select(
        "query_id", F.col("vec_id").alias("doc_id"), "score"
    )
    dense = ranked_list_grouped(dense_scored, "doc_id", "score", 50, "query_id")

    fused = rrf_fuse(
        [lex, dense], id_col="doc_id", k0=60, topk=10, group_col="query_id"
    )
    return fused.select(
        big("query_id").alias("query_id"),
        big("doc_id").alias("doc_id"),
        "rank_0",
        "rank_1",
        "rrf",
    )


@golden(
    "mmr_diversified_rerank_batch",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
    scored AS (
      SELECT q.qid, e.vec_id, {_cos64('e.v', 'q.qv')} AS rel
      FROM e, q
    ),
    cand AS (
      SELECT qid, vec_id, rel FROM (
        SELECT qid, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 12
    ),
    cv AS (SELECT c.qid, c.vec_id, c.rel, e.v FROM cand c JOIN e USING (vec_id)),
    sims AS (
      SELECT a.qid, a.vec_id AS ia, b.vec_id AS ib, {_cos64('a.v', 'b.v')} AS s
      FROM cv a JOIN cv b ON a.qid = b.qid AND a.vec_id <> b.vec_id
    ),
    pick(step, qid, sel) AS (
      SELECT 1, g.qid, [(
        SELECT c.vec_id FROM cand c WHERE c.qid = g.qid
        ORDER BY c.rel DESC, c.vec_id ASC LIMIT 1)]
      FROM (SELECT DISTINCT qid FROM cand) g
      UNION ALL
      SELECT p.step + 1, p.qid,
             list_append(p.sel, (
               SELECT c.vec_id FROM cand c
               WHERE c.qid = p.qid AND NOT list_contains(p.sel, c.vec_id)
               ORDER BY ('0.5'::DOUBLE * c.rel - '0.5'::DOUBLE * (
                          SELECT MAX(s.s) FROM sims s
                          WHERE s.qid = p.qid AND s.ia = c.vec_id
                            AND list_contains(p.sel, s.ib))) DESC,
                        c.vec_id ASC
               LIMIT 1))
      FROM pick p WHERE p.step < 6
    )
    SELECT CAST(f.qid AS BIGINT) AS query_id,
           CAST(f.sel[i] AS BIGINT) AS vec_id,
           CAST(i AS BIGINT) AS mmr_rank
    FROM (SELECT qid, sel FROM pick WHERE step = 6) f,
         unnest(range(1, 7)) AS t(i)
    """,
)
def mmr_diversified_rerank_batch(spark, sf_dir):
    """Batched MMR: 3 queries, each with its top-12 cosine candidate
    list, diversified independently (k=6, lam=0.5) in one driver pass
    (functions/retrieval.py::mmr_rerank_batch — within-group broadcast
    sim matrix, per-query greedy over the bounded collect). The oracle
    advances ALL queries' greedies in lockstep inside one recursive CTE
    (one row per query per step, each accumulating its own selected
    list) — the multi-tenant form of the mmr_diversified_rerank
    replay; rank-only output, integer-exact."""
    from ..functions.retrieval import mmr_rerank_batch
    from ..functions.vector import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cand = cosine_topk(emb, queries, k=12).withColumnRenamed("score", "rel")
    cand = cand.join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    out = mmr_rerank_batch(
        cand, k=6, lam=0.5, id_col="vec_id", rel_col="rel",
        vec_col="embedding", group_col="query_id",
    )
    return out.select(
        big("query_id").alias("query_id"),
        big("vec_id").alias("vec_id"),
        big("mmr_rank").alias("mmr_rank"),
    )


# --- retrieval evaluation (recall@k / MRR@k / NDCG@k) ----------------------

# (query_id, ranking word, relevance word): the run ranks docs by the
# tf of one word, the judgments grade docs by the tf of ANOTHER — a
# deliberately imperfect run, so every metric is strictly inside (0,1)
# and actually exercises the arithmetic.
_EVAL_QUERIES = [
    (1, "stream", "batch"),
    (2, "vector", "hash"),
    (3, "join", "merge"),
    (4, "filter", "scan"),
]
_EVAL_K = 10


def _eval_tf_frames(spark, sf_dir):
    """The eval family's shared term-frequency legs (r16): ONE corpus
    tokenize scan builds a persisted (kind, query_id, doc_id, cnt)
    aggregate over the union of the rank- and grade-word dims; the
    four eval goldens (metrics / run_compare / sign_test / param_sweep)
    each previously re-ran 2-3 fused tokenize scans per call, ~12
    corpus scans per bench pass family-wide. The persisted frame is
    tiny (only query-matching docs) and plan-identical across the
    goldens, so the CacheManager shares one entry. Returns
    (tf_rank, tf_grade) with columns (query_id, doc_id, tf) — counts
    identical to the per-dim joins they replace."""
    from ..functions._cache import pin_latest
    from ..functions.text import tokenize

    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("word")
    )
    qdim = local_frame(
        spark,
        [
            (k, q, w)
            for q, wr, wg in _EVAL_QUERIES
            for k, w in ((0, wr), (1, wg))
        ],
        "kind int, query_id int, word string",
    )
    hits = (
        words.join(F.broadcast(qdim), "word")
        .groupBy("kind", "query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    pin_latest("golden.retrieval_eval.hits", hits)
    tf_rank = hits.filter(F.col("kind") == 0).select(
        "query_id", "doc_id", F.col("cnt").alias("tf")
    )
    tf_grade = hits.filter(F.col("kind") == 1).select(
        "query_id", "doc_id", F.col("cnt").alias("tf")
    )
    return tf_rank, tf_grade


def _denom_values_sql() -> str:
    from ..functions.retrieval import dcg_denominators

    return ", ".join(
        f"({r}, CAST({s} AS DECIMAL(14,12)))"
        for r, s in enumerate(dcg_denominators(_EVAL_K), 1)
    )


def _eval_queries_sql(word_ix: int) -> str:
    return ", ".join(f"({q}, '{ws[word_ix - 1]}')" for q, *ws in _EVAL_QUERIES)


@golden(
    "retrieval_eval_metrics",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    qrank(query_id, word) AS (VALUES {_eval_queries_sql(1)}),
    qgrade(query_id, word) AS (VALUES {_eval_queries_sql(2)}),
    denom(rank, d) AS (VALUES {_denom_values_sql()}),
    tf_rank AS (
      SELECT query_id, doc_id, COUNT(*) AS tf
      FROM words JOIN qrank USING (word) GROUP BY query_id, doc_id
    ),
    run AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY tf DESC, doc_id ASC
             ) AS INTEGER) AS rank
      FROM tf_rank
    ),
    labels AS (
      SELECT query_id, doc_id,
             CAST(LEAST(COUNT(*), 3) AS INTEGER) AS grade
      FROM words JOIN qgrade USING (word) GROUP BY query_id, doc_id
    ),
    n_rel AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM labels WHERE grade >= 1 GROUP BY query_id
    ),
    hits AS (
      SELECT r.query_id, r.rank, l.grade
      FROM run r JOIN labels l
        ON r.query_id = l.query_id AND r.doc_id = l.doc_id
      WHERE r.rank <= {_EVAL_K} AND l.grade >= 1
    ),
    per_q AS (
      SELECT query_id,
             CAST(COUNT(*) AS BIGINT) AS hits_at_k,
             MIN(rank) AS first_rank,
             CAST(SUM(CAST((2 ** grade - 1) AS DECIMAL(12,0)) * d)
                  AS DECIMAL(28,12)) AS dcg
      FROM hits JOIN denom USING (rank) GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id, grade,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY grade DESC, doc_id ASC
             ) AS ir
      FROM labels WHERE grade >= 1
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(CAST((2 ** grade - 1) AS DECIMAL(12,0)) * d)
                  AS DECIMAL(28,12)) AS idcg
      FROM ideal JOIN denom ON denom.rank = ideal.ir
      WHERE ir <= {_EVAL_K}
      GROUP BY query_id
    )
    SELECT n_rel.query_id AS query_id,
           n_rel,
           COALESCE(hits_at_k, 0) AS hits_at_k,
           CAST(COALESCE(hits_at_k, 0) AS DOUBLE)
             / CAST(n_rel AS DOUBLE) AS recall_at_k,
           CASE WHEN first_rank IS NULL THEN 0.0::DOUBLE
                ELSE 1.0::DOUBLE / CAST(first_rank AS DOUBLE) END AS mrr_at_k,
           ROUND(CAST(COALESCE(dcg, 0) AS DOUBLE), 10) AS dcg_at_k,
           ROUND(CAST(COALESCE(idcg, 0) AS DOUBLE), 10) AS idcg_at_k,
           CASE WHEN idcg IS NULL THEN 0.0::DOUBLE
                ELSE ROUND(CAST(COALESCE(dcg, 0) AS DOUBLE)
                           / CAST(idcg AS DOUBLE), 10) END AS ndcg_at_k
    FROM n_rel
    LEFT JOIN per_q USING (query_id)
    LEFT JOIN idcg USING (query_id)
    """,
)
def retrieval_eval_metrics(spark, sf_dir):
    """Offline retrieval evaluation (recall@10 / MRR@10 / NDCG@10) of a
    deliberately imperfect run: docs ranked by the tf of one word,
    judged by the tf of another (grades = min(tf,3)). This is the
    operator that lets the hybrid/MMR knobs (k0, λ) be tuned on
    evidence rather than folklore — the missing evaluation half of the
    r8 retrieval layer. All rank arithmetic is integer; DCG discounts
    are injected DECIMAL literals (functions.retrieval.dcg_denominators
    — log2 is never recomputed engine-side), DCG/IDCG are exact DECIMAL
    sums, and NDCG (the one decimal→double value) rounds to 10
    decimals per the repo's decimal-cast rule."""
    from ..functions.retrieval import ranked_list_grouped, retrieval_eval

    def _build():
        tf_rank, tf_grade = _eval_tf_frames(spark, sf_dir)
        run = ranked_list_grouped(
            tf_rank, "doc_id", "tf", topk=_EVAL_K, group_col="query_id"
        )
        labels = tf_grade.select(
            "query_id",
            "doc_id",
            F.least(F.col("tf"), F.lit(3)).cast("int").alias("grade"),
        )
        out = retrieval_eval(run, labels, k=_EVAL_K)
        return out.select(
            "query_id",
            big("n_rel").alias("n_rel"),
            big("hits_at_k").alias("hits_at_k"),
            "recall_at_k",
            "mrr_at_k",
            # exact DECIMAL sums inside retrieval_eval; the output casts
            # to double (rounded 10 per the decimal-cast rule) because
            # DuckDB's pandas bridge renders DECIMAL(28,12) as float64
            F.round(F.col("dcg_at_k").cast("double"), 10).alias("dcg_at_k"),
            F.round(F.col("idcg_at_k").cast("double"), 10).alias("idcg_at_k"),
            "ndcg_at_k",
        )

    # plan memo (r16): pure plan; all four eval goldens memoize, so
    # the shared hits pin site never rotates
    return memo(("plan", "retrieval_eval_metrics", sf_dir), _build)


def _metrics_block(s: str, qcte: str) -> str:
    """Per-query metric CTEs for one run (suffix ``s``): the run ranks
    docs by tf of the words in ``qcte``; judgments are always the
    shared ``labels`` CTE. Mirrors the retrieval_eval arithmetic."""
    return f"""
    tf_{s} AS (
      SELECT query_id, doc_id, COUNT(*) AS tf
      FROM words JOIN {qcte} USING (word) GROUP BY query_id, doc_id
    ),
    run_{s} AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY tf DESC, doc_id ASC
             ) AS INTEGER) AS rank
      FROM tf_{s}
    ),
    hits_{s} AS (
      SELECT r.query_id, r.rank, l.grade
      FROM run_{s} r JOIN labels l
        ON r.query_id = l.query_id AND r.doc_id = l.doc_id
      WHERE r.rank <= {_EVAL_K} AND l.grade >= 1
    ),
    per_q_{s} AS (
      SELECT query_id,
             CAST(COUNT(*) AS BIGINT) AS hits_at_k,
             MIN(rank) AS first_rank,
             CAST(SUM(CAST((2 ** grade - 1) AS DECIMAL(12,0)) * d)
                  AS DECIMAL(28,12)) AS dcg
      FROM hits_{s} JOIN denom USING (rank) GROUP BY query_id
    ),
    m_{s} AS (
      SELECT n_rel.query_id,
             CAST(COALESCE(hits_at_k, 0) AS DOUBLE)
               / CAST(n_rel AS DOUBLE) AS recall_{s},
             CASE WHEN first_rank IS NULL THEN 0.0::DOUBLE
                  ELSE 1.0::DOUBLE / CAST(first_rank AS DOUBLE)
                  END AS mrr_{s},
             CASE WHEN idcg.idcg IS NULL THEN 0.0::DOUBLE
                  ELSE ROUND(CAST(COALESCE(dcg, 0) AS DOUBLE)
                             / CAST(idcg.idcg AS DOUBLE), 10)
                  END AS ndcg_{s}
      FROM n_rel
      LEFT JOIN per_q_{s} USING (query_id)
      LEFT JOIN idcg USING (query_id)
    )"""


# the shared A/B-comparison CTE chain: retrieval_run_compare emits its
# per-query rows directly; retrieval_run_sign_test aggregates the same
# cmp relation (compose on these constants, never string-surgery on a
# finished oracle — the r9 keep_best lesson)
_COMPARE_WITH = f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    qrank(query_id, word) AS (VALUES {_eval_queries_sql(1)}),
    qgrade(query_id, word) AS (VALUES {_eval_queries_sql(2)}),
    denom(rank, d) AS (VALUES {_denom_values_sql()}),
    labels AS (
      SELECT query_id, doc_id,
             CAST(LEAST(COUNT(*), 3) AS INTEGER) AS grade
      FROM words JOIN qgrade USING (word) GROUP BY query_id, doc_id
    ),
    n_rel AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM labels WHERE grade >= 1 GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id, grade,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY grade DESC, doc_id ASC
             ) AS ir
      FROM labels WHERE grade >= 1
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(CAST((2 ** grade - 1) AS DECIMAL(12,0)) * d)
                  AS DECIMAL(28,12)) AS idcg
      FROM ideal JOIN denom ON denom.rank = ideal.ir
      WHERE ir <= {_EVAL_K}
      GROUP BY query_id
    ),{_metrics_block('a', 'qrank')},{_metrics_block('b', 'qgrade')},
    cmp AS (
    SELECT m_a.query_id AS query_id,
           recall_a, recall_b,
           CASE WHEN recall_a > recall_b THEN 'WIN_A'
                WHEN recall_a < recall_b THEN 'WIN_B'
                ELSE 'TIE' END AS recall_outcome,
           mrr_a, mrr_b,
           CASE WHEN mrr_a > mrr_b THEN 'WIN_A'
                WHEN mrr_a < mrr_b THEN 'WIN_B'
                ELSE 'TIE' END AS mrr_outcome,
           ndcg_a, ndcg_b,
           CASE WHEN ndcg_a > ndcg_b THEN 'WIN_A'
                WHEN ndcg_a < ndcg_b THEN 'WIN_B'
                ELSE 'TIE' END AS ndcg_outcome
    FROM m_a JOIN m_b USING (query_id)
    )"""


@golden(
    "retrieval_run_compare",
    oracle=f"""{_COMPARE_WITH}
    SELECT * FROM cmp
    """,
)
def retrieval_run_compare(spark, sf_dir):
    """Paired A/B run comparison (the sign-test view): run A ranks by
    the rank-word tf (the deliberately imperfect run of
    retrieval_eval_metrics), run B ranks by the GRADE-word tf — a run
    that knows the relevance signal, so B should win nearly every
    query. Both runs evaluate over the same judgments through
    compare_retrieval_runs; outcomes are comparisons of values that
    are bit-identical across engines (exact DECIMAL sums; round-10
    NDCG), so WIN/LOSS/TIE replays in SQL exactly."""
    from ..functions.retrieval import (
        compare_retrieval_runs,
        ranked_list_grouped,
    )

    def _build():
        tf_rank, tf_grade = _eval_tf_frames(spark, sf_dir)

        def run_of(tf):
            return ranked_list_grouped(
                tf, "doc_id", "tf", topk=_EVAL_K, group_col="query_id"
            )

        labels = tf_grade.select(
            "query_id",
            "doc_id",
            F.least(F.col("tf"), F.lit(3)).cast("int").alias("grade"),
        )
        return compare_retrieval_runs(
            run_of(tf_rank), run_of(tf_grade), labels, k=_EVAL_K
        )

    # plan memo (r16): pure plan; the shared hits dep pins one plan
    # used by all four memoizing eval goldens — the site never rotates
    return memo(("plan", "retrieval_run_compare", sf_dir), _build)


def _sign_p_values_sql() -> str:
    """Exact sign-test p-values for every (n, m) that can occur with
    len(_EVAL_QUERIES) paired queries — the SAME driver-quantized
    DECIMAL literals retrieval_sign_test injects into the Spark plan,
    so the p-values (and the α comparison) replay bit-identically."""
    from ..functions.retrieval import sign_test_p_table

    return ", ".join(
        f"({n}, {m}, CAST('{p}' AS DECIMAL(14,12)))"
        for (n, m), p in sign_test_p_table(len(_EVAL_QUERIES)).items()
    )


@golden(
    "retrieval_run_sign_test",
    oracle=f"""{_COMPARE_WITH},
    outc AS (
      SELECT 'recall' AS metric, recall_outcome AS o FROM cmp
      UNION ALL SELECT 'mrr', mrr_outcome FROM cmp
      UNION ALL SELECT 'ndcg', ndcg_outcome FROM cmp
    ),
    counts AS (
      SELECT metric,
             CAST(SUM(CASE WHEN o = 'WIN_A' THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_a,
             CAST(SUM(CASE WHEN o = 'WIN_B' THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_b,
             CAST(SUM(CASE WHEN o = 'TIE' THEN 1 ELSE 0 END) AS BIGINT)
               AS ties
      FROM outc GROUP BY metric
    ),
    ptab(n, m, p) AS (VALUES {_sign_p_values_sql()})
    SELECT metric, wins_a, wins_b, ties,
           wins_a + wins_b AS n_effective,
           ROUND(CAST(p AS DOUBLE), 10) AS p_value,
           CASE WHEN p < CAST('0.05' AS DECIMAL(14,12)) AND wins_a > wins_b
                  THEN 'A'
                WHEN p < CAST('0.05' AS DECIMAL(14,12)) AND wins_b > wins_a
                  THEN 'B'
                ELSE 'NONE' END AS significant_winner
    FROM counts
    JOIN ptab ON n = wins_a + wins_b AND m = LEAST(wins_a, wins_b)
    """,
)
def retrieval_run_sign_test(spark, sf_dir):
    """The MACRO A/B verdict over retrieval_run_compare's per-query
    outcomes (r9-VERDICT #3): per metric, win/loss/tie counts, the
    effective n (ties dropped — the exact sign-test convention), the
    two-sided exact binomial p-value and the significant winner at
    α=0.05. Counts are exact integers; p-values are driver-computed
    in rational arithmetic, quantized to 12 decimals HALF_EVEN and
    injected as the SAME DECIMAL literals into the Spark plan (one
    F.expr map parse) and the oracle's VALUES table — no engine ever
    computes a binomial tail itself (the dcg_denominators pattern),
    so the α comparison is DECIMAL-exact in both engines."""
    from ..functions.retrieval import (
        ranked_list_grouped,
        retrieval_sign_test,
    )

    def _build():
        tf_rank, tf_grade = _eval_tf_frames(spark, sf_dir)

        def run_of(tf):
            return ranked_list_grouped(
                tf, "doc_id", "tf", topk=_EVAL_K, group_col="query_id"
            )

        labels = tf_grade.select(
            "query_id",
            "doc_id",
            F.least(F.col("tf"), F.lit(3)).cast("int").alias("grade"),
        )
        return retrieval_sign_test(
            run_of(tf_rank), run_of(tf_grade), labels, k=_EVAL_K,
            max_n=len(_EVAL_QUERIES),
        )

    # plan memo (r16): pure plan (p-table literals are a pure function
    # of max_n — an input constant, never data)
    return memo(("plan", "retrieval_run_sign_test", sf_dir), _build)


_SWEEP_K0S = [5, 20, 60, 240]


@golden(
    "retrieval_param_sweep",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    qrank(query_id, word) AS (VALUES {_eval_queries_sql(1)}),
    qgrade(query_id, word) AS (VALUES {_eval_queries_sql(2)}),
    denom(rank, d) AS (VALUES {_denom_values_sql()}),
    grid(k0) AS (VALUES {', '.join(f'({v})' for v in _SWEEP_K0S)}),
    labels AS (
      SELECT query_id, doc_id,
             CAST(LEAST(COUNT(*), 3) AS INTEGER) AS grade
      FROM words JOIN qgrade USING (word) GROUP BY query_id, doc_id
    ),
    n_rel AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM labels WHERE grade >= 1 GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id, grade,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY grade DESC, doc_id ASC
             ) AS ir
      FROM labels WHERE grade >= 1
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(CAST((2 ** grade - 1) AS DECIMAL(12,0)) * d)
                  AS DECIMAL(28,12)) AS idcg
      FROM ideal JOIN denom ON denom.rank = ideal.ir
      WHERE ir <= {_EVAL_K}
      GROUP BY query_id
    ),
    tf_a AS (
      SELECT query_id, doc_id, COUNT(*) AS tf
      FROM words JOIN qrank USING (word) GROUP BY query_id, doc_id
    ),
    la AS (
      SELECT query_id, doc_id, rn AS rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY tf DESC, doc_id ASC
               ) AS rn
        FROM tf_a
      ) WHERE rn <= {_EVAL_K}
    ),
    tf_b AS (
      SELECT query_id, doc_id, COUNT(*) AS tf
      FROM words JOIN qgrade USING (word) GROUP BY query_id, doc_id
    ),
    lb AS (
      SELECT query_id, doc_id, rn AS rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY tf DESC, doc_id ASC
               ) AS rn
        FROM tf_b
      ) WHERE rn <= {_EVAL_K}
    ),
    joined AS (
      SELECT query_id, doc_id, a.rank AS r0, b.rank AS r1
      FROM la a FULL OUTER JOIN lb b USING (query_id, doc_id)
    ),
    fused AS (
      SELECT g.k0, j.query_id, j.doc_id,
             (CASE WHEN r0 IS NOT NULL
                   THEN 1.0::DOUBLE / (CAST(g.k0 AS DOUBLE) + r0)
                   ELSE 0.0::DOUBLE END)
           + (CASE WHEN r1 IS NOT NULL
                   THEN 1.0::DOUBLE / (CAST(g.k0 AS DOUBLE) + r1)
                   ELSE 0.0::DOUBLE END) AS rrf
      FROM joined j CROSS JOIN grid g
    ),
    run AS (
      SELECT k0, query_id, doc_id, rn AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY k0, query_id ORDER BY rrf DESC, doc_id ASC
        ) AS rn FROM fused
      ) WHERE rn <= {_EVAL_K}
    ),
    hits AS (
      SELECT r.k0, r.query_id, r.rank, l.grade
      FROM run r JOIN labels l
        ON r.query_id = l.query_id AND r.doc_id = l.doc_id
      WHERE l.grade >= 1
    ),
    per_q AS (
      SELECT k0, query_id,
             CAST(COUNT(*) AS BIGINT) AS hits_at_k,
             MIN(rank) AS first_rank,
             CAST(SUM(CAST((2 ** grade - 1) AS DECIMAL(12,0)) * d)
                  AS DECIMAL(28,12)) AS dcg
      FROM hits JOIN denom USING (rank) GROUP BY k0, query_id
    ),
    m AS (
      SELECT g.k0, n_rel.query_id,
             CAST(COALESCE(hits_at_k, 0) AS DOUBLE)
               / CAST(n_rel AS DOUBLE) AS recall,
             CASE WHEN first_rank IS NULL THEN 0.0::DOUBLE
                  ELSE 1.0::DOUBLE / CAST(first_rank AS DOUBLE)
                  END AS mrr,
             CASE WHEN idcg.idcg IS NULL THEN 0.0::DOUBLE
                  ELSE ROUND(CAST(COALESCE(dcg, 0) AS DOUBLE)
                             / CAST(idcg.idcg AS DOUBLE), 10)
                  END AS ndcg
      FROM n_rel CROSS JOIN grid g
      LEFT JOIN per_q ON per_q.k0 = g.k0
                     AND per_q.query_id = n_rel.query_id
      LEFT JOIN idcg ON idcg.query_id = n_rel.query_id
    ),
    agg AS (
      SELECT k0, CAST(COUNT(*) AS BIGINT) AS n_queries,
             SUM(CAST(recall AS DECIMAL(28,12))) AS sr,
             SUM(CAST(mrr AS DECIMAL(28,12))) AS sm,
             SUM(CAST(ndcg AS DECIMAL(28,12))) AS sn
      FROM m GROUP BY k0
    )
    SELECT k0, n_queries,
           ROUND(CAST(sr AS DOUBLE), 10) AS sum_recall,
           ROUND(CAST(sm AS DOUBLE), 10) AS sum_mrr,
           ROUND(CAST(sn AS DOUBLE), 10) AS sum_ndcg,
           ROUND(CAST(sr AS DOUBLE) / CAST(n_queries AS DOUBLE), 10)
             AS mean_recall,
           ROUND(CAST(sm AS DOUBLE) / CAST(n_queries AS DOUBLE), 10)
             AS mean_mrr,
           ROUND(CAST(sn AS DOUBLE) / CAST(n_queries AS DOUBLE), 10)
             AS mean_ndcg,
           (ROW_NUMBER() OVER (ORDER BY sn DESC, k0 ASC) = 1) AS is_best
    FROM agg
    """,
)
def retrieval_param_sweep(spark, sf_dir):
    """RRF k0 sweep tuned via retrieval_eval (r9-VERDICT #4): the two
    candidate lists (rank-word / grade-word tf runs, top-10 each) are
    generated ONCE; the k0 grid {5,20,60,240} is a literal broadcast
    dimension crossed against the joined (bounded) rank frame, each
    grid point re-fused, cut, and evaluated in a single composite-key
    eval pass. Metric sums are HALF_EVEN-quantized DECIMAL (exact in
    parallel), the best row (max NDCG sum, tiebreak smaller k0) is an
    integer-exact window pick — best-k0 selection is engine-stable by
    construction."""
    from ..functions.retrieval import ranked_list_grouped, rrf_param_sweep

    def _build():
        tf_rank, tf_grade = _eval_tf_frames(spark, sf_dir)

        def run_of(tf):
            return ranked_list_grouped(
                tf, "doc_id", "tf", topk=_EVAL_K, group_col="query_id"
            )

        labels = tf_grade.select(
            "query_id",
            "doc_id",
            F.least(F.col("tf"), F.lit(3)).cast("int").alias("grade"),
        )
        return rrf_param_sweep(
            [run_of(tf_rank), run_of(tf_grade)], labels, _SWEEP_K0S, k=_EVAL_K
        )

    # plan memo (r16): pure plan; the sweep's joined persist pins at
    # its own single-variant site
    return memo(("plan", "retrieval_param_sweep", sf_dir), _build)


def _mmr_pick_cte(tag: str, lam_sql: str, one_minus_sql: str) -> str:
    """One recursive greedy CTE per λ — same shape as the fixed-λ MMR
    oracle, the λ literals swapped in (dyadic, so '0.25'::DOUBLE etc.
    is the exact double the driver-side greedy multiplies by)."""
    return f"""
    pick_{tag}(step, sel) AS (
      SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)]
      UNION ALL
      SELECT p.step + 1,
             list_append(p.sel, (
               SELECT c.vec_id FROM cand c
               WHERE NOT list_contains(p.sel, c.vec_id)
               ORDER BY ({lam_sql}::DOUBLE * c.rel - {one_minus_sql}::DOUBLE * (
                          SELECT MAX(s.s) FROM sims s
                          WHERE s.ia = c.vec_id AND list_contains(p.sel, s.ib))) DESC,
                        c.vec_id ASC
               LIMIT 1))
      FROM pick_{tag} p WHERE p.step < 8
    )"""


_MMR_LAMS = [(2, "'0.25'", "'0.75'"), (4, "'0.5'", "'0.5'"), (6, "'0.75'", "'0.25'")]


@golden(
    "mmr_lambda_sweep",
    oracle=f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (SELECT e.vec_id, {_cos64('e.v', 'q.qv')} AS rel FROM e, q),
    cand AS (SELECT vec_id, rel FROM scored ORDER BY rel DESC, vec_id ASC LIMIT 20),
    cv AS (SELECT c.vec_id, c.rel, e.v FROM cand c JOIN e USING (vec_id)),
    sims AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, {_cos64('a.v', 'b.v')} AS s
      FROM cv a JOIN cv b ON a.vec_id <> b.vec_id
    ),{','.join(_mmr_pick_cte(str(ln), ls, oms) for ln, ls, oms in _MMR_LAMS)}
    {' UNION ALL '.join(
        f'''SELECT {ln} AS lam_num, CAST(f.sel[i] AS BIGINT) AS vec_id,
               CAST(i AS BIGINT) AS mmr_rank
        FROM (SELECT sel FROM pick_{ln} WHERE step = 8) f,
             unnest(range(1, 9)) AS t{ln}(i)'''
        for ln, _, _ in _MMR_LAMS
    )}
    """,
)
def mmr_lambda_sweep(spark, sf_dir):
    """MMR λ sweep over ONE candidate pass (r9-VERDICT #4, the λ half):
    the top-20 cosine candidates and their pairwise sim matrix are
    computed and collected ONCE; λ ∈ {0.25, 0.5, 0.75} (dyadic — every
    λ·rel and (1−λ)·sim is one exact IEEE multiply) each replay the
    driver-side greedy over the same dicts. The oracle unrolls one
    recursive-CTE greedy per λ with the same exact literals; rank-only
    output keeps the comparison integer-exact, so best-λ selection
    downstream is engine-stable."""
    from ..functions.retrieval import mmr_lambda_sweep as sweep
    from ..functions.vector import _sql_doubles
    from ..query.filters import cosine_similarity

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    scored = emb.select(
        "vec_id",
        "embedding",
        cosine_similarity(
            "CAST(`embedding` AS ARRAY<DOUBLE>)",
            f"CAST(array({_sql_doubles(qv)}) AS ARRAY<DOUBLE>)",
        ).alias("rel"),
    )
    cand = (
        scored.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(20)
        .withColumn("query_id", F.lit(0).cast("long"))
    )
    out = sweep(
        cand, k=8, lam_grid=[0.25, 0.5, 0.75],
        id_col="vec_id", rel_col="rel", vec_col="embedding",
        group_col="query_id",
    )
    return out.select(
        F.col("lam_num").cast("int").alias("lam_num"),
        big("vec_id").alias("vec_id"),
        big("mmr_rank").alias("mmr_rank"),
    )
