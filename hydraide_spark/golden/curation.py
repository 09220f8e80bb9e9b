"""Corpus-curation goldens (round 12+): DSIR importance resampling and
friends — training-data selection operators beyond the dedup/quality
families, each replayed end-to-end by a DuckDB oracle.

Reference framing: the reference engine curates corpora with filters +
beacons (docs/features/query-engine.md); these operators are the
beyond-parity selection layer a 100 TB training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions._cache import memo
from . import golden
from ._util import big, memo_golden, parallelize_small, t

# Engine-stable md5 bucket of a gram, as DuckDB SQL (mirrors
# functions/sampling.py::sample_bucket md5 mode + dsir_bucket).
_DSIR_BUCKET_SQL = "('0x' || substr(md5(g || '|dsir_v1'), 1, 8))::UBIGINT % 64"


@golden(
    "dsir_importance_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, g
      FROM toks, UNNEST(list_concat(w,
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS u(g)
    ),
    bucketed AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket FROM grams
    ),
    tcounts AS (
      SELECT bucket, COUNT(*) AS tc FROM bucketed WHERE lang = 'de' GROUP BY bucket
    ),
    rcounts AS (
      SELECT bucket, COUNT(*) AS rc FROM bucketed GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT COALESCE(SUM(tc), 0) FROM tcounts) AS T,
             (SELECT COALESCE(SUM(rc), 0) FROM rcounts) AS R
    ),
    lr AS (
      -- the SAME smoothed log-ratio the driver computes: ln is libm in
      -- both DuckDB and CPython, the pre-log ratio is IEEE
      -- correctly-rounded double arithmetic (0.5::DOUBLE keeps DuckDB
      -- out of DECIMAL division), and CAST(DOUBLE AS DECIMAL) is
      -- shortest-repr HALF_EVEN — exactly what dsir_logratios quantizes
      -- with. All 64 buckets materialize (unseen ones carry the pure
      -- smoothing ratio).
      SELECT b.bucket,
             CAST(ln((COALESCE(tc, 0) + 0.5::DOUBLE) / (T + 0.5::DOUBLE * 64))
                - ln((COALESCE(rc, 0) + 0.5::DOUBLE) / (R + 0.5::DOUBLE * 64))
                AS DECIMAL(20,12)) AS L
      FROM (SELECT UNNEST(range(0, 64)) AS bucket) b
      LEFT JOIN tcounts USING (bucket) LEFT JOIN rcounts USING (bucket), tot
    ),
    scores AS (
      SELECT doc_id, SUM(L) AS dsir_score
      FROM bucketed JOIN lr USING (bucket)
      GROUP BY doc_id
    ),
    topk AS (
      SELECT doc_id, dsir_score
      FROM scores
      ORDER BY dsir_score DESC, doc_id ASC LIMIT 50
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id ASC) AS INT) AS rank,
           ROUND(CAST(dsir_score AS DOUBLE), 10) AS dsir_score
    FROM topk
    """,
)
def dsir_importance_topk(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): pick the 50 raw
    documents most like the lang='de' target domain via hashed
    unigram+bigram bag models. The full pipeline replays in the oracle:
    md5 buckets, smoothed count ratios, libm-vs-libm log (the JVM never
    computes one — the per-bucket log-ratios are quantized driver-side
    with DuckDB's exact CAST semantics and injected as DECIMAL
    literals), DECIMAL-exact per-doc sums (accumulator precision sized
    so Spark's decimal addition never overflows 38 and silently drops
    the last scale digit), TakeOrdered selection with id tiebreak."""
    from ..functions.sampling import dsir_logratios_tagged, dsir_topk

    def _build():
        docs = parallelize_small(t(spark, sf_dir, "documents"))
        # deterministic model (exact integer counts -> driver libm) —
        # memoized per process like the langid/quality trainings;
        # shared with dsir_threshold_select_docs (same predicate/params)
        lr = memo(
            ("model", "dsir_lr_de", sf_dir, 64, "dsir_v1"),
            lambda: dsir_logratios_tagged(
                docs, F.col("lang") == "de", "text", n_buckets=64, salt="dsir_v1"
            ),
        )
        out = dsir_topk(docs, "doc_id", "text", lr, 50, salt="dsir_v1")
        return out.select(
            big("doc_id").alias("doc_id"),
            F.col("rank"),
            # ranking/selection is DECIMAL-exact; only the REPORTED
            # score passes a decimal->double cast, so it is rounded
            # (CLAUDE.md: that cast differs in the last ulp between
            # engines)
            F.round(F.col("dsir_score").cast("double"), 10).alias("dsir_score"),
        )

    # plan memo (r16): pure plan over the memoized model, no pins
    return memo(("plan", "dsir_importance_topk", sf_dir), _build)


def _cos_sql(a: str, b: str) -> str:
    """Cosine with the same operand structure as
    query.filters.cosine_similarity (sequential double folds — see
    golden/vectors.py; pinned bit-identical in tests)."""
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


@golden(
    "cluster_balanced_sample_vecs",
    oracle=f"""
    WITH cent AS (
      SELECT label, i AS dim,
             CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,9)))
                  AS DOUBLE) / count(*) AS m
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY label, i
    ),
    cvec AS (SELECT label, list(m ORDER BY dim) AS cv FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, c.label, {_cos_sql('e.embedding::DOUBLE[]', 'c.cv')} AS score
      FROM embeddings e CROSS JOIN cvec c
    ),
    assigned AS (
      SELECT vec_id, label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, label ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    ranked AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|div_v1'), 1, 8))::UBIGINT ASC,
                        vec_id ASC) AS pick_rank
      FROM assigned
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS BIGINT) AS cluster,
           CAST(pick_rank AS INT) AS pick_rank
    FROM ranked WHERE pick_rank <= 20
    """,
)
@memo_golden("cluster_balanced_sample_vecs")
def cluster_balanced_sample_vecs(spark, sf_dir):
    """Cluster-balanced diversity subsample (the dominant-topic guard:
    equal-width slices of every embedding cluster instead of a uniform
    draw that mostly keeps the dense topics). Assignment is the
    oracle-pinned kmeans_assign argmax (label-mean centroids, exact
    decimal M-step, margins far above float noise); the per-cluster
    quota picks by engine-stable md5 hash rank, so the SELECTED SET and
    pick order replay exactly in SQL. The quota cut is two_stage_topk
    on the cluster id — never a corpus-wide single-partition window."""
    from ..functions.sampling import cluster_balanced_sample
    from ..functions.vector import centroid_means, group_centroid_sums

    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    from .vectors_stable import _label_centroid_list

    cents = [(i, v) for i, v in enumerate(_label_centroid_list(spark, sf_dir))]
    out = cluster_balanced_sample(
        emb, "vec_id", "embedding", cents, per_cluster=20, salt="div_v1"
    )
    return out.select(
        big("vec_id").alias("vec_id"),
        big("cluster").alias("cluster"),
        F.col("pick_rank").cast("int").alias("pick_rank"),
    )


@golden(
    "bigram_lm_quality_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM toks GROUP BY w),
    voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ucnt),
    bgs AS (
      SELECT doc_id, g AS bg, string_split(g, ' ')[1] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS u(g)
    ),
    bcnt AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cb FROM bgs GROUP BY bg),
    per AS (
      SELECT b.doc_id,
             ln(CAST(cb + 1 AS DOUBLE)) - ln(CAST(cu + (SELECT v FROM voc) AS DOUBLE)) AS lv
      FROM bgs b JOIN bcnt USING (bg) JOIN ucnt USING (w)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(list_sum(list_sort(list(lv))) / COUNT(*), 6) AS avg_logprob
    FROM per GROUP BY doc_id
    """,
)
def bigram_lm_quality_docs(spark, sf_dir):
    """Bigram-LM quality scores (functions/text.py::
    bigram_logprob_scores): average add-one-smoothed conditional
    log-probability per document — the transition-level fluency signal
    the unigram filter cannot see. Every ln argument is an integer
    (identical operands both engines), the per-doc sum left-folds over
    sorted values (DuckDB list_sum∘list_sort is the bit replay), and
    the compared score rounds to 6 (ln last-ulp rule, drift ~1e-13)."""
    from ..functions.text import bigram_logprob_scores

    docs = parallelize_small(t(spark, sf_dir, "documents"))
    out = bigram_logprob_scores(docs, "doc_id", "text")
    return out.select(
        big("doc_id").alias("doc_id"),
        big("n_bigrams").alias("n_bigrams"),
        F.round(F.col("avg_logprob"), 6).alias("avg_logprob"),
    )


@golden(
    "hard_negative_mining_docs",
    oracle="""
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
    scored AS (
      SELECT query_id, doc_id, SUM(term_score) AS score
      FROM term GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored
    ),
    neg AS (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS neg_rank
      FROM ranked WHERE rn > 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(neg_rank AS INT) AS neg_rank,
           CAST(score AS DOUBLE) AS score
    FROM neg WHERE neg_rank <= 10
    """,
)
@memo_golden("hard_negative_mining_docs")
def hard_negative_mining_docs(spark, sf_dir):
    """Hard-negative mining (functions/retrieval.py::
    hard_negative_mining): per query, the top-10 BM25 candidates AFTER
    excluding the query's top-2 pseudo-positives — the contrastive-
    training negative set. One corpus scan scores the whole batch
    (bm25_terms_multi), exclusion is a left_anti on (query_id, doc_id),
    scores stay DECIMAL(28,6) exact; the oracle replays BM25, the
    pseudo-positive cut and the post-exclusion re-ranking."""
    from ..functions.retrieval import hard_negative_mining

    # r16 A/B: no measured win (1.95 vs 1.80 without) — bb34b4bc profile
    docs = t(spark, sf_dir, "documents")
    bags = [
        (0, ["stream", "data", "query"]),
        (1, ["join", "hash", "scan"]),
        (2, ["vector", "window", "sort"]),
    ]
    out = hard_negative_mining(docs, bags, k=10, n_auto_positives=2)
    return out.select(
        big("query_id").alias("query_id"),
        big("doc_id").alias("doc_id"),
        F.col("neg_rank").cast("int").alias("neg_rank"),
        # exact DECIMAL sum cast once to double on both sides (the
        # bm25_ranked_search pattern)
        F.col("score").cast("double").alias("score"),
    )


_SHARED_PARA = (
    "shared boiler plate notice terms apply all rights reserved contact "
    "support team for help visit docs page follow steps install configure "
    "run verify deploy monitor scale backup"
)  # 32 tokens


@golden(
    "chunk_neardup_passages",
    oracle=None,  # set below: needs the stable-minhash SQL fragments
)
@memo_golden("chunk_neardup_passages")
def chunk_neardup_passages(spark, sf_dir):
    """Sub-document (passage-level) near-dup: a 32-token boilerplate
    paragraph is PREPENDED to every 25th document (same injection in
    the oracle), the corpus is chunked into 16-token windows and the
    full engine-stable MinHash+LSH pipeline runs over CHUNKS — the
    shared paragraph aligns to chunks 0-1 of every injected doc, so
    cross-doc passage pairs exist by construction while the docs as a
    whole stay non-duplicates (the dilution that makes doc-level
    Jaccard blind to shared passages). The oracle replays chunking,
    packing, signatures, banding, candidates and the exact-Jaccard
    verify value-for-value."""
    from ..functions.dedup import chunk_neardup_pairs

    docs = parallelize_small(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit(_SHARED_PARA + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = chunk_neardup_pairs(
        docs, tau=0.6, chunk_size=16, engine_stable=True, cross_doc_only=True
    )
    return out.select(
        big("doc_a").alias("doc_a"),
        big("chunk_a").alias("chunk_a"),
        big("doc_b").alias("doc_b"),
        big("chunk_b").alias("chunk_b"),
        big("inter").alias("inter"),
        big("union").alias("union"),
    )


def _chunk_neardup_oracle() -> str:
    from .dedup_text import _BAND_ROWS, _MH_COLS

    return f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 25 = 0
                  THEN '{_SHARED_PARA} ' || text ELSE text END AS text
      FROM documents
    ),
    d AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    nc AS (
      SELECT doc_id, t,
             greatest(CAST(ceil(CAST(len(t) AS DOUBLE) / 16) AS INT), 1) AS n
      FROM d
    ),
    ch AS (
      SELECT doc_id * 1048576 + i AS ck, t[i*16+1 : i*16+16] AS w
      FROM nc, unnest(range(0, n)) AS u(i)
    ),
    sh AS (
      SELECT ck AS doc_id, list_distinct(list(array_to_string(w[i:i+2], ' '))) AS sh
      FROM (
        SELECT ck, w, unnest(range(1, len(w) - 1)) AS i
        FROM ch WHERE len(w) >= 3
      )
      GROUP BY ck
    ),
    sig AS (
      SELECT doc_id, sh,
             {_MH_COLS}
      FROM sh
    ),
    banded AS (
      {_BAND_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh),
    verified AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
             CAST(sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS u
      FROM cand JOIN sizes sa ON cand.id_a = sa.doc_id
                JOIN sizes sb ON cand.id_b = sb.doc_id
      WHERE 5 * len(list_intersect(sa.sh, sb.sh))
            >= 3 * (sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh)))
    )
    SELECT CAST(id_a // 1048576 AS BIGINT) AS doc_a,
           CAST(id_a % 1048576 AS BIGINT) AS chunk_a,
           CAST(id_b // 1048576 AS BIGINT) AS doc_b,
           CAST(id_b % 1048576 AS BIGINT) AS chunk_b,
           inter, u AS "union"
    FROM verified
    WHERE id_a // 1048576 <> id_b // 1048576
    """


from . import _ORACLES as _OR  # noqa: E402

_OR["chunk_neardup_passages"] = _chunk_neardup_oracle()


@golden(
    "chunk_neardup_collapsed",
    oracle=None,  # set below with the stable-minhash SQL fragments
)
@memo_golden("chunk_neardup_collapsed")
def chunk_neardup_collapsed(spark, sf_dir):
    """The PRODUCTION path of passage-level near-dup:
    ``collapse_exact=True`` groups byte-identical chunks (the planted
    boilerplate paragraph — and at web scale, real boilerplate) into
    min-key families BEFORE banding, emitting f-1 star edges per
    family instead of C(f,2) pairs — the quadratic-family guard
    measured at b 0.93 -> linear on the ×10 corpus. Oracle replays
    chunking, packing, family grouping by sorted shingle list, star
    edges, and the banded pipeline over representatives only."""
    from ..functions.dedup import chunk_neardup_pairs

    docs = parallelize_small(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit(_SHARED_PARA + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = chunk_neardup_pairs(
        docs,
        tau=0.6,
        chunk_size=16,
        engine_stable=True,
        cross_doc_only=True,
        collapse_exact=True,
    )
    return out.select(
        big("doc_a").alias("doc_a"),
        big("chunk_a").alias("chunk_a"),
        big("doc_b").alias("doc_b"),
        big("chunk_b").alias("chunk_b"),
        big("inter").alias("inter"),
        big("union").alias("union"),
    )


@golden("chunk_neardup_production")  # xxhash64 minhash -> rows-only
@memo_golden("chunk_neardup_production")
def chunk_neardup_production(spark, sf_dir):
    """The chunk near-dup path exactly as production runs it (r13 —
    r12 VERDICT #5): xxhash64 minhash signatures (engine_stable=False;
    the md5-string mode exists only for the SQL-replayable twin
    ``chunk_neardup_collapsed``, whose signature pass dominated the
    recorded ×100 asymptote) with the same ``collapse_exact`` family
    guard. Rows-only in the gate ON PURPOSE (hash mode differs from
    the oracle); exactness is pinned by the collapsed twin, and this
    entry exists so the protocol bench and the scale sweep measure the
    path users actually run."""
    from ..functions.dedup import chunk_neardup_pairs

    docs = parallelize_small(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit(_SHARED_PARA + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = chunk_neardup_pairs(
        docs,
        tau=0.6,
        chunk_size=16,
        engine_stable=False,
        cross_doc_only=True,
        collapse_exact=True,
    )
    return out.select(
        big("doc_a").alias("doc_a"),
        big("chunk_a").alias("chunk_a"),
        big("doc_b").alias("doc_b"),
        big("chunk_b").alias("chunk_b"),
        big("inter").alias("inter"),
        big("union").alias("union"),
    )


def _chunk_collapsed_oracle() -> str:
    from .dedup_text import _BAND_ROWS, _MH_COLS

    return f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 25 = 0
                  THEN '{_SHARED_PARA} ' || text ELSE text END AS text
      FROM documents
    ),
    d AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    nc AS (
      SELECT doc_id, t,
             greatest(CAST(ceil(CAST(len(t) AS DOUBLE) / 16) AS INT), 1) AS n
      FROM d
    ),
    ch AS (
      SELECT doc_id * 1048576 + i AS ck, t[i*16+1 : i*16+16] AS w
      FROM nc, unnest(range(0, n)) AS u(i)
    ),
    sh0 AS (
      SELECT ck AS doc_id, list_distinct(list(array_to_string(w[i:i+2], ' '))) AS sh
      FROM (
        SELECT ck, w, unnest(range(1, len(w) - 1)) AS i
        FROM ch WHERE len(w) >= 3
      )
      GROUP BY ck
    ),
    keyed AS (
      SELECT doc_id, sh, len(sh) AS n_sh, list_sort(sh) AS skey
      FROM sh0 WHERE len(sh) > 0
    ),
    reps AS (SELECT skey, MIN(doc_id) AS rep FROM keyed GROUP BY skey),
    star AS (
      SELECT CAST(r.rep AS BIGINT) AS id_a, CAST(k.doc_id AS BIGINT) AS id_b,
             CAST(k.n_sh AS BIGINT) AS inter, CAST(k.n_sh AS BIGINT) AS u
      FROM keyed k JOIN reps r ON k.skey = r.skey
      WHERE k.doc_id <> r.rep
    ),
    sh AS (SELECT k.doc_id, k.sh FROM keyed k JOIN reps r ON k.doc_id = r.rep),
    sig AS (
      SELECT doc_id, sh,
             {_MH_COLS}
      FROM sh
    ),
    banded AS (
      {_BAND_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh),
    pairs AS (
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
             CAST(sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS u
      FROM cand JOIN sizes sa ON cand.id_a = sa.doc_id
                JOIN sizes sb ON cand.id_b = sb.doc_id
      WHERE 5 * len(list_intersect(sa.sh, sb.sh))
            >= 3 * (sa.n_sh + sb.n_sh - len(list_intersect(sa.sh, sb.sh)))
    ),
    allp AS (SELECT * FROM pairs UNION ALL SELECT * FROM star)
    SELECT CAST(id_a // 1048576 AS BIGINT) AS doc_a,
           CAST(id_a % 1048576 AS BIGINT) AS chunk_a,
           CAST(id_b // 1048576 AS BIGINT) AS doc_b,
           CAST(id_b % 1048576 AS BIGINT) AS chunk_b,
           inter, u AS "union"
    FROM allp
    WHERE id_a // 1048576 <> id_b // 1048576
    """


_OR["chunk_neardup_collapsed"] = _chunk_collapsed_oracle()


@golden(
    "dsir_threshold_select_docs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, g
      FROM toks, UNNEST(list_concat(w,
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS u(g)
    ),
    bucketed AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket FROM grams
    ),
    tcounts AS (
      SELECT bucket, COUNT(*) AS tc FROM bucketed WHERE lang = 'de' GROUP BY bucket
    ),
    rcounts AS (
      SELECT bucket, COUNT(*) AS rc FROM bucketed GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT COALESCE(SUM(tc), 0) FROM tcounts) AS T,
             (SELECT COALESCE(SUM(rc), 0) FROM rcounts) AS R
    ),
    lr AS (
      SELECT b.bucket,
             CAST(ln((COALESCE(tc, 0) + 0.5::DOUBLE) / (T + 0.5::DOUBLE * 64))
                - ln((COALESCE(rc, 0) + 0.5::DOUBLE) / (R + 0.5::DOUBLE * 64))
                AS DECIMAL(20,12)) AS L
      FROM (SELECT UNNEST(range(0, 64)) AS bucket) b
      LEFT JOIN tcounts USING (bucket) LEFT JOIN rcounts USING (bucket), tot
    ),
    scores AS (
      SELECT doc_id, SUM(L) AS dsir_score
      FROM bucketed JOIN lr USING (bucket)
      GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           ROUND(CAST(dsir_score AS DOUBLE), 10) AS dsir_score
    FROM scores
    WHERE dsir_score >= CAST(0.05 AS DECIMAL(20,12))
    """,
)
def dsir_threshold_select_docs(spark, sf_dir):
    """The AT-SCALE DSIR selection form: keep every doc whose score
    clears the threshold — a pure scan-side DECIMAL compare (selecting
    x% of 100 TB is one map-only pass; no top-k driver merge — a plan
    test pins ZERO exchanges on the select leg). Membership is
    DECIMAL-exact on both sides; only the reported score rounds
    through double."""
    from ..functions.sampling import dsir_logratios_tagged, dsir_threshold_select

    def _build():
        docs = parallelize_small(t(spark, sf_dir, "documents"))
        lr = memo(
            ("model", "dsir_lr_de", sf_dir, 64, "dsir_v1"),
            lambda: dsir_logratios_tagged(
                docs, F.col("lang") == "de", "text", n_buckets=64, salt="dsir_v1"
            ),
        )
        out = dsir_threshold_select(
            docs, "doc_id", "text", lr, min_score="0.05", salt="dsir_v1"
        )
        return out.select(
            big("doc_id").alias("doc_id"),
            F.round(F.col("dsir_score").cast("double"), 10).alias("dsir_score"),
        )

    # plan memo (r16): pure plan over the memoized model, no pins
    return memo(("plan", "dsir_threshold_select_docs", sf_dir), _build)


_BM25_TERM_SQL = """
      SELECT q.query_id, tf.doc_id, tf.word,
             CAST(round(
               ln(1.0::DOUBLE + (n_docs - dfreq + 0.5::DOUBLE) / (dfreq + 0.5::DOUBLE))
               * (tf * 2.2::DOUBLE)
               / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl)),
               6) AS DECIMAL(28,6)) AS term_score
"""


@golden(
    "prf_expanded_search_docs",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    alltf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks GROUP BY doc_id, word),
    qt(query_id, word) AS (
      VALUES (0,'stream'),(0,'data'),(0,'query'),
             (1,'join'),(1,'hash'),(1,'scan'),
             (2,'vector'),(2,'window'),(2,'sort')
    ),
    tf1 AS (SELECT a.* FROM alltf a WHERE word IN (SELECT DISTINCT word FROM qt)),
    dfreq1 AS (SELECT word, COUNT(*) AS dfreq FROM tf1 GROUP BY word),
    term1 AS (
      {_BM25_TERM_SQL}
      FROM tf1 tf JOIN qt q USING (word) JOIN dfreq1 USING (word)
      JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scored1 AS (
      SELECT query_id, doc_id, SUM(term_score) AS score
      FROM term1 GROUP BY query_id, doc_id
    ),
    fb AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored1
      ) WHERE rn <= 5
    ),
    fbcnt AS (
      SELECT f.query_id, t.word, CAST(COUNT(*) AS BIGINT) AS fb_count
      FROM toks t JOIN fb f USING (doc_id)
      GROUP BY f.query_id, t.word
    ),
    fresh AS (
      SELECT c.query_id, c.word, c.fb_count
      FROM fbcnt c LEFT JOIN qt q
        ON c.query_id = q.query_id AND c.word = q.word
      WHERE q.word IS NULL
    ),
    exp AS (
      SELECT query_id, word FROM (
        SELECT query_id, word,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY fb_count DESC, word ASC) AS tr
        FROM fresh
      ) WHERE tr <= 3
    ),
    qt2 AS (SELECT query_id, word FROM qt UNION SELECT query_id, word FROM exp),
    tf2 AS (SELECT a.* FROM alltf a WHERE word IN (SELECT DISTINCT word FROM qt2)),
    dfreq2 AS (SELECT word, COUNT(*) AS dfreq FROM tf2 GROUP BY word),
    term2 AS (
      {_BM25_TERM_SQL}
      FROM tf2 tf JOIN qt2 q USING (word) JOIN dfreq2 USING (word)
      JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    scored2 AS (
      SELECT query_id, doc_id, SUM(term_score) AS score
      FROM term2 GROUP BY query_id, doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rank AS INT) AS rank,
           CAST(score AS DOUBLE) AS score
    FROM (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored2
    ) WHERE rank <= 10
    """,
)
def prf_expanded_search_docs(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval (functions/retrieval.py::
    prf_expanded_search — the RM3 idea in integer-deterministic form):
    round 1 BM25 picks 5 feedback docs per query, the 3 most frequent
    fresh tokens inside them expand the bag (ties on the word — a
    total order, exactly replayable), round 2 BM25 runs over the union
    bag. Both rounds are single-scan batch retrievals; the oracle
    replays both BM25 passes, the feedback cut, the term selection and
    the final ranking; scores cast once to double (the
    bm25_ranked_search pattern)."""
    from ..functions.retrieval import prf_expanded_search

    # r16 A/B (interleaved, warmup discarded): the input-spread
    # repartition measured no win here (3.73 vs 3.52 without) — the
    # broadcast query-word join fuses into the scan (the bb34b4bc
    # retrieval-family profile)
    docs = t(spark, sf_dir, "documents")
    bags = [
        (0, ["stream", "data", "query"]),
        (1, ["join", "hash", "scan"]),
        (2, ["vector", "window", "sort"]),
    ]
    out = prf_expanded_search(docs, bags, k=10, k_docs=5, n_terms=3)
    return out.select(
        big("query_id").alias("query_id"),
        big("doc_id").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("score").cast("double").alias("score"),
    )


_URL_ORACLE = r"""
    WITH urls AS (
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN 'http://EXAMPLE' || (doc_id // 5) || '.com/path/sub'
          WHEN 1 THEN 'http://www.example' || (doc_id // 5) || '.com:80/path/sub/'
          WHEN 2 THEN 'http://example' || (doc_id // 5) || '.com/path/sub?utm_source=feed&fbclid=xyz#frag'
          WHEN 3 THEN 'http://example' || (doc_id // 5) || '.com/path/sub?b=2&a=1'
          ELSE        'http://example' || (doc_id // 5) || '.com/path/sub?a=1&utm_campaign=z&b=2'
        END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
        lower(COALESCE(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.\-]*)://.*$', 1), '')) AS scheme,
        lower(COALESCE(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*).*$', 1), '')) AS auth,
        COALESCE(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*).*$', 1), '') AS path0,
        COALESCE(regexp_extract(trim(url), '^[^?#]*\?([^#]*).*$', 1), '') AS q
      FROM urls
    ),
    canon AS (
      SELECT doc_id, url,
        scheme || '://'
        || regexp_replace(
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                  ELSE regexp_replace(auth, ':443$', '') END,
             '^www\.', '')
        || CASE WHEN p1 = '' THEN '/' ELSE p1 END
        || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical
      FROM (
        SELECT *,
          CASE WHEN path0 = '' THEN '/'
               WHEN length(path0) > 1 THEN regexp_replace(path0, '/+$', '')
               ELSE path0 END AS p1,
          COALESCE(array_to_string(list_sort(list_filter(string_split(q, '&'),
            p -> length(p) > 0
             AND NOT lower(string_split(p, '=')[1]) IN
                 ('fbclid','gclid','msclkid','ref','mc_cid','mc_eid')
             AND NOT starts_with(lower(string_split(p, '=')[1]), 'utm_'))), '&'), '') AS qs
        FROM parts
      )
    )
    SELECT canonical,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM canon GROUP BY canonical
"""


@golden("url_canonical_dedup", oracle=_URL_ORACLE)
def url_canonical_dedup(spark, sf_dir):
    """Crawl-frontier URL dedup (r13): five deterministic spellings of
    each logical page — mixed-case host, www + default port + trailing
    slash, tracking params + fragment, unsorted params, params + a
    tracking insert — collapse through
    ``functions/text.py::canonical_url`` (scheme/host lowering, port/
    fragment/www stripping, tracking-param removal, param sorting,
    trailing-slash normalization; every rule a deterministic string op
    value-checked against the SQL replay). Spellings 0-2 collapse to
    the bare canonical; 3-4 to the ``?a=1&b=2`` canonical. One hash
    groupBy on the canonical string — map-side combined, map-only
    before it, at any corpus size."""
    from ..functions.text import url_dedup_report

    docs = t(spark, sf_dir, "documents").select("doc_id")
    g = F.expr("doc_id div 5")
    v = (F.col("doc_id") % 5).cast("int")
    url = (
        F.when(v == 0, F.concat(F.lit("http://EXAMPLE"), g, F.lit(".com/path/sub")))
        .when(v == 1, F.concat(F.lit("http://www.example"), g, F.lit(".com:80/path/sub/")))
        .when(v == 2, F.concat(F.lit("http://example"), g, F.lit(".com/path/sub?utm_source=feed&fbclid=xyz#frag")))
        .when(v == 3, F.concat(F.lit("http://example"), g, F.lit(".com/path/sub?b=2&a=1")))
        .otherwise(F.concat(F.lit("http://example"), g, F.lit(".com/path/sub?a=1&utm_campaign=z&b=2")))
    )
    urls = docs.select(F.col("doc_id"), url.alias("url"))
    out = url_dedup_report(urls, "url", "doc_id")
    return out.select(
        F.col("canonical"),
        big("n_variants").alias("n_variants"),
        big("n_distinct_raw").alias("n_distinct_raw"),
        big("keep_id").alias("keep_id"),
    )


_LID_BUCKET = "('0x' || substr(md5(g || '|lid_v1'), 1, 8))::UBIGINT % 2048"

_LANGID_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, g
      FROM toks, UNNEST(list_concat(w,
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS u(g)
    ),
    bucketed AS (
      SELECT doc_id, lang, {_LID_BUCKET} AS bucket FROM grams
    ),
    labels AS (SELECT lang AS lab, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntotal FROM labels),
    lcnt AS (SELECT lang AS lab, bucket, count(*) AS c
             FROM bucketed GROUP BY lang, bucket),
    ltot AS (SELECT lab, sum(c) AS T FROM lcnt GROUP BY lab),
    lp AS (
      -- per-(label, bucket) smoothed log-likelihood, quantized with
      -- the same shortest-repr HALF_EVEN cast the driver uses
      SELECT l.lab, b.bucket,
             CAST(ln((COALESCE(c, 0) + 0.1::DOUBLE) / (T + 0.1::DOUBLE * 2048))
                  AS DECIMAL(20,12)) AS L
      FROM (SELECT UNNEST(range(0, 2048)) AS bucket) b
      CROSS JOIN ltot l
      LEFT JOIN lcnt ON lcnt.lab = l.lab AND lcnt.bucket = b.bucket
    ),
    pri AS (
      SELECT lab, CAST(ln(CAST(n AS DOUBLE) / CAST(ntotal AS DOUBLE))
                       AS DECIMAL(20,12)) AS P
      FROM labels, tot
    ),
    gsums AS (
      SELECT bucketed.doc_id, lp.lab, SUM(lp.L) AS s
      FROM bucketed JOIN lp USING (bucket)
      GROUP BY bucketed.doc_id, lp.lab
    ),
    scores AS (
      SELECT d.doc_id, d.lang, p.lab,
             p.P + COALESCE(g.s, CAST(0 AS DECIMAL(32,12))) AS score
      FROM documents d CROSS JOIN pri p
      LEFT JOIN gsums g ON g.doc_id = d.doc_id AND g.lab = p.lab
    ),
    pred AS (
      SELECT doc_id, lang, lab AS predicted,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lab ASC) AS rn
      FROM scores
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           predicted,
           CAST(CASE WHEN predicted = lang THEN 1 ELSE 0 END AS INT) AS correct
    FROM pred WHERE rn = 1
"""


@golden("langid_nb_predict_docs", oracle=_LANGID_ORACLE)
def langid_nb_predict_docs(spark, sf_dir):
    """Trainable naive-Bayes language ID (r13 — the learned upgrade of
    the heuristic lang-id, the second trained-in-engine model after
    the quality classifier): hashed unigram+bigram bucket counts per
    label (ONE Spark aggregate of exact integers), driver-quantized
    DECIMAL log-likelihoods + log-priors (libm ln, shortest-repr
    HALF_EVEN — the dsir_logratios convention), scan-side per-label
    DECIMAL score sums (exact hence order-free) and a struct-greatest
    argmax with ASC-label tiebreak. The oracle replays TRAINING AND
    PREDICTION — counts, smoothing, ln, quantization, sums, argmax —
    so every predicted label and correctness flag matches exactly
    (85% train-set accuracy at B=2048, α=0.1 over the 5-language
    corpus vs 44% majority; larger B needs SMALLER α — at α=0.5 the
    unseen-bucket penalty ln(α/(T+αB)) is least negative for the
    smallest label, so high-B models skew toward rare labels and
    accuracy COLLAPSED to 49% at B=4096).
    Scale shape: the model is O(L·B) integers collected once; scoring
    is map-only."""
    return _langid_pred_golden(spark, sf_dir, strategy=None)


def _langid_model(spark, sf_dir):
    """Model memo: training is deterministic (exact integer counts ->
    driver-quantized decimals), so the literal and broadcast goldens
    share ONE training per (sf_dir, params) — the twin measures the
    SCORING strategy, not a redundant second training."""
    from ..functions.sampling import langid_nb_train

    return memo(
        ("model", "langid_nb", sf_dir, 2048, "lid_v1", 0.1),
        lambda: langid_nb_train(
            t(spark, sf_dir, "documents"), "lang", "text",
            n_buckets=2048, salt="lid_v1", smoothing=0.1,
        ),
    )


def _langid_pred_golden(spark, sf_dir, strategy):
    # plan memo (r16): build is pure plan once the model memo is warm,
    # and the JVM re-ANALYZES the 5x2048-decimal literal subtree on
    # every op stacked above it (~0.9 s/call measured) — the worst
    # builder in the registry. Both strategies memoize, so the shared
    # buckets pin site never rotates a memoized dep out.
    return memo(
        ("plan", "langid_pred", sf_dir, strategy),
        lambda: _langid_pred_build(spark, sf_dir, strategy),
    )


def _langid_pred_build(spark, sf_dir, strategy):
    from ..functions.sampling import langid_nb_predict

    docs = t(spark, sf_dir, "documents")
    model = _langid_model(spark, sf_dir)
    pred = langid_nb_predict(docs, "doc_id", "text", model, strategy=strategy)
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            big("doc_id").alias("doc_id"),
            F.col("predicted"),
            (F.col("predicted") == F.col("lang")).cast("int").alias("correct"),
        )
    )


@golden("langid_nb_predict_broadcast", oracle=_LANGID_ORACLE)
def langid_nb_predict_broadcast(spark, sf_dir):
    """The broadcast-model scoring strategy under the gate (r15 — r14
    VERDICT #7): the SAME trained model and the SAME oracle as
    langid_nb_predict_docs, scored through the production
    fastText-scale path (model as a broadcast (bucket, label, logprob)
    frame + per-(id,label) decimal sums + struct-max argmax) instead
    of plan literals. Decimal arithmetic is exactly associative and —
    after the r15 precision fixes (count cast before the product, sum
    cast before the prior add) — never reduced, so predictions are
    bit-identical to the literal strategy and the one oracle gates
    BOTH physical plans. Auto-routing engages this path at
    L·B > 32768; forcing it here gives the production strategy its own
    gate row and bench line at the golden's L·B = 10240."""
    return _langid_pred_golden(spark, sf_dir, strategy="broadcast")


# --- HTML main-content extraction (r14 — r13 VERDICT missing #2) --------------

#: the constant paragraph planted on every 25th doc (the exact-dup
#: family the pipeline golden collapses)
_HTML_CONST_PARA = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two "
    "three four five six"
)

#: SQL replay of the synthesized page (pure function of doc_id + text;
#: the Spark side builds the identical string with concat)
_HTML_SYNTH_SQL = (
    "'<html><head><title>Page ' || CAST(doc_id AS VARCHAR) || '</title>"
    "<style>body {{ color: red; }}</style>"
    '<script>if (a < b) {{ nav("</div> fake"); }}</script></head>'
    '<body><nav><ul><li><a href="/">Home</a></li>'
    '<li><a href="/about">About us</a></li></ul></nav>'
    "<!-- comment <p>with tags</p> -->"
    '<div id="main"><h1>Title words here maybe</h1><p>' "'"
    " || CASE WHEN doc_id % 25 = 0 THEN '" + _HTML_CONST_PARA + "'"
    " ELSE substr(text, 1, 160) || ' tail &amp; escaped &lt;marker&gt; words'"
    " END || "
    "'</p>' || CASE WHEN doc_id % 3 = 0 THEN "
    "'<p>second paragraph for this page with plenty of extra words to keep</p>'"
    " ELSE '' END || "
    "'<p>Short.</p></div>"
    '<aside><a href="/ad">Buy now great offer deal</a></aside>'
    "<footer>&amp;copy 2026 "
    '<a href="/terms">Terms</a> <a href="/privacy">Privacy</a>'
    "</footer></body></html>'"
).replace("{{", "{").replace("}}", "}")


def _html_clean_sql(inner: str) -> str:
    """DuckDB replay of functions/text.py::_html_clean_text: strip tags,
    decode the entity set (&amp; LAST), collapse [ \\t\\n\\r\\f]+, trim."""
    return (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace(replace("
        f"regexp_replace({inner}, '<[^>]*>', ' ', 'g'), "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&'), "
        r"'[ \t\n\r\f]+', ' ', 'g'))"
    )


def _html_wc_sql(t: str) -> str:
    return (
        f"(CASE WHEN {t} = '' THEN 0 "
        f"ELSE length({t}) - length(replace({t}, ' ', '')) + 1 END)"
    )


#: extraction replay over a CTE h(doc_id, html) -> ext(doc_id, text,
#: n_kept, n_words). Rule-for-rule: sentinel reserve, script/style/
#: comment drop, block-tag split, per-block clean text + anchor-text
#: length, min-words + link-density keep, newline join.
_HTML_ANCHORS_SQL = (
    "COALESCE(array_to_string(regexp_extract_all(b, "
    r"'(?is)<a\b[^>]*>(.*?)</a>', 1), ' '), '')"
)
_HTML_EXTRACT_SQL = f"""
    s1 AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          replace(html, chr(1), ''),
          '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '(?i)</?(p|div|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|section|article|header|footer|nav|aside|blockquote|pre|form|dl|dt|dd|hr|main|figure|figcaption|br)\\b[^>]*>',
          chr(1), 'g') AS s
      FROM h
    ),
    proc AS (
      SELECT doc_id, list_transform(string_split(s, chr(1)), b -> struct_pack(
        t := {_html_clean_sql('b')},
        ll := length({_html_clean_sql(_HTML_ANCHORS_SQL)})
      )) AS bs
      FROM s1
    ),
    keptb AS (
      SELECT doc_id, list_filter(bs, sb ->
        {_html_wc_sql('sb.t')} >= 5 AND 2 * sb.ll <= length(sb.t)) AS ks
      FROM proc
    ),
    ext AS (
      SELECT doc_id,
        COALESCE(array_to_string(list_transform(ks, sb -> sb.t), chr(10)), '') AS text,
        CAST(len(ks) AS INT) AS n_kept,
        CAST(COALESCE(list_sum(list_transform(ks, sb -> {_html_wc_sql('sb.t')})), 0) AS INT) AS n_words
      FROM keptb
    )
"""


def _synth_html(docs):
    """The Spark twin of _HTML_SYNTH_SQL — byte-identical pages."""
    body = F.when(
        F.col("doc_id") % 25 == 0, F.lit(_HTML_CONST_PARA)
    ).otherwise(
        F.concat(
            F.substring(F.col("text"), 1, 160),
            F.lit(" tail &amp; escaped &lt;marker&gt; words"),
        )
    )
    second = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit(
            "<p>second paragraph for this page with plenty of extra "
            "words to keep</p>"
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head><title>Page "),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>body { color: red; }</style>"
            '<script>if (a < b) { nav("</div> fake"); }</script></head>'
            '<body><nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/about">About us</a></li></ul></nav>'
            "<!-- comment <p>with tags</p> -->"
            '<div id="main"><h1>Title words here maybe</h1><p>'
        ),
        body,
        F.lit("</p>"),
        second,
        F.lit(
            "<p>Short.</p></div>"
            '<aside><a href="/ad">Buy now great offer deal</a></aside>'
            "<footer>&amp;copy 2026 "
            '<a href="/terms">Terms</a> <a href="/privacy">Privacy</a>'
            "</footer></body></html>"
        ),
    )
    return docs.select(F.col("doc_id"), html.alias("html"))


@golden(
    "html_extract_text",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents
    ),
    {_HTML_EXTRACT_SQL}
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text, n_kept, n_words FROM ext
    """,
)
def html_extract_text(spark, sf_dir):
    """HTML main-content extraction (r14 — r13 VERDICT missing #2,
    functions/text.py::html_main_text): the trafilatura/jusText step a
    crawl pipeline runs FIRST. Synthesized pages wrap each document's
    text in a realistic boilerplate scaffold (title, style + script
    with tag-looking strings inside, comments, link-only nav, an
    undersized heading, a link-saturated aside, an entity-bearing
    footer); extraction must keep exactly the body paragraphs — block
    split on block-level tags, per-block word-count >= 5 AND link
    density <= 1/2 (both exact integer comparisons), entities decoded
    AFTER tag stripping. Zero UDFs, map-only at any corpus size; the
    oracle replays every rule including the synthesized page itself,
    so the compared values are exact strings."""
    from ..functions.text import html_extract_report

    docs = parallelize_small(t(spark, sf_dir, "documents")).select("doc_id", "text")
    out = html_extract_report(_synth_html(docs))
    return out.select(
        big("doc_id").alias("doc_id"),
        F.col("text"),
        F.col("n_kept").cast("int").alias("n_kept"),
        F.col("n_words").cast("int").alias("n_words"),
    )


@golden(
    "html_curation_pipeline",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents
    ),
    {_HTML_EXTRACT_SQL}
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(n_words) AS INT) AS n_words
    FROM ext WHERE n_words >= 20
    GROUP BY text
    """,
)
def html_curation_pipeline(spark, sf_dir):
    """The curation pipeline STARTING from raw HTML (r13 VERDICT #2's
    'done' bar): extract main content, keep docs with >= 20 extracted
    words (exact integer rule), exact-dedup the survivors on the
    extracted text (hash groupBy, min-id survivor — the dedup_exact
    shape). The every-25th-doc constant paragraph plants an exact-dup
    family that must collapse to one survivor per (%3 second-paragraph)
    variant; everything else survives alone. One narrow map + one
    groupBy shuffle on the text hash at any corpus size."""
    from ..functions.text import html_extract_report

    docs = parallelize_small(t(spark, sf_dir, "documents")).select("doc_id", "text")
    ext = html_extract_report(_synth_html(docs))
    return (
        ext.filter(F.col("n_words") >= 20)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_words").alias("n_words"),
        )
        .select(
            big("keep_id").alias("keep_id"),
            big("n_copies").alias("n_copies"),
            F.col("n_words").cast("int").alias("n_words"),
        )
    )


# --- WARC crawl-archive ingestion (r14) ---------------------------------------

#: synthesized WARC record per doc (pure function of doc_id + text):
#: response records wrap the _HTML_SYNTH_SQL page behind HTTP headers;
#: every 7th doc is a 404, every 11th a non-HTML content type, every
#: 13th a 'request' record (non-HTTP-response payload); a trailer after
#: Content-Length bytes proves the payload slice is length-driven.
#: DuckDB E'' escape strings carry the CRLFs; Spark builds the same
#: bytes with \r\n literals.
_WARC_SYNTH_SQL = f"""
    hh AS (
      SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents
    ),
    wparts AS (
      SELECT doc_id,
        CASE WHEN doc_id % 13 = 3 THEN 'request' ELSE 'response' END AS wtype,
        CASE WHEN doc_id % 13 = 3
             THEN 'GET /p HTTP/1.1' || E'\\r\\n' || 'Host: example.com' || E'\\r\\n\\r\\n'
             ELSE 'HTTP/1.1 '
                  || CASE WHEN doc_id % 7 = 1 THEN '404 Not Found' ELSE '200 OK' END
                  || E'\\r\\n' || 'Content-Type: '
                  || CASE WHEN doc_id % 11 = 2 THEN 'application/pdf'
                          ELSE 'text/html; charset=utf-8' END
                  || E'\\r\\n' || 'X-Crawl: junk' || E'\\r\\n\\r\\n' || html
        END AS pay,
        'http://EXAMPLE' || CAST(doc_id AS VARCHAR) || '.com/p'
          || CAST(doc_id AS VARCHAR) || '/' AS uri
      FROM hh
    ),
    w AS (
      SELECT doc_id,
        'WARC/1.0' || E'\\r\\n' || 'WARC-Type: ' || wtype
        || E'\\r\\n' || 'WARC-Target-URI: ' || uri
        || E'\\r\\n' || 'WARC-Date: 2026-01-01T00:00:00Z'
        || E'\\r\\n' || 'Content-Length: ' || CAST(length(pay) AS VARCHAR)
        || E'\\r\\n\\r\\n' || pay
        || E'\\r\\n\\r\\n' || 'trailer junk not part of the record payload'
        AS record
      FROM wparts
    )
"""

#: rule-for-rule replay of functions/crawl.py::warc_fields over CTE
#: w(doc_id, record) -> parsed(doc_id, version, warc_type, target_uri,
#: warc_date, content_length, http_status, mime, body)
_WARC_PARSE_SQL = r"""
    pr1 AS (
      SELECT doc_id, record,
        split_part(record, E'\r\n\r\n', 1) AS head,
        substr(record, length(split_part(record, E'\r\n\r\n', 1)) + 5) AS rest
      FROM w
    ),
    pr2 AS (
      SELECT doc_id, head, rest,
        TRY_CAST(regexp_extract(head, '(?i)\r\nContent-Length:[ ]*([^\r\n]*)', 1) AS INT) AS cl
      FROM pr1
    ),
    pr3 AS (
      SELECT doc_id, head, cl,
        CASE WHEN cl IS NOT NULL THEN substr(rest, 1, cl) ELSE rest END AS payload
      FROM pr2
    ),
    pr4 AS (
      SELECT doc_id, head, cl, payload,
        starts_with(payload, 'HTTP/') AS is_http,
        split_part(payload, E'\r\n\r\n', 1) AS http_head
      FROM pr3
    ),
    parsed AS (
      SELECT doc_id,
        split_part(head, E'\r\n', 1) AS version,
        COALESCE(regexp_extract(head, '(?i)\r\nWARC-Type:[ ]*([^\r\n]*)', 1), '') AS warc_type,
        COALESCE(regexp_extract(head, '(?i)\r\nWARC-Target-URI:[ ]*([^\r\n]*)', 1), '') AS target_uri,
        COALESCE(regexp_extract(head, '(?i)\r\nWARC-Date:[ ]*([^\r\n]*)', 1), '') AS warc_date,
        CAST(cl AS INT) AS content_length,
        CASE WHEN is_http
             THEN TRY_CAST(regexp_extract(http_head, '^HTTP/[0-9.]+ ([0-9]{3})', 1) AS INT)
        END AS http_status,
        CASE WHEN is_http
             THEN COALESCE(regexp_extract(http_head, '(?i)\r\nContent-Type:[ ]*([^\r\n]*)', 1), '')
             ELSE '' END AS mime,
        CASE WHEN is_http THEN substr(payload, length(http_head) + 5)
             ELSE payload END AS body
      FROM pr4
    )
"""


def _synth_warc(spark, sf_dir):
    """Spark twin of _WARC_SYNTH_SQL — byte-identical records."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    html_df = _synth_html(docs)
    d = F.col("doc_id")
    is_req = d % 13 == 3
    status = F.when(d % 7 == 1, F.lit("404 Not Found")).otherwise(F.lit("200 OK"))
    mime = F.when(d % 11 == 2, F.lit("application/pdf")).otherwise(
        F.lit("text/html; charset=utf-8")
    )
    http = F.concat(
        F.lit("HTTP/1.1 "),
        status,
        F.lit("\r\nContent-Type: "),
        mime,
        F.lit("\r\nX-Crawl: junk\r\n\r\n"),
        F.col("html"),
    )
    pay = F.when(
        is_req, F.lit("GET /p HTTP/1.1\r\nHost: example.com\r\n\r\n")
    ).otherwise(http)
    wtype = F.when(is_req, F.lit("request")).otherwise(F.lit("response"))
    uri = F.concat(
        F.lit("http://EXAMPLE"),
        d.cast("string"),
        F.lit(".com/p"),
        d.cast("string"),
        F.lit("/"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: "),
        wtype,
        F.lit("\r\nWARC-Target-URI: "),
        uri,
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(pay).cast("string"),
        F.lit("\r\n\r\n"),
        pay,
        F.lit("\r\n\r\ntrailer junk not part of the record payload"),
    )
    return html_df.select(F.col("doc_id"), record.alias("record"))


@golden(
    "warc_parse_records",
    oracle=f"""
    WITH {_WARC_SYNTH_SQL.strip()},
    {_WARC_PARSE_SQL.strip()}
    SELECT CAST(doc_id AS BIGINT) AS doc_id, version, warc_type,
           target_uri, warc_date, content_length, http_status, mime, body
    FROM parsed
    """,
)
def warc_parse_records(spark, sf_dir):
    """WARC record parsing (r14, functions/crawl.py::warc_extract) —
    the raw-crawl framing step ahead of the HTML extractor: header
    block split, case-insensitive header extraction, Content-Length
    payload slicing (a planted trailer after the payload proves the
    slice is length-driven, not separator-driven), HTTP status/header
    parsing for response records; request records (non-HTTP payloads)
    get NULL status, '' mime, raw payload as body. Pure string ops,
    map-only; the oracle replays the record SYNTHESIS and the parser
    rule-for-rule, comparing exact strings for every field including
    the full body."""
    from ..functions.crawl import warc_extract

    out = warc_extract(_synth_warc(spark, sf_dir))
    return out.select(
        big("doc_id").alias("doc_id"),
        "version",
        "warc_type",
        "target_uri",
        "warc_date",
        F.col("content_length").cast("int").alias("content_length"),
        F.col("http_status").cast("int").alias("http_status"),
        "mime",
        "body",
    )


@golden(
    "crawl_ingest_pipeline",
    oracle=f"""
    WITH {_WARC_SYNTH_SQL.strip()},
    {_WARC_PARSE_SQL.strip()},
    pages AS (
      SELECT doc_id, target_uri, body
      FROM parsed
      WHERE warc_type = 'response' AND http_status = 200
        AND starts_with(mime, 'text/html')
    ),
    canon AS (
      SELECT doc_id, body,
        lower(COALESCE(regexp_extract(trim(target_uri), '^([A-Za-z][A-Za-z0-9+.\\-]*)://.*$', 1), ''))
          || '://'
          || regexp_replace(
               regexp_replace(
                 lower(COALESCE(regexp_extract(trim(target_uri), '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*).*$', 1), '')),
                 ':80$', ''),
               '^www\\.', '')
          || CASE WHEN p1 = '' THEN '/' ELSE p1 END AS canonical_uri
      FROM (
        SELECT *,
          CASE WHEN path0 = '' THEN '/'
               WHEN length(path0) > 1 THEN regexp_replace(path0, '/+$', '')
               ELSE path0 END AS p1
        FROM (
          SELECT doc_id, target_uri, body,
            COALESCE(regexp_extract(trim(target_uri), '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*).*$', 1), '') AS path0
          FROM pages
        )
      )
    ),
    h AS (SELECT doc_id, body AS html FROM canon),
    {_HTML_EXTRACT_SQL.strip()}
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id, c.canonical_uri,
           e.text, e.n_words
    FROM canon c JOIN ext e ON c.doc_id = e.doc_id
    WHERE e.n_words >= 20
    """,
)
@memo_golden("crawl_ingest_pipeline")
def crawl_ingest_pipeline(spark, sf_dir):
    """The COMPLETE raw-crawl admission chain (r14,
    functions/crawl.py::crawl_ingest_report): WARC records -> keep
    HTTP 200 text/html responses (404s, PDFs and request records
    drop) -> canonicalize the target URI (case/port/trailing-slash
    rules — these synthesized URIs have no query, so the tracking-
    param leg is exercised by url_canonical_dedup) -> extract main
    content from the parsed BODY (not the pre-wrap page — a parser
    bug that mangles one byte of the body breaks the exact string
    compare) -> keep >= 20 extracted words. Map-only end to end; one
    narrow projection from archive bytes to the `documents` shape the
    dedup/quality family ingests."""
    from ..functions.crawl import crawl_ingest_report

    out = crawl_ingest_report(_synth_warc(spark, sf_dir), cache=True)
    return out.select(
        big("doc_id").alias("doc_id"),
        F.col("canonical_uri"),
        F.col("text"),
        F.col("n_words").cast("int").alias("n_words"),
    )


# --- byte-exact binary WARC parsing + file framing (r15) -----------------------

#: multibyte paragraph appended inside every synthesized page: makes
#: octets != characters for every body, so a char-counting
#: Content-Length slice (the r14 defect) over-reads into the trailer
#: and FAILS the exact body compare — the r14 VERDICT's "done" bar.
_WARC_MB_PARA = (
    "<p>Füße schöne Grüße — résumé naïve ☃ multibyte payload words</p>"
)

#: charset declaration per doc (cycled): undeclared / lowercase utf-8 /
#: UPPERCASE (normalization) / us-ascii-on-multibyte (the lenient
#: guard) / meta-tag-only (header silent, <meta> sniff resolves)
_WARC_CT_SQL = """
    CASE CAST(doc_id % 5 AS INT)
      WHEN 1 THEN 'text/html; charset=utf-8'
      WHEN 2 THEN 'text/html; charset=UTF-8'
      WHEN 3 THEN 'text/html; charset=us-ascii'
      ELSE 'text/html' END
"""

#: synthesized page + HTTP payload shared by both binary goldens:
#: h2(doc_id, html2, ct, is_req, pay)
_WARC_BIN_SYNTH_SQL = f"""
    hh AS (
      SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents
    ),
    h2a AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 4
             THEN replace(replace(html, '<p>Short.</p>', '<p>Short.</p>{_WARC_MB_PARA}'),
                          '<html><head>', '<html><head><meta charset="utf-8">')
             ELSE replace(html, '<p>Short.</p>', '<p>Short.</p>{_WARC_MB_PARA}') END AS html2,
        {_WARC_CT_SQL.strip()} AS ct,
        doc_id % 13 = 3 AS is_req
      FROM hh
    ),
    h2 AS (
      SELECT doc_id, html2, ct, is_req,
        CASE WHEN is_req
             THEN 'GET /p HTTP/1.1' || E'\\r\\n' || 'Host: example.com' || E'\\r\\n\\r\\n'
             ELSE 'HTTP/1.1 200 OK' || E'\\r\\n' || 'Content-Type: ' || ct
                  || E'\\r\\n\\r\\n' || html2 END AS pay
      FROM h2a
    )
"""


def _synth_warc_binary(spark, sf_dir, trailer=True):
    """Spark twin of _WARC_BIN_SYNTH_SQL, encoded to BINARY records:
    every page carries the multibyte paragraph (octets != chars), a
    trailer after Content-Length octets proves the slice is
    byte-driven, and Content-Length is octet_length (the ISO 28500
    contract the r14 string synth missed by construction).
    ``trailer=False`` yields spec-clean records (no junk after the
    payload) — the shape the FILE framing golden writes, where the
    record separators are the writer's job, not part of the record."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    html_df = _synth_html(docs)
    d = F.col("doc_id")
    html2 = F.replace(
        F.col("html"),
        F.lit("<p>Short.</p>"),
        F.lit("<p>Short.</p>" + _WARC_MB_PARA),
    )
    html2 = F.when(
        d % 5 == 4,
        F.replace(
            html2,
            F.lit("<html><head>"),
            F.lit('<html><head><meta charset="utf-8">'),
        ),
    ).otherwise(html2)
    ct = (
        F.when(d % 5 == 1, F.lit("text/html; charset=utf-8"))
        .when(d % 5 == 2, F.lit("text/html; charset=UTF-8"))
        .when(d % 5 == 3, F.lit("text/html; charset=us-ascii"))
        .otherwise(F.lit("text/html"))
    )
    is_req = d % 13 == 3
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: "),
        ct,
        F.lit("\r\n\r\n"),
        html2,
    )
    pay = F.when(
        is_req, F.lit("GET /p HTTP/1.1\r\nHost: example.com\r\n\r\n")
    ).otherwise(http)
    wtype = F.when(is_req, F.lit("request")).otherwise(F.lit("response"))
    uri = F.concat(
        F.lit("http://EXAMPLE"),
        d.cast("string"),
        F.lit(".com/p"),
        d.cast("string"),
        F.lit("/"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: "),
        wtype,
        F.lit("\r\nWARC-Target-URI: "),
        uri,
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.octet_length(pay).cast("string"),
        F.lit("\r\n\r\n"),
        pay,
    )
    if trailer:
        record = F.concat(
            record,
            F.lit("\r\n\r\ntrailer junk not part of the record payload"),
        )
    return html_df.select(
        F.col("doc_id"), F.encode(record, "UTF-8").alias("record")
    )


@golden(
    "warc_binary_parse_records",
    oracle=f"""
    WITH {_WARC_BIN_SYNTH_SQL.strip()}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'WARC/1.0' AS version,
           CASE WHEN is_req THEN 'request' ELSE 'response' END AS warc_type,
           'http://EXAMPLE' || CAST(doc_id AS VARCHAR) || '.com/p'
             || CAST(doc_id AS VARCHAR) || '/' AS target_uri,
           '2026-01-01T00:00:00Z' AS warc_date,
           CAST(octet_length(encode(pay)) AS INT) AS content_length,
           CAST(CASE WHEN is_req THEN NULL ELSE 200 END AS INT) AS http_status,
           CASE WHEN is_req THEN '' ELSE ct END AS mime,
           CASE WHEN is_req THEN ''
                WHEN doc_id % 5 IN (1, 2, 4) THEN 'utf-8'
                WHEN doc_id % 5 = 3 THEN 'us-ascii'
                ELSE '' END AS charset,
           CASE WHEN is_req THEN pay ELSE html2 END AS body,
           CAST(length(CASE WHEN is_req THEN pay ELSE html2 END) AS INT) AS n_body_chars,
           CAST(octet_length(encode(CASE WHEN is_req THEN pay ELSE html2 END)) AS INT) AS n_body_bytes
    FROM h2
    """,
)
@memo_golden("warc_binary_parse_records")
def warc_binary_parse_records(spark, sf_dir):
    """Byte-exact binary WARC parsing (r15 — r14 VERDICT #1,
    functions/crawl.py::warc_extract_binary): every synthesized body
    carries multi-byte UTF-8, so Content-Length (octets) exceeds the
    character count and the r14 char-slice would leak the planted
    trailer into every body — this oracle derives the EXPECTED fields
    straight from the synthesis quantities (nothing to cancel against
    a parser replay), so the parse must invert the synthesis exactly,
    byte for byte. Charset declarations cycle undeclared / utf-8 /
    UPPERCASE / us-ascii-on-multibyte (lenient guard) / meta-tag-only
    (<meta> sniff); n_body_chars < n_body_bytes proves the multibyte
    premise inside the compared values. Map-only, zero UDFs: the
    binary record is parsed through the bijective ISO-8859-1
    projection (chars == bytes)."""
    from ..functions.crawl import warc_extract_binary

    out = warc_extract_binary(_synth_warc_binary(spark, sf_dir))
    return out.select(
        big("doc_id").alias("doc_id"),
        "version",
        "warc_type",
        "target_uri",
        "warc_date",
        F.col("content_length").cast("int").alias("content_length"),
        F.col("http_status").cast("int").alias("http_status"),
        "mime",
        "charset",
        "body",
        F.length("body").cast("int").alias("n_body_chars"),
        F.octet_length("body_bytes").cast("int").alias("n_body_bytes"),
    )


@golden(
    "crawl_ingest_pipeline_files",
    oracle=f"""
    WITH {_WARC_BIN_SYNTH_SQL.strip()},
    pages AS (SELECT doc_id, html2 FROM h2 WHERE NOT is_req),
    h AS (SELECT doc_id, html2 AS html FROM pages),
    {_HTML_EXTRACT_SQL.strip()}
    SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
           'http://example' || CAST(p.doc_id AS VARCHAR) || '.com/p'
             || CAST(p.doc_id AS VARCHAR) AS canonical_uri,
           e.text, e.n_words
    FROM pages p JOIN ext e ON p.doc_id = e.doc_id
    WHERE e.n_words >= 20
    """,
)
def crawl_ingest_pipeline_files(spark, sf_dir):
    """The flagship raw-archive ingest chain (r15 — r14 VERDICT #2+#8):
    synthesized records are WRITTEN as record-at-a-time-compressed
    .warc.gz files (executor-side, one file per partition — no driver
    byte), framed back record-per-row by sources/warc.py::
    read_warc_files (gzip member walk + Content-Length record walk),
    parsed byte-exactly with charset resolution, canonicalized,
    main-content-extracted and admitted at >= 20 words. doc ids travel
    ONLY through the archive bytes (recovered from the canonical URI),
    so any framing slip — a lost record, a mis-split boundary, a
    char-counted slice — breaks the exact compare. On a cluster the
    same chain points at object storage; parallelism is per-file both
    ways (write: one gz per partition; read: binaryFile rows)."""
    import os
    import shutil
    import tempfile

    from ..functions.crawl import crawl_ingest_report
    from ..sources.warc import read_warc_files, write_warc_gz

    recs = _synth_warc_binary(spark, sf_dir, trailer=False)
    base = os.path.join(
        tempfile.gettempdir(),
        "hydraide_warc_files",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    def _write(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = [bytes(r) for pdf in batches for r in pdf["record"]]
        if chunks:
            write_warc_gz(
                chunks, os.path.join(base, f"part-{pid:05d}.warc.gz")
            )
        yield pd.DataFrame({"n": [len(chunks)]})

    # force the write before the read lists the directory; spread the
    # local 1-3 input partitions so the gz encode parallelizes (at
    # production scale the file count provides this for free)
    parallelize_small(recs.select("record")).mapInPandas(
        _write, "n long"
    ).agg(F.sum("n")).collect()

    frame = read_warc_files(spark, base)
    # cache=True is safe here: the scratch archive is rewritten
    # rmtree-first with DETERMINISTIC content per sf_dir, so a cached
    # parse and a fresh listing read the same bytes
    out = crawl_ingest_report(
        frame, record_col="record", id_col="rec_no", binary=True, cache=True
    )
    return out.select(
        F.regexp_extract(
            F.col("canonical_uri"), r"^http://example([0-9]+)\.com", 1
        )
        .cast("bigint")
        .alias("doc_id"),
        F.col("canonical_uri"),
        F.col("text"),
        F.col("n_words").cast("int").alias("n_words"),
    )


# --- robots.txt frontier politeness (r14) --------------------------------------

_ROBOTS_PARSE_SQL = r"""
    hostsx AS (
      SELECT DISTINCT CAST(doc_id % 6 AS INT) AS hid FROM documents
    ),
    rb AS (
      SELECT 'site' || hid || '.com' AS host,
        CASE CAST(hid % 3 AS INT)
          WHEN 0 THEN '# robots' || chr(10) || 'User-agent: trainbot' || chr(10) ||
            'Disallow: /private/' || chr(10) || 'Allow: /private/ok' || chr(10) ||
            'User-agent: *' || chr(10) || 'Disallow: /*.pdf$' || chr(10) || 'Crawl-delay: 5'
          WHEN 1 THEN 'User-agent: *' || chr(13) || chr(10) || 'Disallow: /'
          ELSE ''
        END AS robots
      FROM hostsx
    ),
    rlines AS (
      SELECT host, i AS ln, ls[i] AS raw
      FROM (SELECT host, string_split(replace(robots, chr(13), ''), chr(10)) AS ls FROM rb),
           UNNEST(range(1, len(ls) + 1)) AS t(i)
    ),
    rclean AS (
      SELECT host, ln,
        lower(trim(split_part(split_part(raw, '#', 1), ':', 1))) AS key,
        trim(COALESCE(regexp_extract(split_part(raw, '#', 1), '^[^:]*:(.*)$', 1), '')) AS value
      FROM rlines
    ),
    rmarked AS (
      SELECT host, ln, key, value,
        CASE WHEN key = 'user-agent'
              AND COALESCE(LAG(key) OVER (PARTITION BY host ORDER BY ln), '') <> 'user-agent'
             THEN 1 ELSE 0 END AS new_group
      FROM rclean
    ),
    rgrouped AS (
      SELECT host, ln, key, value,
        SUM(new_group) OVER (PARTITION BY host ORDER BY ln) AS gid
      FROM rmarked
    ),
    ruas AS (
      SELECT DISTINCT host, gid, lower(value) AS agent
      FROM rgrouped WHERE key = 'user-agent' AND value <> ''
    ),
    rrules AS (
      SELECT host, gid, value AS pattern, key = 'allow' AS allow, length(value) AS plen
      FROM rgrouped WHERE key IN ('allow', 'disallow') AND value <> ''
    ),
    robots_rules_t AS (
      SELECT u.host, u.agent, rl.pattern, rl.allow, rl.plen
      FROM ruas u JOIN rrules rl USING (host, gid)
    )
"""


def _robots_esc_sql(inner: str) -> str:
    """DuckDB replay of functions/crawl.py::_robots_pattern_regex —
    the SAME fixed escape order, then $-escape, *-wildcard, terminal
    $-anchor restore."""
    from ..functions.crawl import _ROBOTS_ESCAPES

    e = inner
    for lit, rep in _ROBOTS_ESCAPES:
        l = lit.replace("'", "''")
        r = rep.replace("'", "''")
        e = f"replace({e}, '{l}', '{r}')"
    e = f"replace({e}, '$', '\\$')"
    e = f"replace({e}, '*', '.*')"
    return (
        "(CASE WHEN substr(%s, length(%s) - 1) = '\\$' "
        "THEN substr(%s, 1, length(%s) - 2) || '$' ELSE %s END)"
        % (e, e, e, e, e)
    )


def _synth_robots_frames(spark, sf_dir):
    """Spark twin of the oracle's synthesized robots + frontier URLs."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    hid = (F.col("doc_id") % 6).cast("int")
    hosts = docs.select(hid.alias("hid")).distinct()
    k = (F.col("hid") % 3).cast("int")
    robots = (
        F.when(
            k == 0,
            F.lit(
                "# robots\nUser-agent: trainbot\nDisallow: /private/\n"
                "Allow: /private/ok\nUser-agent: *\nDisallow: /*.pdf$\n"
                "Crawl-delay: 5"
            ),
        )
        .when(k == 1, F.lit("User-agent: *\r\nDisallow: /"))
        .otherwise(F.lit(""))
    )
    robots_df = hosts.select(
        F.concat(F.lit("site"), F.col("hid").cast("string"), F.lit(".com")).alias(
            "host"
        ),
        robots.alias("robots"),
    )
    v = (F.col("doc_id") % 4).cast("int")
    d = F.col("doc_id").cast("string")
    path = (
        F.when(v == 0, F.concat(F.lit("/private/secret"), d))
        .when(v == 1, F.concat(F.lit("/private/ok/page"), d))
        .when(v == 2, F.concat(F.lit("/doc"), d, F.lit(".pdf")))
        .otherwise(F.concat(F.lit("/public/x"), d))
    )
    urls = docs.select(
        F.col("doc_id"),
        F.concat(
            F.lit("http://site"), hid.cast("string"), F.lit(".com"), path
        ).alias("url"),
    )
    return robots_df, urls


@golden(
    "robots_frontier_filter",
    oracle=f"""
    WITH {_ROBOTS_PARSE_SQL.strip()},
    urls AS (
      SELECT doc_id,
        'http://site' || CAST(doc_id % 6 AS INT) || '.com' ||
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN '/private/secret' || doc_id
          WHEN 1 THEN '/private/ok/page' || doc_id
          WHEN 2 THEN '/doc' || doc_id || '.pdf'
          ELSE '/public/x' || doc_id END AS url
      FROM documents
    ),
    u AS (
      SELECT doc_id, url,
        lower(COALESCE(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#:]*).*$', 1), '')) AS host,
        CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
      FROM (SELECT doc_id, url,
              COALESCE(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^#]*)', 1), '') AS p0
            FROM urls)
    ),
    ar AS (
      SELECT host, pattern, allow, plen,
        CASE WHEN agent = 'trainbot' THEN 1 ELSE 0 END AS spec
      FROM robots_rules_t WHERE agent IN ('trainbot', '*')
    ),
    bs AS (SELECT host, max(spec) AS best FROM ar GROUP BY host),
    sel AS (SELECT ar.host, ar.allow, ar.plen, '^' || {_robots_esc_sql('ar.pattern')} AS rx
            FROM ar JOIN bs USING (host) WHERE ar.spec = bs.best),
    m AS (
      SELECT u.doc_id, u.url, u.host, u.path, s.allow, s.plen,
        (s.rx IS NOT NULL AND regexp_matches(u.path, s.rx)) AS hit
      FROM u LEFT JOIN sel s USING (host)
    ),
    dec AS (
      SELECT doc_id, url, host, path, allow, hit,
        ROW_NUMBER() OVER (PARTITION BY url
                           ORDER BY hit DESC, plen DESC NULLS LAST,
                                    allow DESC NULLS LAST) AS rn
      FROM m
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, url, host, path,
           CASE WHEN hit THEN allow ELSE TRUE END AS allowed
    FROM dec WHERE rn = 1
    """,
)
@memo_golden("robots_frontier_filter")
def robots_frontier_filter(spark, sf_dir):
    """robots.txt frontier politeness (r14, functions/crawl.py::
    robots_rules + robots_allowed): parse synthesized per-host robots
    bodies — grouped User-agent blocks (consecutive UA lines SHARE
    rules), comments, unknown keys, empty-Disallow allow-all — then
    decide every frontier URL for agent 'trainbot': most-specific
    group (exact agent beats '*'), longest-pattern precedence with the
    Allow tiebreak, '*' wildcards and terminal '$' anchors compiled
    through the SAME fixed escape chain in both engines. Hosts cycle
    three shapes (agent-specific rules + a '*' PDF ban / block-all /
    empty). The oracle replays the synthesis, the window-function
    group recovery, the regex compilation and the precedence rule;
    every compared value is a string or an exact boolean. Plan: rules
    are host-grouped windows over tiny robots bodies; the decision is
    one host equi-join (AQE broadcasts the rule frame) + a per-URL
    max-struct — no cartesian, no UDF."""
    from ..functions.crawl import robots_allowed, robots_rules

    robots_df, urls = _synth_robots_frames(spark, sf_dir)
    rules = robots_rules(robots_df)
    out = robots_allowed(urls, rules, "trainbot")
    dec = urls.join(out, "url").select(
        big("doc_id").alias("doc_id"),
        F.col("url"),
        F.col("host"),
        F.col("path"),
        F.col("allowed"),
    )
    return dec


# --- robots.txt Crawl-delay + Sitemap directives (r15) -------------------------

#: directive-focused synth: hid%3 shapes — agent-specific fractional
#: delay + '*' delay + two sitemaps / CRLF body with an INVALID delay
#: but a sitemap / a delay-LESS specific group beside a '*' delay (the
#: no-fallback group-selection probe)
_ROBOTS_DIR_SYNTH_SQL = """
    hostsx AS (
      SELECT DISTINCT CAST(doc_id % 6 AS INT) AS hid FROM documents
    ),
    rb AS (
      SELECT 'site' || hid || '.com' AS host,
        CASE CAST(hid % 3 AS INT)
          WHEN 0 THEN 'User-agent: trainbot' || chr(10) || 'Crawl-delay: 2.5'
            || chr(10) || 'Disallow: /private/' || chr(10) || 'User-agent: *'
            || chr(10) || 'Crawl-delay: 5' || chr(10)
            || 'Sitemap: https://site' || hid || '.com/sitemap.xml' || chr(10)
            || 'Sitemap: https://site' || hid || '.com/news.xml'
          WHEN 1 THEN 'User-agent: *' || chr(13) || chr(10) || 'Disallow: /'
            || chr(13) || chr(10) || 'Crawl-delay: abc' || chr(13) || chr(10)
            || 'Sitemap: https://site' || hid || '.com/map-b.xml'
          ELSE 'User-agent: trainbot' || chr(10) || 'Disallow: /x' || chr(10)
            || 'User-agent: *' || chr(10) || 'Crawl-delay: 7' || chr(10)
            || 'Sitemap: https://site' || hid || '.com/map-c.xml'
        END AS robots
      FROM hostsx
    ),
    rlines AS (
      SELECT host, i AS ln, ls[i] AS raw
      FROM (SELECT host, string_split(replace(robots, chr(13), ''), chr(10)) AS ls FROM rb),
           UNNEST(range(1, len(ls) + 1)) AS t(i)
    ),
    rclean AS (
      SELECT host, ln,
        lower(trim(split_part(split_part(raw, '#', 1), ':', 1))) AS key,
        trim(COALESCE(regexp_extract(split_part(raw, '#', 1), '^[^:]*:(.*)$', 1), '')) AS value
      FROM rlines
    ),
    rmarked AS (
      SELECT host, ln, key, value,
        CASE WHEN key = 'user-agent'
              AND COALESCE(LAG(key) OVER (PARTITION BY host ORDER BY ln), '') <> 'user-agent'
             THEN 1 ELSE 0 END AS new_group
      FROM rclean
    ),
    rgrouped AS (
      SELECT host, ln, key, value,
        SUM(new_group) OVER (PARTITION BY host ORDER BY ln) AS gid
      FROM rmarked
    ),
    ruas AS (
      SELECT DISTINCT host, gid, lower(value) AS agent
      FROM rgrouped WHERE key = 'user-agent' AND value <> ''
    )
"""


def _synth_robots_directives(spark, sf_dir):
    """Spark twin of _ROBOTS_DIR_SYNTH_SQL's rb CTE."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    hid = (F.col("doc_id") % 6).cast("int")
    hosts = docs.select(hid.alias("hid")).distinct()
    k = (F.col("hid") % 3).cast("int")
    h = F.col("hid").cast("string")
    robots = (
        F.when(
            k == 0,
            F.concat(
                F.lit(
                    "User-agent: trainbot\nCrawl-delay: 2.5\n"
                    "Disallow: /private/\nUser-agent: *\nCrawl-delay: 5\n"
                    "Sitemap: https://site"
                ),
                h,
                F.lit(".com/sitemap.xml\nSitemap: https://site"),
                h,
                F.lit(".com/news.xml"),
            ),
        )
        .when(
            k == 1,
            F.concat(
                F.lit(
                    "User-agent: *\r\nDisallow: /\r\nCrawl-delay: abc\r\n"
                    "Sitemap: https://site"
                ),
                h,
                F.lit(".com/map-b.xml"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(
                    "User-agent: trainbot\nDisallow: /x\nUser-agent: *\n"
                    "Crawl-delay: 7\nSitemap: https://site"
                ),
                h,
                F.lit(".com/map-c.xml"),
            )
        )
    )
    return hosts.select(
        F.concat(F.lit("site"), h, F.lit(".com")).alias("host"),
        robots.alias("robots"),
    )


#: trainbot's per-host delay decision over the directives synth —
#: shared by the directives golden and the fetch-schedule golden
_ROBOTS_DELAY_SQL = r"""
    rdel AS (
      SELECT host, gid, max(TRY_CAST(value AS DOUBLE)) AS d
      FROM rgrouped
      WHERE key = 'crawl-delay' AND regexp_matches(value, '^[0-9]+(\.[0-9]+)?$')
      GROUP BY host, gid
    ),
    adel AS (
      SELECT u.host, u.agent, d,
        CASE WHEN u.agent = 'trainbot' THEN 1 ELSE 0 END AS spec
      FROM ruas u LEFT JOIN rdel USING (host, gid)
      WHERE u.agent IN ('trainbot', '*')
    ),
    bsd AS (SELECT host, max(spec) AS best FROM adel GROUP BY host),
    seld AS (
      SELECT a.host, max(d) AS crawl_delay
      FROM adel a JOIN bsd USING (host) WHERE a.spec = bsd.best
      GROUP BY a.host
      HAVING max(d) IS NOT NULL
    )
"""


@golden(
    "robots_crawl_delay_sitemaps",
    oracle=f"""
    WITH {_ROBOTS_DIR_SYNTH_SQL.strip()},
    {_ROBOTS_DELAY_SQL.strip()},
    smaps AS (
      SELECT host,
        array_to_string(list_sort(list(DISTINCT value)), ',') AS sitemaps
      FROM rgrouped WHERE key = 'sitemap' AND value <> ''
      GROUP BY host
    )
    SELECT COALESCE(d.host, s.host) AS host, d.crawl_delay,
           COALESCE(s.sitemaps, '') AS sitemaps
    FROM seld d FULL OUTER JOIN smaps s ON d.host = s.host
    """,
)
@memo_golden("robots_crawl_delay_sitemaps")
def robots_crawl_delay_sitemaps(spark, sf_dir):
    """Crawl-delay + Sitemap directives (r15 — r14 VERDICT #5,
    functions/crawl.py::robots_crawl_delays / robots_crawl_delay_for /
    robots_sitemaps): the same window-function group recovery as the
    allow/disallow rules, two more keys. Shapes cycle: an
    agent-specific FRACTIONAL delay (2.5 beats the '*' group's 5 under
    the most-specific rule), a CRLF body whose delay value is invalid
    (ignored — host keeps its sitemap but emits NULL delay), and a
    delay-LESS trainbot group beside a '*' delay — the RFC
    group-selection probe: the crawler obeys ITS group only, so the
    '*' delay must NOT leak through (NULL delay, sitemap kept).
    Sitemaps are group-independent, case-preserved, deduped, sorted
    into one deterministic string. Delay values are short dyadic
    decimals, exact in both engines' double parse."""
    from ..functions.crawl import (
        robots_crawl_delay_for,
        robots_crawl_delays,
        robots_sitemaps,
    )

    robots_df = _synth_robots_directives(spark, sf_dir)
    delays = robots_crawl_delay_for(
        robots_crawl_delays(robots_df), "trainbot"
    )
    maps = (
        robots_sitemaps(robots_df)
        .groupBy("host")
        .agg(
            F.array_join(F.array_sort(F.collect_set("sitemap")), ",").alias(
                "sitemaps"
            )
        )
    )
    return delays.join(maps, "host", "full_outer").select(
        F.col("host"),
        F.col("crawl_delay"),
        F.coalesce(F.col("sitemaps"), F.lit("")).alias("sitemaps"),
    )


@golden(
    "polite_fetch_schedule_frontier",
    oracle=f"""
    WITH {_ROBOTS_DIR_SYNTH_SQL.strip()},
    {_ROBOTS_DELAY_SQL.strip()},
    urls AS (
      SELECT doc_id,
        'http://site' || CAST(doc_id % 6 AS INT) || '.com' ||
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN '/private/secret' || doc_id
          WHEN 1 THEN '/private/ok/page' || doc_id
          WHEN 2 THEN '/doc' || doc_id || '.pdf'
          ELSE '/public/x' || doc_id END AS url
      FROM documents
    ),
    uh AS (
      SELECT url,
        lower(COALESCE(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#:]*).*$', 1), '')) AS host
      FROM urls
    )
    SELECT u.url, u.host,
           CAST(ROW_NUMBER() OVER (PARTITION BY u.host ORDER BY u.url) AS INT) AS rank,
           COALESCE(s.crawl_delay, CAST(1.0 AS DOUBLE)) AS delay_sec,
           (ROW_NUMBER() OVER (PARTITION BY u.host ORDER BY u.url) - 1)
             * COALESCE(s.crawl_delay, CAST(1.0 AS DOUBLE)) AS fetch_offset_sec
    FROM uh u LEFT JOIN seld s ON u.host = s.host
    """,
)
@memo_golden("polite_fetch_schedule_frontier")
def polite_fetch_schedule_frontier(spark, sf_dir):
    """Frontier politeness scheduling (r15, functions/crawl.py::
    polite_fetch_schedule — the step after robots_allowed +
    robots_crawl_delay_for): every URL gets a per-host rank (ordered
    by URL string — deterministic) and a fetch offset of
    (rank-1)·delay seconds, delay = the host's resolved trainbot
    Crawl-delay (2.5 on the agent-specific hosts) or the 1.0 default
    (invalid-delay hosts AND the no-fallback hosts whose specific
    group has no delay). Offsets are exact products of small dyadic
    doubles and integer ranks — bit-identical across engines. Plan:
    one broadcastable delay frame + ONE host-partitioned window (the
    host IS the politeness serialization unit — the window's
    parallelism equals the problem's)."""
    from ..functions.crawl import (
        polite_fetch_schedule,
        robots_crawl_delay_for,
        robots_crawl_delays,
    )

    robots_df = _synth_robots_directives(spark, sf_dir)
    _, urls = _synth_robots_frames(spark, sf_dir)
    delays = robots_crawl_delay_for(
        robots_crawl_delays(robots_df), "trainbot"
    )
    out = polite_fetch_schedule(urls, delays, default_delay=1.0)
    return out.select(
        F.col("url"),
        F.col("host"),
        F.col("rank").cast("int").alias("rank"),
        F.col("delay_sec").cast("double").alias("delay_sec"),
        F.col("fetch_offset_sec").cast("double").alias("fetch_offset_sec"),
    )


# --- sitemap XML parsing + discovery resolution (r15) --------------------------

#: explicit whitespace class (real chars) shared by both engines —
#: Spark trim() strips spaces only and Java \s != RE2 \s, so the
#: sitemap parser strips with this class on both sides
_SM_WS = "^[ \t\n\r]+|[ \t\n\r]+$"


def _xc_sql(tag: str) -> str:
    """DuckDB replay of functions/crawl.py::_xml_child: extract
    <tag>...</tag> (dotall, non-greedy), strip the explicit whitespace
    class, ''->NULL (DuckDB's regexp_extract is NULL on no match where
    Spark's is '' — COALESCE bridges), then the five XML entities with
    '&amp;' LAST."""
    from ..functions.crawl import _XML_ENTITIES

    pat = f"(?s)<{tag}>(.*?)</{tag}>"
    s = (
        f"regexp_replace(COALESCE(regexp_extract(block, '{pat}', 1), ''), "
        f"'{_SM_WS}', '', 'g')"
    )
    e = s
    for ent, ch in _XML_ENTITIES:
        c = ch.replace("'", "''")
        e = f"replace({e}, '{ent}', '{c}')"
    return f"(CASE WHEN {s} = '' THEN NULL ELSE {e} END)"


def _sitemap_parse_sql(src: str, carry: str, out: str) -> str:
    """The repeated parse chain (kind detection -> block extraction ->
    per-block fields) as CTEs; mirrors functions/crawl.py::
    _sitemap_parsed rule-for-rule."""
    ws = " \t\n\r>"
    return f"""
    {out}_k AS (
      SELECT {carry},
        CASE WHEN regexp_matches(xml, '<sitemapindex[{ws}]') THEN 'index'
             WHEN regexp_matches(xml, '<urlset[{ws}]') THEN 'urlset' END AS kind,
        xml
      FROM {src}
    ),
    {out}_b AS (
      SELECT {carry}, kind,
        CASE WHEN kind = 'index'
               THEN regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1)
             WHEN kind = 'urlset'
               THEN regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)
             ELSE CAST([] AS VARCHAR[]) END AS bl
      FROM {out}_k
    ),
    {out}_r AS (
      SELECT {carry}, kind, bl[i] AS block
      FROM {out}_b, UNNEST(range(1, len(bl) + 1)) AS t(i)
    ),
    {out} AS (
      SELECT {carry}, kind,
        {_xc_sql('loc')} AS loc,
        {_xc_sql('lastmod')} AS lastmod,
        {_xc_sql('changefreq')} AS changefreq,
        CAST({_xc_sql('priority')} AS DOUBLE) AS priority
      FROM {out}_r
      WHERE {_xc_sql('loc')} IS NOT NULL
    )"""


#: synthesized sitemap bodies: hid%3 shapes — an index with a lastmod
#: child, a child with no lastmod and an UNFETCHED child (inner-join
#: drop) / an index whose second child is ITSELF (index->index: the
#: spec forbids nested indexes, the resolver must drop it, plus a
#: whitespace-padded <loc> probe) / a DIRECT urlset at sitemap.xml.
#: Per-doc <url> entries cycle entity-escaped query URLs, missing
#: lastmod/changefreq/priority, and space-padded loc values.
_SITEMAP_SYNTH_SQL = """
    docsx AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
    fr AS (
      SELECT d,
        'https://site' || CAST(d % 6 AS INT) || '.com/' ||
          CASE CAST((d % 6) % 3 AS INT)
            WHEN 0 THEN CASE WHEN d % 2 = 0 THEN 'map-1.xml' ELSE 'map-2.xml' END
            WHEN 1 THEN 'map-1.xml'
            ELSE 'sitemap.xml' END AS sitemap_url,
        '<url><loc> ' ||
          CASE WHEN d % 3 = 0
            THEN 'https://site' || CAST(d % 6 AS INT) || '.com/page?id=' || d || '&amp;ref=sm'
            ELSE 'https://site' || CAST(d % 6 AS INT) || '.com/p' || d END
          || ' </loc>' ||
          CASE WHEN d % 4 <> 1
            THEN '<lastmod>2026-03-0' || (d % 9 + 1) || '</lastmod>' ELSE '' END ||
          CASE WHEN d % 5 <> 2
            THEN '<changefreq>' ||
              CASE CAST(d % 3 AS INT) WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                   ELSE 'monthly' END || '</changefreq>' ELSE '' END ||
          CASE WHEN d % 2 = 0
            THEN '<priority>0.' || (d % 10) || '</priority>' ELSE '' END ||
          '</url>' || chr(10) AS frag
      FROM docsx
    ),
    us AS (
      SELECT sitemap_url,
        '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
        string_agg(frag, '' ORDER BY d) || '</urlset>' AS xml
      FROM fr GROUP BY sitemap_url
    ),
    hostsy AS (
      SELECT DISTINCT CAST(d % 6 AS INT) AS hid FROM docsx WHERE (d % 6) % 3 < 2
    ),
    ib AS (
      SELECT 'https://site' || hid || '.com/sitemap.xml' AS sitemap_url,
        '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
        CASE WHEN hid % 3 = 0
          THEN '<sitemap><loc>https://site' || hid || '.com/map-1.xml</loc><lastmod>2026-01-15</lastmod></sitemap>' || chr(10)
            || '<sitemap><loc>https://site' || hid || '.com/map-2.xml</loc></sitemap>' || chr(10)
            || '<sitemap><loc>https://site' || hid || '.com/missing.xml</loc></sitemap>' || chr(10)
          ELSE '<sitemap><loc> https://site' || hid || '.com/map-1.xml </loc></sitemap>' || chr(10)
            || '<sitemap><loc>https://site' || hid || '.com/sitemap.xml</loc></sitemap>' || chr(10)
        END || '</sitemapindex>' AS xml
      FROM hostsy
    ),
    bodies AS (SELECT * FROM us UNION ALL SELECT * FROM ib)
"""


def _synth_sitemap_bodies(spark, sf_dir):
    """Spark twin of _SITEMAP_SYNTH_SQL's bodies CTE."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    hid = (d % 6).cast("int")
    h = hid.cast("string")
    ds = d.cast("string")
    k = (hid % 3).cast("int")
    site = F.concat(F.lit("https://site"), h, F.lit(".com/"))
    loc_xml = F.when(
        d % 3 == 0,
        F.concat(site, F.lit("page?id="), ds, F.lit("&amp;ref=sm")),
    ).otherwise(F.concat(site, F.lit("p"), ds))
    lm = F.when(
        d % 4 != 1,
        F.concat(
            F.lit("<lastmod>2026-03-0"),
            (d % 9 + 1).cast("string"),
            F.lit("</lastmod>"),
        ),
    ).otherwise(F.lit(""))
    cf_name = F.element_at(
        F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
        (d % 3).cast("int") + 1,
    )
    cf = F.when(
        d % 5 != 2,
        F.concat(F.lit("<changefreq>"), cf_name, F.lit("</changefreq>")),
    ).otherwise(F.lit(""))
    pr = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("<priority>0."), (d % 10).cast("string"), F.lit("</priority>")
        ),
    ).otherwise(F.lit(""))
    frag = F.concat(
        F.lit("<url><loc> "), loc_xml, F.lit(" </loc>"), lm, cf, pr,
        F.lit("</url>\n"),
    )
    mapfile = (
        F.when(
            k == 0,
            F.when(d % 2 == 0, F.lit("map-1.xml")).otherwise(
                F.lit("map-2.xml")
            ),
        )
        .when(k == 1, F.lit("map-1.xml"))
        .otherwise(F.lit("sitemap.xml"))
    )
    frags = docs.select(
        d.alias("doc_id"),
        F.concat(site, mapfile).alias("sitemap_url"),
        frag.alias("frag"),
    )
    hdr_us = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    )
    urlsets = frags.groupBy("sitemap_url").agg(
        F.concat(
            F.lit(hdr_us),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("frag")))
                    ),
                    lambda s: s["frag"],
                ),
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    hosts = docs.select(hid.alias("hid")).distinct().filter(
        (F.col("hid") % 3) < 2
    )
    hh = F.col("hid").cast("string")
    hsite = F.concat(F.lit("https://site"), hh, F.lit(".com/"))
    hdr_ix = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    )
    kk = (F.col("hid") % 3).cast("int")
    ibody = F.when(
        kk == 0,
        F.concat(
            F.lit(hdr_ix),
            F.lit("<sitemap><loc>"), hsite,
            F.lit("map-1.xml</loc><lastmod>2026-01-15</lastmod></sitemap>\n"),
            F.lit("<sitemap><loc>"), hsite, F.lit("map-2.xml</loc></sitemap>\n"),
            F.lit("<sitemap><loc>"), hsite, F.lit("missing.xml</loc></sitemap>\n"),
            F.lit("</sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit(hdr_ix),
            F.lit("<sitemap><loc> "), hsite, F.lit("map-1.xml </loc></sitemap>\n"),
            F.lit("<sitemap><loc>"), hsite, F.lit("sitemap.xml</loc></sitemap>\n"),
            F.lit("</sitemapindex>"),
        )
    )
    idx = hosts.select(
        F.concat(hsite, F.lit("sitemap.xml")).alias("sitemap_url"),
        ibody.alias("xml"),
    )
    return urlsets.unionByName(idx)


@golden(
    "sitemap_discovery_docs",
    oracle=f"""
    WITH {_SITEMAP_SYNTH_SQL.strip()},
    {_sitemap_parse_sql('bodies', 'sitemap_url', 'p1').strip()},
    direct AS (
      SELECT sitemap_url AS root_sitemap, sitemap_url AS src_sitemap,
             loc, lastmod, changefreq, priority
      FROM p1 WHERE kind = 'urlset'
    ),
    chl AS (
      SELECT sitemap_url AS root_sitemap, loc AS child_url
      FROM p1 WHERE kind = 'index'
    ),
    cbod AS (
      SELECT c.root_sitemap, c.child_url, b.xml
      FROM chl c JOIN bodies b ON b.sitemap_url = c.child_url
    ),
    {_sitemap_parse_sql('cbod', 'root_sitemap, child_url', 'p2').strip()}
    SELECT * FROM direct
    UNION ALL
    SELECT root_sitemap, child_url AS src_sitemap,
           loc, lastmod, changefreq, priority
    FROM p2 WHERE kind = 'urlset'
    """,
)
@memo_golden("sitemap_discovery_docs")
def sitemap_discovery_docs(spark, sf_dir):
    """Sitemap XML parsing + discovery resolution (r15,
    functions/crawl.py::sitemap_entries / sitemap_url_entries — the
    step between robots_sitemaps discovery and the fetch frontier):
    synthesized per-host sitemap trees cycle three shapes — an index
    whose children carry/omit <lastmod> plus an UNFETCHED child
    (dropped by the inner join), an index whose second child is
    ITSELF (index->index is forbidden by the protocol — the resolver
    drops it, no recursion) with a whitespace-padded <loc>, and a
    DIRECT urlset. Per-doc <url> entries cycle entity-escaped query
    URLs ('&amp;' decoded exactly one level), missing optional
    fields (NULL via the shared ''->NULL bridge), and <priority>
    parsed to DOUBLE (strtod-exact in both engines). Urlset bodies
    that were ALSO fetched directly appear via both paths with
    different root_sitemap — deliberate: one corpus exercises the
    pass-through and the index-resolution legs on identical blocks.
    Plan: parse is map-only regexp work; resolution is ONE URL
    equi-join (AQE broadcasts the tiny child list); the only shuffle
    is the synthesis groupBy itself."""
    from ..functions.crawl import sitemap_url_entries

    bodies = _synth_sitemap_bodies(spark, sf_dir)
    return sitemap_url_entries(bodies)


@golden(
    "sitemap_recrawl_schedule",
    oracle=f"""
    WITH {_SITEMAP_SYNTH_SQL.strip()},
    {_sitemap_parse_sql('bodies', 'sitemap_url', 'p1').strip()},
    chl AS (
      SELECT sitemap_url AS root_sitemap, loc AS child_url
      FROM p1 WHERE kind = 'index'
    ),
    cbod AS (
      SELECT c.root_sitemap, c.child_url, b.xml
      FROM chl c JOIN bodies b ON b.sitemap_url = c.child_url
    ),
    {_sitemap_parse_sql('cbod', 'root_sitemap, child_url', 'p2').strip()},
    allent AS (
      SELECT loc, lastmod FROM p1 WHERE kind = 'urlset'
      UNION ALL
      SELECT loc, lastmod FROM p2 WHERE kind = 'urlset'
    ),
    due AS (
      SELECT DISTINCT loc AS url FROM allent
      WHERE lastmod IS NOT NULL AND lastmod >= '2026-03-05'
    ),
    {_ROBOTS_DIR_SYNTH_SQL.strip()},
    {_ROBOTS_DELAY_SQL.strip()},
    uh AS (
      SELECT url,
        lower(COALESCE(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#:]*).*$', 1), '')) AS host
      FROM due
    )
    SELECT u.url, u.host,
           CAST(ROW_NUMBER() OVER (PARTITION BY u.host ORDER BY u.url) AS INT) AS rank,
           COALESCE(s.crawl_delay, CAST(1.0 AS DOUBLE)) AS delay_sec,
           (ROW_NUMBER() OVER (PARTITION BY u.host ORDER BY u.url) - 1)
             * COALESCE(s.crawl_delay, CAST(1.0 AS DOUBLE)) AS fetch_offset_sec
    FROM uh u LEFT JOIN seld s ON u.host = s.host
    """,
)
def sitemap_recrawl_schedule(spark, sf_dir):
    """Sitemap-driven recrawl scheduling (r15 — the chain closer:
    robots discovery -> sitemap XML parse -> lastmod freshness cut ->
    politeness schedule, all four r14/r15 crawl operators composed):
    final URL entries from the resolved sitemap tree whose <lastmod>
    is on/after the cutoff (W3C dates compare LEXICOGRAPHICALLY —
    string >= is the shared rule, no timestamp parse, no timezone
    trap) become the recrawl frontier; entries without lastmod follow
    the default recrawl cycle instead (excluded here). The frontier is
    deduped across discovery legs (direct + via-index see the same
    urlset) and scheduled per host with the resolved trainbot
    Crawl-delay (2.5 s agent-specific hosts; 1.0 default where the
    delay is invalid or the specific group has none — the no-fallback
    rule). Plan: the freshness cut is a pushed string filter on the
    parsed entries; dedup is one distinct; scheduling is the ONE
    host-partitioned window (the politeness serialization unit)."""
    from ..functions.crawl import (
        polite_fetch_schedule,
        robots_crawl_delay_for,
        robots_crawl_delays,
        sitemap_url_entries,
    )

    def _build():
        bodies = _synth_sitemap_bodies(spark, sf_dir)
        due = (
            sitemap_url_entries(bodies)
            .filter(
                F.col("lastmod").isNotNull() & (F.col("lastmod") >= "2026-03-05")
            )
            .select(F.col("loc").alias("url"))
            .distinct()
        )
        robots_df = _synth_robots_directives(spark, sf_dir)
        delays = robots_crawl_delay_for(
            robots_crawl_delays(robots_df), "trainbot"
        )
        out = polite_fetch_schedule(due, delays, default_delay=1.0)
        return out.select(
            F.col("url"),
            F.col("host"),
            F.col("rank").cast("int").alias("rank"),
            F.col("delay_sec").cast("double").alias("delay_sec"),
            F.col("fetch_offset_sec").cast("double").alias("fetch_offset_sec"),
        )

    # plan memo (r16): pure plan — the four-operator composition costs
    # ~0.8 s of DataFrame construction per call, no actions, no pins
    return memo(("plan", "sitemap_recrawl_schedule", sf_dir), _build)


# --- HTML link-graph extraction (r15) ------------------------------------------


def _ent_sql(e: str) -> str:
    """Entity-decode chain over a SQL expression (same order as
    functions/crawl.py::_xml_unescape — '&amp;' last)."""
    from ..functions.crawl import _XML_ENTITIES

    for ent, ch in _XML_ENTITIES:
        c = ch.replace("'", "''")
        e = f"replace({e}, '{ent}', '{c}')"
    return e


_LINK_WS = "[ \t\n\r]"


def _link_graph_sql() -> str:
    """DuckDB replay of functions/crawl.py::html_link_graph over the
    synthesized pages CTE (url, html)."""
    hd = f"COALESCE(regexp_extract(a, '(?si)href{_LINK_WS}*={_LINK_WS}*\"([^\"]*)\"', 1), '')"
    hs = f"COALESCE(regexp_extract(a, '(?si)href{_LINK_WS}*={_LINK_WS}*''([^'']*)''', 1), '')"
    anchor_raw = "regexp_replace(COALESCE(regexp_extract(a, '(?si)<a[ \t\n\r][^>]*>(.*)</a>', 1), ''), '<[^>]*>', '', 'g')"
    anchor = f"regexp_replace(regexp_replace({_ent_sql(anchor_raw)}, '{_LINK_WS}+', ' ', 'g'), '^ +| +$', '', 'g')"
    return f"""
    bl AS (
      SELECT url,
        COALESCE(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://.*$', 1), '') AS scheme,
        COALESCE(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*).*$', 1), '') AS host,
        COALESCE(regexp_extract(
          CASE WHEN COALESCE(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*).*$', 1), '') = ''
               THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*).*$', 1) END,
          '^(.*/)[^/]*$', 1), '') AS pdir,
        regexp_extract_all(html, '(?si)<a[ \t\n\r][^>]*>.*?</a>', 0) AS bs
      FROM pages
    ),
    ax AS (
      SELECT url, scheme, host, pdir, bs[i] AS a
      FROM bl, UNNEST(range(1, len(bs) + 1)) AS t(i)
    ),
    hx AS (
      SELECT url, scheme, host, pdir, a,
        regexp_replace(
          CASE WHEN {hd} <> '' THEN {hd} ELSE {hs} END,
          '^{_LINK_WS}+|{_LINK_WS}+$', '', 'g') AS href
      FROM ax
    ),
    keepx AS (
      SELECT * FROM hx
      WHERE href <> '' AND substr(lower(href), 1, 1) <> '#'
        AND NOT (lower(href) LIKE 'javascript:%' OR lower(href) LIKE 'mailto:%'
                 OR lower(href) LIKE 'tel:%' OR lower(href) LIKE 'data:%')
    ),
    edges AS (
      SELECT url,
        CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.\\-]*://') THEN href
             WHEN substr(href, 1, 2) = '//' THEN scheme || ':' || href
             WHEN substr(href, 1, 1) = '/' THEN scheme || '://' || host || href
             ELSE scheme || '://' || host || pdir || href END AS dst,
        {anchor} AS anchor,
        regexp_matches(a, '(?si)rel{_LINK_WS}*={_LINK_WS}*[''"][^''"]*nofollow') AS nofollow
      FROM keepx
    )"""


@golden(
    "html_link_graph_docs",
    oracle=f"""
    WITH pages AS (
      SELECT
        'https://site' || CAST(doc_id % 6 AS INT) || '.com/dir/page'
          || CAST(doc_id AS BIGINT) || '.html' AS url,
        '<html><body>'
        || '<a href="https://site' || CAST((doc_id + 1) % 6 AS INT)
          || '.com/x' || CAST(doc_id AS BIGINT) || '">Abs &amp; link</a>'
        || '<a href=''/r' || CAST(doc_id AS BIGINT)
          || '''> <b>Root</b>' || chr(10) || 'link ' || CAST(doc_id AS BIGINT) || ' </a>'
        || '<a href="sub/q' || CAST(doc_id AS BIGINT) || '">rel</a>'
        || '<a href="//cdn' || CAST(doc_id % 6 AS INT) || '.com/a">cdn</a>'
        || CASE WHEN doc_id % 2 = 0
             THEN '<a rel="nofollow" href="/nf">NF &lt;here&gt;</a>' ELSE '' END
        || CASE WHEN doc_id % 3 = 0
             THEN '<a href="#top">top</a><a href="javascript:void(0)">js</a>'
                  || '<a href="MAILTO:x@y.z">m</a>' ELSE '' END
        || '</body></html>' AS html
      FROM documents
    ),
    {_link_graph_sql().strip()}
    SELECT url, dst, anchor, nofollow FROM edges
    """,
)
def html_link_graph_docs(spark, sf_dir):
    """HTML link-graph extraction (r15, functions/crawl.py::
    html_link_graph — the web-graph edge builder between
    html_main_text and the graph family): synthesized pages carry one
    link of every resolution class — absolute (cross-host), root-
    relative in SINGLE quotes with inner markup + a newline in the
    anchor (tag strip + whitespace collapse), directory-relative
    (joins the page's /dir/), protocol-relative (page scheme), a
    rel=nofollow on every 2nd page, and a dropped trio (#fragment,
    javascript:, uppercase MAILTO:) on every 3rd. Anchors decode
    entities one level ('&amp;' last, the sitemap chain). Every rule
    is an explicit-class regex both engines run verbatim; compared
    values are strings and exact booleans. Plan: map-only explode —
    no shuffle beyond the synthesis itself."""
    from ..functions.crawl import html_link_graph

    docs = parallelize_small(t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id").cast("bigint")
    hid = (d % 6).cast("int").cast("string")
    nxt = ((d + 1) % 6).cast("int").cast("string")
    ds = d.cast("string")
    url = F.concat(
        F.lit("https://site"), hid, F.lit(".com/dir/page"), ds, F.lit(".html")
    )
    html = F.concat(
        F.lit('<html><body><a href="https://site'), nxt, F.lit(".com/x"), ds,
        F.lit('">Abs &amp; link</a>'),
        F.lit("<a href='/r"), ds, F.lit("'> <b>Root</b>\nlink "), ds, F.lit(" </a>"),
        F.lit('<a href="sub/q'), ds, F.lit('">rel</a>'),
        F.lit('<a href="//cdn'), hid, F.lit('.com/a">cdn</a>'),
        F.when(
            d % 2 == 0,
            F.lit('<a rel="nofollow" href="/nf">NF &lt;here&gt;</a>'),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.lit(
                '<a href="#top">top</a><a href="javascript:void(0)">js</a>'
                '<a href="MAILTO:x@y.z">m</a>'
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return html_link_graph(pages)


# --- legacy-charset decode (r15) -----------------------------------------------

#: single source for the legacy-decode golden: the TEXT constants are
#: what both engines must produce; the latin-1 projections of their
#: legacy encodings are what the Spark synth feeds the parser. Driver
#: Python is the only place the legacy codec tables live — the oracle
#: never decodes, it selects the expected constant by shape.
_LEGACY_TEXTS = {
    "shift_jis": "こんにちは世界、データ処理。",
    "euc-jp": "日本語のテキスト抽出と正規化。",
    "gbk": "你好，世界。大规模文本处理。",
}
_LEGACY_PROJ = {
    cs: txt.encode(cs).decode("ISO-8859-1") for cs, txt in _LEGACY_TEXTS.items()
}
_LEGACY_ASCII = "plain ascii body under an unknown charset label"


@golden(
    "warc_legacy_charset_records",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'shift_jis' WHEN 1 THEN 'euc-jp' WHEN 2 THEN 'gbk'
        ELSE 'x-future-cs' END AS charset,
      CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN '{_LEGACY_TEXTS["shift_jis"]}'
        WHEN 1 THEN '{_LEGACY_TEXTS["euc-jp"]}'
        WHEN 2 THEN '{_LEGACY_TEXTS["gbk"]}'
        ELSE '{_LEGACY_ASCII}' END AS body
    FROM documents
    """,
)
@memo_golden("warc_legacy_charset_records")
def warc_legacy_charset_records(spark, sf_dir):
    """Legacy-charset crawl bodies decoded for real (r15,
    functions/crawl.py::decode_legacy_bodies — upgrades the documented
    'Shift-JIS comes out mojibake' lenient fallback): synthesized WARC
    response records cycle Shift_JIS / EUC-JP / GBK bodies plus an
    UNKNOWN charset label over an ASCII body (LookupError keeps the
    lenient column result). The byte-exact parser slices the
    multi-byte payloads by octet Content-Length (computed as the
    latin-1 projection's char length — chars == bytes by the
    bijection), then the declared-legacy tail routes through ONE
    Arrow-batched decode while native rows never leave the column
    path. The oracle never decodes: expected text and the projection
    literals share one driver-side constant table, so a one-byte
    framing slip or a wrong codec shows as a string mismatch."""
    from ..functions.crawl import decode_legacy_bodies, warc_extract_binary

    docs = parallelize_small(t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    k = (d % 4).cast("int")
    body_proj = (
        F.when(k == 0, F.lit(_LEGACY_PROJ["shift_jis"]))
        .when(k == 1, F.lit(_LEGACY_PROJ["euc-jp"]))
        .when(k == 2, F.lit(_LEGACY_PROJ["gbk"]))
        .otherwise(F.lit(_LEGACY_ASCII))
    )
    cs_label = (
        F.when(k == 0, F.lit("shift_jis"))
        .when(k == 1, F.lit("euc-jp"))
        .when(k == 2, F.lit("gbk"))
        .otherwise(F.lit("x-future-cs"))
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
        cs_label,
        F.lit("\r\n\r\n"),
        body_proj,
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://ex"),
        ds,
        F.lit(".com/p\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    records = docs.select(
        big("doc_id").alias("doc_id"),
        F.encode(rec, "ISO-8859-1").alias("record"),
    )
    parsed = warc_extract_binary(records)
    return decode_legacy_bodies(parsed).select(
        F.col("doc_id"), F.col("charset"), F.col("body")
    )


_PAGES_SYNTH_SQL = """
    pages AS (
      SELECT
        'https://site' || CAST(doc_id % 6 AS INT) || '.com/dir/page'
          || CAST(doc_id AS BIGINT) || '.html' AS url,
        '<html><body>'
        || '<a href="https://site' || CAST((doc_id + 1) % 6 AS INT)
          || '.com/x' || CAST(doc_id AS BIGINT) || '">Abs &amp; link</a>'
        || '<a href=''/r' || CAST(doc_id AS BIGINT)
          || '''> <b>Root</b>' || chr(10) || 'link ' || CAST(doc_id AS BIGINT) || ' </a>'
        || '<a href="sub/q' || CAST(doc_id AS BIGINT) || '">rel</a>'
        || '<a href="//cdn' || CAST(doc_id % 6 AS INT) || '.com/a">cdn</a>'
        || CASE WHEN doc_id % 2 = 0
             THEN '<a rel="nofollow" href="/nf">NF &lt;here&gt;</a>' ELSE '' END
        || CASE WHEN doc_id % 3 = 0
             THEN '<a href="#top">top</a><a href="javascript:void(0)">js</a>'
                  || '<a href="MAILTO:x@y.z">m</a>' ELSE '' END
        || '</body></html>' AS html
      FROM documents
    )
"""


@golden(
    "host_link_stats_docs",
    oracle=f"""
    WITH {_PAGES_SYNTH_SQL.strip()},
    {_link_graph_sql().strip()},
    hh AS (
      SELECT
        lower(COALESCE(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#:]*).*$', 1), '')) AS src_host,
        lower(COALESCE(regexp_extract(dst, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#:]*).*$', 1), '')) AS dst_host,
        dst, nofollow
      FROM edges
    )
    SELECT src_host,
      CAST(COUNT(*) AS BIGINT) AS out_links,
      CAST(SUM(CASE WHEN dst_host <> src_host THEN 1 ELSE 0 END) AS BIGINT) AS external_links,
      CAST(SUM(CASE WHEN nofollow THEN 1 ELSE 0 END) AS BIGINT) AS nofollow_links,
      CAST(COUNT(DISTINCT dst) AS BIGINT) AS distinct_targets,
      CAST(COUNT(DISTINCT CASE WHEN dst_host <> src_host THEN dst_host END) AS BIGINT) AS external_hosts
    FROM hh GROUP BY src_host
    """,
)
def host_link_stats_docs(spark, sf_dir):
    """Host-level link-graph rollup (r15 — the aggregation layer over
    html_link_graph that a crawl scheduler and a spam/quality model
    both read): per source host, out-link count, external-link count
    (dst host differs), nofollow count, distinct link targets and
    distinct external hosts. Same synthesized pages as
    html_link_graph_docs, so the edge extraction is double-gated (raw
    edges exactly there, aggregates exactly here). All compared
    values are exact integers. Plan: the edge explode is map-only;
    the rollup is ONE partial-agg groupBy on src_host (count-distinct
    expands to the standard two-phase plan) — the natural web-graph
    build shape at any corpus size."""
    from ..functions.crawl import html_link_graph

    docs = parallelize_small(t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id").cast("bigint")
    hid = (d % 6).cast("int").cast("string")
    nxt = ((d + 1) % 6).cast("int").cast("string")
    ds = d.cast("string")
    url = F.concat(
        F.lit("https://site"), hid, F.lit(".com/dir/page"), ds, F.lit(".html")
    )
    html = F.concat(
        F.lit('<html><body><a href="https://site'), nxt, F.lit(".com/x"), ds,
        F.lit('">Abs &amp; link</a>'),
        F.lit("<a href='/r"), ds, F.lit("'> <b>Root</b>\nlink "), ds, F.lit(" </a>"),
        F.lit('<a href="sub/q'), ds, F.lit('">rel</a>'),
        F.lit('<a href="//cdn'), hid, F.lit('.com/a">cdn</a>'),
        F.when(
            d % 2 == 0,
            F.lit('<a rel="nofollow" href="/nf">NF &lt;here&gt;</a>'),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.lit(
                '<a href="#top">top</a><a href="javascript:void(0)">js</a>'
                '<a href="MAILTO:x@y.z">m</a>'
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    edges = html_link_graph(pages)

    def host(c):
        return F.lower(
            F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#:]*).*$", 1)
        )

    hh = edges.select(
        host(F.col("url")).alias("src_host"),
        host(F.col("dst")).alias("dst_host"),
        F.col("dst"),
        F.col("nofollow"),
    )
    ext = (F.col("dst_host") != F.col("src_host")).cast("int")
    return hh.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("out_links"),
        F.sum(ext).cast("bigint").alias("external_links"),
        F.sum(F.col("nofollow").cast("int")).cast("bigint").alias("nofollow_links"),
        F.countDistinct("dst").cast("bigint").alias("distinct_targets"),
        F.countDistinct(
            F.when(F.col("dst_host") != F.col("src_host"), F.col("dst_host"))
        ).cast("bigint").alias("external_hosts"),
    )


# --- PDF text extraction (r15) -------------------------------------------------

#: the module-level pieces are plain Python (no Column construction —
#: the driver-contract import rule); page lines are deterministic in
#: doc_id so the oracle can derive the expected text WITHOUT running
#: the parser (the warc_binary / legacy-charset pattern)
_PDF_TAIL = "tail (checks) \\ escapes café"


@golden(
    "pdf_text_extract_docs",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CASE WHEN doc_id % 9 = 0 THEN NULL
        ELSE 'Document ' || CAST(doc_id AS BIGINT) || chr(10)
          || 'body line ' || CAST(doc_id % 7 AS BIGINT) || chr(10)
          || 'Page two of ' || CAST(doc_id AS BIGINT) || chr(10)
          || '{_PDF_TAIL}'
      END AS text,
      CASE WHEN doc_id % 9 = 0 THEN 'not a PDF payload' END AS error
    FROM documents
    """,
)
def pdf_text_extract_docs(spark, sf_dir):
    """PDF text extraction (r15, functions/pdf.py — the dominant
    non-HTML crawl document format, previously a silent nothing):
    per-doc PDFs are ENCODED executor-side with features cycling by
    doc_id — Flate vs raw streams, kerned TJ arrays vs plain Tj, an
    incremental-update /Prev chain — across a TWO-page tree, then
    extracted back. Every 9th doc's payload is not a PDF at all: the
    loud refusal lands in the ``error`` column with NULL text (crawl
    pipelines keep refusal rates visible). The expected text derives
    from the synthesis alone — the oracle never parses — so a wrong
    xref offset, a mis-decoded escape, a dropped TJ segment or a
    broken /Prev walk all surface as exact string mismatches. Escapes
    under test: parens, backslash, and a cp1252 é. Plan: encode and
    extract are both Arrow-batched map-only passes; no shuffle."""
    from ..functions.pdf import pdf_text_extract

    docs = parallelize_small(
        t(spark, sf_dir, "documents").select("doc_id"), cap=16
    )

    tail = _PDF_TAIL

    def gen(batches):
        import pandas as pd

        from ..functions.pdf import encode_pdf

        for b in batches:
            ids, pays = [], []
            for d in b["doc_id"]:
                d = int(d)
                ids.append(d)
                if d % 9 == 0:
                    pays.append(b"not really a pdf")
                    continue
                pages = [
                    [f"Document {d}", f"body line {d % 7}"],
                    [f"Page two of {d}", tail],
                ]
                pays.append(
                    encode_pdf(
                        pages,
                        compress=d % 2 == 0,
                        use_tj_arrays=d % 3 == 0,
                        incremental_noop=d % 4 == 0,
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "payload": pays})

    payloads = docs.mapInPandas(gen, "doc_id long, payload binary")
    return pdf_text_extract(payloads).select(
        big("doc_id").alias("doc_id"), F.col("text"), F.col("error")
    )
