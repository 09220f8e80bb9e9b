"""Engine-stable golden queries for the approximate ANN top-k family
(LSH / IVF / PQ-ADC / IVFADC), closing the round-3 evidence gap: every
pipeline here is replayed value-for-value by a DuckDB oracle — the
candidate set, the ADC distances, the shortlist, and the final ranked
ids all match bit-for-bit, not just statistically.

What makes exactness possible (all verified empirically, see
tests/test_vectors_stable.py):

- DuckDB's ``list_sum`` over a DOUBLE list is a plain LEFT FOLD —
  bit-identical to Spark's ``F.aggregate(xs, 0.0, acc + x)`` at any
  tested length (8 and 64). So every dot product, squared-L2 distance
  and ADC lookup-table sum can be written with the same operand order
  on both sides and compared unrounded.
- Bare decimal literals in DuckDB parse as DECIMAL and lose bits when
  cast to DOUBLE; string-cast literals (``'0.123…'::DOUBLE``) parse
  with correctly-rounded strtod and round-trip Python ``repr`` exactly.
  ``_dlist`` embeds the LSH hyperplanes that way.
- The IVF/PQ model constants are the per-label exact-mean centroids
  (DECIMAL sums / n — engine-identical), the same construction that
  made ``pq_encode_codes`` and ``kmeans_assign_exact`` bit-exact in
  round 3. Production paths keep their trained codebooks
  (``train_ivf_centroids`` / ``train_pq_codebooks``); these goldens pin
  the ENGINE, not the model.

Reference semantics: cosine filter contract
``/root/reference/proto/hydraide.proto:2660-2709``,
``app/server/gateway/filter.go:594-608`` (score = dot/(|a||b|),
dim-mismatch excluded). The approximate structures are public designs:
random-hyperplane LSH (Charikar STOC'02), IVF/ADC/IVFADC (Jégou et al.
TPAMI'11).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions._cache import memo
from ..functions.vector import (
    centroid_means,
    lsh_knn_self_join,
    lsh_multiprobe_topk,
    group_centroid_sums,
    ivf_topk,
    ivfadc_topk,
    label_pq_codebooks,
    lsh_topk,
    make_planes,
    pq_adc_topk,
)
from . import golden
from ._util import big, memo_golden, parallelize_small, t

# ---------------------------------------------------------------- SQL


def _dlist(vs) -> str:
    """DOUBLE[] literal that round-trips Python floats exactly (bare
    decimal literals would parse as DECIMAL and drop bits)."""
    return "[" + ", ".join(f"'{float(v)!r}'::DOUBLE" for v in vs) + "]"


def _dot(a: str, b: str, n: int = 64) -> str:
    """Left-fold dot product — same operand order as
    query.filters.dot_product (zip_with products, then aggregate)."""
    return (
        f"list_sum(list_transform(range(1, {n + 1}), "
        f"i -> ({a})[i] * ({b})[i]))"
    )


def _cos(a: str, b: str) -> str:
    """Same expression tree as query.filters.cosine_similarity:
    dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) — every step IEEE
    correctly-rounded, so bit-equal given bit-equal inputs."""
    return f"(({_dot(a, b)}) / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


def _sqdist(a: str, b: str, off: str = "0", n: int = 64) -> str:
    """Left-fold squared L2 over ``n`` components starting after
    ``off`` — mirrors functions.vector._sq_l2_fold (zip_with diffs
    squared, aggregate)."""
    return (
        f"list_sum(list_transform(range(1, {n + 1}), "
        f"i -> (({a})[{off} + i] - ({b})[{off} + i])"
        f" * (({a})[{off} + i] - ({b})[{off} + i])))"
    )


_E = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

# Per-label exact-mean centroids: DECIMAL component sums -> DOUBLE / n,
# identical in both engines (the kmeans_assign_exact construction).
_CVEC = """
    cent AS (
      SELECT label, i AS dim,
             CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,9)))
                  AS DOUBLE) / count(*) AS m
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY label, i
    ),
    cvec AS (SELECT label, list(m ORDER BY dim) AS cv FROM cent GROUP BY label)
"""

# Corpus IVF cell assignment + query probes. Spark's ivf_cell_expr
# sorts struct(s, j) ascending and reverses => score DESC, j DESC with
# the LARGEST j winning ties; the probe list is the first nprobe of the
# same ordering.
_CELLS = f"""
    cs AS (
      SELECT e.vec_id, e.v, c.label AS j, {_dot('e.v', 'c.cv')} AS s
      FROM e CROSS JOIN cvec c
    ),
    cellr AS (
      SELECT vec_id, v, j,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, j DESC) AS rn
      FROM cs
    ),
    cells AS (SELECT vec_id, v, j AS cell FROM cellr WHERE rn = 1)
"""

# PQ codes from the label codebooks (the pq_encode_codes construction):
# per (vector, subspace) argmin squared-L2, ties -> smallest code.
_CODES = f"""
    sd AS (
      SELECT e.vec_id, s.j AS sub, c.label,
             {_sqdist('e.v', 'c.cv', off='s.j * 8', n=8)} AS d
      FROM e
      CROSS JOIN unnest(range(0, 8)) AS s(j)
      CROSS JOIN cvec c
    ),
    coder AS (
      SELECT vec_id, sub, label,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY d ASC, label ASC) AS rn
      FROM sd
    ),
    codesl AS (
      SELECT vec_id, list(label ORDER BY sub) AS codes
      FROM coder WHERE rn = 1 GROUP BY vec_id
    )
"""

# Per-query ADC lookup table: lut[j][label+1] = squared-L2 between the
# query's j-th subvector and label's j-th centroid subvector, nested
# lists ordered by (j, label) so the fold below indexes positionally.
_LUT = f"""
    lutd AS (
      SELECT q.query_id, s.j, c.label,
             {_sqdist('q.qv', 'c.cv', off='s.j * 8', n=8)} AS d
      FROM q
      CROSS JOIN unnest(range(0, 8)) AS s(j)
      CROSS JOIN cvec c
    ),
    lutj AS (
      SELECT query_id, j, list(d ORDER BY label) AS ds
      FROM lutd GROUP BY query_id, j
    ),
    lutq AS (
      SELECT query_id, list(ds ORDER BY j) AS lut
      FROM lutj GROUP BY query_id
    )
"""

# ADC distance: left fold over subspaces j=1..8 of lut[j][code_j + 1]
# — same order as pq_adc_topk's F.aggregate over sequence(1, m); code
# ids are the sorted contiguous labels so position = code + 1 exactly
# like Spark's array_position over the code-id list.
_ADIST = "list_sum(list_transform(range(1, 9), j -> l.lut[j][c.codes[j] + 1]))"

_Q5 = "SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5"

_RERANK = f"""
    shortr AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, vec_id ASC) AS rn
      FROM ad
    ),
    ex AS (
      SELECT s.query_id, s.vec_id, {_sqdist('e.v', 'q.qv')} AS adist
      FROM shortr s
      JOIN e ON e.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
      WHERE s.rn <= 100
    ),
    rr AS (
      SELECT query_id, vec_id, adist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, vec_id ASC) AS rn
      FROM ex
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(adist, 4) AS adist
    FROM rr WHERE rn <= 10
"""

# ------------------------------------------------------------ helpers

_LSH_BITS = 6
_PLANES = make_planes(dim=64, n_bits=_LSH_BITS, seed=42)


def _label_centroid_list(spark, sf_dir) -> list[list[float]]:
    """Per-label mean centroids ordered so index j == label j (labels
    are contiguous from 0 in the embeddings table; asserted). A model
    memo: exact-decimal label means are a pure function of sf_dir, so
    the four stable goldens share one training."""

    def _train():
        emb = t(spark, sf_dir, "embeddings")
        cents = centroid_means(
            group_centroid_sums(emb, "label", "embedding").collect()
        )
        assert [lab for lab, _ in cents] == list(range(len(cents)))
        return [vec for _, vec in cents]

    return memo(("model", "label_centroids", sf_dir), _train)


def _queries_df(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


# ------------------------------------------------------------ goldens


_LSH_BUCKET = "concat(" + ", ".join(
    f"CASE WHEN {_dot('e.v', f'pl.p{i}')} >= 0 THEN '1' ELSE '0' END"
    for i in range(_LSH_BITS)
) + ")"

_LSH_PLANES_CTE = "SELECT " + ", ".join(
    f"{_dlist(p)} AS p{i}" for i, p in enumerate(_PLANES)
)


@golden(
    "ann_topk_lsh_stable",
    oracle=f"""
    WITH e AS ({_E}),
    pl AS ({_LSH_PLANES_CTE}),
    b AS (
      SELECT e.vec_id, e.v, {_LSH_BUCKET} AS bucket
      FROM e CROSS JOIN pl
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
          FROM b WHERE vec_id < 5),
    cand AS (
      SELECT q.query_id, b.vec_id, {_cos('b.v', 'q.qv')} AS score
      FROM b JOIN q ON b.bucket = q.qb
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC) AS rn
      FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(score, 4) AS score
    FROM ranked WHERE rn <= 10
    """,
)
def ann_topk_lsh_stable(spark, sf_dir):
    """Random-hyperplane LSH ANN, ENGINE-STABLE: the fixed-seed
    hyperplanes are embedded in the oracle as exact string-cast DOUBLE
    literals, every sign-bit dot product is the same left fold in both
    engines, so the bucket of every row — and therefore the candidate
    set, the re-rank scores, and the final top-10 — is bit-identical,
    zero margin required. Same plan as the rows-only `ann_topk_lsh`
    (bucket equi-join, broadcast queries, per-query window): the bucket
    is a write-time partition key at 100 TB."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    out = lsh_topk(emb, _queries_df(emb), k=10, dim=64, n_bits=_LSH_BITS, seed=42)
    return out.select(
        big("query_id").alias("query_id"),
        big("vec_id").alias("vec_id"),
        F.round("score", 4).alias("score"),
    )


@golden(
    "ann_topk_ivf_stable",
    oracle=f"""
    WITH e AS ({_E}),
    {_CVEC.strip()},
    {_CELLS.strip()},
    probed AS (SELECT vec_id AS query_id, v AS qv, j AS cell
               FROM cellr WHERE vec_id < 5 AND rn <= 2),
    cand AS (
      SELECT p.query_id, c.vec_id, {_cos('c.v', 'p.qv')} AS score
      FROM cells c JOIN probed p ON c.cell = p.cell
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC) AS rn
      FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(score, 4) AS score
    FROM ranked WHERE rn <= 10
    """,
)
def ann_topk_ivf_stable(spark, sf_dir):
    """IVF ANN, ENGINE-STABLE: cells are the per-label exact-mean
    centroids (DECIMAL sums / n — engine-identical), assignment is
    argmax dot with Spark's largest-j tiebreak replayed as ORDER BY
    s DESC, j DESC, queries probe their 2 best cells, exact cosine
    re-rank within candidates. Bit-identical cells -> bit-identical
    candidates -> bit-identical top-10. Same partition-pruned scan
    shape as the rows-only `ann_topk_ivf`."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    cents = _label_centroid_list(spark, sf_dir)
    out = ivf_topk(emb, _queries_df(emb), k=10, centroids=cents, nprobe=2)
    return out.select(
        big("query_id").alias("query_id"),
        big("vec_id").alias("vec_id"),
        F.round("score", 4).alias("score"),
    )


@golden(
    "pq_ann_topk_stable",
    oracle=f"""
    WITH e AS ({_E}),
    {_CVEC.strip()},
    {_CODES.strip()},
    q AS ({_Q5}),
    {_LUT.strip()},
    ad AS (
      SELECT l.query_id, c.vec_id, {_ADIST} AS adist
      FROM lutq l CROSS JOIN codesl c
    ),
    {_RERANK.strip()}
    """,
)
@memo_golden("pq_ann_topk_stable")
def pq_ann_topk_stable(spark, sf_dir):
    """PQ ADC+R ANN, ENGINE-STABLE: codebooks are the per-label mean
    subvectors (the bit-exact `pq_encode_codes` construction), so the
    oracle replays the ENTIRE pipeline — 8 codes per vector, the
    per-query ADC lookup table, the left-fold approximate distances,
    the 100-row shortlist, and the exact squared-L2 re-rank — value
    for value. The corpus is still scanned as 8-byte codes with raw
    vectors fetched only for the shortlist equi-join (the 100 TB
    contract of `pq_adc_topk`); only the codebook SOURCE differs from
    the trained rows-only variant."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    books = memo(
        ("model", "label_books", sf_dir, 8), lambda: label_pq_codebooks(emb, m=8)
    )
    out = pq_adc_topk(emb, _queries_df(emb), books, dim=64, k=10, rerank_factor=10)
    return out.select(
        big("query_id").alias("query_id"),
        big("vec_id").alias("vec_id"),
        F.round("adist", 4).alias("adist"),
    )


@golden(
    "ivfadc_topk_stable",
    oracle=f"""
    WITH e AS ({_E}),
    {_CVEC.strip()},
    {_CELLS.strip()},
    probed AS (SELECT vec_id AS query_id, j AS cell
               FROM cellr WHERE vec_id < 5 AND rn <= 4),
    {_CODES.strip()},
    q AS ({_Q5}),
    {_LUT.strip()},
    enc AS (SELECT cells.vec_id, cells.cell, codesl.codes
            FROM cells JOIN codesl USING (vec_id)),
    ad AS (
      SELECT p.query_id, c.vec_id, {_ADIST} AS adist
      FROM probed p
      JOIN enc c ON c.cell = p.cell
      JOIN lutq l ON l.query_id = p.query_id
    ),
    {_RERANK.strip()}
    """,
)
def ivfadc_topk_stable(spark, sf_dir):
    """IVFADC, ENGINE-STABLE: the full at-scale architecture — IVF
    cell routing (nprobe=4), ADC scoring over 8-byte codes, shortlist,
    exact re-rank — with both model components pinned to the exact
    per-label means so DuckDB replays every stage bit-for-bit. The
    oracle proves the ENGINE: cell partition pruning, the LUT join,
    the fold order of the approximate distances, and the shortlist
    boundary all match exactly; recall properties of TRAINED models
    stay asserted in tests for the rows-only `ivfadc_topk`."""
    def _build():
        emb = parallelize_small(t(spark, sf_dir, "embeddings"))
        cents = _label_centroid_list(spark, sf_dir)
        books = memo(
            ("model", "label_books", sf_dir, 8), lambda: label_pq_codebooks(emb, m=8)
        )
        out = ivfadc_topk(
            emb, _queries_df(emb), cents, books,
            dim=64, k=10, nprobe=4, rerank_factor=10,
        )
        return out.select(
            big("query_id").alias("query_id"),
            big("vec_id").alias("vec_id"),
            F.round("adist", 4).alias("adist"),
        )

    # plan memo (r16): pure plan over memoized models, no persists
    return memo(("plan", "ivfadc_topk_stable", sf_dir), _build)


@golden(
    "knn_self_join_stable",
    oracle=f"""
    WITH e AS ({_E}),
    pl AS ({_LSH_PLANES_CTE}),
    b AS (
      SELECT e.vec_id, e.v, {_LSH_BUCKET} AS bucket
      FROM e CROSS JOIN pl
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {_cos('a.v', 'c.v')} AS score
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT id_a, id_b, score,
             ROW_NUMBER() OVER (PARTITION BY id_a
                                ORDER BY score DESC, id_b ASC) AS rn
      FROM cand
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           round(score, 4) AS score,
           CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
@memo_golden("knn_self_join_stable")
def knn_self_join_stable(spark, sf_dir):
    """kNN-graph construction, ENGINE-STABLE: every embedding's top-5
    cosine neighbors among its LSH bucket-mates, candidate volume
    bounded by the bucket equi-join (sum of bucket sizes squared —
    never corpus²) and the final graph bit-identical in SQL (exact
    plane literals, left-fold dots, deterministic rank tiebreaks).
    The all-rows companion of `ann_topk_lsh_stable`; coverage/recall
    of single-probe bucketing is the documented LSH trade."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    out = lsh_knn_self_join(emb, k=5, dim=64, n_bits=_LSH_BITS, seed=42)
    return out.select(
        big("id_a").alias("id_a"),
        big("id_b").alias("id_b"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


_PLANE_ROWS = ", ".join(
    f"({i}, {_dlist(p)})" for i, p in enumerate(_PLANES)
)


@golden(
    "ann_topk_multiprobe_stable",
    oracle=f"""
    WITH e AS ({_E}),
    pl AS ({_LSH_PLANES_CTE}),
    plr AS (SELECT * FROM (VALUES {_PLANE_ROWS}) AS t(p, pv)),
    b AS (
      SELECT e.vec_id, e.v, {_LSH_BUCKET} AS bucket
      FROM e CROSS JOIN pl
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
          FROM b WHERE vec_id < 5),
    conf AS (
      SELECT q.query_id, plr.p,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY abs({_dot('q.qv', 'plr.pv')}) ASC, plr.p ASC
             ) AS rn
      FROM q CROSS JOIN plr
    ),
    probes AS (
      SELECT query_id, qb AS pb FROM q
      UNION ALL
      SELECT c.query_id,
             substr(q.qb, 1, c.p)
             || (CASE WHEN substr(q.qb, c.p + 1, 1) = '1'
                      THEN '0' ELSE '1' END)
             || substr(q.qb, c.p + 2, {_LSH_BITS}) AS pb
      FROM conf c JOIN q ON q.query_id = c.query_id
      WHERE c.rn <= 3
    ),
    cand AS (
      SELECT p.query_id, b.vec_id, {_cos('b.v', 'q.qv')} AS score
      FROM probes p
      JOIN b ON b.bucket = p.pb
      JOIN q ON q.query_id = p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC) AS rn
      FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(score, 4) AS score
    FROM ranked WHERE rn <= 10
    """,
)
def ann_topk_multiprobe_stable(spark, sf_dir):
    """Multi-probe LSH (Lv et al. VLDB'07), ENGINE-STABLE: each query
    probes its bucket plus the 3 buckets from flipping its
    least-confident sign bits — probe SELECTION (sort by exact |dot|
    with plane-index tiebreak), the flipped bucket strings, the
    candidate set and the re-ranked top-10 all replay bit-for-bit in
    SQL. Recall rises toward multi-table levels while the corpus stays
    bucketed once (n_probes partition-pruned lookups at scale, not L
    hash tables); the recall lift itself is pinned in
    tests/test_vectors_stable.py."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    out = lsh_multiprobe_topk(
        emb, _queries_df(emb), k=10, dim=64, n_bits=_LSH_BITS, n_probes=4, seed=42
    )
    return out.select(
        big("query_id").alias("query_id"),
        big("vec_id").alias("vec_id"),
        F.round("score", 4).alias("score"),
    )


# 12 planes cover auto_lsh_bits up to n = 64 * 2^12 = 262K embeddings —
# far beyond any gate scale factor; make_planes draws row-major from one
# seeded stream, so the first k rows ARE make_planes(dim, k, seed)
# (prefix property, asserted in tests/test_vectors_stable.py).
_AUTO_MAX_BITS = 12
_PLANES12 = make_planes(dim=64, n_bits=_AUTO_MAX_BITS, seed=42)

_AUTO_PLANES_CTE = "SELECT " + ", ".join(
    f"{_dlist(p)} AS p{i}" for i, p in enumerate(_PLANES12)
)

# bits = max(4, min(24, ceil(log2(n / target)))) — auto_lsh_bits
# replicated; log2 is exact when n/target is a power of two and has
# >> 1-ulp slack from integers otherwise, so ceil agrees cross-engine.
_AUTO_BITS_CTE = (
    "SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2("
    "CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) / 64.0)) AS INT))) AS bits"
)

_AUTO_BUCKET = "concat(" + ", ".join(
    f"CASE WHEN {i} < nb.bits THEN "
    f"(CASE WHEN {_dot('e.v', f'pl.p{i}')} >= 0 THEN '1' ELSE '0' END) "
    f"ELSE '' END"
    for i in range(_AUTO_MAX_BITS)
) + ")"

# engine normalization order: one l2 norm per row (left fold of
# squares), then per-element division, then a left-fold dot of the
# normalized arrays — each step IEEE correctly-rounded, replayed here
# with the identical operand order.
_SUMSQ = "list_sum(list_transform(e.v, x -> x * x))"


# The raw embeddings table has NO same-label pairs above near-dup
# cosine at any gate sf (tau 0.95 or even 0.7 yields zero rows — a
# vacuous gate), so the golden builds a near-dup-RICH corpus
# deterministically: every vector gets a jittered twin (per-component
# scale 1 + ((vec_id + i) % 7 - 3)/1000, id offset 10M) — pure
# correctly-rounded arithmetic both engines replay bit-for-bit.
_AUTO_CORPUS = """
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000000, label,
             list_transform(range(1, 65),
               i -> (embedding::DOUBLE[])[i]
                    * ('1.0'::DOUBLE
                       + CAST((vec_id + (i - 1)) % 7 - 3 AS DOUBLE)
                         * '0.001'::DOUBLE))
      FROM embeddings
"""


@golden(
    "embedding_neardup_auto_stable",
    oracle=f"""
    WITH c AS ({_AUTO_CORPUS}),
    pl AS ({_AUTO_PLANES_CTE}),
    nb AS (
      SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2(
        CAST((SELECT COUNT(*) FROM c) AS DOUBLE) / 64.0)) AS INT))) AS bits
    ),
    b AS (
      SELECT e.vec_id, e.label,
             {_AUTO_BUCKET} AS bucket,
             list_transform(e.v, x -> x / sqrt({_SUMSQ})) AS vn
      FROM c e CROSS JOIN pl CROSS JOIN nb
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c2.vec_id AS id_b,
             list_sum(list_transform(range(1, 65),
                                     i -> a.vn[i] * c2.vn[i])) AS score
      FROM b a JOIN b c2
        ON a.label = c2.label AND a.bucket = c2.bucket AND a.vec_id < c2.vec_id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           round(score, 4) AS score
    FROM cand WHERE score >= '0.95'::DOUBLE
    """,
)
def embedding_neardup_auto_stable(spark, sf_dir):
    """Embedding near-dup with the CORPUS-SCALED blocking the 30x scale
    stress made necessary (fixed-cardinality label blocking measured
    b=1.21; composing it with an auto-bit LSH sub-bucket returns
    b=0.27): block = (label, sign-bit bucket) where the bit count
    derives from one corpus COUNT via auto_lsh_bits, pinning expected
    occupancy as the corpus grows. ENGINE-STABLE: the oracle replays
    the jittered-twin corpus construction, the bit-count formula, the
    bucket strings, the normalize-then-dot operand order, and the tau
    comparison on bit-identical doubles — the full pipeline, not a
    statistic. Single-probe recall (a true pair must agree on every
    sub-bucket bit) is the documented trade; near-identical twins agree
    on ~all bits, so the pair set here is dense, not vacuous."""
    from ..functions.dedup import embedding_neardup_pairs

    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jit = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.col("label"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), (x, i) -> "
            "x * (1.0D + CAST((vec_id + i) % 7 - 3 AS DOUBLE) * 0.001D))"
        ).alias("embedding"),
    )
    corpus = base.unionByName(jit)
    out = embedding_neardup_pairs(
        corpus, tau=0.95, block_col="label", auto_bucket_target=64, dim=64, seed=42
    )
    return out.select(
        big("id_a").alias("id_a"),
        big("id_b").alias("id_b"),
        F.round("score", 4).alias("score"),
    )


@golden(
    "embedding_neardup_int8",
    oracle=f"""
    WITH c AS ({_AUTO_CORPUS}),
    pl AS ({_AUTO_PLANES_CTE}),
    nb AS (
      SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2(
        CAST((SELECT COUNT(*) FROM c) AS DOUBLE) / 64.0)) AS INT))) AS bits
    ),
    b AS (
      SELECT e.vec_id, e.label,
             {_AUTO_BUCKET} AS bucket,
             CASE WHEN e.m = 0
                  THEN list_transform(e.v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(e.v, x -> CAST(GREATEST(-127, LEAST(127,
                         FLOOR(x * 127.0 / e.m + 0.5))) AS BIGINT)) END AS q
      FROM (
        SELECT vec_id, label, v,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM c
      ) e CROSS JOIN pl CROSS JOIN nb
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c2.vec_id AS id_b,
             CASE WHEN sqrt(CAST(list_dot_product(a.q, a.q) AS BIGINT))
                       * sqrt(CAST(list_dot_product(c2.q, c2.q) AS BIGINT)) = 0
                  THEN 0.0::DOUBLE
                  ELSE CAST(CAST(list_dot_product(a.q, c2.q) AS BIGINT) AS DOUBLE)
                       / (sqrt(CAST(list_dot_product(a.q, a.q) AS BIGINT))
                          * sqrt(CAST(list_dot_product(c2.q, c2.q) AS BIGINT)))
                  END AS est
      FROM b a JOIN b c2
        ON a.label = c2.label AND a.bucket = c2.bucket AND a.vec_id < c2.vec_id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           ROUND(est, 10) AS est_cos
    FROM cand WHERE est >= '0.95'::DOUBLE
    """,
)
def embedding_neardup_int8(spark, sf_dir):
    """Embedding near-dup with int8 codes as the VERIFY representation
    (r10): blocking identical to embedding_neardup_auto_stable (label ×
    auto-bit LSH sub-bucket on the float vector), but the candidate
    join carries 64-byte tinyint codes + one precomputed code norm
    instead of 64 normalized doubles (8× less verify shuffle payload)
    and the score is the normalized CODE cosine — exact integers
    through sqrt and one divide, so the full pipeline including the tau
    comparison replays bit-identically in SQL with the PRODUCTION
    blocking (no *_stable md5 twin needed — same property as
    ann_topk_int8). Agreement with the float verify is asserted in
    tests/test_int8_ann.py."""
    from ..functions.dedup import embedding_neardup_pairs_int8

    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jit = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.col("label"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), (x, i) -> "
            "x * (1.0D + CAST((vec_id + i) % 7 - 3 AS DOUBLE) * 0.001D))"
        ).alias("embedding"),
    )
    corpus = base.unionByName(jit)
    out = embedding_neardup_pairs_int8(
        corpus, tau=0.95, block_col="label", auto_bucket_target=64,
        dim=64, seed=42,
    )
    return out.select(
        big("id_a").alias("id_a"),
        big("id_b").alias("id_b"),
        F.round("est_cos", 10).alias("est_cos"),
    )


@golden(
    "knn_self_join_auto_stable",
    oracle=f"""
    WITH e AS ({_E}),
    pl AS ({_AUTO_PLANES_CTE}),
    nb AS (
      SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2(
        CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) / 32.0)) AS INT))) AS bits
    ),
    b AS (
      SELECT e.vec_id, e.v, {_AUTO_BUCKET} AS bucket
      FROM e CROSS JOIN pl CROSS JOIN nb
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {_cos('a.v', 'c.v')} AS score
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT id_a, id_b, score,
             ROW_NUMBER() OVER (PARTITION BY id_a
                                ORDER BY score DESC, id_b ASC) AS rn
      FROM cand
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           round(score, 4) AS score,
           CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def knn_self_join_auto_stable(spark, sf_dir):
    """kNN-graph via the PRODUCTION auto-sized path (n_bits=None →
    auto_lsh_bits, target occupancy 32): the bucket-bit count the
    engine derives from one corpus COUNT is replayed by the oracle's
    bits CTE over the same 12 inlined planes (prefix property), so the
    whole pipeline — bit formula, bucket strings, cosine, rank
    tiebreaks — is certified, not just the pinned-bits oracle twin.
    With `knn_self_join_stable` (pinned bits) this closes the gap the
    30× stress highlighted: the quadratic-prone pinned form exists
    only for the oracle, and now the auto form IS oracle-gated too."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    out = lsh_knn_self_join(emb, k=5, dim=64, seed=42)
    return out.select(
        big("id_a").alias("id_a"),
        big("id_b").alias("id_b"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


_INT8_CODES = """
    codes AS (
      SELECT vec_id, cell,
             CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(GREATEST(-127, LEAST(127,
                         FLOOR(x * 127.0 / m + 0.5))) AS BIGINT)) END AS q
      FROM (
        SELECT vec_id, v, cell,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM cells
      )
    )
"""


@golden(
    "ann_topk_int8_ivf_stable",
    oracle=f"""
    WITH e AS ({_E}),
    {_CVEC.strip()},
    {_CELLS.strip()},
    {_INT8_CODES.strip()},
    probed AS (SELECT vec_id AS query_id, j AS cell
               FROM cellr WHERE vec_id < 5 AND rn <= 2),
    qcodes AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
    cand AS (
      SELECT p.query_id, c.vec_id,
             CAST(list_dot_product(qc.qq, c.q) AS BIGINT) AS qdot,
             sqrt(CAST(list_dot_product(c.q, c.q) AS BIGINT))
               * sqrt(CAST(list_dot_product(qc.qq, qc.qq) AS BIGINT)) AS nn
      FROM codes c
      JOIN probed p ON c.cell = p.cell
      JOIN qcodes qc ON qc.query_id = p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, qdot,
             CASE WHEN nn = 0 THEN 0.0::DOUBLE
                  ELSE CAST(qdot AS DOUBLE) / nn END AS est,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY CASE WHEN nn = 0 THEN 0.0::DOUBLE
                                  ELSE CAST(qdot AS DOUBLE) / nn END DESC,
                             vec_id ASC) AS INTEGER) AS rank
      FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           qdot, ROUND(est, 10) AS est_cos, rank
    FROM ranked WHERE rank <= 10
    """,
)
@memo_golden("ann_topk_int8_ivf_stable")
def ann_topk_int8_ivf_stable(spark, sf_dir):
    """IVF × int8 composed, ENGINE-STABLE end to end: cells from the
    per-label exact-mean centroids (bit-identical assignment, the
    ann_topk_ivf_stable construction), candidates from each query's 2
    probed cells, re-rank by the normalized int8 code cosine — codes
    are floor(x·127/maxabs + 0.5) exact integers and the cosine is
    exact-int operands through sqrt+divide, so the WHOLE pipeline
    (cells, probes, codes, dots, ranking) replays in SQL with zero
    margin. The candidate plan is the composed 100 TB serving shape
    (partition-pruned probe, 4× smaller rows); the ×30 wall of THIS
    golden is dominated by the in-query per-label centroid FIT that
    oracle-stability requires (one DECIMAL agg over corpus×dim) —
    production serves with fixed trained centroids through
    ``ivf_int8_topk``/``ivf_int8_from_state`` and never refits per
    query."""
    from ..functions.vector import ivf_int8_topk

    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    cents = _label_centroid_list(spark, sf_dir)
    out = ivf_int8_topk(emb, _queries_df(emb), k=10, centroids=cents, nprobe=2)
    return out.select(
        big("query_id").alias("query_id"),
        big("vec_id").alias("vec_id"),
        F.col("qdot"),
        F.round("est_cos", 10).alias("est_cos"),
        F.col("rank").cast("int").alias("rank"),
    )


@golden(
    "neardup_truth_eval",
    oracle=f"""
    WITH c AS ({_AUTO_CORPUS}),
    pl AS ({_AUTO_PLANES_CTE}),
    nb AS (
      SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2(
        CAST((SELECT COUNT(*) FROM c) AS DOUBLE) / 64.0)) AS INT))) AS bits
    ),
    b AS (
      SELECT e.vec_id,
             {_AUTO_BUCKET} AS bucket,
             list_transform(e.v, x -> x / sqrt({_SUMSQ})) AS vn
      FROM c e CROSS JOIN pl CROSS JOIN nb
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c2.vec_id AS id_b,
             list_sum(list_transform(range(1, 65),
                                     i -> a.vn[i] * c2.vn[i])) AS score
      FROM b a JOIN b c2
        ON a.bucket = c2.bucket AND a.vec_id < c2.vec_id
    ),
    f AS (
      SELECT CAST(id_a AS BIGINT) AS _a, CAST(id_b AS BIGINT) AS _b
      FROM cand WHERE score >= '0.95'::DOUBLE
    ),
    tr AS (
      SELECT CAST(vec_id AS BIGINT) AS _a,
             CAST(vec_id + 10000000 AS BIGINT) AS _b
      FROM embeddings
    ),
    agg AS (
      SELECT (SELECT COUNT(*) FROM f) AS n_found,
             (SELECT COUNT(*) FROM tr) AS n_truth,
             (SELECT COUNT(*) FROM f JOIN tr USING (_a, _b)) AS n_hit
    )
    SELECT CAST(n_found AS BIGINT) AS n_found,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_found > 0
                THEN ROUND(CAST(n_hit AS DOUBLE) / n_found, 10) END AS prec,
           CASE WHEN n_truth > 0
                THEN ROUND(CAST(n_hit AS DOUBLE) / n_truth, 10) END AS rec
    FROM agg
    """,
)
def neardup_truth_eval(spark, sf_dir):
    """r11 #200: planted-duplicate evaluation of a near-dup pipeline
    (functions/dedup.py::dedup_pair_truth_eval) — the threshold/
    blocking QA loop: the corpus carries one jittered twin per vector
    (the KNOWN duplicates), the pipeline here is the PURE auto-bit LSH
    blocking (no label block — precision against planted truth is only
    meaningful when the blocking can admit false pairs), and the
    report is (n_found, n_truth, n_hit, prec, rec). Fully
    SQL-oracle-able: the oracle replays the jittered corpus, the
    seeded planes, the bucket strings, the normalize-then-dot scores
    and the tau cut, then the same exact-integer counts and one
    correctly-rounded division per ratio."""
    from ..functions.dedup import dedup_pair_truth_eval, embedding_neardup_pairs

    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jit = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), (x, i) -> "
            "x * (1.0D + CAST((vec_id + i) % 7 - 3 AS DOUBLE) * 0.001D))"
        ).alias("embedding"),
    )
    corpus = base.unionByName(jit)
    pairs = embedding_neardup_pairs(
        corpus, tau=0.95, block_col=None, auto_bucket_target=64, dim=64, seed=42
    )
    truth = emb.select(
        big("vec_id").alias("id_a"),
        (F.col("vec_id") + F.lit(10_000_000)).cast("bigint").alias("id_b"),
    )
    return dedup_pair_truth_eval(
        pairs.select(
            big("id_a").alias("id_a"), big("id_b").alias("id_b")
        ),
        truth,
    )


# Extra hyperplanes for the r12 adaptive hot-bucket sub-split — an
# INDEPENDENT seeded stream (seed+1000: make_planes is prefix-stable
# per seed, so the same seed would replay the primary planes).
_XPLANES = make_planes(dim=64, n_bits=8, seed=1042)
_XPLANES_CTE = "SELECT " + ", ".join(
    f"{_dlist(p)} AS x{i}" for i, p in enumerate(_XPLANES)
)
_SUB_BUCKET = "concat(" + ", ".join(
    f"(CASE WHEN {_dot('e.v', f'xp.x{i}')} >= 0 THEN '1' ELSE '0' END)"
    for i in range(8)
) + ")"


@golden(
    "knn_self_join_adaptive_stable",
    oracle=f"""
    WITH e AS ({_E}),
    pl AS ({_AUTO_PLANES_CTE}),
    xp AS ({_XPLANES_CTE}),
    nb AS (
      SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2(
        CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) / 32.0)) AS INT))) AS bits
    ),
    b AS (
      SELECT e.vec_id, e.v, {_AUTO_BUCKET} AS bucket, {_SUB_BUCKET} AS sub
      FROM e CROSS JOIN pl CROSS JOIN xp CROSS JOIN nb
    ),
    dep AS (
      SELECT bucket,
             CASE WHEN COUNT(*) > 16
                  THEN LEAST(8, CAST(CEIL(LOG2(COUNT(*) / 8.0)) AS INT))
                  ELSE 0 END AS d
      FROM b GROUP BY bucket
    ),
    b2 AS (
      SELECT b.vec_id, b.v, b.bucket || substr(b.sub, 1, dep.d) AS bucket
      FROM b JOIN dep ON b.bucket = dep.bucket
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {_cos('a.v', 'c.v')} AS score
      FROM b2 a JOIN b2 c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT id_a, id_b, score,
             ROW_NUMBER() OVER (PARTITION BY id_a
                                ORDER BY score DESC, id_b ASC) AS rn
      FROM cand
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           round(score, 4) AS score,
           CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def knn_self_join_adaptive_stable(spark, sf_dir):
    """r12: the adaptive hot-bucket sub-split (×30 stress: auto bits
    pin MEAN occupancy but real embeddings cluster — max bucket 131 vs
    target 32, and candidate volume is Σ size²). Buckets above
    2×target split by the first ceil(log2(size/target)) sign bits of
    an independent hyperplane stream; depth is derived in-plan from a
    bucket-size aggregate, both pair sides agree on it, and the whole
    pipeline — auto bit formula, primary buckets, per-bucket depth
    (LOG2/CEIL agree cross-engine: size/target is a power-of-two ratio
    or ≫1 ulp from an integer), sub-bucket strings, cosine ranks — is
    replayed by the oracle. target=8 forces the split to ENGAGE at
    every gate sf (mean occupancy ~31 > 2×8)."""
    emb = parallelize_small(t(spark, sf_dir, "embeddings"))
    out = lsh_knn_self_join(emb, k=5, dim=64, seed=42, adaptive_target=8)
    return out.select(
        big("id_a").alias("id_a"),
        big("id_b").alias("id_b"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


@golden(
    "ann_recall_report_stable",
    oracle=f"""
    WITH e AS ({_E}),
    pl AS ({_LSH_PLANES_CTE}),
    bb AS (
      SELECT e.vec_id, e.v, {_LSH_BUCKET} AS bucket
      FROM e CROSS JOIN pl
    ),
    lq AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
           FROM bb WHERE vec_id < 5),
    lcand AS (
      SELECT lq.query_id, bb.vec_id, {_cos('bb.v', 'lq.qv')} AS score
      FROM bb JOIN lq ON bb.bucket = lq.qb
    ),
    lshp AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id ASC) AS rn
        FROM lcand
      ) WHERE rn <= 10
    ),
    {_CVEC.strip()},
    {_CELLS.strip()},
    probed AS (SELECT vec_id AS query_id, v AS qv, j AS cell
               FROM cellr WHERE vec_id < 5 AND rn <= 2),
    icand AS (
      SELECT p.query_id, c.vec_id, {_cos('c.v', 'p.qv')} AS score
      FROM cells c JOIN probed p ON c.cell = p.cell
    ),
    ivfp AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id ASC) AS rn
        FROM icand
      ) WHERE rn <= 10
    ),
    q5 AS ({_Q5}),
    tcand AS (
      SELECT q5.query_id, e.vec_id, {_cos('e.v', 'q5.qv')} AS score
      FROM e CROSS JOIN q5
    ),
    truthp AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id ASC) AS rn
        FROM tcand
      ) WHERE rn <= 10
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
                   CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
            FROM truthp),
    lhit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
             FROM lshp a JOIN truthp USING (query_id, vec_id)),
    ihit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
             FROM ivfp a JOIN truthp USING (query_id, vec_id))
    SELECT 'lsh_stable' AS route, CAST(10 AS INT) AS k,
           n_queries, n_truth, n_hit,
           CASE WHEN n_truth > 0 THEN
             round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 10)
           END AS recall
    FROM tot CROSS JOIN lhit
    UNION ALL
    SELECT 'ivf_stable', CAST(10 AS INT),
           n_queries, n_truth, n_hit,
           CASE WHEN n_truth > 0 THEN
             round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 10)
           END
    FROM tot CROSS JOIN ihit
    """,
)
def ann_recall_report_stable(spark, sf_dir):
    """Serving-time ANN recall QA, ENGINE-STABLE (r14 — r13 VERDICT
    missing #3, functions/vector.py::topk_recall_vs_truth): recall@10
    of the stable LSH route (fixed-seed exact-literal hyperplanes) and
    the stable IVF route (per-label exact-mean centroids, nprobe=2)
    against the exact brute-force truth — the `neardup_truth_eval`
    pattern lifted to ANN. The oracle replays BOTH approximate
    pipelines end-to-end (bucketing / cell assignment, candidate cut,
    ranking) AND the exact truth, then the set-intersection counts;
    every compared value is an exact integer or one rounded division
    of exact integers, so a single swapped candidate anywhere in
    either pipeline moves n_hit and fails the gate. The production
    xxhash64 path is the rows-only `ann_recall_report` twin; recall
    floors for every route are pytest-asserted in
    tests/test_ann_router.py."""
    from ..functions.vector import (
        cosine_topk,
        ivf_topk,
        lsh_topk,
        topk_recall_vs_truth,
    )

    from ..functions._cache import pin_latest

    def _build():
        emb = parallelize_small(t(spark, sf_dir, "embeddings")).persist()
        pin_latest("golden.ann_recall_report_stable.emb", emb)
        q = _queries_df(emb)
        truth = cosine_topk(emb, q, 10)
        lsh = lsh_topk(emb, q, k=10, dim=64, n_bits=_LSH_BITS, seed=42)
        ivf = ivf_topk(
            emb, q, k=10, centroids=_label_centroid_list(spark, sf_dir), nprobe=2
        )
        rep = topk_recall_vs_truth(lsh, truth, "lsh_stable", 10).unionByName(
            topk_recall_vs_truth(ivf, truth, "ivf_stable", 10)
        )
        return rep.select(
            F.col("route"),
            F.col("k").cast("int").alias("k"),
            big("n_queries").alias("n_queries"),
            big("n_truth").alias("n_truth"),
            big("n_hit").alias("n_hit"),
            F.col("recall"),
        )

    # plan memo (r16): pure plan (stable models memoized), own-site pin
    return memo(("plan", "ann_recall_report_stable", sf_dir), _build)
