"""Golden query: PageRank over a deterministic citation graph, with a
fixed-iteration oracle that unrolls the power iteration in SQL —
every rank bit-matches because contribution sums go through
DECIMAL(38,18) (partition-invariant) and every double step (base
share, dangling share, damping multiply) has the same operand order in
both engines."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.graph import pagerank, triangle_count
from . import golden
from ._util import big, n_rows_memo, t

_D = "'0.85'::DOUBLE"  # string-cast: exact strtod, same double as Python 0.85
_ITERS = 4


def _pagerank_sql(iters: int) -> str:
    parts = [
"""ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM documents),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM ndocs) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 17 + 3) % (SELECT cnt FROM ndocs) FROM documents
      ) WHERE src <> dst
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM nodes),
    od AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, 1.0::DOUBLE / (SELECT CAST(cnt AS DOUBLE) FROM nn) AS rank
      FROM nodes
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""wd{i} AS (
      SELECT r.node, r.rank, od.out_deg
      FROM r{i - 1} r LEFT JOIN od ON od.src = r.node
    ),
    d{i} AS (
      SELECT COALESCE(SUM(CAST(rank AS DECIMAL(38,18))),
                      CAST(0 AS DECIMAL(38,18))) AS dm
      FROM wd{i} WHERE out_deg IS NULL
    ),
    c{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(r.rank / r.out_deg AS DECIMAL(38,18))) AS csum
      FROM wd{i} r JOIN edges e ON e.src = r.node
      WHERE r.out_deg IS NOT NULL
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             (((1.0::DOUBLE - {_D}) / (SELECT CAST(cnt AS DOUBLE) FROM nn))
              + ((SELECT CAST(dm AS DOUBLE) FROM d{i}) * {_D})
                / (SELECT CAST(cnt AS DOUBLE) FROM nn))
             + {_D} * COALESCE(CAST(cs.csum AS DOUBLE), 0.0::DOUBLE) AS rank
      FROM nodes n LEFT JOIN c{i} cs ON cs.node = n.node
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT CAST(node AS BIGINT) AS node, rank FROM r{iters}
    """


@golden("pagerank_citation_graph", oracle=_pagerank_sql(_ITERS))
def pagerank_citation_graph(spark, sf_dir):
    """PageRank (Brin & Page WWW'98), ORACLE-EXACT: 4 power iterations
    over a deterministic 2-out-link citation graph on the documents
    table (dst = id*31+7 and id*17+3 mod N, self-links removed —
    modular arithmetic both engines replay). The oracle unrolls the
    iteration in SQL; ranks bit-match UNROUNDED because per-node
    contribution sums aggregate in DECIMAL(38,18) (partition-order-
    independent — the reason distributed PageRank is usually
    nondeterministic and here is not) and the scalar steps (base
    share, dangling redistribution, damping) keep one fixed operand
    order. Per-iteration cost: one equi-join + one grouped sum — no
    collect_list fan-in, dangling mass as a broadcast 1-row
    aggregate."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n_docs = n_rows_memo(spark, sf_dir, "documents")
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n_docs).alias("dst"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + 3) % n_docs).alias("dst"),
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    out = pagerank(edges, damping=0.85, iterations=_ITERS, driver_cap=500_000)
    return out.select(F.col("node").cast("bigint").alias("node"), "rank")


@golden(
    "triangle_counts_graph",
    oracle="""
    WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM documents),
    e AS (
      SELECT doc_id AS a, doc_id + 50 AS b FROM documents
      WHERE doc_id + 50 < (SELECT cnt FROM nd)
      UNION ALL
      SELECT doc_id, doc_id + 100 FROM documents
      WHERE doc_id + 100 < (SELECT cnt FROM nd)
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    members AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM members GROUP BY node
    """,
)
def triangle_counts_graph(spark, sf_dir):
    """Per-node triangle participation over a deterministic chord graph
    on the documents ids (i—i+50, i—i+100: every i with i+100 in range
    closes a triangle). Engine: degree-ordered edge orientation +
    wedge equi-join (functions/graph.py::triangle_count — O(m^1.5)
    candidates on any graph, no cartesian); oracle: an INDEPENDENT
    algorithm — the canonical a<b<c triple self-join — so agreement
    certifies the orientation argument, not just the arithmetic."""
    ndocs = n_rows_memo(spark, sf_dir, "documents")
    base = t(spark, sf_dir, "documents").select(F.col("doc_id"))
    edges = (
        base.filter(F.col("doc_id") + 50 < ndocs)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 50).alias("dst"))
        .unionAll(
            base.filter(F.col("doc_id") + 100 < ndocs).select(
                F.col("doc_id").alias("src"), (F.col("doc_id") + 100).alias("dst")
            )
        )
    )
    out = triangle_count(edges)
    return out.select(big("node").alias("node"), big("n_triangles").alias("n_triangles"))


def _ppr_sql(iters: int) -> str:
    """Unrolled personalized-PageRank replay: same citation graph as
    :func:`_pagerank_sql`, teleport vector uniform over the seed set
    (doc ids divisible by 97) and zero elsewhere; dangling mass also
    teleports to the seeds. Operand order mirrors
    functions/graph.py::personalized_pagerank exactly:
    ((1-d)·p + (dm·d)·p) + d·csum."""
    parts = [
        """ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM documents),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM ndocs) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 17 + 3) % (SELECT cnt FROM ndocs) FROM documents
      ) WHERE src <> dst
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM nodes WHERE node % 97 = 0),
    pvec AS (
      SELECT node,
             CASE WHEN node % 97 = 0
                  THEN 1.0::DOUBLE / (SELECT CAST(cnt AS DOUBLE) FROM ns)
                  ELSE 0.0::DOUBLE END AS p
      FROM nodes
    ),
    od AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    r0 AS (SELECT node, p AS rank FROM pvec)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""wd{i} AS (
      SELECT r.node, r.rank, od.out_deg
      FROM r{i - 1} r LEFT JOIN od ON od.src = r.node
    ),
    d{i} AS (
      SELECT COALESCE(SUM(CAST(rank AS DECIMAL(38,18))),
                      CAST(0 AS DECIMAL(38,18))) AS dm
      FROM wd{i} WHERE out_deg IS NULL
    ),
    c{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(r.rank / r.out_deg AS DECIMAL(38,18))) AS csum
      FROM wd{i} r JOIN edges e ON e.src = r.node
      WHERE r.out_deg IS NOT NULL
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             (((1.0::DOUBLE - '0.85'::DOUBLE) * pv.p)
              + ((SELECT CAST(dm AS DOUBLE) FROM d{i}) * {_D}) * pv.p)
             + {_D} * COALESCE(CAST(cs.csum AS DOUBLE), 0.0::DOUBLE) AS rank
      FROM nodes n
      JOIN pvec pv ON pv.node = n.node
      LEFT JOIN c{i} cs ON cs.node = n.node
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT CAST(node AS BIGINT) AS node, round(rank, 10) AS rank FROM r{iters}
    """


@golden("personalized_pagerank_seeds", oracle=_ppr_sql(_ITERS))
def personalized_pagerank_seeds(spark, sf_dir):
    """Personalized PageRank over the citation graph with teleport
    restricted to the doc-id-multiple-of-97 seed set — the
    seed-proximity score a curation pipeline uses to expand a trusted
    corpus. Oracle: the unrolled-iteration replay with an identical
    operand order (DECIMAL contribution sums, fixed scalar ordering);
    compared ranks round to 10 decimals — see the cast note below."""
    from ..functions.graph import personalized_pagerank

    docs = t(spark, sf_dir, "documents").select("doc_id")
    n_docs = n_rows_memo(spark, sf_dir, "documents")
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n_docs).alias("dst"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + 3) % n_docs).alias("dst"),
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    # seeds come from the same node universe the oracle's pvec uses —
    # DISTINCT EDGE ENDPOINTS divisible by 97, not all multiples of 97
    # in [0, n_docs): if a multiple of 97 ever drops out of the graph
    # (both its hash edges are self-loops at some scale factor), a
    # range-derived list would add it as an isolated seed and the two
    # sides would disagree on the seed count
    seeds = [
        r["node"]
        for r in edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .filter(F.col("node") % 97 == 0)
        .distinct()
        .collect()
    ]
    out = personalized_pagerank(edges, seeds, damping=0.85, iterations=_ITERS, driver_cap=500_000)
    # DECIMAL(38,18) -> DOUBLE casts round differently in the last ulp
    # between Spark and DuckDB for SOME values (observed: 1 row in 500;
    # the plain-pagerank golden happens to avoid such values) — compared
    # ranks round to 10 decimals, nine orders above the ~1e-15 relative
    # drift and eight below the smallest rank gap.
    return out.select(
        F.col("node").cast("bigint").alias("node"), F.round("rank", 10).alias("rank")
    )


def _wpr_sql(iters: int) -> str:
    """Unrolled weighted-PageRank replay: the citation graph with
    deterministic edge weights w = 1 + (src+dst) % 5, duplicate
    (src, dst) rows summed, per-edge share frac = w / strength(src)
    computed once — operand order mirrors
    functions/graph.py::weighted_pagerank exactly."""
    parts = [
        """ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM documents),
    raw AS (
      SELECT src, dst, CAST(1 + (src + dst) % 5 AS DOUBLE) AS w FROM (
        SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT cnt FROM ndocs) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 17 + 3) % (SELECT cnt FROM ndocs) FROM documents
      ) WHERE src <> dst
    ),
    edges AS (SELECT src, dst, SUM(w) AS w FROM raw GROUP BY src, dst),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM nodes),
    st AS (SELECT src, SUM(w) AS s_out FROM edges GROUP BY src),
    sh AS (
      SELECT e.src, e.dst, e.w / st.s_out AS frac
      FROM edges e JOIN st ON st.src = e.src
    ),
    r0 AS (
      SELECT node, 1.0::DOUBLE / (SELECT CAST(cnt AS DOUBLE) FROM nn) AS rank
      FROM nodes
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""wd{i} AS (
      SELECT r.node, r.rank, st.s_out
      FROM r{i - 1} r LEFT JOIN st ON st.src = r.node
    ),
    d{i} AS (
      SELECT COALESCE(SUM(CAST(rank AS DECIMAL(38,18))),
                      CAST(0 AS DECIMAL(38,18))) AS dm
      FROM wd{i} WHERE s_out IS NULL
    ),
    c{i} AS (
      SELECT s.dst AS node,
             SUM(CAST(r.rank * s.frac AS DECIMAL(38,18))) AS csum
      FROM wd{i} r JOIN sh s ON s.src = r.node
      WHERE r.s_out IS NOT NULL
      GROUP BY s.dst
    ),
    r{i} AS (
      SELECT n.node,
             ((({1.0}::DOUBLE - {_D}) / (SELECT CAST(cnt AS DOUBLE) FROM nn))
              + ((SELECT CAST(dm AS DOUBLE) FROM d{i}) * {_D})
                / (SELECT CAST(cnt AS DOUBLE) FROM nn))
             + {_D} * COALESCE(CAST(cs.csum AS DOUBLE), 0.0::DOUBLE) AS rank
      FROM nodes n LEFT JOIN c{i} cs ON cs.node = n.node
    )"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT CAST(node AS BIGINT) AS node, round(rank, 10) AS rank FROM r{iters}
    """


@golden("weighted_pagerank_graph", oracle=_wpr_sql(_ITERS))
def weighted_pagerank_graph(spark, sf_dir):
    """Weighted PageRank over the citation graph with deterministic
    integer-derived weights (w = 1 + (src+dst) % 5) — rank splits over
    out-edges proportionally to weight, the multigraph semantics the
    unweighted operator's dedup contract delegates to a weight column.
    Oracle: unrolled-iteration replay with identical operand order;
    compared ranks round to 10 decimals (the decimal-cast last-ulp
    rule)."""
    from ..functions.graph import weighted_pagerank

    docs = t(spark, sf_dir, "documents").select("doc_id")
    n_docs = n_rows_memo(spark, sf_dir, "documents")
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 7) % n_docs).alias("dst"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + 3) % n_docs).alias("dst"),
    )
    edges = (
        e1.unionByName(e2)
        .filter(F.col("src") != F.col("dst"))
        .withColumn("w", (F.lit(1) + (F.col("src") + F.col("dst")) % 5).cast("double"))
    )
    out = weighted_pagerank(edges, "w", damping=0.85, iterations=_ITERS, driver_cap=500_000)
    return out.select(
        F.col("node").cast("bigint").alias("node"), F.round("rank", 10).alias("rank")
    )
