"""Iterative graph analytics beyond connected components: PageRank
(Brin & Page, "The Anatomy of a Large-Scale Hypertextual Web Search
Engine", WWW'98) over an edge list — the authority score a curation
pipeline uses to weight link/citation/duplication graphs.

Scale shape per iteration (the same discipline as
dedup.neardup_clusters):

- contributions = ranks ⋈ out-degrees ⋈ edges (equi-joins on the node
  id), then ONE groupBy-sum per destination — no collect_list, no
  per-node fan-in materialization, so a high-in-degree hub costs a
  partial-aggregated shuffle, never a wide row;
- dangling mass (nodes with no out-edges) folds into a 1-row aggregate
  broadcast into the update expression;
- lineage is cut with localCheckpoint per round (iterative plans
  otherwise grow unboundedly);
- contribution sums go through DECIMAL(38,18), so ranks are
  bit-identical under ANY partitioning — iterative float drift across
  cluster layouts is the classic nondeterminism bug in distributed
  PageRank (tested: repartition(17) gives byte-equal ranks).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

#: scale-18 quantum for the driver replay of the DECIMAL(38,18)
#: contribution sums (r15 driver_cap paths)
from decimal import Decimal as _Decimal

_Q18 = _Decimal(1).scaleb(-18)


def _dec18(x: float) -> "_Decimal":
    """Spark's ``cast(double AS decimal(38,18))`` bit-for-bit: Spark
    routes the cast through ``BigDecimal.valueOf(d)`` — the SHORTEST
    decimal repr of the double (== Python ``repr``), NOT its exact
    binary expansion — then ``setScale(18, HALF_UP)``. Quantizing
    ``Decimal(x)`` (exact binary) instead diverges in the 18th digit
    for values whose shortest repr is under 18 significant fractional
    digits (measured: 1-ulp rank drift on 16/97 nodes)."""
    from decimal import ROUND_HALF_UP

    return _Decimal(repr(float(x))).quantize(_Q18, rounding=ROUND_HALF_UP)


def _rank_frame(edges_like: DataFrame, rows, src: str):
    """(node, rank double) frame with the input's node type."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    dtype = dict(
        zip(
            edges_like.schema.names,
            [f.dataType for f in edges_like.schema.fields],
        )
    )[src]
    schema = StructType(
        [
            StructField("node", dtype, False),
            StructField("rank", DoubleType(), False),
        ]
    )
    return local_frame(edges_like.sparkSession, rows, schema)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 20,
    src: str = "src",
    dst: str = "dst",
    driver_cap: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list. Returns
    (node, rank) with ranks summing to ~1 (dangling mass
    redistributed uniformly). Deterministic and partition-invariant:
    same edges => bit-identical ranks, any layout.

    The node universe is DERIVED from the edges — a node appearing in
    no edge at all is absent from the result (union a zero-degree
    node frame first if isolated entities must score (1-d)/n).
    Parallel edges are DEDUPLICATED (`distinct()`): this is unweighted
    PageRank where a multigraph's repeated (src, dst) rows count once —
    pre-aggregate to a weight column and adapt the contribution term if
    multiplicity must matter.

    ``driver_cap > 0`` (r15 optimization) opts into a bounded driver
    replay for small graphs: one ``limit(cap+1)`` collect probes the
    edge count, and under the cap the SAME op chain runs in driver
    Python — HALF_UP scale-18 quantization of each contribution
    (:func:`_dec18` == Spark's double->decimal(38,18) cast), exact
    decimal sums, identical float operand order — so ranks are
    bit-identical to the distributed loop (pinned by test). The
    distributed loop costs one multi-stage checkpoint job per round
    (~2.5 s of pure overhead for 20 rounds on a 10K-edge graph at
    sf0.1); the driver replay is one job. Above the cap the probe is
    discarded and the loop runs unchanged."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if driver_cap and int(driver_cap) > 0:
        head = e.limit(int(driver_cap) + 1).collect()
        if len(head) <= int(driver_cap):
            E = [(r["src"], r["dst"]) for r in head]
            univ = sorted({s for s, _ in E} | {d for _, d in E})
            n = len(univ)
            if n == 0:
                return _rank_frame(e, [], "src")
            out_deg: dict = {}
            for s, _ in E:
                out_deg[s] = out_deg.get(s, 0) + 1
            ranks = {u: 1.0 / n for u in univ}
            base = (1.0 - damping) / n
            for _ in range(iterations):
                dm = _Decimal(0)
                for u in univ:
                    if u not in out_deg:
                        dm += _dec18(ranks[u])
                csum: dict = {}
                for s, d in E:
                    csum[d] = csum.get(d, _Decimal(0)) + _dec18(
                        ranks[s] / out_deg[s]
                    )
                dmd = float(dm)
                ranks = {
                    u: (base + (dmd * damping) / float(n))
                    + damping * (float(csum[u]) if u in csum else 0.0)
                    for u in univ
                }
            return _rank_frame(e, [(u, ranks[u]) for u in univ], "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty result keeps the INPUT's node type (string keys stay
        # string — ADVICE r4) instead of hardcoding a long schema
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    base = (1.0 - damping) / n
    for _ in range(iterations):
        with_deg = ranks.join(
            out_deg, ranks.node == out_deg.src, "left"
        ).select("node", "rank", "out_deg")
        # dangling nodes contribute their whole rank, split uniformly —
        # a 1-row DECIMAL aggregate broadcast into the update expression
        # (an in-plan scalar, not a driver collect: one job per round)
        dang = with_deg.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(38,18)")),
                F.lit(0).cast("decimal(38,18)"),
            ).alias("dm")
        )
        contribs = (
            with_deg.filter(F.col("out_deg").isNotNull())
            .join(e, with_deg.node == e.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).cast("decimal(38,18)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    (
                        F.lit(base)
                        + (F.col("dm").cast("double") * F.lit(damping)) / F.lit(float(n))
                    )
                    + F.lit(damping)
                    * F.coalesce(F.col("csum").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count over an undirected simple graph (parallel
    edges and self-loops dropped), with the per-node breakdown.
    Returns one row per node participating in >= 1 triangle:
    (node, n_triangles); the global count is sum/3.

    Scale shape — the node-iterator bound, not the naive one: edges are
    ORIENTED from lower-(degree, id) to higher-(degree, id) endpoint
    first, so every node's out-degree is O(sqrt(m)) and the wedge
    self-join (the only quadratic-risk step) generates
    sum(out_deg^2) = O(m^1.5) candidates on ANY graph — a star graph's
    hub keeps out-degree ~0 instead of fanning n^2 wedges. Wedge
    closure is an equi-join against the oriented edge list: three
    shuffles total (degree agg, wedge build, closure join), no
    cartesian anywhere. Cf. Suri & Vassilvitskii WWW'11 (MapReduce
    triangle counting with degree-based orientation)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: u -> v iff (deg(u), u) < (deg(v), v)
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    keep_ab = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(keep_ab, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(keep_ab, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    ).localCheckpoint()
    # wedges around u: (v, w) both out-neighbors of u, v < w
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = (
        o1.join(o2, "u")
        .filter(F.col("x") < F.col("y"))
        .select("u", "x", "y")
    )
    # closure: the wedge pair is already canonical (x < y), so it
    # closes iff it appears in the canonical a<b edge list. Each
    # triangle closes EXACTLY one wedge — the one rooted at its
    # (deg, id)-minimal node, which alone points at both others.
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def weighted_pagerank(
    edges: DataFrame,
    weight_col: str,
    damping: float = 0.85,
    iterations: int = 20,
    src: str = "src",
    dst: str = "dst",
    driver_cap: int = 0,
) -> DataFrame:
    """PageRank over a WEIGHTED edge list: each node splits its rank
    over out-edges proportionally to weight (contribution =
    rank · w / strength(u), strength = Σ outgoing w) — the multigraph
    answer the unweighted docstring delegates to callers: pre-aggregate
    repeated (src, dst) rows into a weight and multiplicity matters.
    Duplicate (src, dst) rows here are SUMMED into one weighted edge;
    non-positive total weights raise (they would put negative/zero mass
    into the walk).

    Same determinism machinery as :func:`pagerank`: the per-edge ratio
    w/strength is computed once (fixed operand order), contributions
    aggregate in DECIMAL(38,18) so ranks are byte-identical under any
    partitioning, dangling mass is a broadcast 1-row aggregate, and
    lineage cuts per round."""
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    # NULL weights must trip the guard too: a NULL survives the sum
    # (or nulls it), slips past `w <= 0`, and then silently drops rank
    # mass as a NULL frac instead of raising as promised
    bad = e.filter((F.col("w") <= 0) | F.col("w").isNull()).count()
    if bad:
        raise ValueError(
            f"weighted_pagerank: {bad} edge(s) with non-positive or NULL "
            "total weight; drop or re-weight them first"
        )
    # bounded driver replay under the cap (see pagerank): collects the
    # ALREADY-AGGREGATED (src, dst, w) edges, so the weight pre-sum
    # stays the distributed one; strength sums and per-edge fracs use
    # the same float ops, contribution sums the same _dec18 HALF_UP
    # quantization — ranks bit-identical (pinned by test)
    if driver_cap and int(driver_cap) > 0:
        head = e.limit(int(driver_cap) + 1).collect()
        if len(head) <= int(driver_cap):
            E = [(r["src"], r["dst"], r["w"]) for r in head]
            univ = sorted({s for s, _, _ in E} | {d for _, d, _ in E})
            n = len(univ)
            if n == 0:
                return _rank_frame(e, [], "src")
            # strength via the same decimal(38,18) quantize+sum as the
            # distributed path (ADVICE r15): a plain float fold here
            # runs in collect order while F.sum folds in partition
            # order — 1-ulp drift on non-integer weights
            s_dec: dict = {}
            for s, _, w in E:
                s_dec[s] = s_dec.get(s, _Decimal(0)) + _dec18(w)
            s_out = {s: float(v) for s, v in s_dec.items()}
            frac = [(s, d, w / s_out[s]) for s, d, w in E]
            ranks = {u: 1.0 / n for u in univ}
            base = (1.0 - damping) / n
            for _ in range(iterations):
                dm = _Decimal(0)
                for u in univ:
                    if u not in s_out:
                        dm += _dec18(ranks[u])
                csum: dict = {}
                for s, d, fr in frac:
                    csum[d] = csum.get(d, _Decimal(0)) + _dec18(
                        ranks[s] * fr
                    )
                dmd = float(dm)
                ranks = {
                    u: (base + (dmd * damping) / float(n))
                    + damping * (float(csum[u]) if u in csum else 0.0)
                    for u in univ
                }
            return _rank_frame(e, [(u, ranks[u]) for u in univ], "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    # strength through DECIMAL (ADVICE r15, the repo's double-sum
    # rule): F.sum over doubles folds in partition order — quantize
    # each w at decimal(38,18) (exact-sum) so strength, hence every
    # w/strength frac, is byte-identical under any partitioning AND
    # to the driver replay's collect-order fold
    strength = e.groupBy("src").agg(
        F.sum(F.col("w").cast("decimal(38,18)")).cast("double").alias("s_out")
    ).localCheckpoint()
    # per-edge share, computed once: w / strength(src)
    share = (
        e.join(strength, "src")
        .select("src", "dst", (F.col("w") / F.col("s_out")).alias("frac"))
        .localCheckpoint()
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    base = (1.0 - damping) / n
    for _ in range(iterations):
        with_out = ranks.join(
            strength, ranks.node == strength.src, "left"
        ).select("node", "rank", "s_out")
        dang = with_out.filter(F.col("s_out").isNull()).agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(38,18)")),
                F.lit(0).cast("decimal(38,18)"),
            ).alias("dm")
        )
        contribs = (
            with_out.filter(F.col("s_out").isNotNull())
            .join(share, with_out.node == share.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("frac")).cast("decimal(38,18)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    (
                        F.lit(base)
                        + (F.col("dm").cast("double") * F.lit(damping)) / F.lit(float(n))
                    )
                    + F.lit(damping)
                    * F.coalesce(F.col("csum").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence,
    damping: float = 0.85,
    iterations: int = 20,
    src: str = "src",
    dst: str = "dst",
    driver_cap: int = 0,
) -> DataFrame:
    """Personalized PageRank (teleport restricted to a SEED set) — the
    targeted-curation variant: ranks measure proximity to the seeds
    (e.g. "score every document by its link neighborhood around known
    high-quality pages"), with mass (1-d)·p(v) + d·(walk), where p is
    uniform over the seeds and zero elsewhere; dangling mass also
    teleports to the seeds. Nodes unreachable from any seed score
    exactly 0 (tested) — the property plain PageRank cannot offer.

    Same per-iteration shuffle shape, DECIMAL(38,18) partition-
    invariant sums, and localCheckpoint lineage cuts as
    :func:`pagerank`. Seeds enter as a broadcast literal membership
    (fine into the tens of thousands; switch to a seed-frame join
    beyond that). Seeds need not appear in any edge — they are added
    to the node universe so an isolated seed still holds its teleport
    share."""
    if not seeds:
        raise ValueError("personalized_pagerank needs at least one seed")
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # bounded driver replay under the cap (see pagerank) — same teleport
    # vector, same _dec18 contribution sums, same float operand order;
    # ranks bit-identical (pinned by test)
    if driver_cap and int(driver_cap) > 0:
        head = e.limit(int(driver_cap) + 1).collect()
        if len(head) <= int(driver_cap):
            E = [(r["src"], r["dst"]) for r in head]
            seed_set = set(seeds)
            univ = sorted(
                {s for s, _ in E} | {d for _, d in E} | seed_set
            )
            share = 1.0 / len(seed_set)
            p = {u: (share if u in seed_set else 0.0) for u in univ}
            out_deg: dict = {}
            for s, _ in E:
                out_deg[s] = out_deg.get(s, 0) + 1
            ranks = dict(p)
            for _ in range(iterations):
                dm = _Decimal(0)
                for u in univ:
                    if u not in out_deg:
                        dm += _dec18(ranks[u])
                csum: dict = {}
                for s, d in E:
                    csum[d] = csum.get(d, _Decimal(0)) + _dec18(
                        ranks[s] / out_deg[s]
                    )
                dmd = float(dm)
                ranks = {
                    u: (
                        (1.0 - damping) * p[u] + (dmd * damping) * p[u]
                    )
                    + damping * (float(csum[u]) if u in csum else 0.0)
                    for u in univ
                }
            return _rank_frame(e, [(u, ranks[u]) for u in univ], "src")
    seed_df = local_frame(spark, [(s,) for s in seeds], ["node"]).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(seed_df)
        .distinct()
        .localCheckpoint()
    )
    share = 1.0 / len(set(seeds))
    p = F.when(F.col("node").isin(list(seeds)), F.lit(share)).otherwise(F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")).localCheckpoint()
    ranks = nodes.select("node", p.alias("rank")).localCheckpoint()
    for _ in range(iterations):
        with_deg = ranks.join(out_deg, ranks.node == out_deg.src, "left").select(
            "node", "rank", "out_deg"
        )
        dang = with_deg.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(38,18)")),
                F.lit(0).cast("decimal(38,18)"),
            ).alias("dm")
        )
        contribs = (
            with_deg.filter(F.col("out_deg").isNotNull())
            .join(e, with_deg.node == e.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).cast("decimal(38,18)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    (
                        F.lit(1.0 - damping) * p
                        + (F.col("dm").cast("double") * F.lit(damping)) * p
                    )
                    + F.lit(damping)
                    * F.coalesce(F.col("csum").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks
