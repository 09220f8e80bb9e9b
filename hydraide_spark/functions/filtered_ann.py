"""Filtered ANN — scalar predicate × ANN route, composed.

The reference's flagship serving pattern is "cheap scalar filters
before vector search" (reference ``proto/hydraide.proto:2685-2687``:
100K+ vectors scanned with scalar pre-filtering;
``docs/features/query-engine.md:76``: cheap-before-expensive). The
engine has both halves — the FilterGroup algebra
(query/filters.py) and the routed ANN top-k (functions/vector.py) —
and this module is their composition: given a predicate, a query
batch and k, decide

- **prefilter** — evaluate the predicate FIRST (Catalyst pushes it
  into the parquet scan: PushedFilters, pinned in test_plans) and run
  the routed exact/int8 top-k over the survivor set. Right whenever
  the survivor set is small enough that a flat scan over it is cheap
  (``n_survivors <= ANN_FLAT_INT8_MAX_ROWS``), and ALWAYS right when
  the unfiltered route is itself a flat scan (exact/int8 regimes) —
  filtering first strictly shrinks a scan that would have read
  everything anyway.
- **postfilter** — probe the IVF cell index (at 100 TB a
  partition-pruned read: cell is the write-time partition key), apply
  the predicate to the probed cells' rows only, exact-rerank the
  survivors, and WIDEN the probe (nprobe doubling, per still-unfilled
  query) until every query has k predicate-passing neighbors or all
  cells are probed — the post-filter refill loop every vector store
  implements. Right when the corpus is cell-routed and the predicate
  is NOT selective: scanning nprobe/n_cells of the corpus beats
  re-scanning a huge survivor set.

The decision is a pure function of (n_rows, n_survivors, dim)
(:func:`ann_filtered_route`) so it can run from catalog stats with
zero count jobs; both counts are one cheap job each when not supplied.

Scale shape: the probe loop's only driver-side state is the pending
query-id list and a per-query satisfied-count collect — both bounded
by the query batch size (queries are small by construction: the same
assumption that lets every ANN path broadcast them). Candidate
generation is always a blocking equi-join on the cell id; the
predicate lands below the join (Catalyst pushes single-side filters),
so probed-cell rows are filtered at the scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..query.filters import Pred, cosine_similarity, translate
from ._cache import pin_latest
from .vector import (
    ANN_FLAT_INT8_MAX_ROWS,
    _centroid_scores,
    ann_route,
    ann_topk_auto,
    auto_ivf_k,
    ivf_cell_expr,
    train_ivf_centroids,
)


def ann_filtered_route(n_rows: int, n_survivors: int, dim: int) -> str:
    """The pre-vs-post-filter decision, as a pure function of corpus
    stats — same contract as :func:`~.vector.ann_route` (pass catalog
    figures at scale, never run counts per serve call).

    - base route ``exact``/``int8`` (n ≤ 5M): **prefilter** — those
      regimes scan the whole corpus anyway, so evaluating the predicate
      first only shrinks the scan (and pushes into it).
    - base route cell-pruned (n > 5M): **prefilter** iff the survivor
      set itself fits the flat-scan regime (``n_survivors`` ≤ 5M —
      selective predicate: read survivors only, exactness included);
      else **postfilter** — probe cells and refill, because an
      unselective predicate leaves a survivor set nearly as large as
      the corpus and the cell index is the only thing that prunes the
      scan."""
    base = ann_route(n_rows, dim)
    if base in ("exact", "int8"):
        return "prefilter"
    return "prefilter" if int(n_survivors) <= ANN_FLAT_INT8_MAX_ROWS else "postfilter"


def _as_condition(pred: "Pred | Column", df: DataFrame) -> Column:
    """Accept either a FilterGroup predicate tree (the engine's query
    IR) or a raw boolean Column."""
    if isinstance(pred, Column):
        return pred
    return translate(pred, df)


def _postfilter_probe_loop(
    enc: DataFrame,
    cond: Column,
    queries: DataFrame,
    k: int,
    cents: Sequence[Sequence[float]],
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """The refill loop over an already-cell-assigned corpus frame
    ``enc`` (columns: ``_cell``, ``id_col``, ``vec_col``, plus whatever
    the predicate references) — shared by the batch path (cell computed
    by expression) and the persisted-state path (cell read from the
    partition column, so the probe is a directory-pruned read).

    Each round probes ``probe`` cells per still-pending query, filters
    the probed rows by the predicate, exact-cosine re-ranks, and keeps
    queries that reached k survivors (or ran out of cells). Pending
    queries retry with a doubled probe. Driver-side state is bounded by
    the query-batch size; per-round results are persisted (≤ k rows per
    query) and unioned lazily."""
    n_cells = len(cents)
    qv = F.col(query_vec_col).cast("array<double>")
    pending = [
        r[0] for r in queries.select(query_id_col).distinct().collect()
    ]  # bounded: query batches are small by construction (broadcast-side)
    probe = max(1, min(int(nprobe), n_cells))
    w = W.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    chunks: list[DataFrame] = []
    empty = (
        queries.select(F.col(query_id_col))
        .limit(0)
        .join(enc.select(F.col(id_col)).limit(0))
        .withColumn("score", F.lit(0.0))
        .withColumn("rank", F.lit(1))
        .select(query_id_col, id_col, "score", "rank")
    )
    while pending:
        probed = (
            queries.filter(F.col(query_id_col).isin(pending))
            .select(F.col(query_id_col), qv.alias("_qv"))
            .select(
                F.col(query_id_col),
                F.col("_qv"),
                F.explode(
                    F.transform(
                        F.slice(
                            F.reverse(
                                F.array_sort(_centroid_scores(F.col("_qv"), cents))
                            ),
                            1,
                            probe,
                        ),
                        lambda s: s.getField("j"),
                    )
                ).alias("_cell"),
            )
        )
        cand = (
            enc.join(F.broadcast(probed), "_cell")
            .filter(cond)
            .select(
                F.col(query_id_col),
                F.col(id_col),
                cosine_similarity(
                    f"transform(`{vec_col}`, x_0 -> CAST(x_0 AS DOUBLE))",
                    "`_qv`",
                ).alias("score"),
            )
        )
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .persist()
        )
        pin_latest("filtered_ann.postfilter", topk)
        counts = {
            r[0]: r[1]
            for r in topk.groupBy(query_id_col).count().collect()
        }
        exhausted = probe >= n_cells
        done = [q for q in pending if counts.get(q, 0) >= k or exhausted]
        if done:
            chunks.append(topk.filter(F.col(query_id_col).isin(done)))
        done_set = set(done)
        pending = [q for q in pending if q not in done_set]
        probe = min(n_cells, probe * 2)
    if not chunks:
        return empty
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def ann_topk_filtered(
    df: DataFrame,
    pred: "Pred | Column",
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_rows: "int | None" = None,
    n_survivors: "int | None" = None,
    centroids: "Sequence[Sequence[float]] | None" = None,
    codebooks=None,
    nprobe: int = 2,
    strategy: "str | None" = None,
) -> DataFrame:
    """Top-k among rows WHERE <predicate> — the reference's scalar
    pre-filter + vector scan composed with the ANN route planner
    (reference filter.go:594-608 applies VectorFilter after scalar
    filters; query-engine.md:76 orders cheap-before-expensive; here
    the selectivity decides which side goes first, the way every
    vector store's filtered search does).

    ``pred`` is a FilterGroup predicate tree (query.filters) or a raw
    boolean Column over ``df``'s columns. ``n_rows``/``n_survivors``
    default to one count job each — pass catalog figures at scale
    (``strategy`` forced skips both). Returns
    (query_id, id, rank, route) with route =
    ``prefilter:<ann_route>`` or ``postfilter:ivf``; ranks 1..k per
    query (fewer when fewer than k rows pass the predicate at all).

    The postfilter leg trains/accepts the SAME IVF centroid model the
    unfiltered router uses, so a corpus already cell-partitioned for
    ``ann_topk_auto`` serves filtered queries with no new index."""
    cond = _as_condition(pred, df)
    qh = queries.select(query_vec_col).head()
    empty_batch = qh is None or qh[0] is None
    dim = 0 if empty_batch else len(qh[0])

    chosen = strategy
    if chosen is None:
        if empty_batch:
            chosen = "prefilter"
            n_survivors = 0
        else:
            if n_rows is None:
                n_rows = df.count()
            if n_survivors is None:
                n_survivors = df.filter(cond).count()
            chosen = ann_filtered_route(n_rows, n_survivors, dim)

    if chosen == "prefilter":
        filtered = df.filter(cond)
        out = ann_topk_auto(
            filtered,
            queries,
            k,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            n_rows=n_survivors,
            dim=dim if not empty_batch else None,
            centroids=centroids,
            codebooks=codebooks,
            nprobe=nprobe,
        )
        return out.withColumn(
            "route", F.concat(F.lit("prefilter:"), F.col("route"))
        )
    if chosen != "postfilter":
        raise ValueError(f"ann_topk_filtered: unknown strategy {chosen!r}")

    cents = centroids
    if cents is None:
        cents = train_ivf_centroids(
            df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
            n_centroids=auto_ivf_k(n_rows if n_rows is not None else df.count()),
        )
    enc = df.withColumn("_cell", ivf_cell_expr(F.col(vec_col), cents))
    ranked = _postfilter_probe_loop(
        enc,
        cond,
        queries,
        k,
        cents,
        nprobe,
        id_col,
        vec_col,
        query_id_col,
        query_vec_col,
    )
    return ranked.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("rank").cast("int").alias("rank"),
        F.lit("postfilter:ivf").alias("route"),
    )


def ann_topk_filtered_from_state(
    spark,
    state_dir: str,
    pred: "Pred | Column",
    queries: DataFrame,
    k: int,
    attrs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_rows: "int | None" = None,
    n_survivors: "int | None" = None,
    centroids=None,
    nprobe: int = 2,
    strategy: "str | None" = None,
    epochs=None,
) -> DataFrame:
    """Filtered ANN over the PERSISTED unified search state: the same
    pre/post decision as :func:`ann_topk_filtered`, with the persisted
    cell-partitioned index as the corpus. ``attrs`` (id + scalar
    columns) supplies predicate fields the vector state does not carry
    — joined on id BEFORE filtering, so prefilter pushes the predicate
    into the attrs scan and postfilter evaluates it only on probed
    rows. The postfilter probe reads the PERSISTED ``cell`` partition
    column — a directory-pruned read, never a recompute of the cell
    expression over the corpus."""
    from ..streaming.ann_stream import persisted_cells
    from ..streaming.search_stream import (
        committed_epochs,
        resolve_centroids,
        state_stats,
    )

    default_frontier = epochs is None
    if epochs is None:
        epochs = committed_epochs(state_dir)
    base = persisted_cells(
        spark, state_dir, id_col=id_col, vec_col=vec_col, epochs=epochs
    )
    if n_rows is None and default_frontier:
        # count-free n_rows from the persisted stats catalog (the
        # survivor count stays predicate-dependent: one job, or pass
        # n_survivors from upstream knowledge)
        st = state_stats(state_dir)
        if st is not None and st.get("rows") is not None:
            n_rows = st["rows"]
    if attrs is not None:
        base = base.join(attrs, id_col)
    cond = _as_condition(pred, base)
    qh = queries.select(query_vec_col).head()
    empty_batch = qh is None or qh[0] is None
    dim = 0 if empty_batch else len(qh[0])

    chosen = strategy
    if chosen is None:
        if empty_batch:
            chosen = "prefilter"
            n_survivors = 0
        else:
            if n_rows is None:
                n_rows = base.count()
            if n_survivors is None:
                n_survivors = base.filter(cond).count()
            chosen = ann_filtered_route(n_rows, n_survivors, dim)

    if chosen == "prefilter":
        out = ann_topk_auto(
            base.filter(cond).drop("cell"),
            queries,
            k,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            n_rows=n_survivors,
            dim=dim if not empty_batch else None,
            centroids=centroids,
            nprobe=nprobe,
        )
        return out.withColumn(
            "route", F.concat(F.lit("prefilter:"), F.col("route"))
        )
    if chosen != "postfilter":
        raise ValueError(
            f"ann_topk_filtered_from_state: unknown strategy {chosen!r}"
        )
    cents = resolve_centroids(state_dir, centroids)
    enc = base.withColumnRenamed("cell", "_cell")
    ranked = _postfilter_probe_loop(
        enc,
        cond,
        queries,
        k,
        cents,
        nprobe,
        id_col,
        vec_col,
        query_id_col,
        query_vec_col,
    )
    return ranked.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("rank").cast("int").alias("rank"),
        F.lit("postfilter:ivf").alias("route"),
    )
