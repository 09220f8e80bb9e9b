"""Streaming SEARCH index maintenance — the tf-bearing incremental
postings layer that lets the whole hybrid-retrieval stack
(functions/retrieval.py) run against PERSISTED, incrementally-built
state instead of a batch corpus scan:

- :func:`make_postings_ingest` maintains two tables under
  ``state_dir``: ``postings/`` (word, doc_id, tf) and ``doclen/``
  (doc_id, dl), written per micro-batch as epoch-keyed overwrites
  (the r8 exactly-once sink contract shared with dedup_stream /
  ann_stream — retried epochs replace their own partial output).
  Unlike the id-list reverse index (streaming/rollup.py
  run_index_maintenance_loop — the reference's Uint32Slice posting
  swamps), these postings carry TERM FREQUENCY, which ranked
  retrieval (BM25) needs.
- :func:`bm25_from_state` scores a bag-of-words query over the
  persisted index with EXACTLY the arithmetic of
  ``functions/text.py::bm25_terms`` (same idf/tf-norm expression tree,
  same DECIMAL(28,6) term rounding), so once every document has been
  ingested the incremental scores equal the batch operator's
  bit-for-bit (test_store_streaming::
  test_streaming_postings_bm25_converges_to_batch).

Postings and doc lengths are pure per-document functions, so the
index is ingestion-order independent; corpus statistics (N, avgdl)
are computed from the doclen table at query time — they see exactly
the ingested corpus.

Scale: per-batch work is the delta's explode + one grouped count; the
query-time read filters postings to the query words (parquet
column-statistics pushdown on ``word`` — postings stay hash-friendly
long-form, never array-per-word cells, see text.py::postings). The
epoch dirs compact with streaming/state_compact.py like the other
state tables.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import postings, token_count
from ..session import local_frame
from .state_compact import (
    COMMITS_NAME,
    IVF_LAYOUTS,
    SEARCH_LAYOUTS,
    Layout,
    atomic_write_json,
    committed_frontier,
    compact_epochs,
    compact_state,
    list_epochs,
    publish_epoch_marker,
    read_bucketed,
    read_committed,
    replace_table,
)


def make_postings_ingest(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Build the per-micro-batch ingest function (exposed for tests to
    replay an epoch and assert overwrite idempotence). Same loop
    contract as :func:`make_search_ingest`."""
    post_dir = os.path.join(state_dir, "postings")
    dl_dir = os.path.join(state_dir, "doclen")

    def ingest(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        ep = f"epoch={int(epoch)}"
        batch = batch_df.select(
            F.col(id_col).cast("long").alias(id_col), F.col(text_col)
        ).persist()
        post = postings(batch, id_col, text_col).select(
            "word", F.col(id_col), F.col("tf").cast("long").alias("tf")
        )
        post.write.mode("overwrite").parquet(os.path.join(post_dir, ep))
        dl = batch.select(
            F.col(id_col), token_count(F.col(text_col)).alias("dl")
        )
        dl.write.mode("overwrite").parquet(os.path.join(dl_dir, ep))
        batch.unpersist()

    return ingest


def persisted_postings(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "doc_id",
    epochs=None,
    words=None,
) -> DataFrame:
    """The accumulated tf-bearing postings. With the r10 word-bucketed
    base layout (``compact_search_state`` folds the base partitioned by
    ``bkt = hash(word) % n_buckets``), passing ``words`` prunes the
    base read to the query words' bucket DIRECTORIES — a serving read
    touches O(query words) dirs of the big base instead of scanning
    the whole index, while flat delta epochs (bounded by deltas since
    the last compaction) are read in full. Callers still apply their
    row-level ``word IN`` filter — the buckets contain other words.
    Without ``words`` (or on a pre-bucketing base) the base is read in
    full. Frontier (``epochs``) and crashed-compaction
    (``pending_folded``) exclusions apply to the delta epochs either
    way; the base partition (-1) is part of every frontier."""
    schema = f"word string, {id_col} long, tf long"
    keys = None
    if words is not None:
        keys = local_frame(spark, [(str(w),) for w in words], "word string")
    out = read_bucketed(
        spark, os.path.join(state_dir, "postings"), schema, keys, "word", epochs
    )
    return local_frame(spark, [], schema) if out is None else out


def persisted_doclen(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id", epochs=None
) -> DataFrame:
    schema = f"{id_col} long, dl int, epoch long"
    return read_committed(spark, os.path.join(state_dir, "doclen"), schema, epochs)


def bm25_from_state(
    spark: SparkSession,
    state_dir: str,
    query_words: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    epochs=None,
) -> DataFrame:
    """Per-(doc, word) BM25 term scores for a bag-of-words query over
    the PERSISTED index — the same expression tree and DECIMAL(28,6)
    term rounding as the batch ``bm25_terms``, with corpus stats
    (N, avgdl) from the doclen table. Once the stream has delivered
    every document, the output equals the batch operator bit-for-bit.
    Sum per doc downstream exactly like the batch path."""
    from ..functions._cache import pin_latest

    dl = persisted_doclen(spark, state_dir, id_col=id_col, epochs=epochs).persist()
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    post = (
        persisted_postings(
            spark, state_dir, id_col=id_col, epochs=epochs,
            words=list(query_words),
        )
        .filter(F.col("word").isin(list(query_words)))
        .persist()
    )
    pin_latest("search_stream.bm25_from_state", dl, post)
    dfreq = post.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    joined = (
        post.join(F.broadcast(dfreq), "word")
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
        F.col(id_col),
        F.col("word"),
        F.round(idf * tf_norm, 6).cast("decimal(28,6)").alias("term_score"),
    )


def hybrid_search_from_state(
    spark: SparkSession,
    search_state_dir: str,
    ivf_state_dir: str,
    query_words: Sequence[str],
    queries: DataFrame,
    centroids: Sequence[Sequence[float]],
    topk_per_side: int = 50,
    nprobe: int = 2,
    k0: int = 60,
    topk: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-call hybrid retrieval over PERSISTED incremental state: BM25
    from the postings index, dense from the IVF cell index (single
    query — ``queries`` must carry one row with (query_id, query_vec)),
    fused by RRF. Equals the batch-operator composition once every
    document/vector has been ingested (convergence pinned in
    test_store_streaming::test_streaming_postings_bm25_converges_to_batch)."""
    from ..functions.retrieval import ranked_list, rrf_fuse
    from .ann_stream import ivf_query_persisted

    lex_scored = (
        bm25_from_state(spark, search_state_dir, query_words, id_col=id_col)
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    lex = ranked_list(lex_scored, id_col, "score", topk=topk_per_side)
    dense_topk = ivf_query_persisted(
        spark,
        ivf_state_dir,
        queries,
        k=topk_per_side,
        centroids=centroids,
        nprobe=nprobe,
    )
    dense = ranked_list(
        dense_topk.select(F.col("vec_id").alias(id_col), "score"),
        id_col,
        "score",
        topk=topk_per_side,
    )
    return rrf_fuse([lex, dense], id_col=id_col, k0=k0, topk=topk)


# --- unified one-epoch search state (r9) ------------------------------------
#
# The r8 design ran the postings and IVF ingests (make_postings_ingest,
# ann_stream.make_ivf_ingest) as two independent streams, so
# hybrid_search_from_state could fuse a BM25 ranking and a dense ranking
# reflecting DIFFERENT ingest frontiers (RRF degrades gracefully, but
# the semantics were unstated — r8 VERDICT "what's missing" #1). The
# unified ingest below (make_search_ingest) maintains postings, doc
# lengths AND IVF cells in ONE foreachBatch under ONE epoch sequence,
# and publishes each epoch with a commit marker written AFTER all three
# tables' writes: readers take the marker set as the frontier, so a
# crash mid-batch (some tables written, marker absent) leaves the
# partial epoch invisible until the retry overwrites and re-marks it —
# every query sees one consistent frontier (the reference analogue:
# per-swamp FIFO commit order, hydra.go:950-1019).
#
# The r6 id-list run_index_maintenance_loop (streaming/rollup.py)
# remains the Uint32SlicePush-parity path (membership/AND-search only);
# this tf-bearing loop subsumes it for ranked search.


_STATS_FILE = "_STATS"


def _marker_stats(path: str) -> "dict | None":
    """Parse one commit marker's stats payload (the search ingest's
    markers carry {'rows': N, 'dim': D}); None for a marker without a
    payload (``publish_epoch_marker``'s default) or one already gone."""
    try:
        with open(path) as fh:
            txt = fh.read().strip()
        return json.loads(txt) if txt else None
    except (OSError, ValueError):
        return None


def _base_stats(state_dir: str):
    """(base_rows, dim, absorbed epoch ids, found) of the ``_STATS``
    base; zeros and ``found=False`` when there is none."""
    try:
        with open(os.path.join(state_dir, _STATS_FILE)) as fh:
            st = json.load(fh)
        return int(st.get("base_rows", 0)), st.get("dim"), set(st.get("absorbed", [])), True
    except (OSError, ValueError):
        return 0, None, set(), False


def state_stats(state_dir: str) -> "dict | None":
    """Corpus statistics of the unified state, with ZERO Spark jobs —
    the router's catalog (r11 VERDICT #2: ``ann_topk_auto_from_state``
    defaulted to a full count of the cells frontier per serve call;
    at 100 TB that is a corpus scan just to pick a route).

    Sources, combined: the ``_STATS`` base file (rows absorbed from
    markers compaction pruned — see
    :func:`compact_unified_search_state`) plus every live commit
    marker's per-epoch row count (written by the ingest under the same
    atomic publish as the epoch itself, so the stats frontier IS the
    commit frontier). Returns ``{"rows": int, "dim": int | None}``, or
    None when no stats exist yet (no ``_STATS`` base, no payload
    marker) — callers fall back to one count."""
    base_rows, dim, absorbed, found = _base_stats(state_dir)
    commits = os.path.join(state_dir, COMMITS_NAME)
    for ep in list_epochs(commits):
        if ep in absorbed:
            continue
        ms = _marker_stats(os.path.join(commits, f"epoch={ep}"))
        if ms is None:
            # a marker without a stats payload, or one a concurrent
            # compaction pruned after the listing above: rows unknown
            # — the whole figure would undercount, so report no stats
            return None if not found else {"rows": None, "dim": dim}
        found = True
        base_rows += int(ms.get("rows", 0))
        if dim is None:
            dim = ms.get("dim")
    return {"rows": base_rows, "dim": dim} if found else None


def _absorb_marker_stats(state_dir: str, markers, stale) -> None:
    """The unified state's pre-unlink prune step
    (state_compact.compact_state ``absorb``): add the row stats of the
    markers about to be pruned (``stale``) to the ``_STATS`` base BEFORE
    they are unlinked (r12: markers carry per-epoch counts — the
    router's count-free catalog). Idempotence across a crash between
    the ``_STATS`` write and the unlink: absorbed ids stay listed until
    their marker is confirmed gone, and an id already listed is never
    re-added. The absorbed list stays bounded: ids whose markers no
    longer exist (``markers`` is the pruner's snapshot) are dropped on
    the next pass."""
    base_rows, dim, absorbed, _found = _base_stats(state_dir)
    dirty = False
    for ep in stale:
        if ep not in absorbed:
            ms = _marker_stats(os.path.join(state_dir, COMMITS_NAME, f"epoch={ep}"))
            base_rows += int(ms.get("rows", 0)) if ms else 0
            if dim is None and ms:
                dim = ms.get("dim")
            absorbed.add(ep)
            dirty = True
    kept = absorbed & set(markers)
    if dirty or kept != absorbed:
        atomic_write_json(
            os.path.join(state_dir, _STATS_FILE),
            {"base_rows": int(base_rows), "dim": dim, "absorbed": sorted(kept)},
        )


def committed_epochs(state_dir: str) -> list[int]:
    """The readable frontier (state_compact.committed_frontier); a state
    with no marker yet reads the base alone, ``[-1]``."""
    return committed_frontier(state_dir)


def make_search_ingest(
    spark: SparkSession,
    state_dir: str,
    centroids=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    pq_codebooks=None,
):
    """Per-micro-batch ingest for the UNIFIED search state: postings +
    doclen (lexical), IVF cells (dense float), cell-partitioned
    int8 codes (the 4×-smaller quantized serving form,
    functions/vector.py::int8_quantize) — and, when a PQ model is
    active, cell-partitioned PQ codes (8 bytes/vector at m=8, the
    IVFADC serving form) — all written under the same epoch, then the
    commit marker. Each table write is the r8 epoch-keyed overwrite
    (retry-idempotent); the marker is the atomic publish point.
    Exposed for tests to replay an epoch. Run it with
    ``state_compact.start_loop`` and a stable checkpoint
    (``state_dir/_checkpoint``); the stream must deliver each doc once.

    ``pq_codebooks``: explicit codebooks, else the stored ``_PQMODEL``
    (``store_pq_model``/``refresh_pq_model``); with neither, the
    ``pqcodes`` table is simply not maintained (the pre-PQ layout).
    An interrupted PQ rebuild (``_PQREBUILDING``) refuses loudly —
    new epochs encoded under either codebook would corrupt the
    half-rebuilt table."""
    from ..functions.vector import (
        int8_quantize_expr,
        ivf_cell_expr,
        pq_codes_expr,
    )
    from .ann_stream import make_ivf_ingest

    centroids = resolve_centroids(state_dir, centroids)
    if (
        pq_codebooks is not None
        or stored_pq_model(state_dir) is not None
        # an interrupted BOOTSTRAP leaves the journal with no stored
        # model yet — new epochs silently skipping pqcodes would make
        # the table lag committed epochs forever; refuse here too
        or os.path.exists(os.path.join(state_dir, _PQREBUILD_FILE))
    ):
        pq_codebooks = _resolve_pq_books(state_dir, pq_codebooks)
    lex_ingest = make_postings_ingest(
        spark, state_dir, id_col=id_col, text_col=text_col
    )
    ivf_ingest = make_ivf_ingest(
        spark, state_dir, centroids, id_col=id_col, vec_col=vec_col
    )
    codes_dir = os.path.join(state_dir, "codes")
    pq_dir = os.path.join(state_dir, "pqcodes")
    pq_dim = (
        len(pq_codebooks) * len(pq_codebooks[0][0][1])
        if pq_codebooks is not None
        else None
    )

    def ingest(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.persist()
        lex_ingest(batch, epoch)
        ivf_ingest(batch, epoch)
        cell = ivf_cell_expr(F.col(vec_col).cast("array<double>"), centroids)
        codes = batch.select(
            F.col(id_col).cast("long").alias(id_col),
            cell.alias("cell"),
            int8_quantize_expr(F.col(vec_col)).getField("q").alias("q"),
        )
        codes.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(codes_dir, f"epoch={int(epoch)}")
        )
        if pq_codebooks is not None:
            pq = batch.select(
                F.col(id_col).cast("long").alias(id_col),
                cell.alias("cell"),
                pq_codes_expr(F.col(vec_col), pq_codebooks, pq_dim).alias(
                    "codes"
                ),
            )
            pq.write.mode("overwrite").partitionBy("cell").parquet(
                os.path.join(pq_dir, f"epoch={int(epoch)}")
            )
        # per-epoch corpus stats ride INSIDE the marker (r12): same
        # atomic publish, retry-overwritten with the epoch itself, and
        # the serve-time router reads them instead of counting the
        # corpus (state_stats). The count runs on the persisted batch.
        n_rows = batch.count()
        vh = batch.select(vec_col).head()
        dim = len(vh[0]) if vh is not None and vh[0] is not None else None
        batch.unpersist()
        # marker LAST: one atomic write is the publish — readers never
        # see an epoch some of whose tables are missing
        publish_epoch_marker(
            state_dir, epoch, payload={"rows": int(n_rows), "dim": dim}
        )

    return ingest


def hybrid_search_from_unified_state(
    spark: SparkSession,
    state_dir: str,
    query_words: Sequence[str],
    queries: DataFrame,
    centroids=None,
    topk_per_side: int = 50,
    nprobe: int = 2,
    k0: int = 60,
    topk: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval over ONE consistent frontier of the unified
    state: the committed-epoch set is resolved ONCE and both the BM25
    read and the IVF probe filter to it (literal epoch IN (...) —
    directory-pruned), so the lexical and dense rankings always reflect
    the same ingested document set."""
    from ..functions.retrieval import ranked_list, rrf_fuse
    from .ann_stream import ivf_query_persisted

    centroids = resolve_centroids(state_dir, centroids)
    eps = committed_epochs(state_dir)
    lex_scored = (
        bm25_from_state(spark, state_dir, query_words, id_col=id_col, epochs=eps)
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    lex = ranked_list(lex_scored, id_col, "score", topk=topk_per_side)
    dense_topk = ivf_query_persisted(
        spark,
        state_dir,
        queries,
        k=topk_per_side,
        centroids=centroids,
        nprobe=nprobe,
        id_col=id_col,
        epochs=eps,
    )
    dense = ranked_list(
        dense_topk.select(F.col(id_col), "score"),
        id_col,
        "score",
        topk=topk_per_side,
    )
    return rrf_fuse([lex, dense], id_col=id_col, k0=k0, topk=topk)


#: the unified state's five tables: the search and IVF families' layouts
#: plus the cell-partitioned int8 and PQ code tables
_UNIFIED_LAYOUTS = {
    **SEARCH_LAYOUTS,
    **IVF_LAYOUTS,
    "codes": Layout(partition_by=("cell",)),
    "pqcodes": Layout(partition_by=("cell",)),
}


def compact_unified_search_state(
    spark: SparkSession, state_dir: str, tiered: bool = False
) -> dict:
    """Compact all five unified-state tables (each folds its committed
    epochs into the epoch=-1 base, newest left for retries), then prune
    commit markers for epochs no table holds anymore — the folded rows
    are covered by the always-committed base — absorbing the pruned
    markers' row stats into ``_STATS`` first (:func:`state_stats`).
    Single-writer, same contract as compact_epochs.

    ``tiered=True``: the O(delta) leveled maintenance tick — committed
    epochs fold into an L1 run; the full base rewrite happens only when
    L1 pressure crosses the fraction threshold
    (state_compact.compact_epochs_tiered; r10 VERDICT #2)."""
    return compact_state(
        spark, state_dir, _UNIFIED_LAYOUTS, tiered, absorb=_absorb_marker_stats
    )


def ann_topk_auto_from_state(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    k: int,
    centroids=None,
    codebooks=None,
    nprobe: int = 2,
    rerank_factor: int = 0,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    epochs=None,
    n_rows: "int | None" = None,
    route: "str | None" = None,
) -> DataFrame:
    """:func:`~hydraide_spark.functions.vector.ann_topk_auto` over the
    PERSISTED unified state — the router's third input, persisted-state
    availability, made concrete (the batch router's docstring promises
    it; the reference's planner analogy is bucket_planner.go:55-123).
    The regime thresholds are the same `ann_route`; what changes is the
    DATA SOURCE each route reads:

    - ``exact``    — brute-force float cosine over the persisted cells
      table's vectors (the state keeps raw vectors for re-ranks and
      rebuilds, so exactness is available).
    - ``int8``     — the persisted int8 code index, ALL cells probed
      (a flat quantized scan; identical ranking to the batch
      ``int8_topk`` because ingest and query quantize with the same
      expressions).
    - ``ivf_int8`` — :func:`ivf_int8_from_state` (cell-pruned codes).
    - ``ivfadc``   — :func:`ivfadc_from_state` (cell-pruned PQ codes);
      FALLS BACK to ``ivf_int8`` when no PQ model is bootstrapped
      (``refresh_pq_model`` brings it up) — availability routing, not
      an error.

    ``n_rows`` resolves, in order: the explicit argument, the
    persisted stats catalog (:func:`state_stats` — maintained per
    epoch commit, ZERO Spark jobs; r11 VERDICT #2), and only for
    pre-r12 states with no stats anywhere, one count of the cells
    frontier. Emits (query_id, id, rank, route)."""
    from ..functions.vector import (
        ann_route,
        cosine_topk,
        rank_route_survivors,
        route_output,
    )
    from .ann_stream import persisted_cells

    default_frontier = epochs is None
    if epochs is None:
        epochs = committed_epochs(state_dir)
    cells = persisted_cells(
        spark, state_dir, id_col=id_col, vec_col=vec_col, epochs=epochs
    )
    if n_rows is None and default_frontier:
        # the stats catalog describes the FULL committed frontier — a
        # caller-restricted epoch list must fall through to the count
        st = state_stats(state_dir)
        n_rows = st["rows"] if st is not None and st.get("rows") is not None else None
    if n_rows is None:
        n_rows = cells.count()
    qh = queries.select(query_vec_col).head()
    # an EMPTY query batch forces the exact route regardless of n_rows
    # (the int8/ivf routes would pointlessly resolve models just to
    # return nothing); its empty broadcast join yields the empty
    # (query_id, id, rank, route) result
    empty_batch = qh is None or qh[0] is None
    dim = 0 if empty_batch else len(qh[0])
    if route is not None:
        chosen = route
    elif empty_batch:
        chosen = "exact"
    else:
        chosen = ann_route(n_rows, dim)
    if chosen == "ivfadc" and stored_pq_model(state_dir) is None and codebooks is None:
        chosen = "ivf_int8"  # PQ layer not bootstrapped — nearest route
    if chosen == "exact":
        out = cosine_topk(
            cells.select(F.col(id_col), F.col(vec_col)),
            queries,
            k,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        ranked = rank_route_survivors(
            out, query_id_col, id_col, "score", descending=True
        )
    elif chosen in ("int8", "ivf_int8"):
        cents = resolve_centroids(state_dir, centroids)
        ranked = ivf_int8_from_state(
            spark,
            state_dir,
            queries,
            k,
            centroids=cents,
            # the flat-int8 regime is "probe every cell": same index,
            # same ranking, no cell pruning — the routed difference is
            # only how much of the corpus the probe may skip
            nprobe=len(cents) if chosen == "int8" else nprobe,
            id_col=id_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            epochs=epochs,
        )
    elif chosen == "ivfadc":
        out = ivfadc_from_state(
            spark,
            state_dir,
            queries,
            k,
            centroids=centroids,
            codebooks=codebooks,
            nprobe=nprobe,
            rerank_factor=rerank_factor,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            epochs=epochs,
        )
        ranked = rank_route_survivors(
            out, query_id_col, id_col, "adist", descending=False
        )
    else:
        raise ValueError(f"ann_topk_auto_from_state: unknown route {chosen!r}")
    return route_output(ranked, query_id_col, id_col, chosen)


def ann_recall_report_from_state(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    k: int,
    routes=("int8", "ivf_int8"),
    centroids=None,
    codebooks=None,
    nprobe: int = 2,
    rerank_factor: int = 0,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    epochs=None,
) -> DataFrame:
    """Serving-time recall QA over the PERSISTED unified state (r14 —
    r13 VERDICT missing #3): exact brute-force truth from the state's
    own float vectors (the cells table keeps them for re-ranks and
    rebuilds — exactness is always available), then each candidate
    route through :func:`ann_topk_auto_from_state` — the measured
    route IS the served route, same index tables, same models, same
    frontier. One (route, k, n_queries, n_truth, n_hit, recall) row
    per route; the loop a 100 TB deployment runs continuously on a
    sampled query set the way `neardup_truth_eval` covers dedup.

    The truth scan is |sample| × corpus — sample the queries, never
    the serving traffic; per-route cost is the serving probe itself."""
    from ..functions.vector import cosine_topk, topk_recall_vs_truth
    from .ann_stream import persisted_cells

    if epochs is None:
        epochs = committed_epochs(state_dir)
    cells = persisted_cells(
        spark, state_dir, id_col=id_col, vec_col=vec_col, epochs=epochs
    )
    from ..functions._cache import pin_latest

    truth = cosine_topk(
        cells.select(F.col(id_col), F.col(vec_col)),
        queries,
        k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).persist()
    pin_latest("search_stream.ann_recall_report", truth)
    out = None
    for route in routes:
        got = ann_topk_auto_from_state(
            spark,
            state_dir,
            queries,
            k,
            centroids=centroids,
            codebooks=codebooks,
            nprobe=nprobe,
            rerank_factor=rerank_factor,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            epochs=epochs,
            route=route,
        )
        rep = topk_recall_vs_truth(
            got, truth, route, k, query_id_col=query_id_col, id_col=id_col
        )
        out = rep if out is None else out.unionByName(rep)
    return out


def persisted_pqcodes(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id", epochs=None
) -> DataFrame:
    """The accumulated cell-partitioned PQ code index (id, cell,
    codes) — the 8-byte/vector IVFADC serving form."""
    schema = f"{id_col} long, codes array<int>, epoch long, cell int"
    return read_committed(spark, os.path.join(state_dir, "pqcodes"), schema, epochs)


def ivfadc_from_state(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    k: int,
    centroids=None,
    codebooks=None,
    nprobe: int = 2,
    rerank_factor: int = 0,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    epochs=None,
) -> DataFrame:
    """IVFADC over the PERSISTED unified state: the query probes its
    ``nprobe`` cells (directory-pruned read of the cell-partitioned
    ``pqcodes`` table) and scores ONLY their 8-byte-per-vector PQ
    codes through :func:`~hydraide_spark.functions.vector.
    ivfadc_rank_codes` — the IDENTICAL core the batch ``ivfadc_topk``
    runs, which is what makes a codebook refresh provably equivalent
    to re-running the batch path (test_unified_search_state pins it).
    ``rerank_factor > 0`` fetches raw vectors for the shortlist only,
    from the persisted cells table under the SAME frontier. Model and
    codebooks default to the stored ``_MODEL``/``_PQMODEL``; an
    interrupted rebuild of either refuses loudly."""
    from ..functions.vector import ivfadc_rank_codes

    cents = resolve_centroids(state_dir, centroids)
    books = _resolve_pq_books(state_dir, codebooks)
    if epochs is None:
        epochs = committed_epochs(state_dir)
    dim = len(books) * len(books[0][0][1])
    enc = persisted_pqcodes(
        spark, state_dir, id_col=id_col, epochs=epochs
    ).withColumnRenamed("cell", "_cell")
    raw = None
    if rerank_factor > 0:
        from .ann_stream import persisted_cells

        raw = persisted_cells(
            spark, state_dir, id_col=id_col, vec_col=vec_col, epochs=epochs
        ).select(F.col(id_col), F.col(vec_col).alias("_v"))
    return ivfadc_rank_codes(
        enc,
        queries,
        cents,
        books,
        dim,
        k,
        nprobe=nprobe,
        rerank_factor=rerank_factor,
        raw=raw,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def persisted_int8_codes(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id", epochs=None
) -> DataFrame:
    """The accumulated cell-partitioned int8 code index (id, cell, q)."""
    schema = f"{id_col} long, q array<int>, epoch long, cell int"
    return read_committed(spark, os.path.join(state_dir, "codes"), schema, epochs)


def ivf_int8_from_state(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    k: int,
    centroids=None,
    nprobe: int = 2,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    epochs=None,
) -> DataFrame:
    """Quantized ANN over the PERSISTED unified state: the probe prunes
    to the queries' ``nprobe`` cells (literal cell IN (...) over the
    cell-partitioned codes table — directory-level pruning) and the
    candidates are 4×-smaller int8 codes, re-ranked by the normalized
    code cosine. Frontier defaults to :func:`committed_epochs`, so the
    result always reflects a consistent ingested set; once every vector
    is ingested it equals the batch ``ivf_int8_topk`` exactly (cell
    assignment and codes are the same pure expressions)."""
    from ..functions.vector import (
        _centroid_scores,
        _int8_cos,
        int8_dot,
        int8_quantize_expr,
    )
    from pyspark.sql.window import Window as W

    centroids = resolve_centroids(state_dir, centroids)
    if epochs is None:
        epochs = committed_epochs(state_dir)
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    )
    probed = q.select(
        F.col(query_id_col),
        int8_quantize_expr(F.col("_qv")).getField("q").alias("_qq"),
        F.explode(
            F.transform(
                F.slice(
                    F.reverse(F.array_sort(_centroid_scores(F.col("_qv"), centroids))),
                    1,
                    nprobe,
                ),
                lambda s: s.getField("j"),
            )
        ).alias("cell"),
    )
    probe_cells = sorted(
        {int(r["cell"]) for r in probed.select("cell").collect()}
    )  # bounded: n_queries * nprobe
    idx = persisted_int8_codes(
        spark, state_dir, id_col=id_col, epochs=epochs
    ).filter(F.col("cell").isin(probe_cells))
    cand = idx.join(F.broadcast(probed), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        int8_dot(F.col("q"), F.col("_qq")).alias("qdot"),
        _int8_cos(F.col("q"), F.col("_qq")).alias("est_cos"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("est_cos").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- IVF model lifecycle (r10) ----------------------------------------------
#
# The unified state's centroids were fixed at stream start; a drifting
# corpus slowly degrades cell balance and probe recall.
# embedding_drift_report (functions/vector.py) tells you WHEN; the two
# functions below are the HOW: persist the model next to the state, and
# rebuild the cell-assigned tables under a freshly trained model.

_MODEL_FILE = "_MODEL"
_REBUILD_FILE = "_REBUILDING"
_PQMODEL_FILE = "_PQMODEL"
_PQREBUILD_FILE = "_PQREBUILDING"


def store_ivf_model(state_dir: str, centroids) -> None:
    """Atomically persist the IVF centroid model the state's cells/codes
    are assigned under (tmp + rename; underscore name — invisible to
    every parquet read)."""
    atomic_write_json(
        os.path.join(state_dir, _MODEL_FILE),
        [[float(x) for x in c] for c in centroids],
    )


def stored_ivf_model(state_dir: str):
    """The persisted centroid model, or None before the first
    :func:`store_ivf_model` / :func:`refresh_ivf_model`."""
    try:
        with open(os.path.join(state_dir, _MODEL_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def store_pq_model(state_dir: str, codebooks) -> None:
    """Atomically persist the PQ codebooks the state's ``pqcodes``
    table is encoded under (same contract as :func:`store_ivf_model`).
    Stored as ``[[ [code, [floats…]], …] per subspace]``."""
    atomic_write_json(os.path.join(state_dir, _PQMODEL_FILE), _pq_json(codebooks))


def _pq_json(codebooks) -> list:
    return [
        [[int(code), [float(x) for x in vec]] for code, vec in book]
        for book in codebooks
    ]


def stored_pq_model(state_dir: str):
    """The persisted PQ codebooks, or None before the first
    :func:`store_pq_model` / :func:`refresh_pq_model`. JSON round-trip
    yields ``[(code, vec), …]`` pairs as 2-lists — every consumer
    unpacks them positionally, so the shapes are interchangeable."""
    try:
        with open(os.path.join(state_dir, _PQMODEL_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _resolve_pq_books(state_dir: str, codebooks):
    """Same loud-refusal contract as :func:`resolve_centroids`, for
    the PQ layer: a half-rebuilt pqcodes table probed under either
    codebook silently collapses recall."""
    if os.path.exists(os.path.join(state_dir, _PQREBUILD_FILE)):
        raise RuntimeError(
            f"PQ codebook rebuild at {state_dir} was interrupted "
            f"({_PQREBUILD_FILE} present) — run refresh_pq_model to "
            "finish it before encoding or serving"
        )
    if codebooks is not None:
        return codebooks
    books = stored_pq_model(state_dir)
    if books is None:
        raise ValueError(
            f"no codebooks given and no stored PQ model at "
            f"{state_dir}/{_PQMODEL_FILE} — pass codebooks or run "
            "store_pq_model/refresh_pq_model first"
        )
    return books


def resolve_centroids(state_dir: str, centroids):
    # an interrupted model rebuild leaves the cell-assigned tables in
    # an indeterminate mix of old- and new-model assignments; probing
    # them under EITHER model silently collapses recall, so serving
    # and ingest refuse LOUDLY until the rebuild is finished
    if os.path.exists(os.path.join(state_dir, _REBUILD_FILE)):
        raise RuntimeError(
            f"IVF model rebuild at {state_dir} was interrupted "
            f"({_REBUILD_FILE} present) — run refresh_ivf_model to "
            "finish it before ingesting or serving"
        )
    if centroids is not None:
        return centroids
    model = stored_ivf_model(state_dir)
    if model is None:
        raise ValueError(
            f"no centroids given and no stored model at "
            f"{state_dir}/{_MODEL_FILE} — pass centroids or run "
            "store_ivf_model/refresh_ivf_model first"
        )
    return model


def refresh_ivf_model(
    spark: SparkSession,
    state_dir: str,
    n_centroids: "int | None" = None,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
):
    """Retrain the IVF centroids from the PERSISTED vectors and rebuild
    the ``cells/`` and ``codes/`` tables re-assigned under the new
    model — the maintenance half of the drift loop
    (``embedding_drift_report`` says when; this rebuilds).

    Contract: SINGLE-WRITER with the STREAM STOPPED — every epoch is
    then committed, so the rebuild folds ALL epochs (``fold_all``) into
    a fresh cell-partitioned base through the compactor's crash-safe
    tmp/manifest swap. Crash safety ACROSS the steps: the new centroids
    are journaled to ``_REBUILDING`` BEFORE any table is touched; while
    that marker exists, ingest and serving REFUSE loudly
    (``resolve_centroids`` — a half-rebuilt index probed under either
    model silently collapses recall, and loud beats silent), and
    re-running ``refresh_ivf_model`` RESUMES from the journaled
    centroids (each per-table swap is idempotent), finishes, persists
    ``_MODEL`` and clears the marker. ``n_centroids`` defaults to
    ``auto_ivf_k`` of the persisted count (cell occupancy stays pinned
    as the corpus grows). Returns the centroids in effect.

    Commit markers are left alone: the lexical tables still hold their
    epochs, and the rebuilt tables' only partition (-1) is in every
    frontier, so mixed frontiers keep working."""
    from ..functions.vector import (
        auto_ivf_k,
        int8_quantize_expr,
        ivf_cell_expr,
        train_ivf_centroids,
    )

    marker = os.path.join(state_dir, _REBUILD_FILE)
    if os.path.exists(marker):
        # resume an interrupted rebuild under ITS journaled model —
        # retraining could pick different centroids and re-split the
        # half-swapped tables a second way
        with open(marker) as fh:
            cents = json.load(fh)
    else:
        vecs = persisted_cells_all(
            spark, state_dir, id_col=id_col, vec_col=vec_col
        )
        n = vecs.count()
        if n == 0:
            raise ValueError(
                f"refresh_ivf_model: no persisted vectors under {state_dir}"
            )
        k = int(n_centroids) if n_centroids is not None else auto_ivf_k(n)
        cents = train_ivf_centroids(
            vecs.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
            ),
            n_centroids=k,
        )
        atomic_write_json(marker, [[float(x) for x in c] for c in cents])

    def assign_frame():
        return persisted_cells_all(
            spark, state_dir, id_col=id_col, vec_col=vec_col
        ).select(
            F.col(id_col),
            ivf_cell_expr(F.col(vec_col).cast("array<double>"), cents).alias(
                "_newcell"
            ),
        )

    def aug_cells(df):
        return df.drop("cell").withColumn(
            "cell", ivf_cell_expr(F.col(vec_col).cast("array<double>"), cents)
        )

    compact_epochs(
        spark,
        os.path.join(state_dir, "cells"),
        partition_by=["cell"],
        augment=aug_cells,
        fold_all=True,
    )

    # codes rows carry no vector: re-derive their cell by joining the
    # REBUILT cells table's (id, new cell) assignment
    def aug_codes(df):
        return (
            df.drop("cell")
            .join(assign_frame(), id_col)
            .withColumnRenamed("_newcell", "cell")
        )

    compact_epochs(
        spark,
        os.path.join(state_dir, "codes"),
        partition_by=["cell"],
        augment=aug_codes,
        fold_all=True,
    )
    # the PQ layer's codes are centroid-independent, but their CELL
    # routing key is not — re-cell them under the new model the same
    # join-the-rebuilt-assignment way (PQ codes themselves unchanged)
    pq_dir = os.path.join(state_dir, "pqcodes")
    if os.path.isdir(pq_dir):
        compact_epochs(
            spark,
            pq_dir,
            partition_by=["cell"],
            augment=aug_codes,
            fold_all=True,
        )
    store_ivf_model(state_dir, cents)
    os.remove(marker)
    return cents


def refresh_pq_model(
    spark: SparkSession,
    state_dir: str,
    m: int = 8,
    k: int = 16,
    centroids=None,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
):
    """Retrain the per-subspace PQ codebooks from the PERSISTED vectors
    and rebuild the ``pqcodes`` table re-encoded under the new books —
    the IVFADC half of the drift loop (r10 VERDICT #3; the cell
    centroids' analogue is :func:`refresh_ivf_model`). Also the
    BOOTSTRAP: run it once on a pre-PQ state to bring the ``pqcodes``
    layer up from the persisted vectors.

    Contract: SINGLE-WRITER with the STREAM STOPPED (rebuild sources
    every persisted vector). Crash safety mirrors the IVF refresh: the
    new codebooks are journaled to ``_PQREBUILDING`` BEFORE any table
    is touched; while the marker exists, PQ serving and PQ-encoding
    ingest REFUSE loudly (``_resolve_pq_books``) and a re-run RESUMES
    from the journaled books (the table swap is idempotent —
    ``state_compact.replace_table`` is the same tmp/manifest/promote
    dance, and a crash inside it heals on the next entry with readers
    excluding the pending window). On success the books persist to
    ``_PQMODEL`` (atomic) and the marker clears. Returns the codebooks
    in effect.

    Cell routing comes from the CURRENT IVF model (``centroids`` or
    the stored ``_MODEL``) — a PQ refresh never moves rows between
    cells, so probe routing is unchanged and only code payloads are
    rewritten."""
    from ..functions.vector import (
        ivf_cell_expr,
        pq_codes_expr,
        train_pq_codebooks,
    )

    cents = resolve_centroids(state_dir, centroids)
    marker = os.path.join(state_dir, _PQREBUILD_FILE)
    if os.path.exists(marker):
        with open(marker) as fh:
            books = json.load(fh)
    else:
        vecs = persisted_cells_all(
            spark, state_dir, id_col=id_col, vec_col=vec_col
        )
        if vecs.isEmpty():
            raise ValueError(
                f"refresh_pq_model: no persisted vectors under {state_dir}"
            )
        books = train_pq_codebooks(
            vecs.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            ),
            m=m,
            k=k,
            sample_rows=sample_rows,
            iters=iters,
            seed=seed,
        )
        atomic_write_json(marker, _pq_json(books))
    dim = len(books) * len(books[0][0][1])
    src = persisted_cells_all(
        spark, state_dir, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col),
        ivf_cell_expr(F.col(vec_col).cast("array<double>"), cents).alias(
            "cell"
        ),
        pq_codes_expr(F.col(vec_col), books, dim).alias("codes"),
    )
    replace_table(
        spark, os.path.join(state_dir, "pqcodes"), src, partition_by=["cell"]
    )
    store_pq_model(state_dir, books)
    os.remove(marker)
    return books


def persisted_cells_all(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every persisted (id, vector, cell) row regardless of frontier —
    the rebuild's source (stream stopped ⇒ every epoch committed)."""
    from .ann_stream import persisted_cells

    return persisted_cells(
        spark, state_dir, id_col=id_col, vec_col=vec_col, epochs=None
    )
