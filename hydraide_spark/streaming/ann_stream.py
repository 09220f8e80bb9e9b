"""Streaming ANN index maintenance — the per-ingest form of
:func:`hydraide_spark.functions.vector.ivf_topk`: that operator's
docstring promises "the 100 TB layout writes the corpus partitioned by
cell, making the probe a partition-pruned read"; this module IS that
layout, maintained incrementally by a ``foreachBatch`` loop.

Each micro-batch assigns its new vectors to their nearest-centroid IVF
cell (the same ``ivf_cell_expr`` the batch operator uses — a pure
column expression over a fixed centroid model) and writes them under
``state_dir/cells/epoch=N/cell=C/``. Writes are epoch-keyed overwrites
(the r8 exactly-once contract shared with
``streaming/dedup_stream.py``): a retried micro-batch replaces its own
partial output instead of appending duplicates.

The query path (:func:`ivf_query_persisted`) computes the probed cells
DRIVER-SIDE from the bounded query set and filters the index read with
a LITERAL ``cell IN (...)`` predicate — so Spark prunes whole
partition directories before any IO (``PartitionFilters`` in the scan,
pinned by tests/test_plans.py). At 100 TB a probe touches
``nprobe/n_centroids`` of the data by construction, and with
corpus-scaled ``auto_ivf_k`` the cell size stays constant as the
corpus grows.

Cell assignments are pure functions of (vector, centroids), so an
index built incrementally equals one built from scratch — streamed
query results converge to the batch ``ivf_topk`` exactly
(test_store_streaming::test_ivf_ingest_loop_converges_to_batch).

Reference anchor: the reference has no vector search; this is part of
the LLM-training-pipeline capability layer (SURVEY.md §6), in the
per-ingest shape an embedding pipeline actually runs.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..functions.vector import ivf_cell_expr
from ..query.filters import cosine_similarity
from ..session import local_frame
from .state_compact import read_committed


def make_ivf_ingest(
    spark: SparkSession,
    state_dir: str,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the per-micro-batch ingest function (exposed so tests can
    replay an epoch and assert the overwrite-idempotence contract).
    Run it with ``state_compact.start_loop`` and a stable checkpoint
    (``state_dir/_checkpoint``); the stream must deliver each id once."""
    cells_dir = os.path.join(state_dir, "cells")

    def ingest(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        assigned = batch_df.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).cast("array<float>").alias(vec_col),
        ).withColumn(
            "cell", ivf_cell_expr(F.col(vec_col).cast("array<double>"), centroids)
        )
        # epoch-keyed overwrite = idempotent per epoch; partitionBy(cell)
        # gives the query path directory-level pruning
        assigned.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(cells_dir, f"epoch={int(epoch)}")
        )

    return ingest


def persisted_cells(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epochs=None,
) -> DataFrame:
    """The accumulated (id, vector, cell) index — empty before the
    first non-empty micro-batch has created it. ``epochs`` (a literal
    list) restricts the read to a committed-epoch frontier via
    directory-level partition pruning (see
    search_stream.committed_epochs). Epochs a crashed compaction
    already folded into the base are excluded either way
    (state_compact.committed_filter — read-only self-healing against
    the duplicate-rows window between promote and cleanup)."""
    schema = f"{id_col} long, {vec_col} array<float>, epoch long, cell int"
    return read_committed(spark, os.path.join(state_dir, "cells"), schema, epochs)


def ivf_query_persisted(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    k: int,
    centroids: Sequence[Sequence[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    epochs=None,
) -> DataFrame:
    """Probe the persisted index: nearest ``nprobe`` cells per query
    computed DRIVER-SIDE from the bounded query set (so the index scan
    carries a literal ``cell IN (...)`` partition filter — directories
    outside the probed cells are never read), then the same exact
    cosine re-rank as the batch ``ivf_topk``. Results converge to the
    batch operator run over the full corpus with the same model."""
    from ..functions.vector import _centroid_scores

    # probed cells via the EXACT batch expression (same dot-product
    # fold and tie order as ivf_topk), collected from the bounded
    # query set so the index filter below is a literal
    probe_rows = queries.select(
        F.col(query_id_col),
        F.explode(
            F.transform(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            _centroid_scores(
                                F.col(query_vec_col).cast("array<double>"),
                                centroids,
                            )
                        )
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s.getField("j"),
            )
        ).alias("cell"),
    ).collect()  # bounded: n_queries * nprobe
    probe_pairs = [(r[query_id_col], int(r["cell"])) for r in probe_rows]
    all_cells = sorted({c for _, c in probe_pairs})

    idx = persisted_cells(
        spark, state_dir, id_col=id_col, vec_col=vec_col, epochs=epochs
    )
    pruned = idx.filter(F.col("cell").isin(all_cells))

    probed = local_frame(
        spark, probe_pairs, f"{query_id_col} long, cell int"
    )
    qv_df = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    )
    cand = (
        pruned.join(F.broadcast(probed), "cell")
        .join(F.broadcast(qv_df), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            cosine_similarity(
                f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", "`_qv`"
            ).alias("score"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
