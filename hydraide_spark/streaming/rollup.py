"""Store-merge maintenance loops: summaries kept incrementally up to
date in a :class:`TreasureStore` as events stream in — the
time-bucketed rollup, the Count-Min, histogram and Bloom sketches, the
DSIR bucket counts and the id-list reverse index.

The reference keeps only a wall-clock rolling telemetry buffer
(proto:2393-2458); a time-series store's continuous aggregate — the
thing dashboards and training-data curricula read instead of raw
events — is the standard scale upgrade. The design rule at 100 TB:
NEVER recompute a summary from the event history. Each micro-batch is
reduced to a partial frame (map-side combine inside the batch), then
merged into the store keyed by its summary key through one merge
(:func:`_merge`): a left join against the stored rows ON THE BATCH'S
KEYS ONLY and a per-column combine — add for counts and decimal sums,
``bitwiseOR`` for Bloom words, a sorted ``array_union`` for posting
lists. Each combine is associative, so batch-partial + stored-total is
exact regardless of how events were batched. Per-batch work scales
with the batch's distinct keys, not with history length; keys
untouched by a batch are never read or rewritten, and subscribers get
UPDATED change events only for the keys a batch actually moved (the
store's no-op-suppression contract).

Every loop checkpoints at ``store.root/_checkpoint``
(state_compact.start_loop): a restart resumes after the last committed
batch instead of replaying the source into the store, and one
checkpoint per store keeps one writer per store.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..session import local_frame
from ..sources.store import TreasureStore
from .state_compact import start_loop
from .subscribe import trigger_for

SUM_DECIMAL = "decimal(28,6)"

Combine = Callable[[Column, Column], Column]


def _add(stored: Column, batch: Column) -> Column:
    return stored + batch


def _merge(
    store: TreasureStore,
    part: DataFrame,
    combine: "dict[str, Combine]",
    *extra: DataFrame,
) -> None:
    """``store.set`` the batch's partial frame ``part`` (keyed by
    ``key``) folded into the stored rows: a left join against
    ``store.current()`` on the batch's keys only; each column named in
    ``combine`` becomes ``combine[c](stored, batch)`` — the batch value
    where the key is new — cast to the partial's type; the other
    columns come from the batch. ``extra`` frames ride in the same
    ``store.set``: one snapshot commit."""
    cur = store.current().select(
        F.col(store.key_col).alias("key"),
        *[F.col(c).alias(f"_cur_{c}") for c in combine],
    )
    types = dict(part.dtypes)
    merged = part.join(cur, "key", "left").select(
        *[
            F.coalesce(
                combine[c](F.col(f"_cur_{c}"), F.col(c)).cast(types[c]), F.col(c)
            ).alias(c)
            if c in combine
            else c
            for c in part.columns
        ]
    )
    store.set(reduce(DataFrame.unionByName, extra, merged))


def _merge_loop(
    store: TreasureStore,
    stream: DataFrame,
    queue_name: str,
    partial: Callable[[DataFrame], DataFrame],
    combine: "dict[str, Combine]",
    trigger: "dict | None" = None,
):
    """Start a loop that merges each non-empty micro-batch's
    ``partial(batch)`` into ``store`` (:func:`_merge`), checkpointed
    at ``store.root/_checkpoint``."""

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        _merge(store, partial(batch_df), combine)

    return start_loop(
        stream, merge, queue_name, os.path.join(store.root, "_checkpoint"), trigger
    )


def rollup_batch(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "hour",
    key_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """One batch's partial rollup: (key, window_start, group keys,
    n_events, total) with the store key `window_start|k1|k2...`.
    ``window`` is a date_trunc unit (hour/day/week...)."""
    win = F.date_trunc(window, F.col(ts_col)).alias("window_start")
    out = events.groupBy(win, *[F.col(k) for k in key_cols]).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast(SUM_DECIMAL)).alias("total"),
    )
    key = F.concat_ws(
        "|", F.col("window_start").cast("string"), *[F.col(k) for k in key_cols]
    )
    return out.select(key.alias("key"), "window_start", *key_cols, "n_events", "total")


def run_rollup_maintenance_loop(
    store: TreasureStore,
    events_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "hour",
    key_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    queue_name: str = "rollup_maintenance",
):
    """Start the maintenance stream; returns the StreamingQuery.

    foreachBatch merge: partial-aggregate the batch, left-join the
    store's current rows ON THE BATCH'S KEYS ONLY, add counts/sums
    (associative — exact under any batching), ``store.set`` the merged
    rows. The loop checkpoints at ``store.root/_checkpoint``, so a
    restart on the same store resumes after the last committed batch
    instead of replaying the source. The add is NOT idempotent: a
    batch whose ``store.set`` committed but whose checkpoint commit did
    not (a crash between the two) is merged again on retry and counted
    twice — at-least-once. The DSIR loop closes that window with an
    epoch sentinel; production tables would use a Delta MERGE keyed by
    (window, epoch) for exactly-once."""
    return _merge_loop(
        store,
        events_stream,
        queue_name,
        lambda b: rollup_batch(b, ts_col, window, key_cols, value_col).withColumn(
            "total", F.col("total").cast(SUM_DECIMAL)
        ),
        {"n_events": _add, "total": _add},
    )


def run_cms_maintenance_loop(
    store: TreasureStore,
    events_stream: DataFrame,
    value_col: str,
    depth: int = 4,
    queue_name: str = "cms_maintenance",
):
    """Continuously maintained Count-Min sketch: each micro-batch is
    sketched (``functions.sketches.cms_build`` — ≤ depth×256 cells
    however large the batch) and its cells ADD into the stored sketch.
    CMS cells are plain associative counters, so batch-partial +
    stored-total equals the sketch of the full history under any
    batching — the rollup-maintenance argument applied to a
    probabilistic summary. The stored sketch answers frequency probes
    at any moment without touching event history; state is bounded at
    depth×256 rows FOREVER, the reason to sketch the stream at all."""
    from ..functions.sketches import cms_build

    return _merge_loop(
        store,
        events_stream,
        queue_name,
        lambda b: cms_build(b, value_col, depth).select(
            F.concat_ws("|", F.col("d").cast("string"), F.col("bucket")).alias("key"),
            "d",
            "bucket",
            "cnt",
        ),
        {"cnt": _add},
    )


def run_histogram_maintenance_loop(
    store: TreasureStore,
    events_stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 128,
    queue_name: str = "hist_maintenance",
):
    """Continuously maintained fixed-domain histogram: each micro-batch
    bins into ≤ ``bins`` cells (functions.sketches.histogram_bins_fixed
    — the domain is DECLARED, so cells are associative counters) and
    adds into the stored sketch; any batching converges to the
    full-history histogram, state is bounded at ``bins`` rows forever,
    and quantile reads walk the stored cells without touching events."""
    from ..functions.sketches import histogram_bins_fixed

    return _merge_loop(
        store,
        events_stream,
        queue_name,
        lambda b: histogram_bins_fixed(b, value_col, lo, hi, bins).select(
            F.col("bin").cast("string").alias("key"), "bin", "cnt"
        ),
        {"cnt": _add},
    )


def run_bloom_maintenance_loop(
    store: TreasureStore,
    events_stream: DataFrame,
    value_col: str,
    n_bits: int = 1 << 15,
    k: int = 4,
    queue_name: str = "bloom_maintenance",
):
    """Continuously maintained Bloom membership filter: each
    micro-batch builds its ≤ n_bits/32-row sparse word frame
    (functions.sketches.bloom_build) and bit_or-merges into the stored
    filter. Unlike the counter loops (rollup/CMS/histogram — additive,
    so a retried micro-batch double-counts and the docstrings carry
    the at-least-once caveat; DSIR got an epoch sentinel), bit_or is
    IDEMPOTENT: replaying a batch re-sets bits that are already set,
    so 'converges to the batch filter under any batching' holds
    unconditionally, retries included — no epoch record needed. State
    bounded at n_bits/32 rows forever; the stored filter answers
    "definitely never seen" / "probably seen" probes
    (bloom_probe against ``store.current()``) without touching event
    history."""
    from ..functions.sketches import bloom_build

    return _merge_loop(
        store,
        events_stream,
        queue_name,
        lambda b: bloom_build(b, value_col, n_bits=n_bits, k=k).select(
            F.col("word").cast("string").alias("key"), "word", "bits"
        ),
        {"bits": lambda stored, batch: stored.bitwiseOR(batch)},
    )


def run_index_maintenance_loop(
    store: TreasureStore,
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ids_col: str = "ids",
    queue_name: str = "index_maintenance",
):
    """Incremental reverse-index maintenance: every micro-batch of new
    documents merges its (word -> doc ids) postings into the store —
    the streaming form of the reference's production write path
    (Trendizz crawls feed word->domain ``Uint32SlicePush`` swamps;
    proto:378-396 auto-dedups the set). Returns the StreamingQuery.

    Per batch: one explode+groupBy over ONLY the new documents, a
    left join against the current posting snapshot, and a set-union
    merge through ``store.set`` — so words untouched by the batch emit
    nothing, re-added ids are NOTHING_CHANGED (no event, exactly the
    reference's push semantics), and grown lists emit UPDATED change
    events to subscribers. Work per batch scales with batch size, not
    index size (the join is keyed on the batch's words only)."""
    from ..functions.text import tokenize

    return _merge_loop(
        store,
        docs_stream,
        queue_name,
        lambda b: b.select(
            F.col(id_col).cast("long").alias("_id"),
            F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("key"),
        )
        .groupBy("key")
        .agg(F.array_sort(F.collect_set("_id")).alias(ids_col)),
        {ids_col: lambda stored, batch: F.array_sort(F.array_union(stored, batch))},
        # WriteInterval from the store's registered swamp pattern
        # governs how often postings move to the durable index
        trigger=trigger_for(store),
    )


DSIR_EPOCH_KEY = "__epoch__"


def make_dsir_count_merge(
    store: TreasureStore,
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "",
    method: str = "md5",
):
    """The per-micro-batch DSIR count merge, exposed so tests can
    replay an epoch and assert the skip directly (the make_ingest
    pattern). Idempotent at-least-once (ADVICE r12): unlike the
    rollup/cms/histogram loops, which document the replay caveat, this
    merge records the last-applied epoch as a sentinel row
    (key=``__epoch__``, bucket=-1) inside the SAME ``store.set`` call
    as the counts — one versioned snapshot commit, so the epoch record
    and the counts can never diverge — and a replayed epoch
    (``epoch <= recorded``) is skipped instead of double-counting its
    grams. With the skip, incremental counts equal the batch aggregate
    under any batching INCLUDING retried micro-batches."""
    from ..functions.sampling import dsir_bucket_counts

    def merge(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        last = (
            store.current()
            .filter(F.col("key") == DSIR_EPOCH_KEY)
            .select("n")
            .head()
        )
        if last is not None and int(last["n"]) >= int(epoch):
            return  # replay of an epoch whose merge already committed
        part = dsir_bucket_counts(
            batch_df, text_col, n_buckets, salt, method
        ).select(
            F.col("bucket").cast("string").alias("key"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("count").cast("long").alias("n"),
        )
        sentinel = local_frame(
            batch_df.sparkSession,
            [(DSIR_EPOCH_KEY, -1, int(epoch))],
            "key string, bucket long, n long",
        )
        _merge(store, part, {"n": _add}, sentinel)

    return merge


def run_dsir_count_maintenance_loop(
    store: TreasureStore,
    docs_stream: DataFrame,
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "",
    method: str = "md5",
    queue_name: str = "dsir_maintenance",
):
    """Continuously maintained DSIR hashed-n-gram bucket counts: each
    micro-batch's documents reduce to <= B (bucket, count) rows
    (functions.sampling.dsir_bucket_counts — map-side combined) that
    ADD into the stored table. Bucket counts are plain associative
    counters, so batch-partial + stored-total equals the counts of the
    full document history under any batching — run one loop over the
    target-domain stream and one over the raw stream, and
    ``dsir_logratios_from_stores`` derives the exact batch model from
    two O(B)-row reads with ZERO corpus scans (the count-free model
    refresh: new documents only ever cost their own grams). State is
    bounded at B + 1 rows forever (the +1: the last-applied-epoch
    sentinel row that makes retried micro-batches no-ops — see
    :func:`make_dsir_count_merge`)."""
    return start_loop(
        docs_stream,
        make_dsir_count_merge(store, text_col, n_buckets, salt, method),
        queue_name,
        os.path.join(store.root, "_checkpoint"),
    )
