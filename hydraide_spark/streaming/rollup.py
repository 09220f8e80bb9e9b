"""Continuous aggregate (hypertable-style rollup) maintenance: a
time-bucketed aggregate table kept incrementally up to date as events
stream in.

The reference keeps only a wall-clock rolling telemetry buffer
(proto:2393-2458); a time-series store's continuous aggregate — the
thing dashboards and training-data curricula read instead of raw
events — is the standard scale upgrade. The design rule at 100 TB:
NEVER recompute the rollup from the event history. Each micro-batch is
partially aggregated (map-side combine inside the batch), then merged
into the rollup store keyed by (window_start, group keys) — counts and
decimal sums are associative, so batch-partial + stored-total is exact
regardless of how events were batched. Per-batch work scales with the
batch's distinct windows, not with history length; windows untouched by
a batch are never read or rewritten, and subscribers get UPDATED change
events only for the windows a batch actually moved (the store's
no-op-suppression contract).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..sources.store import TreasureStore
from ..session import local_frame

SUM_DECIMAL = "decimal(28,6)"


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
    rows. Crash between snapshot write and checkpoint commit replays
    the batch; the store's versioned snapshots make the re-merge
    idempotent per epoch at-least-once — production tables would use a
    Delta MERGE keyed by (window, epoch) for exactly-once."""

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        part = rollup_batch(batch_df, ts_col, window, key_cols, value_col)
        cur = store.current().select(
            "key",
            F.col("n_events").alias("_cur_n"),
            F.col("total").alias("_cur_total"),
        )
        updates = (
            part.join(cur, "key", "left")
            .select(
                "key",
                "window_start",
                *key_cols,
                (F.coalesce(F.col("_cur_n"), F.lit(0)) + F.col("n_events")).alias(
                    "n_events"
                ),
                (
                    F.coalesce(F.col("_cur_total"), F.lit(0).cast(SUM_DECIMAL))
                    + F.col("total")
                ).cast(SUM_DECIMAL).alias("total"),
            )
        )
        store.set(updates)

    return (
        events_stream.writeStream.outputMode("append")
        .queryName(queue_name)
        .foreachBatch(merge)
        .start()
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

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        part = cms_build(batch_df, value_col, depth).select(
            F.concat_ws("|", F.col("d").cast("string"), F.col("bucket")).alias("key"),
            "d",
            "bucket",
            "cnt",
        )
        cur = store.current().select("key", F.col("cnt").alias("_cur"))
        updates = part.join(cur, "key", "left").select(
            "key",
            "d",
            "bucket",
            (F.coalesce(F.col("_cur"), F.lit(0)) + F.col("cnt")).alias("cnt"),
        )
        store.set(updates)

    return (
        events_stream.writeStream.outputMode("append")
        .queryName(queue_name)
        .foreachBatch(merge)
        .start()
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

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        part = histogram_bins_fixed(batch_df, value_col, lo, hi, bins).select(
            F.col("bin").cast("string").alias("key"), "bin", "cnt"
        )
        cur = store.current().select("key", F.col("cnt").alias("_cur"))
        updates = part.join(cur, "key", "left").select(
            "key",
            "bin",
            (F.coalesce(F.col("_cur"), F.lit(0)) + F.col("cnt")).alias("cnt"),
        )
        store.set(updates)

    return (
        events_stream.writeStream.outputMode("append")
        .queryName(queue_name)
        .foreachBatch(merge)
        .start()
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

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        part = bloom_build(batch_df, value_col, n_bits=n_bits, k=k).select(
            F.col("word").cast("string").alias("key"), "word", "bits"
        )
        cur = store.current().select("key", F.col("bits").alias("_cur"))
        updates = part.join(cur, "key", "left").select(
            "key",
            "word",
            F.coalesce(F.col("_cur"), F.lit(0))
            .bitwiseOR(F.col("bits"))
            .alias("bits"),
        )
        store.set(updates)

    return (
        events_stream.writeStream.outputMode("append")
        .queryName(queue_name)
        .foreachBatch(merge)
        .start()
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
        cur_all = store.current()
        last = (
            cur_all.filter(F.col("key") == DSIR_EPOCH_KEY)
            .select("n")
            .head()
        )
        if last is not None and int(last["n"]) >= int(epoch):
            return  # replay of an epoch whose merge already committed
        part = dsir_bucket_counts(
            batch_df, text_col, n_buckets, salt, method
        ).select(
            F.col("bucket").cast("string").alias("key"),
            "bucket",
            F.col("count").alias("n"),
        )
        cur = cur_all.filter(F.col("key") != DSIR_EPOCH_KEY).select(
            "key", F.col("n").alias("_cur")
        )
        updates = part.join(cur, "key", "left").select(
            "key",
            F.col("bucket").cast("long").alias("bucket"),
            (F.coalesce(F.col("_cur"), F.lit(0)) + F.col("n"))
            .cast("long")
            .alias("n"),
        )
        sentinel = local_frame(
            batch_df.sparkSession,
            [(DSIR_EPOCH_KEY, -1, int(epoch))],
            "key string, bucket long, n long",
        )
        store.set(updates.unionByName(sentinel))

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
    merge = make_dsir_count_merge(store, text_col, n_buckets, salt, method)
    return (
        docs_stream.writeStream.outputMode("append")
        .queryName(queue_name)
        .foreachBatch(merge)
        .start()
    )
