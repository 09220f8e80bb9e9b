"""Incremental media near-dup: a streaming ingest loop that keeps a
perceptual-fingerprint index (image dHash / audio band-gradient hash)
and discovers near-duplicate pairs as media arrives — the multimodal
analogue of the text per-ingest loop (dedup_stream.py), sharing its
exactly-once contract: per-epoch OVERWRITE sinks (a retried
micro-batch replaces its own partial output), probe excludes the own
epoch, pairs read back with an epoch-aware distinct, and (r13) the
two tables published atomically by a ``_commits/epoch=N`` marker
written after both — readers filter to the committed frontier, so a
crash between the pairs and hashes writes exposes nothing until the
retry re-marks the epoch (the r11 multi-table invariant,
state_compact.publish_epoch_marker / committed_frontier).

State shape at 100 TB of media: the fingerprint index is 16 bytes per
item (id + packed 64-bit hash) — for a billion items that is ~16 GB
total, shuffled only through the chunk-equality block join (two-long
rows; payloads NEVER enter the state or the join). No directory
pruning is needed at this row width; the block bucket is the join's
blocking key exactly as in batch mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dedup import hamming_block_pairs_delta
from ..functions.multimodal import audio_fingerprints, image_hashes
from .state_compact import (
    COMMITS_NAME,
    committed_frontier,
    publish_epoch_marker,
    read_committed,
)

HASH_SCHEMA = "media_id long, h long"
PAIR_SCHEMA = "id_a long, id_b long, hamming int"


def _fingerprints(batch_df: DataFrame, kind: str, algo: str) -> DataFrame:
    if kind == "image":
        return image_hashes(batch_df, algo=algo).select(
            "media_id", F.col("phash").alias("h")
        )
    if kind == "audio":
        return audio_fingerprints(batch_df).select(
            "media_id", F.col("ahash").alias("h")
        )
    raise ValueError(f"media kind must be image|audio, got {kind!r}")


def make_media_ingest(
    spark: SparkSession,
    state_dir: str,
    kind: str = "image",
    algo: str = "dhash",
    max_hamming: int = 3,
    n_blocks: int = 4,
    hashes_table: str = "hashes",
    pairs_table: str = "pairs",
    publish: bool = True,
):
    """Per-micro-batch ingest: fingerprint the batch's payloads (Arrow
    decode — the only time payloads are touched), pair the NEW
    fingerprints against new ∪ persisted via the delta block join
    (old-old pairs never re-enumerate), and overwrite this epoch's
    pairs + fingerprints. Exposed for direct replay in tests (the
    overwrite-idempotence contract). ``hashes_table``/``pairs_table``
    relocate the state tables (the r13 unified admission state shares
    one dir with the text near-dup tables under prefixed names);
    ``publish=False`` suppresses the marker for a combined ingest that
    publishes once after all its tables. Same loop contract as the text
    ingest (dedup_stream.make_ingest): each media_id delivered once."""
    hashes_dir = os.path.join(state_dir, hashes_table)
    pairs_dir = os.path.join(state_dir, pairs_table)

    def ingest(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        os.makedirs(os.path.join(state_dir, COMMITS_NAME), exist_ok=True)
        frontier = committed_frontier(state_dir)
        sigs_new = (
            _fingerprints(batch_df, kind, algo)
            .filter(F.col("h").isNotNull())
            .persist()
        )
        # the persisted index at the committed frontier, minus this
        # epoch (a retry may run after its own partial write landed —
        # and after its own marker, if the crash fell between the
        # marker and the checkpoint commit)
        all_sigs = sigs_new.unionByName(
            read_committed(
                spark, hashes_dir, HASH_SCHEMA + ", epoch long", frontier, own_epoch=epoch
            )
        )
        pairs = hamming_block_pairs_delta(
            sigs_new,
            all_sigs,
            max_hamming,
            n_blocks=n_blocks,
            id_col="media_id",
            hash_col="h",
        ).select(
            "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
        )
        ep = f"epoch={int(epoch)}"
        pairs.write.mode("overwrite").parquet(os.path.join(pairs_dir, ep))
        sigs_new.write.mode("overwrite").parquet(os.path.join(hashes_dir, ep))
        # marker LAST (r13): a crash between the two writes above
        # leaves this epoch's pairs invisible to media_pairs until the
        # retry re-marks — pairs never surface without their index rows
        if publish:
            publish_epoch_marker(state_dir, epoch)
        sigs_new.unpersist()

    return ingest


def media_pairs(
    spark: SparkSession, state_dir: str, pairs_table: str = "pairs"
) -> DataFrame:
    """The accumulated pair table — empty before the first non-empty
    batch. DISTINCT on read collapses at-least-once re-delivery
    artifacts (a re-delivered item re-pairs identically; the hamming
    of a duplicate pair is the same integer)."""
    return read_committed(
        spark,
        os.path.join(state_dir, pairs_table),
        PAIR_SCHEMA + ", epoch long",
        committed_frontier(state_dir),
    ).distinct()


def media_neardup_lookup(
    spark: SparkSession,
    state_dir: str,
    query_media: DataFrame,
    kind: str = "image",
    algo: str = "dhash",
    max_hamming: int = 3,
    n_blocks: int = 4,
    hashes_table: str = "hashes",
) -> DataFrame:
    """Serving-side probe WITHOUT ingesting: fingerprint the query
    items (their payloads are touched once, executor-side) and pair
    them against the persisted index via the delta block join — "has
    this image/clip been seen before?" as one blocked equi-join
    against 16-byte index rows. Returns (query_id, media_id, hamming)
    — every indexed item within ``max_hamming`` of each query item.
    The query items do NOT pair among themselves (pure lookup)."""
    sigs_q = (
        _fingerprints(query_media, kind, algo)
        .filter(F.col("h").isNotNull())
        .select(F.col("media_id").alias("query_id"), "h")
    )
    idx = read_committed(
        spark,
        os.path.join(state_dir, hashes_table),
        HASH_SCHEMA + ", epoch long",
        committed_frontier(state_dir),
    )
    # reuse the delta join with disjoint id namespaces is fragile
    # (query ids may collide with indexed ids) — do the asymmetric
    # block join directly: query chunks probe index chunks.
    from ..functions.dedup import SIMHASH_BITS

    bits_per = SIMHASH_BITS // n_blocks
    mask = (1 << bits_per) - 1

    def chunked(frame: DataFrame, idc: str) -> DataFrame:
        cs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("chunk_no"),
                    F.shiftrightunsigned(F.col("h"), i * bits_per)
                    .bitwiseAND(F.lit(mask))
                    .alias("chunk"),
                )
                for i in range(n_blocks)
            ]
        )
        return frame.select(F.col(idc), F.explode(cs).alias("c")).select(
            F.col(idc), F.col("c.chunk_no"), F.col("c.chunk")
        )

    cand = (
        chunked(sigs_q, "query_id")
        .join(chunked(idx, "media_id"), ["chunk_no", "chunk"])
        .select("query_id", "media_id")
        .distinct()
    )
    hq = sigs_q.select(F.col("query_id"), F.col("h").alias("h_q"))
    hi = idx.select(F.col("media_id"), F.col("h").alias("h_i"))
    return (
        cand.join(hq, "query_id")
        .join(hi, "media_id")
        .withColumn("hamming", F.bit_count(F.col("h_q").bitwiseXOR(F.col("h_i"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("query_id", "media_id", F.col("hamming").cast("int").alias("hamming"))
    )
