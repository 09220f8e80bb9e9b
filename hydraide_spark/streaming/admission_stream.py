"""Unified crawl-admission state (r13 — r12 VERDICT #8): text AND
media near-dup under ONE state dir, ONE epoch sequence, ONE
commit-marker frontier, ONE compactor — so an admission decision
("have we seen this page's text, any of its passages, or its images
before?") is answered against a single consistent frontier instead of
two loops that may have ingested different prefixes of the crawl.

One ``foreachBatch`` ingests items carrying (id, text[, payload]):
the text side runs the ordinary banded MinHash ingest
(dedup_stream.make_ingest — bands/shingles/pairs tables), the media
side fingerprints the non-null payloads (media_stream.make_media_ingest
— media_hashes/media_pairs tables), both with ``publish=False``; the
epoch's commit marker is written ONCE after all five tables, so a
crash anywhere mid-batch leaves the WHOLE epoch — both modalities —
invisible until the retry re-marks it (state_compact.committed_frontier
is shared by every reader below).

Maintenance is one call: :func:`compact_admission_state` folds every
table and prunes stale markers against the union of live epochs
(state_compact.compact_state scans every table dir — pruning against
one modality's tables alone would vanish epochs the other still
holds).

Reference anchor: the reference has no media pipeline; this is the
LLM-training capability layer (SURVEY.md §6) in the shape a crawl
pipeline runs — one admission stream, mixed modalities.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup_stream import ingested_pairs, make_ingest, neardup_lookup
from .media_stream import make_media_ingest, media_neardup_lookup, media_pairs
from .state_compact import (
    Layout,
    committed_frontier,
    compact_state,
    neardup_layouts,
    publish_epoch_marker,
    read_committed,
)

MEDIA_HASHES_TABLE = "media_hashes"
MEDIA_PAIRS_TABLE = "media_pairs"
EXACT_BLOOM_TABLE = "exact_bloom"
EXACT_BLOOM_BITS = 1 << 20  # ~32K words max; size for the REAL corpus
EXACT_BLOOM_K = 4

#: Bloom GEOMETRY manifest (r14, ADVICE): (n_bits, k) are part of the
#: stored filter's identity — a probe with different parameters reads
#: the wrong bit positions and silently produces FALSE NEGATIVES,
#: breaking the "exact_seen=0 is definitive absence" guarantee. The
#: ingest persists them beside the table (underscore name — Spark
#: reads skip it) and every reader resolves them from there; explicit
#: caller parameters that disagree with the manifest RAISE.
_BLOOM_GEOMETRY = "_GEOMETRY.json"


def read_bloom_geometry(state_dir: str) -> "tuple[int, int] | None":
    """(n_bits, k) persisted with the exact_bloom table, or None for a
    state that has never written the manifest (pre-r14 states: readers
    fall back to the module defaults, exactly the old behavior)."""
    import json

    try:
        with open(
            os.path.join(state_dir, EXACT_BLOOM_TABLE, _BLOOM_GEOMETRY)
        ) as fh:
            g = json.load(fh)
        return int(g["n_bits"]), int(g["k"])
    except (OSError, ValueError, KeyError):
        return None


def _write_bloom_geometry(state_dir: str, n_bits: int, k: int) -> None:
    """Persist (raise-on-mismatch) the bloom geometry. Idempotent for
    matching parameters; a second ingest configured differently fails
    LOUDLY instead of silently poisoning the shared filter.

    Publication is EXCLUSIVE, not last-writer-wins (r15 ADVICE fix):
    the fully-written temp file is published with ``os.link`` — atomic
    create-if-absent with complete content — so two concurrent
    first-time ingests configured differently cannot both "win"; the
    loser sees FileExistsError, re-reads the winner's manifest and
    raises on mismatch. (A check-then-``os.replace`` would let the
    second writer silently overwrite the first.)"""
    import json
    import uuid

    def _check(existing: "tuple[int, int]") -> None:
        if existing != (int(n_bits), int(k)):
            raise ValueError(
                f"exact_bloom geometry mismatch: table was built with "
                f"(n_bits={existing[0]}, k={existing[1]}), ingest "
                f"configured (n_bits={int(n_bits)}, k={int(k)}) — "
                "mixed geometries produce silent false negatives"
            )

    existing = read_bloom_geometry(state_dir)
    if existing is not None:
        _check(existing)
        return
    d = os.path.join(state_dir, EXACT_BLOOM_TABLE)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-geometry-{os.getpid()}-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"n_bits": int(n_bits), "k": int(k)}, fh)
    try:
        os.link(tmp, os.path.join(d, _BLOOM_GEOMETRY))
    except FileExistsError:
        won = read_bloom_geometry(state_dir)
        if won is None:
            raise ValueError(
                "exact_bloom geometry manifest exists but is unreadable — "
                "refusing to guess; inspect "
                + os.path.join(d, _BLOOM_GEOMETRY)
            )
        _check(won)
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass


def _resolve_bloom_geometry(
    state_dir: str,
    n_bits: "int | None",
    k: "int | None",
) -> "tuple[int, int]":
    """Reader-side resolution: manifest wins; explicit caller values
    must MATCH it (None = "use the stored geometry"); with no manifest
    (no ingest yet — every epoch writes it before its bloom words)
    explicit values or the module defaults apply."""
    stored = read_bloom_geometry(state_dir)
    if stored is not None:
        for name, want, have in (("n_bits", n_bits, stored[0]), ("k", k, stored[1])):
            if want is not None and int(want) != have:
                raise ValueError(
                    f"exact_bloom geometry mismatch: stored {name}={have}, "
                    f"caller passed {int(want)} — probe would read the "
                    "wrong bit positions (silent false negatives)"
                )
        return stored
    return (
        EXACT_BLOOM_BITS if n_bits is None else int(n_bits),
        EXACT_BLOOM_K if k is None else int(k),
    )


def make_admission_ingest(
    spark: SparkSession,
    state_dir: str,
    tau: float,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str = "payload",
    kind: str = "image",
    algo: str = "dhash",
    max_hamming: int = 3,
    n_blocks: int = 4,
    engine_stable: bool = False,
    exact_bloom_bits: int = EXACT_BLOOM_BITS,
    exact_bloom_k: int = EXACT_BLOOM_K,
):
    """Per-micro-batch combined ingest (exposed for epoch replay in
    tests). Batch rows carry (id, text[, payload]); a NULL payload
    means text-only (most pages), a NULL/empty text with a payload
    means media-only. All sides write epoch-keyed overwrites; the
    single marker after all of them is the atomic publish point. Same
    loop contract as the single-modality ingests (each id delivered
    once, ``state_compact.start_loop`` with ``state_dir/_checkpoint``).

    Besides the near-dup tables, each epoch writes an ``exact_bloom``
    word frame of the batch's raw texts (sketches.bloom_build): the
    PERMANENT bounded-size "seen this exact text before?" memory —
    the complement of streaming_exact_dedup, whose watermark drops
    state (re-emits late dups) precisely because exact state is
    unbounded. A Bloom keeps ≤ n_bits/32 words forever: a 0 probe is
    DEFINITIVE admission (no false negatives), a 1 probe routes to the
    near-dup/exact verify path. ``exact_bloom_bits`` must be sized for
    the real corpus (bloom_bits_for)."""
    text_ingest = make_ingest(
        spark,
        state_dir,
        tau,
        n=n,
        k=k,
        bands=bands,
        id_col=id_col,
        text_col=text_col,
        engine_stable=engine_stable,
        publish=False,
    )
    media_ingest = make_media_ingest(
        spark,
        state_dir,
        kind=kind,
        algo=algo,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        hashes_table=MEDIA_HASHES_TABLE,
        pairs_table=MEDIA_PAIRS_TABLE,
        publish=False,
    )

    from ..functions.sketches import bloom_build

    def ingest(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.persist()
        texts = batch.filter(
            F.col(text_col).isNotNull() & (F.length(text_col) > 0)
        )
        text_ingest(texts.select(id_col, text_col), epoch)
        _write_bloom_geometry(state_dir, exact_bloom_bits, exact_bloom_k)
        bloom_build(
            texts.select(text_col), text_col,
            n_bits=exact_bloom_bits, k=exact_bloom_k,
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, EXACT_BLOOM_TABLE, f"epoch={int(epoch)}")
        )
        if payload_col in batch.columns:
            media_ingest(
                batch.filter(F.col(payload_col).isNotNull()).select(
                    F.col(id_col).cast("long").alias("media_id"),
                    F.col(payload_col).alias("payload"),
                ),
                epoch,
            )
        batch.unpersist()
        # ONE marker for the whole multi-modality epoch — text pairs
        # can never surface while the media index (or any sibling
        # table) is missing, and vice versa
        publish_epoch_marker(state_dir, epoch)

    return ingest


def admission_exact_seen(
    spark: SparkSession,
    state_dir: str,
    query_items: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact_bloom_bits: "int | None" = None,
    exact_bloom_k: "int | None" = None,
) -> DataFrame:
    """The exact-text admission fast path: probe the query texts
    against the bit_or-merge of all COMMITTED epochs' bloom words
    (merged frame ≤ n_bits/32 rows — broadcastable however much was
    ingested). Returns (id, exact_seen): 0 is DEFINITIVE "never
    ingested byte-identically" (no false negatives — admit without
    touching the near-dup index); 1 means "probably seen" at the sized
    FPR — route to the verify path. Uncommitted epochs' words are
    invisible (the shared marker frontier), so a crash mid-batch can
    never make the fast path claim a doc that the near-dup tables
    don't hold.

    Geometry comes from the table's ``_GEOMETRY.json`` manifest
    (written by the ingest — r14 ADVICE): pass ``None`` (the default)
    to use the stored (n_bits, k); explicit values that disagree with
    the manifest raise rather than silently probing the wrong bits.
    EVERY query id gets a row: items with NULL/empty text (the
    media-only case this module ingests) return exact_seen=0 — the
    filter has never seen a text for them, and a dropped row would
    leave the caller with no admission decision at all."""
    from ..functions.sketches import bloom_probe

    n_bits, k = _resolve_bloom_geometry(
        state_dir, exact_bloom_bits, exact_bloom_k
    )
    q = query_items.select(F.col(id_col), F.col(text_col))
    words = read_committed(
        spark,
        os.path.join(state_dir, EXACT_BLOOM_TABLE),
        "word long, bits long, epoch long",
        committed_frontier(state_dir),
    )
    zero = F.lit(0).cast("int").alias("exact_seen")
    has_text = F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    textful = q.filter(has_text)
    merged = words.groupBy("word").agg(F.bit_or("bits").alias("bits"))
    hits = bloom_probe(
        merged, textful, text_col, n_bits=n_bits, k=k
    ).withColumnRenamed("might_contain", "exact_seen")
    return (
        textful.join(hits, text_col)
        .select(id_col, "exact_seen")
        .unionByName(q.filter(~has_text).select(F.col(id_col), zero))
    )


def admission_text_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated TEXT near-dup pairs of the admission state (the
    shared frontier applies)."""
    return ingested_pairs(spark, state_dir)


def admission_media_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated MEDIA near-dup pairs of the admission state."""
    return media_pairs(spark, state_dir, pairs_table=MEDIA_PAIRS_TABLE)


def admission_lookup(
    spark: SparkSession,
    state_dir: str,
    query_items: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str = "payload",
    kind: str = "image",
    algo: str = "dhash",
    max_hamming: int = 3,
    n_blocks: int = 4,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    engine_stable: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """The serving admission check, both modalities against the SAME
    committed frontier: returns (text_hits, media_hits) — text hits as
    (id, match_id, inter, union), media hits as (query_id, media_id,
    hamming). Neither ingests anything."""
    text_q = query_items.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(id_col, text_col)
    text_hits = neardup_lookup(
        spark, state_dir, text_q, tau,
        n=n, k=k, bands=bands, id_col=id_col, text_col=text_col,
        engine_stable=engine_stable,
    )
    media_q = query_items.filter(F.col(payload_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).alias("payload"),
    )
    media_hits = media_neardup_lookup(
        spark, state_dir, media_q,
        kind=kind, algo=algo, max_hamming=max_hamming, n_blocks=n_blocks,
        hashes_table=MEDIA_HASHES_TABLE,
    )
    return text_hits, media_hits


def _or_words(df: DataFrame) -> DataFrame:
    """The exact-bloom fold step: collapse to one row per word (bit_or
    is the merge — otherwise the base grows one word-frame per folded
    epoch and the read-side OR pays for history forever). It runs at
    BOTH fold levels (r14 ADVICE): minor folds would otherwise stack
    one word-frame per folded epoch into every L1 run and the
    read-side OR grows unbounded."""
    return df.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def compact_admission_state(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id", tiered: bool = False
) -> dict:
    """ONE maintenance call for the whole admission state: fold the
    three text tables (band/shingle bases hash-bucketed so probes keep
    pruning), the two media tables (flat — probes are chunk-key block
    joins, see state_compact.MEDIA_LAYOUTS) and the exact-bloom words
    (bit_or-collapsed), then prune commit markers against the union of
    ALL live tables. Returns {table: fold result}."""
    layouts = {
        **neardup_layouts(id_col),
        MEDIA_PAIRS_TABLE: Layout(),
        MEDIA_HASHES_TABLE: Layout(),
        EXACT_BLOOM_TABLE: Layout(augment=_or_words),
    }
    return compact_state(spark, state_dir, layouts, tiered)
