"""Streaming crawl ingestion (r15): archive files -> admitted documents
-> unified admission state, continuously.

The batch chain exists end-to-end (sources/warc.py framing ->
functions/crawl.py byte-exact parse + charset resolution ->
html_main_text -> admission). A real crawl DELIVERS incrementally —
CommonCrawl-shaped segments land in object storage as the crawl
progresses — so this module runs the same chain as a Structured
Streaming query: ``binaryFile`` file stream over the landing directory,
the SHARED record walk (sources/warc.py::_records_walk — framing can
never drift between backfill and stream), the same map-only parse, and
``foreachBatch`` into the unified admission state (streaming/
admission_stream.py: text near-dup + exact-text Bloom under ONE epoch
marker, at-least-once-safe via epoch-keyed overwrites).

Document identity: ``doc_id = xxhash64(canonical_uri)`` — refetches of
the same page across segments collide on id by construction, so the
admission state sees them as re-submissions (exact Bloom hit or
near-dup pair) rather than fresh documents. The raw (path, rec_no)
provenance stays in the admitted frame.

Scale shape: identical to the batch chain — per-FILE parallelism into
the record walk (zero shuffle), map-only parse, and the admission
ingest's own bounded epoch writes. The stream adds only the file-source
listing; no new shuffle, no new state beyond the admission tables.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.crawl import crawl_ingest_report
from ..sources.warc import read_warc_files_stream, write_wet_files
from .admission_stream import make_admission_ingest
from .state_compact import start_loop


def crawl_admission_items(
    records: DataFrame, min_words: int = 20
) -> DataFrame:
    """WARC record rows -> admission items (doc_id, canonical_uri,
    text, path, rec_no): the byte-exact pipeline keeps HTTP 200
    text/html responses with >= ``min_words`` of extracted main
    content; ids are xxhash64 of the canonical URI (stable across
    refetches and segment layouts). Works on a batch OR streaming
    frame — the transformation is stateless."""
    rep = crawl_ingest_report(
        records,
        record_col="record",
        id_col="rec_no",
        min_words=min_words,
        binary=True,
    )
    return rep.select(
        F.xxhash64(F.col("canonical_uri")).alias("doc_id"),
        F.col("canonical_uri"),
        F.col("text"),
    )


def run_crawl_ingest_loop(
    spark: SparkSession,
    path: str,
    state_dir: str,
    tau: float,
    min_words: int = 20,
    glob: str = "*.warc*",
    max_files_per_trigger: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
    queue_name: str = "crawl_ingest",
    wet_dir: Optional[str] = None,
    **kwargs,
):
    """Start the end-to-end crawl ingestion stream: .warc(.gz) files
    landing under ``path`` are framed, parsed, curated and admitted
    into ``state_dir``'s unified admission state. Returns the
    StreamingQuery. Same delivery contracts as the admission loop
    (stable checkpoint across restarts; a crashed epoch is invisible
    until its retry re-publishes the marker).

    ``wet_dir`` additionally writes each micro-batch's admitted
    documents as WET conversion records under
    ``wet_dir/epoch=N/part-*.warc.wet.gz`` — the pipeline's
    archive-shaped output, continuously. Epoch-keyed with a
    clear-then-write (a RETRIED batch replaces its own partial
    output, the foreachBatch overwrite rule), and written BEFORE the
    admission ingest publishes the epoch marker — so a WET consumer
    that filters to marker-committed epochs (the same frontier every
    admission reader uses) never sees a crashed epoch's partial
    files."""
    records = read_warc_files_stream(
        spark, path, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    items = crawl_admission_items(records, min_words=min_words)
    ingest = make_admission_ingest(spark, state_dir, tau, **kwargs)

    def ingest_with_wet(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.persist()
        try:
            epoch_dir = os.path.join(wet_dir, f"epoch={int(epoch)}")
            shutil.rmtree(epoch_dir, ignore_errors=True)
            write_wet_files(batch.select("canonical_uri", "text"), epoch_dir)
            ingest(batch, epoch)  # publishes the marker LAST
        finally:
            batch.unpersist()

    return start_loop(
        items,
        ingest if wet_dir is None else ingest_with_wet,
        queue_name,
        checkpoint_dir or os.path.join(state_dir, "_checkpoint"),
    )
