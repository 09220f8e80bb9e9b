"""The epoch-state protocol every streaming state family shares — the
near-dup, media, IVF, search, unified-search and admission states
(streaming/dedup_stream.py, media_stream.py, ann_stream.py,
search_stream.py, admission_stream.py) all live by it, and this module
is its only implementation:

1. **Write**: each micro-batch writes its tables as epoch-keyed
   overwrites (``table/epoch=N/``; a retry replaces its own partial
   output).
2. **Publish**: a multi-table state publishes the epoch with ONE
   ``_commits/epoch=N`` marker written after every table
   (:func:`publish_epoch_marker`; JSON via :func:`atomic_write_json`).
3. **Read**: readers and probes see the committed frontier
   (:func:`committed_frontier`) through one filter
   (:func:`committed_filter` / :func:`read_committed`).
4. **Fold**: maintenance folds epochs through one crash-safe swap
   (``_swap``: tmp → manifest → move aside → promote → cleanup), entered
   per family through one call (:func:`compact_state` over declared
   :class:`Layout`\\ s), then prunes stale markers (one pruner).

Every loop, stateful or not, starts through one call,
:func:`start_loop` (``foreachBatch`` under the checkpoint its caller
names).

A long-running ingest leaves one directory per micro-batch, and a
million tiny epoch dirs is the classic small-files problem (listing
cost, open-per-file overhead, tiny row groups).

``compact_epochs`` folds every COMMITTED epoch into a single reserved
base partition ``epoch=-1``:

- Only epochs strictly below the maximum epoch present are folded. The
  newest epoch may still be retried (its offset commit can land after
  the writes), and a retry overwrites its own ``epoch=N`` dir — if its
  rows had been folded into the base, the retry would duplicate them.
  Every OLDER epoch is committed by construction (a new epoch only
  starts after the previous one's commit), so folding them is safe.
- The base is itself ``epoch=-1``, so re-compaction folds base + old
  epochs into a new base; the reserved id never collides with a real
  epoch and is never excluded by the ingest's own-epoch probe filter
  (epochs are non-negative).
- The rewrite goes to a temp dir, then swaps directory-by-directory.
  Run it from the maintenance owner while the stream is stopped or
  between batches (single-writer, same contract as the reference's
  compactor running on swamp close — compactor.go).
- **Crash safety**: both the temp dir (``_compacting``) and the
  displaced old base (``_old_base``) are underscore-prefixed, so Spark
  partition discovery ignores them if a crash leaves them behind.
  Every swap user self-recovers on entry: a complete ``_compacting``
  (has the fold manifest) with no live base is swapped into place; an
  incomplete one is rolled back to ``_old_base``. The swap order is
  write-tmp → move-base-aside → promote-tmp, so at every instant either
  the base or a recoverable copy exists, and readers take the base from
  ``_old_base`` while ``epoch=-1`` is missing (:func:`_base_dir`).

Readers (``ingested_pairs``, ``persisted_cells``, the ingest probes)
read the root with partition discovery and treat ``epoch`` as opaque
except for the frontier filter.

**Tiered (leveled) compaction — r10 VERDICT #2.** ``compact_epochs``
rewrites the ENTIRE base every fold; at 100 TB that is an O(full
index) write per maintenance tick. :func:`fold_to_l1` is the minor
fold: committed delta epochs (L0) fold into ONE new L1 *run*
directory — ``epoch=-2, -3, …`` (ids descend; a major fold deletes
them and the counter restarts) — WITHOUT touching the base or earlier
runs, so minor cost ∝ folded-delta size. :func:`compact_epochs_tiered`
runs a minor fold every call and triggers the full (major) fold only
when accumulated L1 bytes exceed ``l1_fraction`` of the base —
the classic leveled-LSM write-amplification bound (the reference's
write-buffer/compaction split, docs/features/v2-storage-engine.md).
Negative epoch ids are always-committed compaction artifacts: every
reader keeps them in every frontier (they are folds OF committed
epochs), the ingest's own-epoch exclusion never matches them (stream
epochs are non-negative), and L1 runs stay UNBUCKETED at the delta
dirs' directory depth — probes scan them like deltas, bounded by
``l1_fraction`` of the base.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

BASE_EPOCH = -1

_TMP_NAME = "_compacting"
_TMP_L1 = "_compacting_l1"
_OLD_NAME = "_old_base"
_MANIFEST = "_FOLDED"
COMMITS_NAME = "_commits"


def list_epochs(d: str) -> "list[int]":
    """Sorted ids of the ``epoch=N`` entries under ``d`` — a table's
    epoch dirs (deltas, the base, L1 runs) or a state's commit markers;
    ``[]`` when ``d`` does not exist. The one parser of the dir-name
    convention: a value that is not an integer (a name this module
    did not write) is skipped, never mis-parsed."""
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        if n.startswith("epoch="):
            v = n.split("=", 1)[1]
            if v.lstrip("-").isdigit():
                out.append(int(v))
    return sorted(out)


def _epoch_dir(d: str, e: int) -> str:
    return os.path.join(d, f"epoch={int(e)}")


def atomic_write_json(path: str, payload=None) -> None:
    """Write ``payload`` as JSON (``None`` = an empty file) to a tmp
    sibling, then ``os.replace`` it over ``path``: a reader sees the
    old file or the whole new one, never a torn write. The tmp name is
    dot-prefixed, so it can never match the ``epoch=`` prefix the
    listers parse (a crash-leftover marker tmp would otherwise read as
    a bogus epoch) and Spark reads skip it."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".tmp-{name}")
    with open(tmp, "w") as fh:
        if payload is not None:
            json.dump(payload, fh)
    os.replace(tmp, path)


def _is_complete(d: str) -> bool:
    """The tmp rewrite is complete iff the fold manifest landed — it is
    written AFTER Spark's own ``_SUCCESS``, so its presence implies the
    parquet commit finished too."""
    return os.path.isfile(os.path.join(d, _MANIFEST))


def _finish_swap(table_dir: str, target: str) -> None:
    """Post-promote cleanup, replayable: delete the epoch dirs listed
    in the target's fold manifest, drop the displaced old base, then
    remove the manifest (last — its presence is what marks the cleanup
    as still pending)."""
    manifest = os.path.join(target, _MANIFEST)
    with open(manifest) as fh:
        folded = [int(line) for line in fh.read().split() if line]
    for e in folded:
        if e != BASE_EPOCH:
            shutil.rmtree(_epoch_dir(table_dir, e), ignore_errors=True)
    shutil.rmtree(os.path.join(table_dir, _OLD_NAME), ignore_errors=True)
    os.remove(manifest)


def pending_folded(table_dir: str) -> "set[int]":
    """Epochs a crashed compaction already FOLDED into a surviving
    target (the base, or an L1 run) but did not finish cleaning up: the
    fold manifest is still sitting in the target, so the folded rows
    exist TWICE — in the target AND in the still-present source dirs
    (whose commit markers also still exist). Until the next compaction
    replays the cleanup, any reader that unions target + source dirs
    would double-count them (inflated BM25 tf/dfreq, duplicate ANN
    candidates).

    Readers therefore subtract this set from their epoch view (a
    target's OWN id is never in the returned set — it IS the surviving
    copy; a major fold's manifest CAN list L1 run ids, which then are
    excluded like any other folded source). This is the read-only half
    of crash recovery: no writes, no race with a concurrently-running
    compactor, and per-table — a crash between two tables' compactions
    leaves each table individually consistent under its own pending
    set."""
    out: set[int] = set()
    for e in list_epochs(table_dir):
        if e >= 0:
            continue  # only negative epochs are fold targets
        try:
            with open(os.path.join(_epoch_dir(table_dir, e), _MANIFEST)) as fh:
                folded = {int(x) for x in fh.read().split() if x}
        except (OSError, ValueError):
            continue
        folded.discard(e)
        out |= folded
    out.discard(BASE_EPOCH)
    return out


def committed_filter(df: DataFrame, table_dir: str, epochs=None, own_epoch=None) -> DataFrame:
    """The ONE frontier filter: restrict a state-table read (``df``
    carries the ``epoch`` partition column) to what a reader may see,
    and drop ``epoch``. The conditions are literal lists, so the
    filter is a partition-directory prune (PartitionFilters on
    ``epoch``), not a row scan.

    - ``epochs``: the committed-marker frontier
      (:func:`committed_frontier`). NEGATIVE epochs — the compaction
      base (-1) and L1 run dirs (-2, -3, …; :func:`fold_to_l1`) — are
      always-committed folds of committed epochs and are kept in EVERY
      frontier, so a frontier recorded before a minor fold keeps
      resolving after it; of the rest only listed epochs pass, so an
      epoch whose tables landed but whose marker didn't stays invisible
      until the retry re-marks it. ``None`` reads every epoch — the
      single-table states, which publish an epoch by its one write.
    - Either way, epochs a crashed compaction already folded into a
      surviving target but did not clean up (:func:`pending_folded`)
      are EXCLUDED: their rows live in the target too, and reading both
      sides of the interrupted swap would double-count them. Read-only
      self-healing — the next compaction replays the cleanup.
    - ``own_epoch``: an ingest's probe of its own state excludes the
      epoch it is writing — a retried epoch must probe the same "old"
      index the first attempt saw, whether or not its marker landed (a
      crash can fall between the marker write and the checkpoint
      commit). ``None`` = a read-only caller, nothing to exclude."""
    e = F.col("epoch")
    if own_epoch is not None:
        df = df.filter(e != F.lit(int(own_epoch)))
    if epochs is not None:
        keep = sorted({int(x) for x in epochs if int(x) >= 0})
        df = df.filter((e < 0) | e.isin(keep) if keep else e < 0)
    pend = sorted(pending_folded(table_dir))
    if pend:
        df = df.filter(~e.isin(pend))
    return df.drop("epoch")


def read_committed(
    spark: SparkSession, table_dir: str, schema: str, epochs=None, own_epoch=None
) -> DataFrame:
    """:func:`committed_filter` over a whole table read. ``schema`` is
    the table's read schema with its partition columns: the data
    columns, ``epoch long``, and any inner partition column after it
    (``cell int`` for the cell-partitioned tables). An empty frame of
    the same columns before the table's first epoch lands."""
    df = spark.read.schema(schema).parquet(table_dir) if list_epochs(table_dir) else None
    df = _with_displaced_base(spark, df, table_dir, schema)
    if df is None:
        return local_frame(spark, [], schema).drop("epoch")
    return committed_filter(df, table_dir, epochs, own_epoch)


def _base_dir(table_dir: str) -> str:
    """Where readers take the base rows from: ``epoch=-1``, or — after a
    crash between a swap's move-aside and its promote, which leaves no
    ``epoch=-1`` — the displaced ``_old_base``. That dir is the whole
    previous base (moved by one rename), and every epoch dir the swap
    folds is still in place until cleanup, so the old base plus the
    live epochs is exactly the table before the swap. Readers never
    repair; the next compaction entry (:func:`_recover`) promotes the
    complete tmp."""
    base = _epoch_dir(table_dir, BASE_EPOCH)
    old = os.path.join(table_dir, _OLD_NAME)
    return old if not os.path.isdir(base) and os.path.isdir(old) else base


def _with_displaced_base(
    spark: SparkSession, df: "DataFrame | None", table_dir: str, schema: str
) -> "DataFrame | None":
    """``df`` (a read with the ``epoch`` partition column, or None)
    plus the displaced base (:func:`_base_dir`) read as ``epoch=-1``;
    ``df`` unchanged when the base is in place. Partition discovery
    skips the underscore dir, so it is read on its own."""
    base = _base_dir(table_dir)
    if base == _epoch_dir(table_dir, BASE_EPOCH):
        return df
    old = spark.read.schema(schema).parquet(base).withColumn(
        "epoch", F.lit(BASE_EPOCH).cast("long")
    )
    return old if df is None else df.unionByName(old)


def _recover(table_dir: str) -> None:
    """Finish or roll back an interrupted swap so the table is always
    in a readable, compactable state on entry. Idempotent.

    Crash windows of the swap (write tmp → manifest → move base aside
    → promote tmp → cleanup):
    - base present, manifest in base → crash during cleanup: replay it
      (delete the folded epoch dirs it lists, drop old).
    - base absent, tmp complete → crash between move-aside and promote:
      promote tmp, then replay cleanup from its manifest.
    - base absent, tmp incomplete/missing → roll back (restore the
      displaced old base).
    - any other leftover tmp/old is stale and discarded.
    """
    tmp = os.path.join(table_dir, _TMP_NAME)
    old = os.path.join(table_dir, _OLD_NAME)
    base = _epoch_dir(table_dir, BASE_EPOCH)
    if not os.path.exists(base):
        if os.path.exists(tmp) and _is_complete(tmp):
            os.rename(tmp, base)
        elif os.path.exists(old):
            os.rename(old, base)
    if os.path.isfile(os.path.join(base, _MANIFEST)):
        _finish_swap(table_dir, base)
    # whatever remains is stale state from a finished or abandoned swap
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    _recover_l1(table_dir)


def _next_run_id(table_dir: str) -> int:
    """The next free L1 run id: one below the most negative special
    epoch present (the base, -1, is always occupied conceptually, so
    the first run is -2). Restarts after a major fold deletes the
    runs."""
    return min([BASE_EPOCH, *list_epochs(table_dir)]) - 1


def _recover_l1(table_dir: str) -> None:
    """Finish or discard an interrupted MINOR (L0→L1) fold. The minor
    swap is simpler than the base swap — the target run dir is a fresh
    name, so promotion is one rename and nothing is moved aside:
    write tmp → manifest → rename tmp to ``epoch=-K`` → cleanup.

    - tmp complete (manifest landed) → promote to the next free run id
      and replay its cleanup (the folded L0 dirs still exist).
    - tmp incomplete → discard (the L0 sources are untouched; the next
      fold redoes the work).
    - a promoted run still carrying its manifest → crash during
      cleanup: replay it (delete the folded L0 dirs it lists).
    Idempotent; single-writer like every compaction entry."""
    tmp = os.path.join(table_dir, _TMP_L1)
    if os.path.exists(tmp):
        if _is_complete(tmp):
            os.rename(tmp, _epoch_dir(table_dir, _next_run_id(table_dir)))
        else:
            shutil.rmtree(tmp, ignore_errors=True)
    for e in list_epochs(table_dir):
        d = _epoch_dir(table_dir, e)
        if e < BASE_EPOCH and os.path.isfile(os.path.join(d, _MANIFEST)):
            _finish_swap(table_dir, d)


def _enter(table_dir: str) -> "list[int]":
    """Every swap user's entry: heal an interrupted swap
    (:func:`_recover`), then list the live epochs."""
    _recover(table_dir)
    return list_epochs(table_dir)


def _swap(
    table_dir: str,
    src: DataFrame,
    folded: "list[int]",
    target: int,
    partition_by=None,
    n_files: "int | None" = None,
    extra_manifest: "dict[str, str] | None" = None,
) -> None:
    """The ONE crash-safe table swap — the full fold, the L1 fold and
    the table replace all write through it: ``src`` goes to a tmp dir,
    the fold manifest (``folded``: the epoch dirs the new target
    supersedes) lands after Spark's commit, an existing target is moved
    aside (only the base ever exists — L1 run ids are fresh), the tmp
    is promoted to ``epoch=<target>``, and the replayable cleanup
    (:func:`_finish_swap`) deletes what the manifest lists. Every crash
    window heals on the next entry (:func:`_recover` /
    :func:`_recover_l1`); until then readers see the displaced base
    between move-aside and promote (:func:`_base_dir`), and
    :func:`pending_folded` keeps them from double-counting between
    promote and cleanup.

    ``partition_by`` keeps an inner layout; otherwise ``n_files``
    coalesces the output. ``extra_manifest`` files land in the tmp next
    to the fold manifest (underscore names only — Spark reads skip
    them), so layout metadata travels with the target through the
    atomic swap."""
    tmp = os.path.join(table_dir, _TMP_NAME if target == BASE_EPOCH else _TMP_L1)
    if partition_by:
        # repartition on the partition key first: otherwise every input
        # task writes one file into every partition dir it holds rows
        # for — tasks × dirs tiny files (measured: a 40k-row band base
        # compacted into 2,560 16-row files). One shuffle, one file per
        # dir.
        writer = (
            src.repartition(*[F.col(c) for c in partition_by])
            .write.partitionBy(*partition_by)
        )
    else:
        writer = (src if n_files is None else src.coalesce(n_files)).write
    writer.mode("overwrite").parquet(tmp)
    for name, body in (extra_manifest or {}).items():
        with open(os.path.join(tmp, name), "w") as fh:
            fh.write(body)
    with open(os.path.join(tmp, _MANIFEST), "w") as fh:
        fh.write("\n".join(str(e) for e in folded))
    dst = _epoch_dir(table_dir, target)
    if os.path.exists(dst):
        os.rename(dst, os.path.join(table_dir, _OLD_NAME))
    os.rename(tmp, dst)
    _finish_swap(table_dir, dst)


def start_loop(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    queue_name: str,
    checkpoint_dir: "str | None" = None,
    trigger: "dict | None" = None,
):
    """Start ``fn(batch_df, epoch)`` as a ``foreachBatch`` micro-batch
    loop over ``stream``; returns the StreamingQuery. Every streaming
    loop of the engine starts here.

    ``checkpoint_dir`` is where Spark records the source offsets and
    epoch ids. Keep it stable across restarts: a restart then resumes
    after the last committed batch, and a retried batch keeps its epoch
    id, so epoch-keyed overwrites and epoch sentinels stay idempotent.
    The epoch-state ingests use ``state_dir/_checkpoint``; the store
    merge loops use ``store.root/_checkpoint``. ``None`` gives Spark's
    temporary checkpoint, which every start replays from the source's
    beginning — only for loops whose progress lives in driver memory.
    ``trigger``: ``DataStreamWriter.trigger`` kwargs."""
    w = stream.writeStream.outputMode("append").queryName(queue_name)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    if trigger is not None:
        w = w.trigger(**trigger)
    return w.foreachBatch(fn).start()


def publish_epoch_marker(state_dir: str, epoch: int, payload=None) -> None:
    """Atomically publish an epoch for a MULTI-TABLE streaming state:
    write the ``_commits/epoch=N`` marker AFTER every table's write has
    landed, so readers that take the marker set as their frontier
    (:func:`committed_frontier`) never see an epoch some of whose
    tables are missing (the r11 invariant, first implemented for the
    unified search state — search_stream.py::make_search_ingest).

    ``payload``: optional JSON-serializable stats dict that rides
    inside the marker under the same atomic publish (the r12 pattern —
    e.g. per-epoch row counts a router reads with zero Spark jobs)."""
    commits = os.path.join(state_dir, COMMITS_NAME)
    os.makedirs(commits, exist_ok=True)
    atomic_write_json(_epoch_dir(commits, epoch), payload)


def committed_frontier(state_dir: str) -> "list[int]":
    """The readable epoch frontier of a marker-published state:
    the always-committed negative compaction epochs are implied (every
    reader keeps them); the returned list is ``[-1]`` + every epoch
    whose commit marker landed — just ``[-1]`` before the first marker,
    so a crashed first epoch (tables landed, no marker) stays
    invisible. One listdir — O(live epochs), and compaction keeps that
    bounded."""
    return [BASE_EPOCH, *list_epochs(os.path.join(state_dir, COMMITS_NAME))]


def _prune_markers(state_dir: str, tables=None, absorb=None) -> int:
    """The one marker pruner (see :func:`prune_stale_markers`).
    ``absorb(state_dir, markers, stale)`` is a family's step run after
    the live listing and BEFORE any unlink — the unified search state
    folds the stale markers' row stats into its ``_STATS`` base there
    (:func:`compact_state`'s ``absorb``)."""
    commits = os.path.join(state_dir, COMMITS_NAME)
    if not os.path.isdir(commits):
        return 0
    # ORDER IS LOAD-BEARING (r14, found by the concurrent ingest-vs-
    # compactor stress test): the marker set is snapshotted BEFORE the
    # live-epoch listing. Every ingest writes its table dirs before its
    # marker, so any marker in the snapshot either still has its dirs
    # (seen by the later listing -> kept) or compaction already folded
    # them into the always-committed base (-> safe to prune). The old
    # tables-first order had a window where an ingest landed dirs +
    # marker between the two listings and its FRESH marker was pruned —
    # a committed epoch invisible until the next full fold.
    markers = list_epochs(commits)
    if tables is None:
        tables = [
            n
            for n in os.listdir(state_dir)
            if os.path.isdir(os.path.join(state_dir, n))
            and not n.startswith(("_", "."))
        ]
    live = {e for t in tables for e in list_epochs(os.path.join(state_dir, t))}
    stale = [e for e in markers if e not in live]
    if absorb is not None and markers:
        absorb(state_dir, markers, stale)
    removed = 0
    for e in stale:
        try:
            os.remove(_epoch_dir(commits, e))
        except FileNotFoundError:
            continue  # a concurrent pruner got there first
        removed += 1
    return removed


def prune_stale_markers(state_dir: str, tables=None) -> int:
    """Drop commit markers for epochs no table holds anymore — their
    rows were folded into the always-committed base by compaction, so
    the frontier stays correct and the marker listing stays bounded by
    live epochs. Returns the number of markers removed.

    ``tables=None`` scans EVERY table dir under the state dir — the
    safe default for shared multi-modality state dirs (r13 admission
    state): a compactor that pruned against only ITS tables would drop
    markers for epochs another modality's table still holds, vanishing
    those rows from the frontier. The marker snapshot is taken before
    the live-epoch listing (the r14 ordering, see ``_prune_markers``)."""
    return _prune_markers(state_dir, tables)


def compact_epochs(
    spark: SparkSession,
    table_dir: str,
    partition_by: list[str] | None = None,
    augment=None,
    extra_manifest: "dict[str, str] | None" = None,
    fold_all: bool = False,
) -> int:
    """Fold all committed epochs of one state table into the
    ``epoch=-1`` base partition. Returns the number of epoch
    directories folded (0 = nothing to do). ``partition_by`` preserves
    an inner partitioning (e.g. ``["cell"]`` for the IVF index).
    ``augment`` (df → df) lets a caller derive layout columns before
    the rewrite (e.g. the band index's bucket-hash partition key);
    ``extra_manifest`` files are written into the new base alongside
    the fold manifest (underscore-prefixed names only — Spark reads
    skip them) so layout metadata travels with the base through the
    atomic swap. Self-recovers from a crash mid-swap (see
    ``_recover``)."""
    if not os.path.exists(table_dir):
        return 0
    epochs = _enter(table_dir)
    if not epochs:
        return 0
    # the newest STREAM epoch is normally left alone — it may still be
    # retried by the stream, and a retry overwrites its own epoch dir.
    # Special epochs (the base -1, L1 runs -2…) are compaction
    # artifacts, never retried, so they never count as "newest".
    # ``fold_all`` folds the newest too: for maintenance that runs with
    # the STREAM STOPPED (every epoch committed), e.g. an index rebuild
    # that must re-derive layout columns for every row.
    newest = max([e for e in epochs if e >= 0], default=None)
    fold = epochs if fold_all else [e for e in epochs if e != newest]
    if not fold or (fold == [BASE_EPOCH] and not fold_all):
        # nothing, or only the base itself — rewriting it alone is a
        # full-index write for zero consolidation. EXCEPT under
        # fold_all: model rebuilds exist precisely to rewrite the base
        # under a new augment (refresh_ivf_model/refresh_pq_model on an
        # already-compacted table).
        return 0

    # ONE multi-path read for every flat delta epoch (they share a
    # writer, hence a uniform directory depth — one partition-discovery
    # pass covers a 500-batch backlog instead of 500 sequential reads
    # and an O(backlog)-deep union chain); ONLY the base is read
    # separately, because a compacted base may carry a layout partition
    # the deltas lack (the band index's bkt= subdirs) and Spark rejects
    # mixed-depth partition discovery. epoch is dropped — the base
    # partition re-assigns it; a base-only bkt fills NULL through
    # allowMissingColumns and the augment/partition_by recomputes it.
    flat_fold = [e for e in fold if e != BASE_EPOCH]
    frames = []
    if flat_fold:
        frames.append(
            spark.read.option("basePath", table_dir)
            .parquet(*[_epoch_dir(table_dir, e) for e in flat_fold])
            .drop("epoch")
        )
    if BASE_EPOCH in fold:
        frames.append(spark.read.parquet(_epoch_dir(table_dir, BASE_EPOCH)))
    src = frames[0]
    for f in frames[1:]:
        src = src.unionByName(f, allowMissingColumns=True)
    if augment is not None:
        src = augment(src)
    _swap(
        table_dir,
        src,
        fold,
        BASE_EPOCH,
        partition_by=partition_by,
        n_files=max(1, len(fold) // 8),
        extra_manifest=extra_manifest,
    )
    return len(fold)


def fold_to_l1(
    spark: SparkSession,
    table_dir: str,
    partition_by: list[str] | None = None,
    min_epochs: int = 2,
    augment=None,
) -> int:
    """MINOR fold: consolidate the committed delta epochs (L0) into ONE
    new L1 run directory (``epoch=-K``) without touching the base or
    earlier runs — cost ∝ the folded deltas, never the index. This is
    what keeps a long-running ingest's maintenance tick O(delta): the
    small-files problem is solved per tick, and the O(full base)
    rewrite is deferred until L1 actually amounts to something
    (:func:`compact_epochs_tiered`).

    ``partition_by`` must match the DELTA dirs' layout (e.g.
    ``["cell"]`` for the IVF tables, whose stream writes
    partitionBy(cell)): runs sit at the deltas' directory depth so
    every flat-side reader keeps working unchanged. ``min_epochs``
    skips the fold (and its read/write) when fewer committed deltas
    than that are waiting — a run per micro-batch would just rename
    the small-files problem. Crash-safe: write tmp → manifest →
    one rename → cleanup (see ``_recover_l1``). Returns the number of
    L0 epochs folded."""
    if not os.path.exists(table_dir):
        return 0
    l0 = [e for e in _enter(table_dir) if e >= 0]
    fold = l0[:-1]  # newest stays — it may still be retried
    if not fold or len(fold) < int(min_epochs):
        return 0
    src = (
        spark.read.option("basePath", table_dir)
        .parquet(*[_epoch_dir(table_dir, e) for e in fold])
        .drop("epoch")
    )
    if augment is not None:
        # same contract as compact_epochs' augment: a df→df collapse /
        # layout derivation applied to the folded rows (r14 ADVICE —
        # without it the bloom table's bit_or collapse only ran on the
        # full-fold path and L1 runs accumulated one word-frame per
        # folded epoch, the unbounded read-side-OR growth the collapse
        # exists to prevent)
        src = augment(src)
    _swap(
        table_dir,
        src,
        fold,
        _next_run_id(table_dir),
        partition_by=partition_by,
        n_files=max(1, len(fold) // 8),
    )
    return len(fold)


def replace_table(
    spark: SparkSession,
    table_dir: str,
    src: "DataFrame",
    partition_by: list[str] | None = None,
) -> None:
    """Atomically replace a state table's ENTIRE contents with a fresh
    derivation — the model-rebuild write (refresh_pq_model re-encodes
    every persisted vector under new codebooks; the old rows are not
    folded, they are superseded). Same crash-safe swap as
    ``compact_epochs``, with a manifest listing every live epoch dir so
    the replayable cleanup deletes them; a crash at any point is healed
    on the next entry, and ``pending_folded`` keeps readers from
    double-counting during the promote-to-cleanup window."""
    os.makedirs(table_dir, exist_ok=True)
    live = _enter(table_dir)
    _swap(table_dir, src, live, BASE_EPOCH, partition_by=partition_by)


def _dir_bytes(d: str) -> int:
    """Total data bytes under a directory (local-FS walk; on a real
    cluster this is one FileSystem.getContentSummary call). Underscore
    manifests are noise-level and included."""
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def l1_pressure(table_dir: str) -> "tuple[int, int]":
    """(l1_bytes, base_bytes) — the major-fold trigger inputs."""
    l1 = 0
    base = 0
    for e in list_epochs(table_dir):
        if e == BASE_EPOCH:
            base = _dir_bytes(_epoch_dir(table_dir, e))
        elif e < BASE_EPOCH:
            l1 += _dir_bytes(_epoch_dir(table_dir, e))
    return l1, base


def compact_epochs_tiered(
    spark: SparkSession,
    table_dir: str,
    key_col: "str | None" = None,
    partition_by: list[str] | None = None,
    l1_fraction: float = 0.25,
    min_epochs: int = 2,
    augment=None,
) -> dict:
    """Leveled compaction tick — the maintenance entry a long-running
    ingest should call instead of the full fold:

    1. MINOR: committed L0 epochs → one new L1 run (cost ∝ delta).
    2. MAJOR: only when accumulated L1 bytes ≥ ``l1_fraction`` × base
       bytes (or there is no base yet), rewrite base + runs + remaining
       committed L0 via the full fold — ``key_col`` routes hash-bucketed
       tables through :func:`compact_hashed_epochs` (bucket count
       recomputed for the grown corpus), ``partition_by`` preserves an
       inner layout (IVF ``cell``).

    Write amplification per ingested byte is 1 (its minor fold) +
    1/l1_fraction-amortized major rewrites — the leveled-LSM bound —
    instead of one full-base rewrite per tick. Returns
    ``{"minor": n_l0_folded, "major": n_dirs_folded, "l1_bytes": …,
    "base_bytes": …}``."""
    if augment is not None and key_col is not None:
        raise ValueError(
            "augment is not supported with key_col (the hashed fold "
            "derives its own bucket layout); use one or the other"
        )
    minor = fold_to_l1(
        spark,
        table_dir,
        partition_by=partition_by,
        min_epochs=min_epochs,
        augment=augment,
    )
    l1_b, base_b = l1_pressure(table_dir)
    major = 0
    if l1_b > 0 and (base_b == 0 or l1_b >= float(l1_fraction) * base_b):
        if key_col is not None:
            major = compact_hashed_epochs(spark, table_dir, key_col)
        else:
            major = compact_epochs(
                spark, table_dir, partition_by=partition_by, augment=augment
            )
    return {
        "minor": minor,
        "major": major,
        "l1_bytes": l1_b,
        "base_bytes": base_b,
    }


_NBUCKETS_MANIFEST = "_NBUCKETS"

#: target rows per bucket dir in the compacted band index — the knob
#: that makes the bucket count GROW with the corpus (the auto_lsh_bits
#: rule: any blocking key whose cardinality doesn't grow with the
#: corpus is a quadratic in waiting — here, a probe that stops pruning)
_BAND_ROWS_PER_BUCKET = 4096
_BAND_MIN_BUCKETS = 16
_BAND_MAX_BUCKETS = 65536


def band_bucket_expr(bucket_col, n_buckets: int):
    """The band index's layout partition key: a stable hash of the LSH
    bucket string into ``n_buckets`` directories. Pure function of the
    row — the probe recomputes it on the delta side to get the touched
    directory set."""
    return F.pmod(F.xxhash64(bucket_col), F.lit(int(n_buckets))).cast("int")


def read_nbuckets(table_dir: str) -> "int | None":
    """The bucket count of the table's compacted base, or None when the
    base is absent or folded flat (probes then full-scan it)."""
    try:
        with open(os.path.join(_base_dir(table_dir), _NBUCKETS_MANIFEST)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def split_bucketed_table(spark: SparkSession, table_dir: str, schema: str):
    """The ONE reader decomposition of a (possibly) hash-bucketed state
    table — shared by every probe/serve path so layout fixes land once:
    returns ``(n_buckets, flat_df, base_df)`` where

    - ``flat_df`` reads the flat epoch dirs with the ``epoch``
      partition column attached (``None`` when there are none). With no
      bucketed base it covers EVERY epoch dir including ``epoch=-1``
      (uniform depth — one partition-discovery pass).
    - ``base_df`` reads the bucketed base with the ``bkt`` partition
      column attached (``None`` unless an ``_NBUCKETS`` manifest marks
      the base as bucketed). The mixed-depth tree (flat siblings next
      to ``bkt=`` subdirs) is exactly why the halves cannot share one
      read.

    Both halves take the base from :func:`_base_dir`, so a crash
    between a swap's move-aside and promote leaves it visible.
    :func:`read_bucketed` applies :func:`committed_filter` to
    ``flat_df`` and the ``bkt IN`` prune to ``base_df``. ``schema`` is
    the DATA schema (no epoch/bkt)."""
    if not os.path.isdir(table_dir):
        return None, None, None
    nb = read_nbuckets(table_dir)
    flat_dirs = sorted(
        _epoch_dir(table_dir, e)
        for e in list_epochs(table_dir)
        if not (nb is not None and e == BASE_EPOCH)
    )
    flat = None
    if flat_dirs:
        flat = (
            spark.read.schema(schema + ", epoch long")
            .option("basePath", table_dir)
            .parquet(*flat_dirs)
        )
    base = None
    base_dir = _base_dir(table_dir)
    if nb is None:
        flat = _with_displaced_base(spark, flat, table_dir, schema + ", epoch long")
    elif os.path.isdir(base_dir):
        base = (
            spark.read.schema(schema + ", bkt int")
            .option("basePath", base_dir)
            .parquet(base_dir)
        )
    return nb, flat, base


def read_bucketed(
    spark: SparkSession,
    table_dir: str,
    schema: str,
    keys: "DataFrame | None" = None,
    key_col: "str | None" = None,
    epochs=None,
    own_epoch=None,
) -> "DataFrame | None":
    """A (possibly) hash-bucketed state table at the committed frontier
    — the read side of the bucketed-base layout
    (:func:`compact_hashed_epochs`), shared by the near-dup probes and
    the BM25 serving read:

    - Flat epoch dirs (everything the last compaction left live) pass
      :func:`committed_filter` (``epochs``, ``own_epoch``) and are read
      in full — their total size is bounded by the deltas since that
      compaction, not the corpus.
    - The bucket-partitioned base is part of every frontier. With
      ``keys`` it is PRUNED to the directories ``keys[key_col]`` hash
      into (``bkt IN (touched)``, a literal list — directory-level
      pruning, never a row scan of the base; the collect is bounded by
      n_buckets ≤ 65536, never by the corpus). The pruned fraction is
      ~min(1, keys / n_buckets), and compaction scales n_buckets with
      the corpus, so probe IO stays O(delta) as the index grows — the
      fix for the O(index) band/shingle scans (r9 VERDICT,
      BENCH_stream_scale minhash ingest b=0.10). Callers still filter
      rows: a bucket holds other keys too.

    A base with no ``_NBUCKETS`` manifest is read in full like a
    delta dir. Returns None when the table holds no epoch dir yet.
    ``schema`` is the table's DATA schema (no epoch/bkt columns)."""
    nb, flat, base = split_bucketed_table(spark, table_dir, schema)
    frames = []
    if flat is not None:
        frames.append(committed_filter(flat, table_dir, epochs, own_epoch))
    if base is not None:
        if keys is not None:
            touched = sorted(
                r["b"]
                for r in keys.select(band_bucket_expr(F.col(key_col), nb).alias("b"))
                .distinct()
                .collect()
            )
            base = base.filter(F.col("bkt").isin(touched))
        frames.append(base.drop("bkt"))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def compact_hashed_epochs(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    n_buckets: "int | None" = None,
) -> int:
    """Compact a state table with the HASH-BUCKETED base layout: the
    folded rows are written partitioned by ``bkt = hash(key_col) %
    n_buckets``, so a probe reads only the directories its delta's
    keys hash into (literal ``bkt IN`` → directory-level pruning)
    instead of scanning the whole index. ``n_buckets`` defaults to
    rows/4096 clamped to [16, 65536] — it grows with the corpus,
    keeping the pruned fraction ∝ delta/corpus (the LSM shape: small
    flat delta epochs, one bucket-indexed base). The count is recorded
    in the base's ``_NBUCKETS`` manifest (travels through the atomic
    swap; re-compaction recomputes it for the grown corpus). Mirrors
    the reference's bucket-index routing
    (app/server/gateway/bucket_planner.go:55-123)."""
    if n_buckets is None:
        live = list_epochs(table_dir)
        if not live:
            return 0
        # TWO count jobs, not one per epoch dir (a 500-batch backlog
        # would run 500 sequential jobs before folding starts): all
        # flat dirs share one partition-discovery pass; only the
        # bkt-partitioned base needs its own (mixed depth)
        bucketed_base = read_nbuckets(table_dir) is not None
        flat = [
            _epoch_dir(table_dir, e)
            for e in live
            if not (bucketed_base and e == BASE_EPOCH)
        ]
        rows = 0
        if flat:
            rows += spark.read.option("basePath", table_dir).parquet(*flat).count()
        if bucketed_base and BASE_EPOCH in live:
            rows += spark.read.parquet(_epoch_dir(table_dir, BASE_EPOCH)).count()
        n_buckets = min(
            _BAND_MAX_BUCKETS,
            max(_BAND_MIN_BUCKETS, 1 << max(0, rows // _BAND_ROWS_PER_BUCKET).bit_length()),
        )

    def aug(df):
        return df.drop("bkt").withColumn(
            "bkt", band_bucket_expr(F.col(key_col), n_buckets)
        )

    return compact_epochs(
        spark,
        table_dir,
        partition_by=["bkt"],
        augment=aug,
        extra_manifest={_NBUCKETS_MANIFEST: str(int(n_buckets))},
    )


def compact_band_epochs(
    spark: SparkSession, table_dir: str, n_buckets: "int | None" = None
) -> int:
    """The LSH band index's :func:`compact_hashed_epochs` (keyed by the
    band bucket string — probes prune to the delta's buckets)."""
    return compact_hashed_epochs(spark, table_dir, "bucket", n_buckets)


class Layout(NamedTuple):
    """How one state table folds, declared once per family and used by
    both the full and the tiered entry. ``key_col``: a hash-bucketed
    base (:func:`compact_hashed_epochs` — probes prune to their keys'
    buckets); ``partition_by``: an inner layout the base and the L1 runs
    keep (IVF ``cell``); ``augment``: a df→df step run at BOTH fold
    levels (the bloom table's ``bit_or`` collapse). All unset: a flat
    fold."""

    key_col: "str | None" = None
    partition_by: "tuple[str, ...] | None" = None
    augment: "Callable[[DataFrame], DataFrame] | None" = None


def compact_state(
    spark: SparkSession,
    state_dir: str,
    layouts: "dict[str, Layout]",
    tiered: bool = False,
    absorb=None,
) -> dict:
    """The one compaction entry of every streaming state family: fold
    each table under ``state_dir`` by its :class:`Layout`, then prune
    the commit markers of epochs no table holds anymore (the folded rows
    live in the always-committed base, so the frontier keeps
    resolving; a state without markers prunes nothing). Returns
    ``{table: result}``.

    ``tiered=False`` runs the full fold (:func:`compact_epochs` /
    :func:`compact_hashed_epochs`) and returns fold counts;
    ``tiered=True`` runs the O(delta) leveled tick
    (:func:`compact_epochs_tiered` — minor folds every call, the full
    base rewrite only when L1 pressure warrants it) and returns its
    per-table dicts. ``absorb`` is the family's pre-unlink prune step
    (the unified search state's ``_STATS`` absorption); the family
    wrappers fix it, they do not expose it."""
    out = {}
    for table, lay in layouts.items():
        path = os.path.join(state_dir, table)
        if tiered:
            out[table] = compact_epochs_tiered(
                spark, path, key_col=lay.key_col,
                partition_by=lay.partition_by, augment=lay.augment,
            )
        elif lay.key_col is not None:
            out[table] = compact_hashed_epochs(spark, path, lay.key_col)
        else:
            out[table] = compact_epochs(
                spark, path, partition_by=lay.partition_by, augment=lay.augment
            )
    _prune_markers(state_dir, absorb=absorb)
    return out


def neardup_layouts(id_col: str = "doc_id") -> "dict[str, Layout]":
    """The near-dup tables: pairs fold flat (output-sized, read whole);
    the band index is bucketed by the LSH bucket string (probes prune
    to the delta's buckets); the shingle table by doc id (the verify
    join prunes to the candidate partner ids' buckets — the OTHER
    O(index) read the r9 stream stress surfaced)."""
    return {
        "pairs": Layout(),
        "bands": Layout(key_col="bucket"),
        "shingles": Layout(key_col=id_col),
    }


#: The media near-dup tables fold FLAT: the fingerprint index is
#: 16 bytes/item and every probe is a blocked equi-join on the
#: hash-chunk key (not a point read by media_id), so a hash-bucketed
#: base would add a shuffle at fold time and prune nothing at probe
#: time; ``pairs/`` is output-sized and read whole.
MEDIA_LAYOUTS = {"pairs": Layout(), "hashes": Layout()}

#: The IVF cell index keeps its cell partitioning (the probe's
#: partition pruning must keep working on the base and the L1 runs).
IVF_LAYOUTS = {"cells": Layout(partition_by=("cell",))}

#: The search index: the postings base is WORD-hash-bucketed so a BM25
#: serving read prunes to the query words' directories
#: (persisted_postings ``words=``); doclen stays flat — corpus stats
#: (N, avgdl) need every row anyway.
SEARCH_LAYOUTS = {"postings": Layout(key_col="word"), "doclen": Layout()}


def compact_neardup_state(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id", tiered: bool = False
) -> dict:
    """Compact all three near-dup ingest tables (:func:`neardup_layouts`)
    and prune stale commit markers (:func:`compact_state`). Returns
    {table: folded_epochs}, or the tiered per-table dicts with
    ``tiered=True`` — the maintenance tick for a long-running ingest."""
    return compact_state(spark, state_dir, neardup_layouts(id_col), tiered)


def compact_media_state(
    spark: SparkSession, state_dir: str, tiered: bool = False
) -> dict:
    """Compact the media near-dup ingest state (streaming/
    media_stream.py; :data:`MEDIA_LAYOUTS`), then prune stale commit
    markers."""
    return compact_state(spark, state_dir, MEDIA_LAYOUTS, tiered)


def compact_ivf_state(
    spark: SparkSession, state_dir: str, tiered: bool = False
) -> dict:
    """Compact the IVF cell index, preserving the cell partitioning
    (:data:`IVF_LAYOUTS`)."""
    return compact_state(spark, state_dir, IVF_LAYOUTS, tiered)


def compact_search_state(
    spark: SparkSession, state_dir: str, tiered: bool = False
) -> dict:
    """Compact the incremental search index's tables (tf-bearing
    postings + doc lengths, streaming/search_stream.py;
    :data:`SEARCH_LAYOUTS`)."""
    return compact_state(spark, state_dir, SEARCH_LAYOUTS, tiered)
