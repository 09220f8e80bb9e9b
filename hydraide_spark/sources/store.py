"""TreasureStore: a parquet-backed mutable table with a change-event
log — the storage/transaction layer under the mutation and claim
operators.

Maps the reference's per-swamp storage + reactivity model (SURVEY.md
§2.1, §2.9) onto immutable snapshots:

- **state** lives in versioned parquet snapshots ``root/v=N/``; a write
  produces v=N+1 (the Spark reading of the reference's append-only
  chronicle + compaction: every snapshot is already compact). Each
  write records its version's schema in memory, so reading a version
  this object wrote runs no footer-inference job (``_read_flat``).
- **request-sized keyed writes**: increment, patch, uint32slice and
  the claims work on their targeted rows only, collect them once, and
  commit the untargeted rows ∪ the rewritten ones; their results are
  driver-side frames, so no write leaves a cache entry behind.
- **changes** append to ``root/changes/`` as parquet batches with the
  reference's event shape (proto:755-784): op NEW/UPDATED/DELETED, key,
  old/new row payloads (JSON-encoded, schema-agnostic), event_time, and
  a monotonically increasing batch id. Unchanged writes emit NO event
  (reference StatusSame, swamp.go:2233-2234). Structured Streaming
  tails this directory (streaming.subscribe).
- **one commit**: every mutation ends in ``_commit``, which writes the
  new version and then its events under that version's batch id, with
  one payload rule — ``new`` is the written row's value columns,
  ``old`` the base row's. So the newest ``history()`` value of a live
  key is its ``current()`` row, for every mutation (pinned per op by
  ``test_events_replay_to_state``; a Spark-free lint keeps the version
  write and the event log private to ``_commit``).
- **serialization**: all mutations for a store go through this single
  applier object — the engine's analogue of the reference's per-swamp
  guard ("two concurrent callers never observe overlapping sets",
  proto:194-196). On a cluster the same role is played by Delta's
  optimistic concurrency or a single foreachBatch owner per table; the
  applier keeps that contract explicit and testable locally.

Scale note: snapshots are partitioned parquet — at 100 TB a version
bump rewrites only the partitions a batch touches (partitionBy on the
namespace columns); the change log is append-only and time-partitioned.

**Bucketed manifest layout (r11, opt-in ``n_buckets=``)** — the
partitioned-merge upgrade for the KEYED mutation hot path (the ×100
stress's worst entry: store_set_bulk10pct rewrote the ENTIRE snapshot
per commit, b=0.73). State is hash-bucketed by key
(``b = xxhash64(key) % n_buckets``); version ``v=N`` holds parquet
ONLY for the buckets the batch touched plus a ``_BUCKETS`` manifest
mapping every live bucket to the version dir that owns its current
copy — untouched buckets are REFERENCED, never rewritten (the
Iceberg/Delta snapshot idiom, and the reference's v2 storage split of
write-buffer vs settled chunks). Keyed mutations (set/delete/
increment/patch/patch_each/uint32slice) scope BOTH the read and the
write to the touched buckets, so a 10%-of-keys batch reads and writes
~10% of the store; whole-store scans (shift/patch-expired claims, a
capped patch's whole-swamp pre-count) read everything by semantics
but still write only the buckets their mutated keys live in. The
manifest is the atomic publish point (tmp + rename, written AFTER the
parquet): a crashed write leaves an unpublished dir that ``_versions``
never counts and the next commit overwrites. ``compact`` keeps every
version dir a kept manifest still references.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

import functools
import threading

from ..operators import claims as claims_ops
from ..operators import mutate as mutate_ops
from ..operators.read import _keys_predicate
from ..query.filters import Pred
from ..session import local_frame


def _serialized(method):
    """Per-store transaction guard: every mutation runs under the
    store's lock, so concurrent callers interleave as a total order of
    read-snapshot -> write-snapshot transactions — the reference's
    per-swamp guarantee that two claimants never observe overlapping
    sets (proto:194-196; swamp.go:2622-2684 takes the swamp write lock
    for the whole shift). On a cluster the same role is played by
    Delta's optimistic concurrency or a single foreachBatch owner; the
    lock keeps the contract explicit and testable locally."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        with self._txn:
            self._scope = None  # never inherit a failed txn's scope
            try:
                return method(self, *args, **kwargs)
            finally:
                # a mutation that RAISES after scoping must not leave
                # current() returning a partial (touched-buckets-only)
                # view to its caller's error handling
                self._scope = None

    return wrapper

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("op", T.StringType(), False),  # NEW | UPDATED | DELETED
        T.StructField("key", T.StringType(), False),
        T.StructField("new", T.StringType(), True),  # JSON row payload
        T.StructField("old", T.StringType(), True),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)


class TreasureStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str = "key",
        partition_by: Sequence[str] = (),
        name: Optional[str] = None,
        registry=None,
        n_buckets: Optional[int] = None,
    ):
        """``partition_by``: namespace columns (e.g. sanctuary/realm/
        swamp) that shard every snapshot on disk — per-swamp reads
        partition-prune to one directory, and on a cluster (Delta
        dynamic partition overwrite) a version bump rewrites only the
        partitions a batch touches. Locally each version is still a
        full write; the LAYOUT is what carries to 100 TB.

        ``name`` + ``registry`` (sources.registry.SwampRegistry) route
        the store through the swamp-pattern registry — the reference's
        ``RegisterSwamp`` surface: the resolved ``SwampSettings``
        provide the partition layout (unless ``partition_by`` is given
        explicitly), the in-memory/cache lifecycle honored by
        ``current``/``close_if_idle``, and the write interval consumed
        by ``streaming.subscribe.trigger_for``."""
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self.settings = registry.resolve(name) if registry and name else None
        if self.settings is not None and not partition_by:
            partition_by = self.settings.partition_by
        self.partition_by = list(partition_by)
        # bucketed manifest layout: the arg wins; otherwise adopt the
        # persisted _LAYOUT marker so reopening an existing bucketed
        # store needs no constructor knowledge
        if n_buckets is None:
            try:
                with open(os.path.join(root, "_LAYOUT")) as fh:
                    n_buckets = int(json.load(fh).get("n_buckets") or 0) or None
            except (OSError, ValueError):
                n_buckets = None
        if n_buckets is not None and self.partition_by:
            raise ValueError(
                "n_buckets (bucketed manifest layout) and partition_by "
                "(namespace layout) are mutually exclusive"
            )
        self.n_buckets = int(n_buckets) if n_buckets else None
        # touched-bucket scope is THREAD-LOCAL: a mutation thread's
        # scoped read must never leak into a concurrent reader thread's
        # lock-free current() (the claim loop mutates from a stream
        # thread while serving threads read)
        self._scope_tl = threading.local()
        self._cached: Optional[tuple[int, DataFrame]] = None
        # version -> data schema: recorded by every version write, so a
        # read needs no footer-inference job (see _version_schema)
        self._schema_cache: "dict[int, T.StructType]" = {}
        self._last_access: float = 0.0
        self._txn = threading.RLock()
        self._recover_changes()
        os.makedirs(self.changes_dir, exist_ok=True)

    @property
    def _scope(self) -> "Optional[list[int]]":
        return getattr(self._scope_tl, "v", None)

    @_scope.setter
    def _scope(self, value) -> None:
        self._scope_tl.v = value

    # -- layout ------------------------------------------------------------

    @property
    def changes_dir(self) -> str:
        return os.path.join(self.root, "changes")

    def logged_in_range(self, lo: int, hi: int) -> bool:
        """Does the change log still contain any batch id in
        ``[lo, hi)``? Answered from the log's FILE NAMES alone: every
        log file carries its batch-id range in its name
        (``b<lo>-<hi>-…``: ``_emit`` writes one single-batch file;
        ``prune_changes`` names its compacted file with the kept
        range), so the probe is one directory listing — filesystem
        metadata, no Spark job, and the index can never go STALE
        because it lives on the data files themselves (a lost/deleted
        commit file drops out of the listing, unlike any side-index
        marker)."""
        lo, hi = int(lo), int(hi)
        if not os.path.isdir(self.changes_dir):
            return False
        for n in os.listdir(self.changes_dir):
            m = re.match(r"^b(\d+)-(\d+)-.*\.parquet$", n)
            if m and int(m.group(1)) < hi and int(m.group(2)) >= lo:
                return True
        return False

    def _recover_changes(self) -> None:
        """Finish or roll back an interrupted :meth:`prune_changes`
        swap. A crash between the two renames would otherwise leave NO
        live change log — the next ``_emit`` silently recreates an
        empty one and strands all history in the ``.old`` dir. Run at
        store init and at prune entry; idempotent.

        - log missing, complete ``.compacting`` (has ``_SUCCESS``)
          present → finish the swap (promote the compacted log).
        - log missing, ``.old`` present → roll back (restore it).
        - leftovers after the log exists are stale; discard them.
        """
        import shutil

        tmp = self.changes_dir + ".compacting"
        old = self.changes_dir + ".old"
        if not os.path.exists(self.changes_dir):
            if os.path.exists(tmp) and os.path.isfile(os.path.join(tmp, "_SUCCESS")):
                os.rename(tmp, self.changes_dir)
            elif os.path.exists(old):
                os.rename(old, self.changes_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        # finish or discard _emit stagings interrupted between the
        # staged write and the publish rename: a COMPLETE staging
        # (_SUCCESS landed) publishes now; an incomplete one is a
        # partial write the log never saw — discard it
        if os.path.isdir(self.changes_dir):
            for n in os.listdir(self.changes_dir):
                m = re.fullmatch(r"\.staging-(\d+)", n)
                if m is None:
                    continue
                staged = os.path.join(self.changes_dir, n)
                if os.path.isfile(os.path.join(staged, "_SUCCESS")):
                    self._publish_change_file(staged, int(m.group(1)))
                else:
                    shutil.rmtree(staged, ignore_errors=True)

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            m = re.fullmatch(r"v=(\d+)", name)
            if m:
                v = int(m.group(1))
                # bucketed layout: a version exists only once its
                # manifest landed (the atomic publish point) — a
                # crashed write's dir is invisible and gets
                # overwritten by the next commit
                if self.n_buckets is not None and not os.path.isfile(
                    self._manifest_path(v)
                ):
                    continue
                out.append(v)
        return sorted(out)

    # -- bucketed manifest layout (r11) -------------------------------------

    _MANIFEST_NAME = "_BUCKETS"

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self._snapshot_path(v), self._MANIFEST_NAME)

    def _bucket_expr(self) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(self.key_col).cast("string")),
            F.lit(self.n_buckets),
        ).cast("int")

    def _manifest_layout(
        self, v: int
    ) -> "tuple[dict[int, tuple[int, list[str]]], tuple[int, list[str]] | None]":
        """(mapping, flat): ``mapping`` = bucket -> (owner version, file
        names); ``flat``
        = (owner version, file names) of a whole-store WRITE-BUFFER
        version (r12: a full-coverage bulk write lands as one flat dir
        — no bucket shuffle, no n_buckets output dirs) that owns every
        bucket NOT in ``mapping``, or None. A bucket re-written after
        the flat version shadows the flat copy's rows for that bucket;
        a bucket emptied after it is tombstoned with an empty file
        list."""
        with open(self._manifest_path(v)) as fh:
            raw = json.load(fh)
        mapping = {
            int(b): (int(entry[0]), entry[1]) for b, entry in raw["buckets"].items()
        }
        flat = raw.get("flat")
        return mapping, ((int(flat[0]), flat[1]) if flat else None)

    def _read_manifest_full(self, v: int) -> "dict[int, tuple[int, list[str]]]":
        return self._manifest_layout(v)[0]

    def _read_manifest(self, v: int) -> "dict[int, int]":
        return {b: o for b, (o, _f) in self._read_manifest_full(v).items()}

    def _publish_manifest(
        self,
        v: int,
        full: "dict[int, tuple[int, list[str]]]",
        flat: "tuple[int, list[str]] | None" = None,
    ) -> None:
        path = self._manifest_path(v)
        tmp = path + ".tmp"
        doc = {
            "buckets": {
                str(b): [o, files] for b, (o, files) in sorted(full.items())
            }
        }
        if flat is not None:
            doc["flat"] = [int(flat[0]), flat[1]]
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)

    def _bucket_paths(
        self,
        full: "dict[int, tuple[int, list[str]]]",
        buckets=None,
    ) -> list[str]:
        want = full if buckets is None else {
            b: full[b] for b in buckets if b in full
        }
        out: list[str] = []
        for b, (o, files) in sorted(want.items()):
            # an EMPTY list is a tombstone (bucket emptied after a flat
            # write-buffer — it must shadow the flat copy, so it
            # contributes no paths rather than falling through)
            d = os.path.join(self._snapshot_path(o), f"b={b}")
            out.extend(os.path.join(d, f) for f in files)
        return out

    def _version_schema(self, v: int):
        """The data schema AS OF version ``v`` (written with every
        bucketed commit): bucket files from OLDER versions may lack
        columns a later mutation added (increment/patch meta stamps),
        and forcing one fixed schema would either hide the new columns
        (the init seed) or drop rows' nulls inconsistently (a random
        footer). Reading with the version's own schema makes old files
        fill the added columns with NULL — the unionByName
        (allowMissingColumns) semantics the layout needs. Every
        bucketed commit writes ``_SCHEMA`` before its manifest."""
        cache = self._schema_cache
        if v not in cache:
            with open(os.path.join(self._snapshot_path(v), "_SCHEMA")) as fh:
                cache[v] = T.StructType.fromJson(json.load(fh))
        return cache[v]

    def _read_flat(self, v: int) -> DataFrame:
        """Read flat version ``v`` with its known schema — the one its
        write recorded — so the read runs no footer-inference job (the
        bucketed layout's ``_version_schema`` idiom, held in memory:
        no file is added to the version dir). A version this object
        neither wrote nor read before (a reopened store) is inferred
        once, on its first read. A user-given schema reads back
        nullable, equal to the inferred one."""
        path = self._snapshot_path(v)
        schema = self._schema_cache.get(v)
        if schema is None:
            df = self.spark.read.parquet(path)
            self._schema_cache[v] = df.schema
            return df
        return self.spark.read.schema(schema).parquet(path)

    def _write_flat_version(self, df: DataFrame, v: int) -> None:
        """Write flat version ``v`` and record its schema, overwriting
        any entry a compacted or destroyed ``v`` left. A partitioned
        layout records nothing: its partition column types come from
        partition-value inference, so its first read infers them."""
        self._writer(df).parquet(self._snapshot_path(v))
        if self.partition_by:
            self._schema_cache.pop(v, None)
        else:
            self._schema_cache[v] = df.schema

    def _bucketed_read(self, v: int, buckets=None) -> DataFrame:
        """Resolve version ``v``'s manifest and read the referenced
        bucket FILES (optionally only ``buckets``' ones) in ONE
        explicit-paths read: no directory listing, no footer schema
        inference — the manifest IS the file index (Iceberg idiom).
        No partition column appears (``b`` is layout, derivable from
        the key)."""
        mapping, flat = self._manifest_layout(v)
        schema = self._version_schema(v)
        frames = []
        paths = self._bucket_paths(mapping, buckets)
        if paths:
            frames.append(self.spark.read.schema(schema).parquet(*paths))
        if flat is not None:
            # the flat write-buffer leg: its files hold the whole store
            # as of the flat version, so rows of buckets RE-OWNED by
            # later bucket dirs (or tombstoned empty) are stale and
            # filtered out by bucket id; a scoped read additionally
            # filters to the requested buckets (a filter, not a
            # directory prune — the documented write-buffer cost until
            # settle()/the next full write re-buckets)
            need = buckets is None or any(int(b) not in mapping for b in buckets)
            fpaths = [
                os.path.join(self._snapshot_path(flat[0]), f) for f in flat[1]
            ]
            if need and fpaths:
                fr = self.spark.read.schema(schema).parquet(*fpaths)
                if mapping:
                    fr = fr.filter(
                        ~self._bucket_expr().isin([int(b) for b in mapping])
                    )
                if buckets is not None:
                    fr = fr.filter(
                        self._bucket_expr().isin([int(b) for b in buckets])
                    )
                frames.append(fr)
        if not frames:
            # fully-empty store (every bucket empty): reconstruct the
            # schema from the layout-seed parquet written at init
            return self.spark.read.parquet(
                os.path.join(self.root, "_schema")
            ).limit(0)
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def _touched_buckets(self, keys) -> list[int]:
        """Bucket ids a key set hashes into. ``keys`` is a python
        sequence — hashed by a projection over its local frame, which
        Catalyst folds on the driver (no job) — or a DataFrame carrying
        ``key_col``, whose collect is bounded by min(|keys|,
        n_buckets)."""
        if isinstance(keys, DataFrame):
            keys = keys.select(self._bucket_expr().alias("_b")).distinct()
        else:
            keys = local_frame(
                self.spark, [(str(k),) for k in keys], f"{self.key_col} string"
            ).select(self._bucket_expr().alias("_b"))
        return sorted({r["_b"] for r in keys.collect()})

    def _scope_to(self, keys) -> None:
        """Scope the CURRENT transaction to the buckets ``keys`` hash
        into: ``current()`` then reads only those buckets' dirs and
        ``_write_version`` rewrites only them (manifest-referencing the
        rest). No-op on the plain layout. Set by keyed mutations before
        their base read — or, on whole-store claim paths, AFTER the
        claim set materializes (read is full by semantics, the write
        still prunes). ``_write_version`` consumes and clears it; the
        transaction guard clears any stale scope a failed txn left.
        DataFrames built from a scoped ``current()`` keep their
        resolved paths, so post-write event projections stay valid
        after the scope clears."""
        if self.n_buckets is not None:
            self._scope = self._touched_buckets(keys)

    @property
    def version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else -1

    def _snapshot_path(self, v: int) -> str:
        return os.path.join(self.root, f"v={v}")

    # -- state -------------------------------------------------------------

    def exists(self) -> bool:
        return self.version >= 0

    def current(self) -> DataFrame:
        v = self.version
        if v < 0:
            raise FileNotFoundError(f"store {self.root} has no snapshot")
        if self.n_buckets is not None:
            return self._bucketed_read(v, buckets=self._scope)
        if self.settings is not None and self.settings.in_memory:
            # IsInMemorySwamp: pin the live snapshot in executor memory;
            # a version bump invalidates the pin (new snapshot, new
            # cache), close_if_idle releases it (CloseAfterIdle).
            import time

            if self._cached is None or self._cached[0] != v:
                if self._cached is not None:
                    self._cached[1].unpersist()
                self._cached = (v, self._read_flat(v).cache())
            self._last_access = time.monotonic()
            return self._cached[1]
        return self._read_flat(v)

    def close_if_idle(self, now: Optional[float] = None) -> bool:
        """Reference CloseAfterIdle (proto:810-815): release the pinned
        in-memory snapshot once idle for ``close_after_idle_sec``.
        Call from a maintenance tick; ``now`` (time.monotonic clock)
        is injectable for tests. Returns True if the pin was released.
        Data is never lost — snapshots are already durable parquet, so
        'close + flush' reduces to dropping the cache."""
        import time

        if self._cached is None or self.settings is None:
            return False
        now = time.monotonic() if now is None else now
        if now - self._last_access < self.settings.close_after_idle_sec:
            return False
        self._cached[1].unpersist()
        self._cached = None
        return True

    def snapshot(self, v: int) -> DataFrame:
        """Time travel: read snapshot version ``v`` exactly as written
        (versions are immutable directories, so historical reads cost
        the same as current ones and need no log replay). Raises
        FileNotFoundError for a compacted/never-written version."""
        if v not in self._versions():
            raise FileNotFoundError(f"store {self.root} has no snapshot v={v}")
        if self.n_buckets is not None:
            return self._bucketed_read(v)
        return self._read_flat(v)

    def history(self) -> DataFrame:
        """SCD2 history from the change log: one row per key VERSION
        with (key, value JSON, valid_from_batch, valid_to_batch, op).
        ``valid_to_batch`` is NULL while the version is current;
        DELETED events close the previous interval and carry no value.
        Built with one per-key lead() window over the append-only log —
        O(events) work, no snapshot reads — and consistent with the
        snapshots by construction (each batch id IS a snapshot
        version; equivalence asserted in tests, the reference's
        chronicle-replay property)."""
        from pyspark.sql import Window as W

        ev = self.changes()
        w = W.partitionBy("key").orderBy("batch_id")
        return (
            ev.withColumn("valid_to_batch", F.lead("batch_id").over(w))
            .select(
                "key",
                F.col("new").alias("value"),
                F.col("batch_id").alias("valid_from_batch"),
                "valid_to_batch",
                "op",
                "event_time",
            )
        )

    def init(self, df: DataFrame) -> None:
        """Create v=0 without emitting events (bulk load / migration)."""
        if self.n_buckets is not None:
            # layout marker (reopen without constructor args) + schema
            # seed (the read fallback when every bucket is empty)
            os.makedirs(self.root, exist_ok=True)
            with open(os.path.join(self.root, "_LAYOUT"), "w") as fh:
                json.dump({"n_buckets": self.n_buckets}, fh)
            df.limit(0).write.mode("overwrite").parquet(
                os.path.join(self.root, "_schema")
            )
            self._write_bucketed(df, self.version + 1, base_mapping={})
            return
        self._write_flat_version(df, self.version + 1)

    def _writer(self, df: DataFrame):
        w = df.write.mode("overwrite")
        return w.partitionBy(*self.partition_by) if self.partition_by else w

    def _write_bucketed(
        self,
        df: DataFrame,
        v: int,
        base_mapping: "dict[int, tuple[int, list[str]]]",
        base_flat: "tuple[int, list[str]] | None" = None,
    ) -> None:
        """One bucketed version commit: write ``df``'s rows partitioned
        by bucket under ``v=N`` (mode overwrite clears any unpublished
        crash leftover), then publish the manifest — buckets present in
        the new dir point at N, scoped-out buckets keep their previous
        owner, and a touched bucket that came back EMPTY (every row
        deleted) drops out of the mapping. The manifest rename is the
        atomic publish."""
        path = self._snapshot_path(v)
        if self._scope is not None:
            # keyed paths already produce only scoped rows (their base
            # read was scoped); claim paths hand the FULL new state and
            # rely on this filter to prune the write to the buckets
            # their mutated keys live in
            df = df.filter(
                self._bucket_expr().isin([int(b) for b in self._scope])
            )
        (
            df.withColumn("b", self._bucket_expr())
            .repartition(F.col("b"))
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(path)
        )
        written: "dict[int, list[str]]" = {}
        for d in os.listdir(path):
            if not d.startswith("b="):
                continue
            b = int(d.split("=", 1)[1])
            written[b] = sorted(
                f
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        mapping = dict(base_mapping)
        flat = base_flat
        if self._scope is not None:
            for b in self._scope:
                mapping.pop(b, None)
        else:
            mapping = {}
            flat = None
        mapping.update({b: (v, files) for b, files in written.items()})
        if flat is not None and self._scope is not None:
            # over a flat write-buffer base, a touched bucket that came
            # back EMPTY must be tombstoned (empty file list) — simply
            # dropping it from the mapping would hand ownership back to
            # the flat copy and resurrect its deleted rows
            for b in self._scope:
                if int(b) not in mapping:
                    mapping[int(b)] = (v, [])
            if len(mapping) >= int(self.n_buckets):
                flat = None  # every bucket re-owned: the buffer is dead
        # the schema AS OF this commit, BEFORE the manifest (the
        # publish point) — reads resolve evolved columns through it
        self._record_schema(v, df.schema)
        self._publish_manifest(v, mapping, flat)

    def changes(self) -> DataFrame:
        return self.spark.read.schema(CHANGE_SCHEMA).parquet(self.changes_dir)

    # -- lifecycle -----------------------------------------------------------

    def destroy(self) -> None:
        """Reference ``Destroy``/``DestroyBulk`` (proto:689-733): drop the
        whole store — every snapshot version and the change log. The
        parquet analogue of deleting the swamp's `.hyd` file; bulk = a
        loop over stores (each destroy is independent, no coordination)."""
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)
        self._schema_cache.clear()

    def compact(self, keep_versions: int = 1) -> int:
        """Reference ``CompactSwamp`` (proto:2967-2977; compactor.go):
        reclaim dead storage. Snapshots are already compact — every
        version holds live rows only — so compaction reduces to dropping
        superseded version directories (the analogue of rewriting the
        append-only file without tombstones). Keeps the newest
        ``keep_versions``; returns the number of versions removed
        FROM TIME TRAVEL — deleted dirs plus donor versions demoted to
        bucket storage (their manifests removed; ``snapshot(v)`` then
        raises).

        Bucketed layout: a kept version's manifest may REFERENCE bucket
        dirs living in older version dirs (that's the point of the
        layout) — those dirs stay as DONORS until no kept manifest
        needs them; every compact rescans ALL on-disk version dirs, so
        a donor dereferenced by later commits is reclaimed by the next
        compact even though it stopped being a listed version. Reclaim
        is per-version-dir, like Iceberg snapshot expiry."""
        import shutil

        vs = self._versions()
        drop = vs[:-keep_versions] if keep_versions > 0 else vs
        demoted = 0
        if self.n_buckets is not None:
            kept = vs[-keep_versions:] if keep_versions > 0 else []
            referenced: set[int] = set(kept)
            for v in kept:
                mapping, flat = self._manifest_layout(v)
                referenced.update(o for o, _f in mapping.values())
                if flat is not None:
                    referenced.add(int(flat[0]))  # the write-buffer donor
            # ALL on-disk version dirs, including donors a previous
            # compact already demoted (their manifests are gone, so
            # _versions() no longer lists them) — once nothing kept
            # references them, they are reclaimable dead storage
            on_disk = sorted(
                int(m.group(1))
                for m in (
                    re.fullmatch(r"v=(\d+)", n)
                    for n in (os.listdir(self.root) if os.path.isdir(self.root) else [])
                )
                if m
            )
            donors = [v for v in on_disk if v not in kept and v in referenced]
            drop = [v for v in on_disk if v not in kept and v not in referenced]
            # a donor dir survives as bucket storage only — DELETE its
            # manifest so it stops being a readable version: its own
            # mapping may reference dirs dropped below, and a
            # snapshot(v) through it would die mid-plan with a raw
            # path-not-found instead of the documented
            # FileNotFoundError for compacted versions
            for v in donors:
                try:
                    os.remove(self._manifest_path(v))
                    demoted += 1
                except OSError:
                    pass
        for v in drop:
            shutil.rmtree(self._snapshot_path(v), ignore_errors=True)
            self._schema_cache.pop(v, None)
        return len(drop) + demoted

    @_serialized
    def prune_changes(self, before_batch: int) -> int:
        """Chronicle compaction for the EVENT LOG (the other half of
        reference ``CompactSwamp`` — compactor.go rewrites the
        append-only chronicle without superseded entries;
        :meth:`compact` already handles the snapshot side). Drops every
        change event with ``batch_id < before_batch`` by rewriting the
        log once (O(live events)), and returns the number of events
        dropped.

        Contract: ``history()`` afterwards reconstructs key versions
        from ``before_batch`` onward only — callers keeping SCD2
        history must archive the log first (a plain parquet copy).
        Like the reference's compactor (it runs on swamp close/idle,
        swamp.go:2243 ForceCompaction), run this while no subscriber
        streams the log: a streaming file source that already
        processed the old files would see the rewritten file as new
        input and re-deliver. At 100 TB the log is time-partitioned
        and this is a partition-range delete."""
        import shutil

        self._recover_changes()
        ev = self.changes()
        kept = F.col("batch_id") >= int(before_batch)
        st = ev.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(kept, 1)).alias("n_keep"),
            F.min(F.when(kept, F.col("batch_id"))).alias("lo"),
            F.max("batch_id").alias("hi"),
        ).first()
        if st["n_keep"] == st["total"]:
            return 0
        # crash-safe swap: the live dir is only moved aside once the
        # replacement is fully written (_SUCCESS landed); at every
        # instant either the live log or a recoverable copy exists, and
        # _recover_changes completes/rolls back an interrupted swap
        tmp = self.changes_dir + ".compacting"
        ev.filter(kept).coalesce(1).write.parquet(tmp)
        # range-name the compacted file BEFORE the swap so the gap
        # probe's name index (logged_in_range) stays exact across
        # prunes: the one file carries every kept batch id. A prune
        # that keeps nothing leaves an empty log, not an unnamed file.
        for n in os.listdir(tmp):
            if n.endswith(".parquet") and not n.startswith("."):
                part = os.path.join(tmp, n)
                if st["n_keep"]:
                    os.rename(
                        part, os.path.join(tmp, f"b{st['lo']}-{st['hi']}-{n}")
                    )
                else:
                    os.remove(part)
        old = self.changes_dir + ".old"
        os.rename(self.changes_dir, old)
        os.rename(tmp, self.changes_dir)
        shutil.rmtree(old, ignore_errors=True)
        return st["total"] - st["n_keep"]

    # -- internals ---------------------------------------------------------

    def _write_version(self, df: DataFrame) -> int:
        v = self.version + 1
        if self.n_buckets is not None:
            base_mapping, base_flat = (
                self._manifest_layout(v - 1) if v > 0 else ({}, None)
            )
            if (
                self._scope is not None
                and len({int(b) for b in self._scope}) >= int(self.n_buckets)
            ):
                # full-coverage batch: every bucket would be rewritten,
                # so the per-bucket machinery (bucket shuffle, n_buckets
                # output dirs, manifest references) buys nothing — land
                # the version as ONE flat write-buffer dir instead
                # (BENCH_scale30 store_set_bulk10pct_bucketed paid 2.4x
                # flat for it; reference analogue: the v2 engine's
                # write-buffer-vs-settled split,
                # docs/features/v2-storage-engine.md). Point writes on
                # top keep working (bucket dirs shadow the buffer);
                # settle() re-buckets when the point-read rate warrants.
                self._write_flat(df, v)
            else:
                self._write_bucketed(df, v, base_mapping, base_flat)
            self._scope = None
            return v
        self._write_flat_version(df, v)
        return v

    def _write_flat(self, df: DataFrame, v: int) -> None:
        """One whole-store WRITE-BUFFER commit on the bucketed layout:
        a plain parallel parquet write (no bucket repartition, no
        per-bucket dirs) published as ``flat`` in the manifest — every
        bucket is owned by it until later point writes shadow theirs
        or :meth:`settle` re-buckets."""
        path = self._snapshot_path(v)
        df.write.mode("overwrite").parquet(path)
        files = sorted(
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        self._record_schema(v, df.schema)
        self._publish_manifest(v, {}, flat=(v, files))

    def _record_schema(self, v: int, schema: T.StructType) -> None:
        """A bucketed commit's ``_SCHEMA`` file, written before its
        manifest (the publish point), and its in-memory entry."""
        with open(os.path.join(self._snapshot_path(v), "_SCHEMA"), "w") as fh:
            json.dump(schema.jsonValue(), fh)
        self._schema_cache[v] = schema

    @_serialized
    def settle(self) -> bool:
        """Re-bucket a store whose current version still carries a flat
        write-buffer (the background 'settle' of the write-buffer-vs-
        settled split): one full bucketed rewrite, after which point
        reads/writes prune by bucket again. Returns False (no new
        version) when the current manifest has no flat leg."""
        v = self.version
        if v < 0 or self.n_buckets is None:
            return False
        _mapping, flat = self._manifest_layout(v)
        if flat is None:
            return False
        self._scope = None
        self._write_bucketed(self.current(), v + 1, {}, None)
        return True

    def _emit(self, events: DataFrame, batch_id: int) -> None:
        now = datetime.now(timezone.utc)
        out = events.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("op"),
            F.col(self.key_col).cast("string").alias("key"),
            F.col("new"),
            F.col("old"),
            F.lit(now).alias("event_time"),
        )
        # one file per batch keeps per-swamp FIFO: the stream source
        # processes files in order, so subscribers see batches in commit
        # order (the per-partition ordering contract of SURVEY §7).
        # The file is written to a hidden staging dir (dot-prefixed —
        # invisible to every Spark read) and renamed into the log with
        # its batch-id range in the NAME (``b<id>-<id>-part…``): the
        # strict-FIFO gap probe answers "is this batch still logged?"
        # from one directory listing instead of a Spark scan
        # (logged_in_range), and the rename is the atomic publish —
        # the stream source never sees a partially-written file.
        staging = os.path.join(self.changes_dir, f".staging-{int(batch_id)}")
        out.coalesce(1).write.mode("overwrite").parquet(staging)
        self._publish_change_file(staging, int(batch_id))

    def _publish_change_file(self, staging: str, batch_id: int) -> None:
        """Move the staged commit file into the live log under its
        range-encoded name (single batch: lo == hi == batch_id). Shared
        by ``_emit`` and the staging-crash recovery."""
        import shutil

        parts = [
            n
            for n in os.listdir(staging)
            if n.endswith(".parquet") and not n.startswith(".")
        ]
        for n in parts:
            os.rename(
                os.path.join(staging, n),
                os.path.join(self.changes_dir, f"b{batch_id}-{batch_id}-{n}"),
            )
        shutil.rmtree(staging, ignore_errors=True)

    def _commit(
        self,
        new_state: DataFrame,
        changed: DataFrame,
        op,
        base: Optional[DataFrame] = None,
    ) -> None:
        """The one commit of every mutation: write ``new_state`` as the
        next version, then log one change event per row of ``changed``
        under that version's batch id — the reference's guarded Save +
        change event (proto:755-784). Rows absent from ``changed`` emit
        nothing (reference StatusSame, swamp.go:2233-2234).

        One payload rule over ``new_state``'s value columns: ``new`` is
        the written row, ``old`` the base row. ``op`` is a literal or a
        Column yielding NEW/UPDATED per row:

        - ``"DELETED"``: ``changed`` holds the removed base rows; they
          are ``old`` and ``new`` is NULL.
        - NEW/UPDATED: ``changed`` holds the written rows; they are
          ``new``. ``old`` is the ``base`` row, joined by key for
          UPDATED rows, when ``base`` is given (``set``) and NULL
          otherwise — the other writers' events carry the new row
          only, and the old payload would cost each of them one more
          join over the base."""
        batch = self._write_version(new_state)
        key = F.col(self.key_col)
        cols = [c for c in new_state.columns if c != self.key_col]
        payload = F.to_json(F.struct(*[F.col(c) for c in cols]))
        null = F.lit(None).cast("string")
        if isinstance(op, str) and op == "DELETED":
            events = changed.select(
                key, F.lit(op).alias("op"), null.alias("new"), payload.alias("old")
            )
        else:
            op = F.lit(op) if isinstance(op, str) else op
            events = changed.select(key, op.alias("op"), payload.alias("new"))
            if base is None:
                events = events.withColumn("old", null)
            else:
                events = events.join(
                    base.select(key, payload.alias("old")), self.key_col, "left"
                ).withColumn(
                    "old",
                    F.when(F.col("op") == mutate_ops.STATUS_UPDATED, F.col("old")),
                )
        self._emit(events, batch)

    # -- mutations (each is one serialized transaction) ---------------------

    @_serialized
    def set(
        self,
        updates: DataFrame,
        create_if_not_exist: bool = True,
        overwrite: bool = True,
    ) -> DataFrame:
        """Reference ``Set``: merge + per-key statuses + change events
        (NEW/UPDATED; NOTHING_CHANGED emits nothing).

        Returned statuses cover every key of the TRANSACTION'S READ
        SCOPE: the whole store on the plain layout, the touched
        buckets on the bucketed layout — always a superset of the
        request keys (at scale, enumerating a NOTHING_CHANGED row for
        every untouched key in a billion-row store is neither useful
        nor possible; the reference returns per-request statuses
        too)."""
        self._scope_to(updates)
        base = self.current()
        merged = mutate_ops.set_treasures(
            base, updates, self.key_col, create_if_not_exist, overwrite
        ).cache()
        new_state = merged.filter(
            F.col("set_status") != mutate_ops.STATUS_NOT_CREATED
        ).drop("set_status")
        changed = merged.filter(
            F.col("set_status").isin(mutate_ops.STATUS_NEW, mutate_ops.STATUS_UPDATED)
        )
        self._commit(new_state, changed, F.col("set_status"), base)
        statuses = merged.select(self.key_col, "set_status")
        merged.unpersist()
        return statuses

    @_serialized
    def delete(self, keys: Sequence[str]) -> DataFrame:
        self._scope_to(keys)
        remaining, deleted = mutate_ops.delete_treasures(
            self.current(), keys, self.key_col
        )
        deleted = deleted.cache()
        self._commit(remaining, deleted, "DELETED")
        out = deleted.select(self.key_col).withColumn("deleted", F.lit(True))
        deleted.unpersist()
        return out

    @_serialized
    def increment(
        self,
        keys: Sequence[str],
        value_col: str,
        delta: float,
        condition: Optional[Pred] = None,
        create_if_not_exist: bool = False,
        meta_if_not_exist: Optional["mutate_ops.IncrementMeta"] = None,
        meta_if_exist: Optional["mutate_ops.IncrementMeta"] = None,
        now_us: Optional[int] = None,
    ) -> DataFrame:
        """Reference ``Increment<T>`` (proto:420-455) as one serialized
        transaction: conditional add on the CURRENT value for the listed
        keys, per-key (old, new, applied, created), UPDATED events for
        applied rows only (an unapplied increment changes nothing => no
        event, like StatusSame).

        ``create_if_not_exist`` enables the reference's get-or-create
        (swamp.go:1277-1280): missing keys are created at value 0 (then
        the conditional add applies), persisted, and emit NEW events —
        even when the condition fails, matching the reference (the
        created treasure exists in the beacon regardless).

        ``meta_if_not_exist``/``meta_if_exist`` (proto:1591,
        swamp.go:1219) stamp created_at_us/created_by/updated_at_us/
        updated_by/expired_at_us. Stamps persist into the store state
        for rows that are WRITTEN (created rows, and existing rows whose
        increment applied) and ride in those rows' events; the returned
        results always carry the response-metadata columns. This split
        IS the reference's: the stamp happens inside the guard before
        the condition check and the response metadata is read from the
        in-memory treasure, but ``Save(guardID)`` is skipped when the
        condition fails (swamp.go:1345-1349) — so an unapplied existing
        key's stamp is visible in the response yet absent from
        subsequent reads, there as here."""
        self._scope_to(keys)
        batch = mutate_ops.increment_batch(
            self.spark,
            self.current(),
            keys,
            value_col,
            delta,
            condition,
            key_col=self.key_col,
            create_if_not_exist=create_if_not_exist,
            meta_if_not_exist=meta_if_not_exist,
            meta_if_exist=meta_if_exist,
            now_us=now_us,
        )
        self._commit(batch.new_state, batch.changed, F.col("_op"))
        batch.unpersist()
        return batch.results

    def uint32slice_push(self, keys: Sequence[str], values: Sequence[int], ids_col: str = "ids") -> DataFrame:
        """Reference ``Uint32SlicePush`` (proto:378-396) as one
        serialized transaction: set-union into the targeted cells,
        UPDATED events only for rows whose set actually changed."""
        return self._uint32slice_op(keys, values, ids_col, push=True)

    def uint32slice_delete(self, keys: Sequence[str], values: Sequence[int], ids_col: str = "ids") -> DataFrame:
        """Reference ``Uint32SliceDelete`` (proto:398-404): set-minus;
        missing values ignored; no event when nothing changed."""
        return self._uint32slice_op(keys, values, ids_col, push=False)

    @_serialized
    def _uint32slice_op(
        self, keys: Sequence[str], values: Sequence[int], ids_col: str, push: bool
    ) -> DataFrame:
        self._scope_to(keys)
        base = self.current()
        apply = mutate_ops.uint32slice_push if push else mutate_ops.uint32slice_delete
        # the operator's expression over the targeted rows only;
        # array_distinct and array_except both keep first-seen order,
        # so a changed set always differs element-wise
        work = apply(
            _keys_predicate(base, keys, self.key_col).withColumn(
                "_prev", F.col(ids_col)
            ),
            values,
            ids_col,
        )
        work = work.withColumn(
            "_changed", F.coalesce(F.col(ids_col) != F.col("_prev"), F.lit(False))
        ).drop("_prev").cache()
        changed = work.filter(F.col("_changed")).drop("_changed")
        # the cache-fill action, bounded by len(keys) rows
        changed_keys = [r[0] for r in changed.select(self.key_col).collect()]
        new_state = _keys_predicate(base, keys, self.key_col, negate=True).unionByName(
            work.drop("_changed")
        )
        self._commit(new_state, changed, mutate_ops.STATUS_UPDATED)
        work.unpersist()
        return local_frame(
            self.spark,
            [(k, True) for k in changed_keys],
            f"{self.key_col} string, changed boolean",
        )

    def _claim(self, claim) -> DataFrame:
        """The body of :meth:`shift_expired` and :meth:`shift_matching`
        (run under their transaction guard): ``claim(base)`` returns the
        claim, at most ``how_many`` rows. Collecting them pins the claim
        before the snapshot swaps; the state persists without their
        keys, and they are logged DELETED and returned as a driver-side
        frame."""
        base = self.current()
        claimed = claim(base)
        rows = claimed.collect()
        claimed = local_frame(self.spark, rows, claimed.schema)
        keys = [r[self.key_col] for r in rows]
        self._scope_to(keys)  # write-prune: only claimed buckets
        self._commit(
            _keys_predicate(base, keys, self.key_col, negate=True),
            claimed,
            "DELETED",
        )
        return claimed

    @_serialized
    def shift_expired(self, now: datetime, how_many: int) -> DataFrame:
        """TTL-queue pop as one serialized transaction: claim, persist
        state without claimed rows, emit DELETED events, return claimed."""
        return self._claim(
            lambda base: claims_ops.shift_expired(
                base, now, how_many, key_col=self.key_col
            )
        )

    @_serialized
    def shift_matching(
        self,
        index,
        filt: Optional[Pred],
        how_many: int,
        cap: Optional[claims_ops.Cap] = None,
    ) -> DataFrame:
        """Reference ``ShiftMatchingTreasures`` (proto:191-216) as one
        serialized transaction: parametric claim (index + order +
        FilterGroup + HowMany + Cap), rows removed from state, DELETED
        events emitted, claimed rows returned. The _serialized guard is
        what delivers proto:194-196 — two concurrent claimants never
        observe overlapping sets (tested with interleaved threads in
        test_store_streaming)."""
        return self._claim(
            lambda base: claims_ops.shift_matching(base, index, filt, how_many, cap)
        )

    @_serialized
    def patch(
        self,
        keys: Sequence[str],
        ops: Sequence["mutate_ops.PatchOp"],
        condition: Optional[Pred] = None,
        body_col: str = "body",
        create_if_not_exist: bool = False,
        seed_body=None,
        meta: Optional["mutate_ops.PatchMeta"] = None,
        now_us: Optional[int] = None,
        cap: Optional[claims_ops.Cap] = None,
    ) -> DataFrame:
        """Reference ``PatchTreasures`` (proto:2988-3177) with ONE
        op-list and condition for every key: the entry list
        ``[(k, ops, condition) for k in keys]`` (keys deduplicated in
        order) run as :meth:`patch_each`'s transaction, plus the
        request-level CreateIfNotExist from ``seed_body``. Returns
        ``(key, patch_status)`` rows with the PatchResult codes
        PATCHED / CREATED / CONDITION_NOT_MET / KEY_NOT_FOUND /
        CAP_EXCEEDED; create, rollback and ``cap`` semantics are
        :func:`operators.mutate.patch_each_batch`'s (oracle-gated by
        the ``patch_cap_budget`` golden query)."""
        entries = [(k, ops, condition) for k in dict.fromkeys(keys)]
        return self._patch_txn(
            entries, body_col, meta, now_us, "expired_at", cap,
            create_if_not_exist, seed_body,
        ).drop("patch_index")

    @_serialized
    def patch_each(
        self,
        patches: Sequence[tuple],
        body_col: str = "body",
        meta: Optional["mutate_ops.PatchMeta"] = None,
        now_us: Optional[int] = None,
        expired_col: str = "expired_at",
        cap: Optional[claims_ops.Cap] = None,
    ) -> DataFrame:
        """The ``PatchTreasures`` request's EXACT shape (proto:2996-3010
        ``TreasurePatch``) as ONE serialized transaction and one version
        write: every patch entry carries its own key, op-list, optional
        condition and optional per-patch meta — ``patches`` is a
        sequence of ``(key, ops, condition)`` or ``(key, ops,
        condition, meta)``; duplicate keys run sequentially in
        declaration order, and ``cap`` is the request-level quota.

        Returns one row PER PATCH ENTRY: ``(patch_index, key,
        patch_status)`` with patch_index the entry's position in
        ``patches`` (the proto preserves request order in the
        response). The pure transformation (sequential and cap
        semantics, plan shape) is
        :func:`operators.mutate.patch_each_batch`; this wrapper adds the
        serialized persist + UPDATED events."""
        return self._patch_txn(patches, body_col, meta, now_us, expired_col, cap)

    def _patch_txn(
        self,
        patches: Sequence[tuple],
        body_col: str,
        meta: Optional["mutate_ops.PatchMeta"],
        now_us: Optional[int],
        expired_col: str,
        cap: Optional[claims_ops.Cap],
        create_if_not_exist: bool = False,
        seed_body=None,
    ) -> DataFrame:
        """The body of :meth:`patch` and :meth:`patch_each` (run under
        their transaction guard): persist the new state and emit NEW
        events for created rows, UPDATED for patched ones."""
        # the proto shape allows an empty Patches list — no-op: no new
        # version, no events, an empty result frame
        if not patches:
            return local_frame(
                self.spark, [], f"patch_index int, {self.key_col} string, patch_status string"
            )
        # the transaction writes only the entries' keys' buckets; a
        # capped request pre-counts the WHOLE swamp (proto:3023), so its
        # base read stays unscoped and the scope is set after it, as on
        # the claim paths
        keys = [p[0] for p in patches]
        if cap is None:
            self._scope_to(keys)
        base = self.current()
        if cap is not None:
            self._scope_to(keys)
        batch_out = mutate_ops.patch_each_batch(
            self.spark,
            base,
            patches,
            key_col=self.key_col,
            body_col=body_col,
            meta=meta,
            now_us=now_us,
            expired_col=expired_col,
            cap=cap,
            create_if_not_exist=create_if_not_exist,
            seed_body=seed_body,
        )
        self._commit(
            batch_out.new_state,
            batch_out.changed,
            F.when(F.col("_created"), mutate_ops.STATUS_NEW).otherwise(
                mutate_ops.STATUS_UPDATED
            ),
        )
        batch_out.unpersist()
        return batch_out.results

    @_serialized
    def patch_expired(
        self,
        now: datetime,
        how_many: int,
        lease,
        ops: Sequence[mutate_ops.PatchOp] = (),
        condition: Optional[Pred] = None,
        cap: Optional[claims_ops.Cap] = None,
    ) -> DataFrame:
        results, new_state = claims_ops.patch_expired(
            self.current(), now, how_many, lease, ops, condition, cap,
            key_col=self.key_col,
        )
        results = results.cache()
        rows = results.collect()  # the cache-fill action, <= how_many rows
        self._scope_to(  # write-prune: only re-leased buckets
            [r[self.key_col] for r in rows
             if r["patch_status"] == mutate_ops.STATUS_PATCHED]
        )
        self._commit(
            new_state,
            results.filter(F.col("patch_status") == mutate_ops.STATUS_PATCHED),
            mutate_ops.STATUS_UPDATED,
        )
        results.unpersist()
        return local_frame(self.spark, rows, results.schema)


# ---------------------------------------------------------------------------
# *Many fan-outs (proto: ShiftExpiredTreasuresMany /
# ShiftMatchingTreasuresMany / PatchExpiredTreasuresMany): the reference
# request is a repeated per-swamp spec; here each store runs its op
# under ITS OWN serialized transaction (per-swamp locking, exactly the
# reference's isolation) and the results union with a swamp tag —
# the mutation-side mirror of the read-side stream_from_many fan-in.
# Stores with differing schemas union by name with missing columns
# null-filled. how_many/caps apply PER SWAMP, as in the proto.


def _fan_out(stores: "dict[str, TreasureStore]", op) -> DataFrame:
    """Run ``op(store)`` on every store, each under its own
    transaction, and union the results tagged with their swamp name."""
    frames = [
        op(store).withColumn("swamp", F.lit(name)) for name, store in stores.items()
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def shift_expired_many(
    stores: "dict[str, TreasureStore]", now: datetime, how_many: int
) -> DataFrame:
    """``ShiftExpiredTreasuresMany``: per-store TTL-queue pop; claimed
    rows tagged with their swamp name."""
    return _fan_out(stores, lambda store: store.shift_expired(now, how_many))


def shift_matching_many(
    stores: "dict[str, TreasureStore]",
    index,
    filt: Optional[Pred],
    how_many: int,
    cap: Optional[claims_ops.Cap] = None,
) -> DataFrame:
    """``ShiftMatchingTreasuresMany``: per-store parametric claim."""
    return _fan_out(
        stores, lambda store: store.shift_matching(index, filt, how_many, cap)
    )


def patch_expired_many(
    stores: "dict[str, TreasureStore]",
    now: datetime,
    how_many: int,
    lease,
    ops: Sequence["mutate_ops.PatchOp"] = (),
    condition: Optional[Pred] = None,
    cap: Optional[claims_ops.Cap] = None,
) -> DataFrame:
    """``PatchExpiredTreasuresMany``: per-store lease-claim + patch."""
    return _fan_out(
        stores,
        lambda store: store.patch_expired(now, how_many, lease, ops, condition, cap),
    )
