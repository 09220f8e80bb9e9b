"""Per-query telemetry — the reference's observability subsystem
(``app/server/telemetry/telemetry.go``; ``proto/hydraide.proto:
2393-2458``: rolling call rate, error rate, top swamps, history) as a
Spark-native component.

The reference counts gRPC calls per minute, errors, and which swamps
are touched most. The engine equivalent hangs a
``QueryExecutionListener`` off the session (a Python class implementing
the JVM interface over py4j callbacks — the same mechanism PySpark's
streaming listener uses): every completed action records
(timestamp, operation, wall ms, ok, scanned tables). The scanned-table
list is the swamp analogue — parsed from the executed plan's FileScan
locations, so "top swamps" means "most-scanned tables", exactly the
reference's hottest-data view.

Analysis surfaces mirror the telemetry RPCs, each a plain DataFrame rollup over
the recorded stats (windowed call/error rates, top-k scanned tables,
full history) — at scale the stats table is appended to storage and the
rollups are the same queries over the persisted table.
"""

from __future__ import annotations

import re
import threading
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

_SCAN_RE = re.compile(r"FileScan \w+ \S*\[?([^\[\]\n ]*)")
_LOCATION_RE = re.compile(r"Location: \w+\([0-9]* paths\)?\[([^\]]*)\]")


def _path_marker(path: str) -> str:
    """The form of ``path`` that executed-plan strings render: scheme
    URIs pass through; local paths become ``file:`` + abspath. The
    trailing separator makes the substring test match only the table's
    own children (batch dirs), never sibling directories that share the
    prefix."""
    if "://" in path:
        return path.rstrip("/") + "/"
    import os

    return "file:" + os.path.abspath(path) + "/"


def _exception_details(exception) -> tuple[str, str]:
    """Error kind + message from the JVM throwable the listener hands
    ``onFailure`` (reference: every telemetry event carries ErrorCode /
    ErrorMsg, ``telemetry.go:22-23``). Kind is the exception's simple
    class name (the gRPC-code analogue); the message is capped at 200
    chars — the rollup truncates further, matching the reference's
    truncate(msg, 50) grouping key / truncate(msg, 100) display."""
    try:
        kind = str(exception.getClass().getName()).rsplit(".", 1)[-1]
        msg = exception.getMessage()
        return kind, ("" if msg is None else str(msg))[:200]
    except Exception:
        return "UnknownError", ""


class QueryStatsCollector:
    """Registers as a JVM ``QueryExecutionListener`` and records one
    row per completed action. Driver-side and lock-protected (py4j
    callbacks arrive on their own threads); the per-query cost is one
    plan ``toString`` — no extra Spark jobs.

    The buffer is BOUNDED like the reference's rolling 30-minute
    telemetry window (``proto/hydraide.proto:568-576``): rows older
    than ``window_sec`` are evicted on every record, and ``max_rows``
    hard-caps the buffer even under burst rates — a long-lived driver
    can never leak. For retention beyond the window, :meth:`flush`
    appends the buffer to a parquet stats table (``table_path``) as an
    immutable batch directory; the rollup queries run unchanged over
    either :meth:`stats` (the live buffer) or :meth:`persisted_stats`
    (the table), and :meth:`prune` enforces the same rolling window on
    the table by dropping whole expired batch directories (on object
    stores, a lifecycle rule on the batch prefix does the same job)."""

    SCHEMA = (
        "ts_us long, op string, wall_ms double, ok boolean, tables array<string>,"
        " err_kind string, err_msg string"
    )

    def __init__(
        self,
        spark: SparkSession,
        window_sec: int = 1800,
        max_rows: int = 100_000,
        table_path: Optional[str] = None,
    ):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._mu = threading.Lock()
        self._rows: list[tuple] = []
        self._window_us = int(window_sec) * 1_000_000
        self._max_rows = int(max_rows)
        self._table_path = table_path
        self._table_marker = _path_marker(table_path) if table_path else None
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._active = True
        spark._jsparkSession.listenerManager().register(self)

    # -- JVM callback interface -------------------------------------------

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (JVM name)
        if self._active:
            self._record(funcName, qe, durationNs / 1e6, True)

    def onFailure(self, funcName, qe, exception):  # noqa: N802 (JVM name)
        if self._active:
            kind, msg = _exception_details(exception)
            self._record(funcName, qe, 0.0, False, kind, msg)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # -- internals ---------------------------------------------------------

    def _record(
        self,
        op: str,
        qe,
        wall_ms: float,
        ok: bool,
        err_kind: Optional[str] = None,
        err_msg: Optional[str] = None,
    ) -> None:
        tables: list[str] = []
        plan = ""
        try:
            plan = qe.executedPlan().toString()
            for m in _LOCATION_RE.finditer(plan):
                for path in m.group(1).split(","):
                    path = path.strip().rstrip("/")
                    if path:
                        tables.append(path.rsplit("/", 1)[-1])
        except Exception:
            pass  # a failed query may have no executable plan
        # Self-traffic marker: listener callbacks arrive asynchronously
        # on py4j threads, so a timing flag cannot reliably exclude the
        # flush's own write (its onSuccess may land after any reset).
        # The stats-table path in the executed plan IS a reliable
        # marker — skip anything that reads or writes our own table.
        # The marker is the URI form plans actually render
        # ("file:" + abspath + "/"), so a relative table_path still
        # matches, and the trailing separator keeps sibling paths
        # (".../stats_archive") recordable.
        if self._table_marker is not None and self._table_marker in plan:
            return
        # Second self-traffic class (r8 VERDICT): rollup READS of the
        # in-memory buffered frame (stats() → local_frame). Those
        # plans scan only driver-local relations — no Location: entry,
        # a LocalTableScan/ExistingRDD leaf — and recording them makes
        # flush counts nondeterministic (their async onSuccess can land
        # between a caller's snapshot and flush). Real engine traffic
        # always scans a source (the swamp analogue), so a SUCCESSFUL
        # zero-table local-only plan is self-traffic by construction;
        # failures are always recorded (error telemetry must not drop).
        if (
            ok
            and not tables
            and "FileScan" not in plan
            and ("LocalTableScan" in plan or "Scan ExistingRDD" in plan)
        ):
            return
        self._append(
            (time.time_ns() // 1_000, str(op), float(wall_ms), bool(ok),
             sorted(set(tables)), err_kind, err_msg)
        )

    def _append(self, row: tuple) -> None:
        """Buffer one stats row, then enforce the rolling bound: evict
        rows older than the window (appends arrive in wall-clock order,
        so eviction pops from the front) and hard-cap the row count."""
        with self._mu:
            self._rows.append(row)
            cutoff = row[0] - self._window_us
            drop = 0
            n = len(self._rows)
            while drop < n and self._rows[drop][0] < cutoff:
                drop += 1
            if n - drop > self._max_rows:
                drop = n - self._max_rows
            if drop:
                del self._rows[:drop]

    # -- API ----------------------------------------------------------------

    def unregister(self) -> None:
        """Stop recording. Soft-disable: each py4j conversion of a
        Python callback object creates a NEW JVM proxy, so
        ``listenerManager().unregister(self)`` can never match the
        registered instance by reference — the flag is the reliable
        off-switch (the dormant proxy costs two booleans per query)."""
        self._active = False

    def stats(self) -> DataFrame:
        """The recorded stats as a DataFrame (bounded driver-buffer
        snapshot — the reference's rolling-window view)."""
        with self._mu:
            rows = list(self._rows)
        return local_frame(self._spark, rows, self.SCHEMA)

    def clear(self) -> None:
        with self._mu:
            self._rows.clear()

    def flush(self) -> int:
        """Append the buffered rows to the parquet stats table as one
        immutable batch directory (named by the newest ts so pruning
        can drop whole batches without reading them), then clear the
        buffer. Returns the number of rows flushed."""
        import os

        if self._table_path is None:
            raise ValueError("QueryStatsCollector: no table_path configured")
        with self._mu:
            rows, self._rows = self._rows, []
        if not rows:
            return 0
        batch_dir = os.path.join(self._table_path, f"batch-{rows[-1][0]:020d}")
        try:
            # the write doesn't record itself: _record drops any event
            # whose plan touches table_path (the async-safe marker)
            (
                local_frame(self._spark, rows, self.SCHEMA)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(batch_dir)
            )
        except BaseException:
            # failed write: put the rows back (front — they're the
            # oldest) so a retry or the rolling buffer still sees them
            with self._mu:
                self._rows[:0] = rows
            raise
        return len(rows)

    def persisted_stats(self) -> DataFrame:
        """The flushed stats table as a DataFrame — same schema as
        :meth:`stats`, so every rollup runs unchanged over it."""
        import os

        if self._table_path is None:
            raise ValueError("QueryStatsCollector: no table_path configured")
        return self._spark.read.schema(self.SCHEMA).parquet(
            os.path.join(self._table_path, "batch-*")
        )

    def stats_stream(self, errors_only: bool = False) -> DataFrame:
        """STREAMING view of the persisted stats table — the
        ``SubscribeToTelemetry`` analogue (proto:566): the reference
        pushes telemetry events continuously over a gRPC stream; here
        ``flush`` (or the flush loop) appends immutable batch
        directories and ``readStream`` picks each batch up as it lands,
        so a live dashboard is ``stats_stream() → rollup →
        writeStream``. Same schema as :meth:`stats`; bounded per
        micro-batch via maxFilesPerTrigger. ``errors_only`` mirrors the
        subscribe request's ErrorsOnly flag (telemetry.go:54)."""
        import os

        if self._table_path is None:
            raise ValueError("QueryStatsCollector: no table_path configured")
        out = (
            self._spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 32)
            .parquet(os.path.join(self._table_path, "batch-*"))
        )
        return out.filter(~F.col("ok")) if errors_only else out

    def start_flush_loop(self, interval_sec: float = 60.0) -> "threading.Event":
        """Background flush-and-prune: a daemon thread appends the
        buffer to the stats table every ``interval_sec`` and enforces
        the rolling window on the persisted batches — the continuous
        form of the reference's telemetry collector. Returns a stop
        Event; set it to end the loop (the final flush is the caller's
        call — state is never lost either way, rows are either in the
        bounded buffer or in the table)."""
        if self._table_path is None:
            raise ValueError("QueryStatsCollector: no table_path configured")
        stop = threading.Event()

        def loop():
            while not stop.wait(interval_sec):
                try:
                    self.flush()
                    self.prune()
                except Exception:
                    pass  # keep the loop alive; rows stay buffered

        t = threading.Thread(target=loop, daemon=True, name="telemetry-flush")
        t.start()
        return stop

    def prune(self, now_us: Optional[int] = None) -> int:
        """Enforce the rolling window on the PERSISTED table: drop
        batch directories whose newest row (encoded in the directory
        name) is older than the window. Returns batches dropped.
        Local-FS implementation; on object stores the same contract is
        a lifecycle rule on the ``batch-`` prefix."""
        import os
        import shutil

        if self._table_path is None:
            raise ValueError("QueryStatsCollector: no table_path configured")
        cutoff = (now_us or time.time_ns() // 1_000) - self._window_us
        dropped = 0
        try:
            names = sorted(os.listdir(self._table_path))
        except FileNotFoundError:
            return 0
        for name in names:
            if not name.startswith("batch-"):
                continue
            try:
                newest = int(name.split("-", 1)[1])
            except ValueError:
                continue
            if newest < cutoff:
                shutil.rmtree(os.path.join(self._table_path, name))
                dropped += 1
        return dropped


# -- the RPC analogues (proto:2393-2458 + GetErrorDetails), as rollups ------


def stats_summary(stats: DataFrame, window_sec: Optional[int] = None) -> DataFrame:
    """The ``GetTelemetryStats`` one-row summary (proto:599 block;
    telemetry.go:284-369 GetStats): total calls, error count, error
    rate as a PERCENTAGE (the reference multiplies by 100,
    telemetry.go:358), and average duration over the window. The
    reference's ActiveClients counts distinct gRPC client IPs — the
    engine has no client dimension, so the nearest analogue
    n_distinct_ops is reported instead (documented divergence).
    ``window_sec`` bounds the window ending at the newest row; None
    summarizes everything (the buffer/table is already
    rolling-window-bounded)."""
    if window_sec is not None:
        newest = stats.agg(F.max("ts_us").alias("m"))
        stats = stats.join(F.broadcast(newest)).filter(
            F.col("ts_us") >= F.col("m") - F.lit(int(window_sec) * 1_000_000)
        )
    n_err = F.sum((~F.col("ok")).cast("long"))
    return stats.agg(
        F.count(F.lit(1)).alias("total_calls"),
        n_err.alias("error_count"),
        (n_err * 100 / F.count(F.lit(1))).alias("error_rate_pct"),
        (
            F.sum(F.col("wall_ms").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_wall_ms"),
        F.count_distinct(F.col("op")).alias("n_distinct_ops"),
    )


def rolling_rates(stats: DataFrame, window_sec: int = 60) -> DataFrame:
    """Rolling call + error counts per tumbling window — the
    call-rate/error-rate pair (telemetry.go's per-minute counters).
    Returns (window_start_us, n_calls, n_errors, error_rate)."""
    win = (F.col("ts_us") / F.lit(window_sec * 1_000_000)).cast("long")
    return (
        stats.groupBy((win * window_sec * 1_000_000).alias("window_start_us"))
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum((~F.col("ok")).cast("long")).alias("n_errors"),
        )
        .withColumn(
            "error_rate", F.col("n_errors") / F.col("n_calls")
        )
        .orderBy("window_start_us")
    )


def streaming_rolling_rates(
    stats_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """The rolling call/error-rate rollup as a STRUCTURED STREAM over
    :meth:`QueryStatsCollector.stats_stream` — the continuous form of
    :func:`rolling_rates` (reference ``SubscribeToTelemetry``,
    proto:566). Event-time tumbling windows on the recorded ``ts_us``;
    the watermark bounds aggregation state (late flushes beyond the
    delay are dropped), so driver state stays O(open windows) no matter
    how long the stream runs."""
    ev = stats_stream.withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_time", watermark_delay)
    return (
        ev.groupBy(F.window("event_time", window_duration).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum((~F.col("ok")).cast("long")).alias("n_errors"),
        )
        .withColumn("error_rate", F.col("n_errors") / F.col("n_calls"))
    )


def streaming_top_errors(stats_stream: DataFrame, k: int = 5) -> DataFrame:
    """The most-frequent-errors view as a STRUCTURED STREAM (the
    ErrorsOnly live-dashboard form of :func:`top_errors`): group by
    kind + 50-char message prefix, count, track the last occurrence.
    Run with ``outputMode("complete")`` — the result is a top-k
    ranking, so every trigger re-emits the full (k-bounded) table;
    state is O(distinct error groups), bounded in practice by the
    grouping key's truncation."""
    errs = stats_stream.filter(~F.col("ok")).select(
        F.coalesce(F.col("err_kind"), F.lit("UnknownError")).alias("err_kind"),
        F.substring(F.coalesce(F.col("err_msg"), F.lit("")), 1, 50).alias("_key"),
        F.col("ts_us"),
    )
    return (
        errs.groupBy("err_kind", "_key")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.max("ts_us").alias("last_ts_us"),
        )
        .orderBy(F.col("n_errors").desc(), F.col("err_kind").asc(), F.col("_key").asc())
        .limit(k)
        .select(
            "err_kind", F.col("_key").alias("err_msg"), "n_errors", "last_ts_us"
        )
    )


def top_errors(stats: DataFrame, k: int = 5) -> DataFrame:
    """Most frequent errors — the GetErrorDetails / TelemetryStats
    "TopErrors" view (reference ``telemetry.go:311-326,367``:
    errors group by ``code + ':' + truncate(msg, 50)``; each group
    reports the FIRST occurrence's message truncated to 100, the count,
    and the swamp + timestamp of the LAST occurrence; top-5 by count).

    Returns (err_kind, err_msg, n_errors, last_ts_us, last_scanned),
    ordered by count desc with a (kind, key) tiebreak. min_by/max_by
    over ts_us pick the first/last occurrence — deterministic whenever
    timestamps are unique within a group (they are for real listener
    rows: the recorder stamps monotonic wall-clock µs)."""
    errs = stats.filter(~F.col("ok")).select(
        F.coalesce(F.col("err_kind"), F.lit("UnknownError")).alias("err_kind"),
        F.substring(F.coalesce(F.col("err_msg"), F.lit("")), 1, 50).alias("_key"),
        F.substring(F.coalesce(F.col("err_msg"), F.lit("")), 1, 100).alias("_disp"),
        F.col("ts_us"),
        F.concat_ws(",", F.col("tables")).alias("_scanned"),
    )
    return (
        errs.groupBy("err_kind", "_key")
        .agg(
            F.min_by(F.col("_disp"), F.col("ts_us")).alias("err_msg"),
            F.count(F.lit(1)).alias("n_errors"),
            F.max("ts_us").alias("last_ts_us"),
            F.max_by(F.col("_scanned"), F.col("ts_us")).alias("last_scanned"),
        )
        .orderBy(F.col("n_errors").desc(), F.col("err_kind").asc(), F.col("_key").asc())
        .limit(k)
        .select("err_kind", "err_msg", "n_errors", "last_ts_us", "last_scanned")
    )


def error_details(
    stats: DataFrame,
    err_kind: Optional[str] = None,
    msg_prefix: Optional[str] = None,
    since_us: Optional[int] = None,
) -> DataFrame:
    """Drill-down into specific error events — the ``GetErrorDetails``
    RPC analogue (proto:586): given a kind and/or message prefix from a
    :func:`top_errors` row, return the raw matching stats rows (full
    message, timestamp, operation, scanned tables), newest first. All
    predicates push into the stats scan."""
    out = stats.filter(~F.col("ok"))
    if err_kind is not None:
        out = out.filter(F.col("err_kind") == err_kind)
    if msg_prefix is not None:
        out = out.filter(F.col("err_msg").startswith(msg_prefix))
    if since_us is not None:
        out = out.filter(F.col("ts_us") >= since_us)
    return out.select(
        "ts_us", "op", "err_kind", "err_msg", "tables"
    ).orderBy(F.col("ts_us").desc())


def top_swamps(stats: DataFrame, k: int = 10) -> DataFrame:
    """Most-scanned tables (the hottest-swamp view): explode the
    per-query table lists, count, top-k with a name tiebreak."""
    return (
        stats.select(F.explode("tables").alias("table"))
        .groupBy("table")
        .agg(F.count(F.lit(1)).alias("n_scans"))
        .orderBy(F.col("n_scans").desc(), F.col("table").asc())
        .limit(k)
    )


def slow_queries(stats: DataFrame, k: int = 10) -> DataFrame:
    """Slowest successful operations — the history/top-N drill-down."""
    return (
        stats.filter(F.col("ok"))
        .orderBy(F.col("wall_ms").desc(), F.col("ts_us").asc())
        .limit(k)
        .select("ts_us", "op", "wall_ms", "tables")
    )


def history(stats: DataFrame, window_sec: int = 60) -> DataFrame:
    """Full telemetry history: per-window calls, errors, and wall-time
    stats (the GetHistory RPC analogue)."""
    win = (F.col("ts_us") / F.lit(window_sec * 1_000_000)).cast("long")
    return (
        stats.groupBy((win * window_sec * 1_000_000).alias("window_start_us"))
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum((~F.col("ok")).cast("long")).alias("n_errors"),
            F.min("wall_ms").alias("min_wall_ms"),
            F.expr("percentile(wall_ms, 0.5)").alias("p50_wall_ms"),
            F.max("wall_ms").alias("max_wall_ms"),
        )
        .orderBy("window_start_us")
    )
