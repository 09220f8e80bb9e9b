"""Parquet table sources for the engine's test corpus.

The driver's synthetic tables (TESTDATA.md) are plain parquet — the
engine's canonical storage format (columnar, compressed, min/max-pruned;
replaces the reference's per-swamp append-only ``.hyd`` files, see
SURVEY.md §2.1 "File format / connector").

At 100 TB each logical table is a partitioned parquet/Delta dataset;
``load_table`` takes a directory or file path, so the same call serves
``.../lineitem.parquet`` locally and ``.../lineitem/`` (partitioned)
on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _timestamp_columns(path: str) -> tuple[list[str], list[str]]:
    """Classify parquet timestamp columns: (nanos, naive_non_nanos).

    - TIMESTAMP(NANOS): Spark has no nanosecond type, so the session
      reads them as long (nanosAsLong) and we convert to microsecond
      timestamps (integer div, no double round-trip: ns values exceed
      2^53).
    - naive (no tz) µs/ms timestamps: Spark reads TIMESTAMP_NTZ. These
      pass through unchanged (keeps filter pushdown on the raw column);
      ``load_table_time_bounded`` uses the classification to type its
      bound literals, and epoch arithmetic goes through
      ``sources.tables.epoch_us`` which handles both TIMESTAMP and
      TIMESTAMP_NTZ.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        if os.path.isdir(path):
            inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not inner:
                return [], []
            path = os.path.join(path, inner[0])
        schema = pq.read_schema(path)
        nanos, naive = [], []
        for name, typ in zip(schema.names, schema.types):
            if not pa.types.is_timestamp(typ):
                continue
            if typ.unit == "ns":
                nanos.append(name)
            elif typ.tz is None:
                naive.append(name)
        return nanos, naive
    except Exception:
        return [], []


def epoch_us(df: DataFrame, col: str):
    """Microseconds since epoch for a timestamp column of EITHER type.

    ``unix_micros`` rejects TIMESTAMP_NTZ; for NTZ columns (naive-UTC
    by the data contract) the epoch is computed by pure FIELD
    ARITHMETIC — days-since-epoch from the date part plus
    hour/minute/second(+fraction) — which never touches
    ``spark.sql.session.timeZone``, so it is exact for every wall
    clock including ones that fall in a session timezone's DST gap or
    overlap. (The previous ``from_utc_timestamp(cast, tz)`` round-trip
    resolved the implicit NTZ→LTZ cast at the local wall time but the
    shift-back at the derived instant, so gap/overlap wall clocks
    could move by up to an hour; ``timestampdiff`` over NTZ has the
    same flaw — verified: Spark routes both through the session tz.)
    The testdata regenerated between rounds (events.ts:
    TIMESTAMP(NANOS) → naive µs), so epoch arithmetic must not assume
    one physical type."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        c = F.col(col)
        return (
            F.unix_date(F.to_date(c)).cast("long") * F.lit(86_400_000_000)
            + F.extract(F.lit("HOUR"), c).cast("long") * F.lit(3_600_000_000)
            + F.extract(F.lit("MINUTE"), c).cast("long") * F.lit(60_000_000)
            # SECOND extracts as DECIMAL(8,6) carrying the fraction
            + (F.extract(F.lit("SECOND"), c) * F.lit(1_000_000)).cast("long")
        )
    return F.unix_micros(F.col(col))


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """The driver contract hands ``queries()`` a SparkSession the DRIVER
    built — it does not carry this repo's session builder confs. The
    parquet read path must therefore be self-sufficient: both confs are
    runtime-settable and idempotent, so set them at every load.

    - ``nanosAsLong``: TIMESTAMP(NANOS) columns read as raw longs
      (Spark has no ns type) instead of failing with
      PARQUET_TYPE_ILLEGAL.
    - ``inferTimestampNTZ``: naive parquet timestamps read as
      TIMESTAMP_NTZ; if a driver session disabled this, naive columns
      would arrive session-tz-interpreted and ``epoch_us`` dispatch /
      bound typing in ``load_table_time_bounded`` would silently shift.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        path = os.path.join(sf_dir, name)
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(path)
    nanos, _ = _timestamp_columns(path)
    for col in nanos:
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def _ns_epoch(dt) -> int:
    """Exact nanoseconds since epoch for a naive-UTC datetime — integer
    arithmetic only (float epoch*1e9 exceeds 2^53 and rounds)."""
    import calendar

    return calendar.timegm(dt.timetuple()) * 10**9 + dt.microsecond * 1000


def load_table_time_bounded(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bounds: dict,
) -> DataFrame:
    """`load_table` with time-range bounds applied BEFORE the ns→µs
    conversion, as integer comparisons on the raw long column. A bound
    on the converted column sits above a projection and cannot reach the
    scan (only IsNotNull pushes); the raw-column form lands in
    PushedFilters, so parquet row-group min/max stats prune the read —
    the difference between scanning a day and scanning 100 TB.
    ``bounds``: {column: (lo_inclusive | None, hi_exclusive | None)}
    with naive-UTC datetimes."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        path = os.path.join(sf_dir, name)
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(path)
    nanos, naive = _timestamp_columns(path)
    nanos_cols, naive_cols = set(nanos), set(naive)
    for col, (lo, hi) in bounds.items():
        if col in nanos_cols:
            # integer comparison on the raw long column → PushedFilters
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(_ns_epoch(lo)))
            if hi is not None:
                df = df.filter(F.col(col) < F.lit(_ns_epoch(hi)))
        elif col in naive_cols:
            # NTZ literal against the raw NTZ column — same type, so the
            # bound reaches the scan; an LTZ literal would force a cast
            # above the projection and lose row-group pruning. The
            # literal is built FROM A STRING: lit(datetime) goes through
            # a session-tz TIMESTAMP literal first, so the NTZ cast
            # re-renders the wall clock and shifts the bound whenever
            # the Python OS tz and the Spark session tz differ; a string
            # cast is tz-independent and still foldable (reaches
            # PushedFilters).
            if lo is not None:
                df = df.filter(
                    F.col(col) >= F.lit(lo.isoformat(sep=" ")).cast("timestamp_ntz")
                )
            if hi is not None:
                df = df.filter(
                    F.col(col) < F.lit(hi.isoformat(sep=" ")).cast("timestamp_ntz")
                )
        else:
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) < F.lit(hi))
    for col in nanos_cols:
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
