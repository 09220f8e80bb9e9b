"""Shared helpers for golden queries."""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions._cache import memo
from ..sources.tables import _ensure_nanos_conf, _timestamp_columns

#: sessions whose nanosAsLong/inferTimestampNTZ confs are already set
#: (keyed weakly — a stopped driver session must not mask its
#: successor, which needs the confs set again).
_CONF_SESSIONS: "WeakKeyDictionary" = WeakKeyDictionary()


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load fixture table ``name`` as a FRESH frame. Its reader
    metadata is an input memo: ``load_table`` derives it in ~0.1 s per
    call (footer schema inference and the pyarrow timestamp
    classification), about two tables per golden."""
    import os

    if spark not in _CONF_SESSIONS:
        _ensure_nanos_conf(spark)
        _CONF_SESSIONS[spark] = True

    def _meta():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            path = os.path.join(sf_dir, name)
        nanos, _ = _timestamp_columns(path)
        return path, spark.read.parquet(path).schema, tuple(nanos)

    path, schema, nanos = memo(("input", "table_meta", sf_dir, name), _meta)
    df = spark.read.schema(schema).parquet(path)
    for col in nanos:
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def n_rows_memo(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table, as an input memo."""
    return memo(("input", "n_rows", sf_dir, name), lambda: t(spark, sf_dir, name).count())


def memo_golden(name: str):
    """Plan-memo a golden whose whole body is pure plan construction
    (the ``"plan"`` rules in functions/_cache.py). Stacks UNDER
    ``@golden`` so the registry holds the memoizing wrapper."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            return memo(("plan", name, sf_dir), lambda: fn(spark, sf_dir))

        return wrapped

    return deco


def parallelize_small(df: DataFrame, cap: int | None = None) -> DataFrame:
    """Spread a small-file input across the cluster before compute-heavy
    per-row work (hashing, UDF batches). Local parquet fixtures arrive
    in 1-3 partitions (one row group per file), which would pin the
    expensive pipelines to as many cores; at production scale the file
    count provides this parallelism and the repartition collapses to a
    no-op cost relative to the downstream work.

    ``cap`` bounds the fan-out for Arrow/pandas stages: each partition
    is a Python worker whose startup+import cost dwarfs trivial per-row
    work, so batch-heavy UDF stages want fewer, larger Arrow batches."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if cap is not None:
        target = min(target, cap)
    return df.repartition(target)


def big(c: Column | str) -> Column:
    """Cast to BIGINT — canonical integer width for oracle comparison."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("bigint")


def dec(c: Column | str, scale: int = 2, precision: int = 28) -> Column:
    """Canonical decimal for exact, order-independent aggregation."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({precision},{scale})")


def dbl(c: Column) -> Column:
    return c.cast("double")


def orders_as_swamp(df: DataFrame) -> DataFrame:
    """View the TPC-H orders table as a treasure swamp: string key +
    value columns + nullable created_at (every 10th row unstamped, to
    exercise the §1.4 null-timestamp-exclusion rule)."""
    return df.select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.when(F.col("o_orderkey") % 10 != 0, F.col("o_orderdate")).alias("created_at"),
    )


ORDERS_SWAMP_SQL = """
    SELECT CAST(o_orderkey AS VARCHAR) AS key,
           o_totalprice AS totalprice,
           o_orderstatus AS status,
           o_orderpriority AS priority,
           CASE WHEN o_orderkey % 10 <> 0 THEN o_orderdate END AS created_at
    FROM orders
"""
